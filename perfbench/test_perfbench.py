"""Tests of the benchmark itself: seeded generators, oracle agreement at
a tiny size, the REST helpers, and the metric names.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen_docs  # noqa: E402
import gen_omop  # noqa: E402
import oracle  # noqa: E402
import spantrace  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_omop_generator_is_byte_identical_per_seed(tmp_path):
    a = gen_omop.ensure_omop(str(tmp_path / "a"), 7, 400)
    b = gen_omop.ensure_omop(str(tmp_path / "b"), 7, 400)
    c = gen_omop.ensure_omop(str(tmp_path / "c"), 8, 400)
    assert _same_files(a, b)
    assert not filecmp.cmp(os.path.join(a, "measurement.parquet"),
                           os.path.join(c, "measurement.parquet"), shallow=False)


def test_docs_generator_is_byte_identical_per_seed(tmp_path):
    a = gen_docs.ensure_docs(str(tmp_path / "a"), 7, 300)
    b = gen_docs.ensure_docs(str(tmp_path / "b"), 7, 300)
    c = gen_docs.ensure_docs(str(tmp_path / "c"), 8, 300)
    assert _same_files(a, b)
    assert not _same_files(a, c)


def test_omop_inputs_have_the_advertised_shapes():
    tables, codelists = gen_omop.generate_omop(3, 2000)
    assert len(codelists["preg_condition"]) == 1500
    assert len(codelists["htn_rx"]) == 2500
    # both codelist_filter paths: IN-literal (<= 128 codes) and semi-join
    sizes = [len(v) for v in codelists.values()]
    assert min(sizes) <= 128 < max(sizes)
    m = tables["measurement"].to_pydict()
    bp = set(gen_omop.SBP_CONCEPTS + gen_omop.DBP_CONCEPTS)
    share_bp = sum(c in bp for c in m["MEASUREMENT_CONCEPT_ID"]) / len(m["PATIENT_LINKAGE"])
    assert 0.25 < share_bp < 0.4
    keys = [k for k in tables["person"].column("PATIENT_LINKAGE").to_pylist() if k]
    assert len(keys) > len(set(keys))  # mis-bridged and conflicting rows


def test_docs_have_duplicates_languages_and_sources():
    t = gen_docs.generate_docs(3, 2000).to_pydict()
    assert len(set(t["source"])) == gen_docs.N_SOURCES
    assert set(t["lang"]) == {"en", "es", "fr", "de", "zh"}
    dup_share = 1 - len(set(t["text"])) / len(t["text"])
    assert 0.05 < dup_share < 0.15


def test_size_helpers_match_spark_rendering():
    assert spantrace.size_label(741.7 * 1024) == "741.7 KiB"
    assert spantrace.size_label(3 * 2 ** 20) == "3.0 MiB"
    assert spantrace.parse_size("64.1 MiB") == pytest.approx(64.1 * 2 ** 20)
    assert spantrace.parse_size("total (min, med, max)\n1.5 KiB (1 B, 2 B)") == 1536


def test_matches_allows_only_the_stated_float_tolerance():
    want = [("src1", 33, 0.8089), ("src2", None, 0.5)]
    assert oracle.matches([("src2", None, 0.5), ("src1", 33, 0.8088)], want, 1e-4)
    assert not oracle.matches([("src2", None, 0.5), ("src1", 33, 0.8088)], want)
    assert not oracle.matches([("src1", 34, 0.8089), ("src2", None, 0.5)], want, 1e-4)
    assert not oracle.matches([("src1", 33, 0.8089)], want, 1e-4)


def test_busy_intervals_merge_overlaps():
    jobs = [
        {"submissionTime": "2026-01-01T00:00:00.000GMT", "completionTime": "2026-01-01T00:00:02.000GMT"},
        {"submissionTime": "2026-01-01T00:00:01.000GMT", "completionTime": "2026-01-01T00:00:03.000GMT"},
        {"submissionTime": "2026-01-01T00:00:05.000GMT", "completionTime": "2026-01-01T00:00:06.500GMT"},
    ]
    iv = spantrace.SparkRest.busy_intervals(jobs)
    assert [round(b - a, 3) for a, b in iv] == [3.0, 1.5]


def test_metric_names_are_valid_and_match_benchmark_json():
    from run import END_TO_END, _layer_unit
    from workloads import layer_names

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    layers = layer_names()
    names = list(END_TO_END) + layers
    assert all(NAME.match(n) for n in names)
    assert len(set(names)) == len(names)
    assert all(UNIT.match(u) for u in list(END_TO_END.values()) + [_layer_unit(n) for n in layers])
    assert {m["name"] for m in bench["end_to_end"]} == set(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == layers
    assert all(m["unit"] == _layer_unit(m["name"]) for m in bench["per_layer"])
    assert all(m["unit"] == END_TO_END[m["name"]] for m in bench["end_to_end"])


@pytest.fixture(scope="module")
def spark():
    from hypertension_dashboard_pipeline_spark.session import build_session

    s = build_session(master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_pipeline_matches_duckdb_oracle_at_tiny_size(spark, tmp_path):
    from hypertension_dashboard_pipeline_spark.plans.run import run_pipeline

    data = gen_omop.ensure_omop(str(tmp_path), 5, 600)
    codelists = gen_omop.load_codelists(data)
    tables = {t: spark.read.parquet(os.path.join(data, f"{t}.parquet")) for t in gen_omop.TABLES}
    stages = run_pipeline(spark, tables, codelists, str(tmp_path / "out"), year=gen_omop.YEAR)
    expected = oracle.OmopOracle(data, codelists)
    got = {tuple(r) for r in stages["phenotype"].select(*oracle.PHENOTYPE_COLS).collect()}
    assert len(expected.phenotype) > 100
    assert got == expected.phenotype
    assert oracle.matches(stages["stats"].collect(), expected.stats)


def test_curation_queries_match_registry_oracles_at_tiny_size(spark, tmp_path):
    from hypertension_dashboard_pipeline_spark import registry
    from workloads import CURATION_ATOL, CURATION_QUERIES, _materialized

    registry.load_all()
    data = gen_docs.ensure_docs(str(tmp_path), 5, 400)
    for q in CURATION_QUERIES:
        want = oracle.registry_oracle(data, _materialized(registry.ORACLES[q]))
        assert want
        assert oracle.matches(registry.QUERIES[q](spark, data).collect(), want, CURATION_ATOL[q])
