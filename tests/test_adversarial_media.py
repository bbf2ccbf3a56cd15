"""Hostile-doc-id parity for the media surface (the formula-keyed
queries are the only sign/magnitude-sensitive family).

Every media corpus derives pixels/samples from doc_id through the
pmod-normalized key (operators/media.py KEY_MOD: Python ``%`` floors
while SQL ``%`` truncates, so a NEGATIVE id would otherwise run the
generation formulas on different k in the two engines).  This corpus
pins that contract as a standing test: negative ids, a zero id,
2^40-scale ids, and ids straddling multiples of 2^31 — every media
query must still match its byte-free closed-form oracle exactly.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from hypertension_dashboard_pipeline_spark import registry

from test_driver_parity import TABLES, _canon

registry.load_all()

MEDIA_QUERIES = [
    "media_image_decode_stats",
    "media_image_resize_nn",
    "media_audio_decode_stats",
    "media_png_interlaced_stats",
    "media_png_palette_stats",
    "media_png_16bit_stats",
    "media_png_trns_stats",
    "media_png_graya_stats",
    "media_png_subbyte_stats",
    "media_audio_depth_stats",
    "media_bmp_variant_stats",
    "media_audio_stereo_stats",
]

# negative, zero, huge, and 2^31-straddling ids, plus two small
# contiguous ranges
_HOSTILE_IDS = (
    [-1, -7, -20, -2_147_483_648, -2_147_483_649, 0]
    + [2**40 + i for i in range(25)]
    + [2**31 - 2, 2**31 - 1, 2**31, 2**31 + 1]
    + list(range(-60, -20))
    + list(range(1_000_000, 1_000_040))
)


def _build_hostile_docs(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = _HOSTILE_IDS
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([f"doc {i}" for i in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["srcX"] * len(ids), pa.string()),
            "n_chars": pa.array([len(f"doc {i}") for i in ids], pa.int64()),
        }),
        path,
    )


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory, sf_smoke):
    root = tmp_path_factory.mktemp("hostile_media")
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{sf_smoke}/{t}.parquet", root / f"{t}.parquet")
    _build_hostile_docs(str(root / "documents.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def hostile_duck(hostile_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{hostile_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_media_query_matches_oracle_on_hostile_ids(
    name, spark, hostile_dir, hostile_duck
):
    sdf = registry.QUERIES[name](spark, hostile_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_tbl = hostile_duck.execute(registry.ORACLES[name]).arrow()
    duck_cols = list(duck_tbl.schema.names)
    duck_rows = [tuple(d.values()) for d in duck_tbl.to_pylist()]
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: {len(spark_rows)} vs {len(duck_rows)} rows"
    )
    _, srows = _canon(spark_cols, spark_rows)
    _, drows = _canon(duck_cols, duck_rows)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )
