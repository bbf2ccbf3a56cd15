"""Adversarial-data parity: the driver regenerates testdata every
round, so parity must hold on data shapes the current corpus happens
not to contain.  This sweep rebuilds the events table with exactly the
hostile cases that have bitten (or nearly bitten) before and runs the
events-reading window queries against their DuckDB oracles on it:

* float values sitting ON decimal midpoints at 1-6 dp (the engine
  round() divergence class the floor-form convention exists for);
* duplicate per-user timestamps (the windowed-funnel commit-batching
  case — r5's adversarial sweep caught the lossy latest-reach
  overwrite here before any driver regen could);
* events exactly on hour/day boundaries (bucket/window edges);
* view→purchase pairs exactly AT and one microsecond INSIDE the
  stream-join horizon (half-open interval edges).

The other nine tables symlink to the sf0.001 corpus (small, enough
for the dims these queries touch).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
import pytest

from hypertension_dashboard_pipeline_spark import registry

from test_driver_parity import TABLES, _canon

registry.load_all()

# window queries whose input includes the events table and that carry
# a SQL oracle
EVENTS_QUERIES = [
    "a15_time_rollup",
    "a23_incremental_rollup",
    "w3_moving_avg",
    "w4_lag_delta",
    "w6_time_range_avg",
    "w7_scd2_intervals",
    "events_funnel",
    "events_funnel_windowed",
    "events_retention",
    "events_rolling_wau",
    "events_path_transitions",
    "events_anomaly_zscore",
    "events_last_touch_attribution",
    "events_sessionize",
    "events_concurrency_peak",
    "dq_drift_kl",
    "dq_drift_psi",
    "ts_gap_fill_locf",
    "ts_gap_fill_interpolate",
    "a29_heavy_hitters_sampled",
    "f17_json_extract_stats",
    # r7 wave-3/4 fold operators: null measurements skipped by
    # contract (the sweep's NULL rows are exactly the case that
    # desynchronized collect_list from count() before the explicit
    # filter); duplicate-instant bursts exercise the event_id
    # tie-break in the fold order
    "ts_ewma_last8",
    "ts_cusum_alarm",
    # wave-10 debuts: LTV sums NULL-heavy money via exact DECIMAL;
    # seasonality buckets duplicate-instant bursts; stickiness
    # deduplicates (month, day, user) before either count
    "events_cohort_ltv",
    "ts_seasonality_profile",
    "events_user_stickiness",
    "events_user_features",
    "events_value_gini",
    "events_anomaly_seasonal",
    "ts_autocorr_lag1",
    # r8 debuts: the Holt fold follows the null-measurement contract
    # (skip nulls explicitly, all-null keys emit no row) and its
    # duplicate-instant bursts exercise the event_id tie-break; the
    # streak anchor must survive duplicate timestamps collapsing to
    # one day; inter-arrival gaps hit zero (duplicate instants) and
    # NULL-lag first rows
    "ts_holt_linear",
    "w9_user_streaks",
    "events_interarrival_profile",
    # late-r8 parity-sweep find: the original int cast raised ANSI
    # CAST_INVALID_INPUT on {"k": 3.7}; the tolerant-DOUBLE contract
    # is pinned value-equal over all 14 hostile payload shapes here
    "f17_json_extract",
]

_TYPES = ["click", "signup", "error", "view", "purchase"]
_T0 = dt.datetime(2024, 1, 1)


def _build_adv_events(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(1234)
    rows = {k: [] for k in
            ("event_id", "ts", "user_id", "event_type", "value", "props")}
    eid = 0

    # hostile JSON side-channel shapes for the f17 strict-parse
    # contract: malformed, empty, null, JSON-null key, string/float/
    # boolean k, missing key, > Long.MAX integer, non-object top level
    _HOSTILE_PROPS = [
        "{}", None, "", "not json", '{"k": null}', '{"k": "12"}',
        '{"k": 3.7}', '{"k": true}', '{"other": 1}',
        '{"k": 9223372036854775807}', '{"k": 18446744073709551615}',
        "[1, 2]", '{"k": -5}', '{"k": 69}',
    ]

    def add(ts, uid, typ, val):
        nonlocal eid
        eid += 1
        rows["event_id"].append(eid)
        rows["ts"].append(ts)
        rows["user_id"].append(uid)
        rows["event_type"].append(typ)
        rows["value"].append(val)
        rows["props"].append(_HOSTILE_PROPS[eid % len(_HOSTILE_PROPS)])

    midpoints = [0.5, 1.5, 2.5, 0.05, 0.15, 0.25, 0.005, 0.0005, 0.00005,
                 120.55, 38.37875, 0.125, 0.375, 1e-6, 490.02, 333.333335]
    for day in range(1, 29):
        for i, v in enumerate(midpoints):
            ts = _T0 + dt.timedelta(days=day - 1, hours=i % 24,
                                    minutes=(i * 7) % 60)
            add(ts, 100 + i % 40, _TYPES[i % 5], v)
    for day in (1, 5, 9, 13):  # duplicate-instant bursts
        base = _T0 + dt.timedelta(days=day - 1, hours=12)
        for uid in range(200, 210):
            for k in range(6):
                add(base, uid, _TYPES[k % 5],
                    round(rng.uniform(0, 100), 2))
    for day in range(1, 29, 2):  # exact hour/day boundaries
        for h in (0, 1, 23):
            ts = _T0 + dt.timedelta(days=day - 1, hours=h)
            add(ts, 300 + day, _TYPES[day % 5], float(day))
            add(ts + dt.timedelta(microseconds=1), 300 + day,
                _TYPES[(day + 1) % 5], day + 0.5)
    for day in range(1, 20):  # stream-join horizon edges
        t0 = _T0 + dt.timedelta(days=day - 1, hours=6)
        uid = 400 + day
        add(t0, uid, "view", 1.0)
        add(t0 + dt.timedelta(hours=1), uid, "purchase", 2.0)
        add(t0 + dt.timedelta(hours=1, microseconds=-1), uid,
            "purchase", 3.0)
    for _ in range(4000):  # bulk mass on a midpoint-rich .005 grid
        ts = _T0 + dt.timedelta(seconds=rng.randint(0, 29 * 86400))
        add(ts, rng.randint(1, 500), rng.choice(_TYPES),
            round(rng.randint(0, 99000) * 0.005, 3))
    for day in range(1, 29, 3):  # NULL values (keys stay non-null —
        # measurement columns are nullable in any real feed; SUM/AVG
        # must skip them identically on both engines)
        ts = _T0 + dt.timedelta(days=day - 1, hours=15)
        add(ts, 600 + day, _TYPES[day % 5], None)

    tbl = pa.table({
        "event_id": pa.array(rows["event_id"], pa.int64()),
        "ts": pa.array(rows["ts"], pa.timestamp("us")),
        "user_id": pa.array(rows["user_id"], pa.int64()),
        "event_type": pa.array(rows["event_type"], pa.string()),
        "value": pa.array(rows["value"], pa.float64()),
        "props": pa.array(rows["props"], pa.string()),
    })
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory, sf_smoke):
    root = tmp_path_factory.mktemp("adv_events")
    for t in TABLES:
        if t != "events":
            os.symlink(f"{sf_smoke}/{t}.parquet", root / f"{t}.parquet")
    _build_adv_events(str(root / "events.parquet"))
    return str(root)


@pytest.fixture(scope="module")
def adv_duck(adv_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{adv_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", EVENTS_QUERIES)
def test_events_query_matches_oracle_on_adversarial_data(
    name, spark, adv_dir, adv_duck
):
    sdf = registry.QUERIES[name](spark, adv_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_tbl = adv_duck.execute(registry.ORACLES[name]).arrow()
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
