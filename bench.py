#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes through a noop sink so the full plan runs (scan →
shuffle → result) without driver-side collection skewing the numbers.
"""

from __future__ import annotations

import json
import os
import time

from hypertension_dashboard_pipeline_spark import registry
from hypertension_dashboard_pipeline_spark.session import build_session, cpu_count

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship pipeline + the heaviest operator from each
# family (agg, join, window, dedup/LSH, similarity, text, curation
# composition).  The graph and streaming members are gone with their
# queries, so the TOTAL is not comparable to earlier BENCH_r*.json.
HEADLINE = [
    "flagship_cohort_pipeline",
    "a3_same_day_avg",
    "a9_dedup_deterministic",
    "j1_left_enrich",
    "w1_latest_per_key",
    "u1_evidence_key_union",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_components",
    "sim_cosine_topk",
    "sim_cosine_near_dup",
    "text_quality_score",
    "curation_pipeline",
    # round-4 wave-2 addition (segment dedup): the headline TOTAL is
    # therefore not comparable to rounds <= 3 — compare per-query
    # (BENCH_NOTES.md).
    "text_segment_boilerplate",
    "j16_local_supplier_volume",
    "emb_pq_codes",
]


def run_once(spark, name: str) -> tuple[float, float]:
    # TIMER CONTRACT (fixed since r2 — do not change, deltas must stay
    # comparable round-over-round): the timer wraps the query-function
    # call too: batch probe .first() calls (query-vector lookups) are real
    # per-query work. The construction part is also reported separately
    # so plan-execution regressions are attributable: r1 timed only the
    # sink write, which is why every r1→r2 delta shifted ~+0.1s
    # (construction) without any plan change.
    t0 = time.perf_counter()
    df = registry.QUERIES[name](spark, SF_DIR)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, t1 - t0


def run_steady(spark, name: str, n: int = 3) -> tuple[float, float]:
    """Steady-state latency: one untimed warm-up (JIT/codegen for this
    query's expression shapes), then best of ``n`` timed runs, dropping
    every cached intermediate between runs so each timed run
    re-materializes its own persisted subplans — cache work is counted,
    one-time JVM compilation is not."""
    run_once(spark, name)
    spark.catalog.clearCache()
    best, best_construct = float("inf"), 0.0
    for _ in range(n):
        total, construct = run_once(spark, name)
        if total < best:
            best, best_construct = total, construct
        spark.catalog.clearCache()
    return best, best_construct


def main() -> None:
    registry.load_all()
    spark = build_session(app_name="bench", shuffle_partitions=cpu_count())
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    construct: dict[str, float] = {}
    for name in HEADLINE:
        total, c = run_steady(spark, name)
        timings[name] = round(total, 4)
        construct[name] = round(c, 4)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": timings,
                "construct_sec": construct,
                "timer": "constructor+noop-sink, warm-up then best-of-3,"
                         " cache cleared between runs (fixed since r2)",
                "sf": sf_val,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
