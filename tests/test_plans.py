"""Physical-plan invariants — the properties that make these queries
viable at 100 TB, pinned as regression tests (SURVEY.md §4: everything
the reference did by hand must come out of Catalyst for free, and stay
that way):

* selective filters reach the parquet scan (PushedFilters),
* projections prune the scan schema (ReadSchema),
* codelist-sized sides broadcast (BroadcastHashJoin), the big side
  never builds,
* LEFT JOIN + null-rejecting WHERE is demoted to Inner
  (EliminateOuterJoin),
* groupBy aggregations partial-aggregate map-side before the exchange,
* ORDER BY + LIMIT plans TakeOrderedAndProject, not a global sort.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hypertension_dashboard_pipeline_spark import registry

registry.load_all()


# Declared exceptions to the whole-registry plan sweeps below; each
# entry names a registered query and says why it is allowed.
BROADCAST_PRODUCT_DECLARED = {
    "sim_batch_ann_topk",  # 8-row query batch × corpus, by design
    "a24_key_skew_profile",  # 10-row top-k × 1-row totals, by design
    "cust_rfm_segments",  # 1-row scalar sides (global max date, quartile cuts) — the scalar-subquery compile shape
    "ts_gap_fill_locf",  # 1-row scalar side (global horizon date)
    "graph_pagerank_transitions",  # 1-row scalar sides (node count N, dangling mass) per iteration
    "text_lm_bigram_score",  # 1-row scalar side (vocabulary size V)
    "a26_equidepth_histogram",  # 1-row scalar side (decile cut points)
    "dq_drift_kl",  # 1-row scalar side (global event count n)
    "ts_gap_fill_interpolate",  # 1-row scalar side (global horizon date)
    "a29_heavy_hitters_sampled",  # 1-row scalar side (global count N), twice
    "dq_drift_psi",  # day-grid x |event types| dense scaffold (bounded) + 1-row total
    "text_tfidf_top_terms",  # 1-row scalar side (document count N)
    "graph_triangle_count",  # 1-row scalar sides (mean-weight threshold; tri x wedges final join)
    "dq_referential_integrity",  # 1-row scalar sides (n_child x n_orphans per audited relationship)
    "events_type_pmi",  # 1-row scalar side (global distinct-user count N)
    "rec_copurchase_lift",  # 1-row scalar side (order count N) applied AFTER the top-20 truncation
    "j23_sales_opportunity",  # 1-row scalar side (global avg-balance cutoff) — the Q22 scalar-subquery shape
    "curation_dsir_weights",  # 64-row bucket stats x 1-row global token totals, by design
    "text_tfidf_cosine_pairs",  # 1-row scalar side (document count N)
    "a35_important_parts",  # 1-row scalar side (nation inventory total)
    "text_retrieval_ndcg",  # 1-row scalar side (corpus relevant count)
    "curation_dsir_sample",  # inherits dsir_weights' declared 1-row token-totals product
    "graph_bfs_levels",  # round-1 frontier is a 1-row literal seed (constant-folded join key)
    "dedup_corpus_overlap_hll",  # |sources|² pair stage over the ~20-row KB-sized sketch relation, by design (no row data crosses it)
}

ARROW_DECLARED = {
    "udf_pandas_token_count",  # demonstrative pandas_udf
    # real media codecs: decode IS per-row Python by nature (PIL would
    # charge the same); the engine-side contract is Arrow batching +
    # exchange-free plans, pinned by the partition-invariance test in
    # tests/test_media.py
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
}


@pytest.fixture(scope="module")
def plan(spark, sf_dir):
    def get(name: str) -> str:
        df = registry.QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return get


def test_filter_pushdown_reaches_scan(plan):
    p = plan("p6_p7_range_conjunction")
    # (plan toString truncates long filter lists; assert the stable prefix)
    assert "PushedFilters: [IsNotNull(c_acctbal)" in p
    assert "GreaterThanOrEqual(c_acctbal,0.0)" in p


def test_isin_codelist_pushdown(plan):
    p = plan("p9_codelist_isin")
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "PushedFilters: [In(l_partkey," in scan


def test_column_pruning(plan):
    p = plan("s1_scan_project_alias")
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "c_nationkey" not in scan  # unused column never read


def test_codelist_joins_broadcast(plan):
    p = plan("flagship_cohort_pipeline")
    assert "BroadcastHashJoin" in p
    # the nation codelist probe is a broadcast LEFT SEMI
    assert "LeftSemi, BuildRight" in p


def test_outer_join_demoted_to_inner(plan):
    """The reference's LEFT JOIN + WHERE-on-right (J7) must optimize to
    an inner join — Catalyst's EliminateOuterJoin."""
    p = plan("j7_outer_join_demoted")
    assert "Inner" in p
    assert "LeftOuter" not in p


def test_latest_per_key_partial_aggregates(plan):
    """W1 as max(struct): must partially aggregate before the shuffle —
    the reason it beats a row_number window at scale."""
    p = plan("w1_latest_per_key")
    assert "partial_max" in p
    # exactly one shuffle, keyed on the patient-key analog
    assert p.count("Exchange hashpartitioning(o_custkey") >= 1


def test_order_limit_is_top_k(plan):
    p = plan("l1_order_limit")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort


def test_semi_join_carries_no_payload(plan):
    """J6: the semi join must not materialize right-side columns."""
    p = plan("j6_semi_evidence")
    assert "LeftSemi" in p


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path_factory):
    """Tables bucketed on the join key must sort-merge-join with no
    Exchange on either side — the write-once-shuffle-never pattern for
    the 100 TB patient-keyed joins (io.write_bucketed)."""
    from hypertension_dashboard_pipeline_spark.io import (
        load_table,
        read_table,
        write_bucketed,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    write_bucketed(cust, "bkt_cust", ["c_custkey"], num_buckets=8,
                   sort_cols=["c_custkey"])
    write_bucketed(orders, "bkt_orders", ["o_custkey"], num_buckets=8,
                   sort_cols=["o_custkey"])
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # honor per-bucket sort order (safe: write_bucketed produces
        # exactly one file per bucket, so no read regression)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            joined = read_table(spark, "bkt_cust").join(
                read_table(spark, "bkt_orders"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            p = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in p
            assert "Exchange hashpartitioning" not in p
            assert "SelectedBucketsCount" in p
            # bucket-local sort order is honored: no per-task re-sort
            assert "Sort " not in p
            # and the result is right
            assert joined.count() == orders.join(
                cust, F.col("c_custkey") == F.col("o_custkey")
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_cust")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_no_registered_query_plans_a_cartesian_product(spark, sf_dir):
    """No registered query may fall back to an all-pairs join in its
    default configuration — at 100 TB a CartesianProduct /
    BroadcastNestedLoopJoin over a fact table is a non-starter.  The
    exact all-pairs variants exist only as un-registered test baselines.

    Streaming queries are skipped: they run a real availableNow stream
    inside the query function (their physical plan is per-microbatch),
    and their batch-side joins are covered by their own tests.

    DECLARED exceptions: a broadcast product against a deliberately
    tiny side is legitimate (a query batch of 8 vectors scored against
    the whole corpus IS per-row work, not a join explosion) — each one
    must be listed in BROADCAST_PRODUCT_DECLARED with its reason, so an
    accidental product still fails.
    """
    offenders = []
    for name, fn in registry.QUERIES.items():
        if name.startswith("streaming_"):
            continue
        df = fn(spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in p or (
            "BroadcastNestedLoopJoin" in p
            and name not in BROADCAST_PRODUCT_DECLARED
        ):
            offenders.append(name)
    assert not offenders, f"all-pairs join in default plan: {offenders}"


def test_lsh_index_probe_prunes_partitions(plan):
    """The materialized ANN index's bucket equality must land in the
    scan's PartitionFilters — only the query's bucket directory is
    read, which is the entire point of materializing the index."""
    p = plan("sim_lsh_bucket_topk_indexed")
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "PartitionFilters:" in scan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)", scan).group(1)
    assert "bucket" in pf and "=" in pf, scan


def test_no_registered_query_uses_row_python_eval(spark, sf_dir):
    """Python may touch data only through Arrow-vectorized surfaces
    (pandas_udf / mapInPandas / applyInPandas).  A row-at-a-time
    BatchEvalPython node pickles every row across the JVM-Python
    boundary — 10-100x slower than Arrow batches and a plan-killer at
    100 TB — so NO registered query may contain one.  Arrow nodes are
    themselves allowed only in the queries declared to use them; the
    rest of the surface must stay entirely JVM-side.
    """
    ARROW_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    row_eval, undeclared_arrow = [], []
    for name, fn in registry.QUERIES.items():
        if name.startswith("streaming_"):
            continue
        p = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in p:
            row_eval.append(name)
        if any(n in p for n in ARROW_NODES) and name not in ARROW_DECLARED:
            undeclared_arrow.append(name)
    assert not row_eval, f"row-at-a-time Python eval in plan: {row_eval}"
    assert not undeclared_arrow, (
        f"Arrow Python nodes outside the declared set: {undeclared_arrow}"
    )


def test_declared_exceptions_name_registered_queries():
    """An exemption must not outlive its query: a stale entry would
    silently exempt any future query registered under that name."""
    for declared in (BROADCAST_PRODUCT_DECLARED, ARROW_DECLARED):
        stale = sorted(declared - set(registry.QUERIES))
        assert not stale, f"declared exceptions for unregistered queries: {stale}"


# ----------------------------------------------------------- r5 operators

def test_decontaminate_broadcasts_benchmark_side(plan):
    """The benchmark shingle set must broadcast (eval sets are tiny
    next to the corpus); the corpus side then never shuffles for the
    overlap probe — only the per-doc groupBy exchanges data."""
    p = plan("text_decontaminate")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_temperature_mix_broadcasts_rates(plan):
    """Per-domain keep-rates are a tiny-cardinality aggregate that must
    come back as a broadcast — the sampled table itself is a narrow
    scan+filter, never sort-merge-joined on the domain."""
    p = plan("sample_temperature_mix")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_merge_upsert_is_single_shuffle_no_join(plan):
    """MERGE as tag+union+window: exactly one exchange on the merge key
    and NO join operator — the union concatenates scans."""
    p = plan("j13_merge_upsert")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_fuzzy_join_is_equi_blocked_not_cartesian(plan):
    """Blocking must make the fuzzy join an equi-join on the prefix
    block; a cartesian/broadcast-nested-loop plan would mean the
    blocking predicate failed to reach the join."""
    p = plan("j12_fuzzy_join_blocked")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_semdedup_pairs_join_on_cluster_is_equi(plan):
    """SemDeDup compares only within clusters: the self-join must be an
    equi-join on the cluster id, never an unconstrained product."""
    p = plan("sim_semdedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_grouped_topk_truncates_map_side_jvm_only(plan):
    """Every grouped_topk_partial caller must carry the
    WindowGroupLimit Partial/Final rank-limit pushdown pair — the
    Partial node truncates each input partition to its per-group
    top-k BEFORE the exchange (the r10 migration off the hand-rolled
    mapInPandas stage: same map-side bound, zero Python, −21%
    measured on the batch-ANN shape)."""
    for name in ("sim_batch_ann_topk", "sample_k_per_group",
                 "sample_weighted_k_per_group"):
        p = plan(name)
        assert p.count("WindowGroupLimit") >= 2, name  # Partial + Final
        assert "MapInPandas" not in p, name


def test_batch_ann_broadcasts_query_batch(plan):
    """The 8-row query batch must broadcast against the corpus scan;
    the score stream then truncates map-side (previous test) so the
    ranking exchange moves only the per-partition top-k residue."""
    p = plan("sim_batch_ann_topk")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_gram_matrix_is_one_scan_partial_agg(plan):
    """The gram matrix must ride ONE parquet scan into a map-side
    partial aggregate — per-pair scans or a vector shuffle would be
    quadratic-ish waste at 100 TB."""
    p = plan("emb_gram_matrix")
    assert sum("FileScan" in l for l in p.splitlines()) == 1
    assert p.count("HashAggregate") == 2  # partial + final
    # the only exchange feeds the single-row final aggregate
    assert p.count("Exchange") <= 2


def test_anomaly_stats_side_broadcasts(plan):
    """Per-type stats (5 rows) must broadcast back against the daily
    counts — a shuffle join would move the fact-side for a 5-row dim."""
    p = plan("events_anomaly_zscore")
    assert "BroadcastHashJoin" in p


def test_gap_fill_single_window_no_self_join(plan):
    """LOCF is ONE running-frame window over the scaffold join — a
    naive as-of self-join formulation would shuffle the series twice
    and blow up on dense keys."""
    p = plan("ts_gap_fill_locf")
    assert p.count("Window") == 1
    assert "Generate explode" in p  # sequence()+explode scaffold
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or \
        "ShuffledHashJoin" in p  # grid-to-observation join is an equi join


def test_segment_boilerplate_flags_via_equi_join(plan):
    """Boilerplate removal must anti-flag via an equi join on the
    segment text (broadcast or shuffled — AQE's call), never a
    pairwise document comparison."""
    p = plan("text_segment_boilerplate")
    assert "Generate posexplode" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_shipping_priority_is_broadcast_plus_topk(plan):
    """TPC-H Q3 shape: filtered customer broadcasts, date predicates
    reach the scans, top-10 is TakeOrdered — never a global sort."""
    p = plan("j15_shipping_priority")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    scans = [l for l in p.splitlines() if "FileScan" in l]
    assert any("o_orderdate" in l and "PushedFilters: [" in l for l in scans)
    assert any("l_shipdate" in l and "PushedFilters: [" in l for l in scans)


def test_local_supplier_volume_single_fact_shuffle(plan):
    """TPC-H Q5 shape: the dims broadcast (at this SF orders fits the
    threshold too, so ALL five joins are broadcast), the fact table is
    never shuffled for a join, and the only hash exchange is the final
    groupBy — a 6-way join costing at most one fact-table shuffle at
    any scale."""
    p = plan("j16_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") == 1  # the groupBy only


def test_sessionize_single_shuffle(plan):
    """Batch sessionization: LAG, the running session counter, and the
    per-session aggregate all reuse ONE user_id hash partitioning —
    exactly one exchange in the whole plan."""
    p = plan("events_sessionize")
    assert p.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(user_id" in p


def test_concurrency_peak_no_global_sort_on_facts(plan):
    """The distributed prefix sum: the fact-sized running sum windows
    WITHIN day partitions; the only unpartitioned window runs over the
    O(days) day-net table; the carry-in attaches via broadcast."""
    p = plan("events_concurrency_peak")
    assert "BroadcastHashJoin" in p
    # fact-side window partitions by day
    assert "hashpartitioning(day" in p
    # exactly one single-partition exchange (the tiny day-seq window),
    # never the delta stream
    assert p.count("Exchange SinglePartition") == 1
    # one scan per consuming branch (running sum + day-net carry) via
    # the explode fan-out — the union formulation planned FOUR scans
    assert p.count("FileScan") == 2


def test_drift_kl_sides_broadcast(plan):
    """KL drift: the global type mix and the 1-row total attach as
    broadcast sides; the only fact-sized shuffles are the daily-counts
    aggregate and its per-day fold."""
    p = plan("dq_drift_kl")
    assert p.count("BroadcastExchange") >= 2
    assert "SortAggregate" in p or "ObjectHashAggregate" in p  # the fold


def test_large_volume_orders_aggregates_before_join(plan):
    """Q18 shape: the lineitem fact table reduces to per-order sums +
    HAVING filter BEFORE any join; customer attaches broadcast; the
    top-100 is TakeOrdered, never a global sort."""
    p = plan("j17_large_volume_orders")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert p.count("FileScan") == 3
    # the aggregate-side filter on the quantity sum exists below a join
    assert "sq" in p and "HashAggregate" in p


def test_heavy_hitters_three_fact_scans_and_broadcasts(plan):
    """a29: the total and candidate frames are persisted, so execution
    reads the fact table exactly three times (global count, sampled
    count, candidate recount); both the totals and candidates attach
    BROADCAST to every consumer — the exact pass never shuffles keys
    beyond the candidate set."""
    p = plan("a29_heavy_hitters_sampled")
    assert "InMemoryTableScan" in p            # persisted tot + cand
    assert "BroadcastHashJoin" in p
    # the candidate semi-join builds on the broadcast (tiny) side
    assert "LeftSemi, BuildRight" in p


def test_mad_outliers_broadcast_stats_sides(plan):
    """a30: both per-segment stats tables (median, MAD) are persisted
    and broadcast; the fact table never shuffles for a join."""
    p = plan("a30_grouped_mad_outliers")
    assert "InMemoryTableScan" in p            # persisted med + mad
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_interpolate_windows_share_one_exchange(plan):
    """ts_gap_fill_interpolate: the backward and forward observation
    windows partition identically (key, ordered by day), so they share
    ONE hash exchange on the fact-sized side — no extra shuffle for
    the second direction."""
    p = plan("ts_gap_fill_interpolate")
    assert p.count("Window") == 1 or p.count("RunningWindowFunction") <= 1 or (
        p.count("Exchange hashpartitioning(user_id") <= 2
    )
    # both window frames appear, unbounded preceding and following
    assert "unboundedpreceding" in p.lower()
    assert "unboundedfollowing" in p.lower()


def test_sink_roundtrip_reads_pruned_partitions(spark, sf_dir):
    """s2: the read-back side scans only the two selected year=
    partitions (PartitionFilters carries the IN-list)."""
    df = registry.QUERIES["s2_sink_partitioned_roundtrip"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [year" in p.replace("#", " #").replace(
        "year #", "year"
    ) or "PartitionFilters" in p
    scan = next(l for l in p.splitlines() if "FileScan" in l)
    assert "1996" in scan and "1997" in scan


def test_gopher_and_projection_are_shuffle_free(plan):
    """The two narrow-map debuts must stay pure projections: any
    Exchange would mean the rule predicates / constant-folded sign
    matrix stopped being row-local."""
    for name in ("text_gopher_rules", "emb_random_projection"):
        assert "Exchange" not in plan(name), name


def test_feature_hashing_is_single_shuffle(plan):
    """Hashing-trick bag-of-words: one (doc, bucket) hash aggregation
    and nothing else — the stateless fixed-width contract."""
    p = plan("text_feature_hashing")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_vocab_encode_corpus_never_shuffles(plan):
    """The corpus side must reach the encoder through a BROADCAST join
    (vocab is <= budget rows); the only hash exchange allowed is the
    vocabulary count aggregation itself."""
    p = plan("text_vocab_encode")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ivf_pq_prunes_with_broadcast_before_adc(plan):
    """IVF-PQ: the probed-label prune must be a broadcast join (the
    partition-pruning stand-in), and ADC scoring adds no exchange of
    its own — only the two centroid-aggregation exchanges exist."""
    p = plan("sim_ivf_pq_topk")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 2, p


def test_asof_joins_plan_no_join_operator(plan):
    """Both as-of directions compile to union + ONE per-key window —
    there must be NO join operator anywhere in the plan (the entire
    point of the formulation: no range explosion, no match
    cross-product)."""
    for name in ("j10_asof_join", "j18_asof_join_forward"):
        p = plan(name)
        assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, name
        assert "BroadcastHashJoin" not in p and "NestedLoop" not in p, name
        assert "Window" in p, name


def test_cdc_apply_plans_single_window_no_join(plan):
    """CDC fold = union + one latest-per-key window; no join."""
    p = plan("j21_cdc_apply")
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.count("Window") >= 1


def test_stratified_sample_single_exchange(plan):
    """The stratum count and the hash rank share ONE
    partitionBy(strata) exchange — a second hashpartitioning exchange
    would mean the window specs diverged."""
    import re

    p = plan("sample_stratified_exact")
    hashex = re.findall(r"Exchange hashpartitioning\(([^,]+)", p)
    assert len(hashex) == 1, hashex
    assert "o_orderpriority" in hashex[0]


def test_winnow_no_global_sort(plan):
    """Winnowing's window is document-partitioned; nothing in the plan
    may funnel the corpus through a single partition."""
    p = plan("text_winnow_fingerprints")
    assert "SinglePartition" not in p


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    """s15's partitioned-fact join must carry a dynamicpruning
    subquery on the partition column — the runtime analog of static
    partition pruning, and the feature that makes partitioned 100 TB
    fact tables joinable by dimension filters without full scans."""
    from hypertension_dashboard_pipeline_spark.registry import QUERIES

    df = QUERIES["s15_dpp_partitioned_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan


def test_tail_folds_pretruncate_before_collect(plan):
    """r9 state bound: the ewma/holt tail folds must carry the
    WindowGroupLimit rank-limit pushdown pair — the Partial node
    truncates each input partition to its per-key last-`tail` rows
    BEFORE the exchange, so the collect's aggregation state is
    <= tail at any history length (the r8 verdict's unbounded
    collect_list fix, JVM-side — no Python in the path)."""
    for name in ("ts_ewma_last8", "ts_holt_linear"):
        p = plan(name)
        assert "WindowGroupLimit" in p, name
        assert p.count("WindowGroupLimit") >= 2, name  # Partial + Final
        assert "MapInPandas" not in p, name
        assert "SinglePartition" not in p, name


def _node_depth(line: str) -> int:
    """Depth of a plan-tree line = offset where the node text starts,
    past the tree-drawing prefix (spaces, ':', '+-') and the optional
    codegen '*(n) ' marker."""
    import re

    return re.match(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?", line).end()


def _broadcast_subtrees(p: str) -> list[str]:
    """Full subtree text of every BroadcastExchange in a plan-tree
    string: the exchange's line plus every following line at strictly
    greater depth.  Replaces the r9 fixed-width split-and-head scan,
    which both truncated large subtrees AND used a fragment the
    expr-id suffixes (l_partkey#5L) could never match — a vacuous
    assertion (ADVICE r9 #3)."""
    lines = p.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        d = _node_depth(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if _node_depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_no_forced_broadcast_of_per_part_counts(spark, sf_dir):
    """r9 broadcast-direction fix, restated against the LOGICAL plan
    (ADVICE r9 #3: the physical-string fragment the old test matched
    could never occur — expr-id suffixes — so it asserted nothing;
    worse, at tiny SF Catalyst's own statistics legitimately broadcast
    the count side, so the physical plan is the wrong place to look).
    The invariant is about FORCED hints: a per-part count relation
    (one row per distinct l_partkey — unbounded at 100 TB) must never
    carry a broadcast JoinHint, because a hint cannot degrade when the
    runtime size doesn't fit, while an unhinted side is AQE's call.
    The graph pair carries no broadcast hints at all; copurchase hints
    only its bounded sides (the <=20-row top cut and the 1-row total),
    asserted as: every hinted child subtree either contains no
    part-keyed aggregate or bounds it under a GlobalLimit."""
    import re

    def optimized(name: str) -> str:
        df = registry.QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().optimizedPlan().toString()

    for name in ("graph_neighbor_jaccard", "graph_adamic_adar"):
        assert "strategy=broadcast" not in optimized(name), name

    p = optimized("rec_copurchase_lift")
    assert "strategy=broadcast" in p  # the bounded-side hints exist
    keyed_agg = re.compile(r"Aggregate \[[^\]]*l_partkey#\d+")
    lines = p.splitlines()
    for i, line in enumerate(lines):
        m = re.search(r"(left|right)Hint=\(strategy=broadcast", line)
        if not m:
            continue
        d = _node_depth(line)
        children = []  # (start_index, depth) of each direct child
        for j in range(i + 1, len(lines)):
            dj = _node_depth(lines[j])
            if dj <= d:
                break
            if not children or dj == children[0][1]:
                children.append((j, dj))
        assert children, line
        pick = children[0] if m.group(1) == "left" else children[-1]
        end = len(lines)
        for j in range(pick[0] + 1, len(lines)):
            if _node_depth(lines[j]) <= pick[1]:
                end = j
                break
        sub = "\n".join(lines[pick[0]:end])
        agg = keyed_agg.search(sub)
        if agg:
            # the hinted side may contain a part-keyed aggregate only
            # below a GlobalLimit bound (text order approximates
            # ancestry: a bare broadcast(cnt) subtree has no limit
            # anywhere)
            assert "GlobalLimit" in sub[:agg.start()], (line, sub[:600])
