"""Scale-path operators: sketch aggregates (error-bounded) and the
manually salted skew join (exact-equivalence)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hypertension_dashboard_pipeline_spark import queries_ext
from hypertension_dashboard_pipeline_spark.io import load_table
from hypertension_dashboard_pipeline_spark.operators.aggregates import (
    approx_distinct_and_percentiles,
)
from hypertension_dashboard_pipeline_spark.operators.joins import salted_join


def test_sketch_profile_error_bounds(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    approx = {
        r.l_returnflag: (r.approx_distinct, r.approx_median)
        for r in approx_distinct_and_percentiles(
            li, "l_returnflag", "l_partkey", "l_quantity"
        ).collect()
    }
    exact = {
        r.l_returnflag: (r.nd, r.med)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd"),
            F.percentile(F.col("l_quantity"), F.lit(0.5)).alias("med"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        nd_a, med_a = approx[k]
        nd_e, med_e = exact[k]
        # HLL++ at rsd=0.05: allow 3 sigma
        assert abs(nd_a - nd_e) / nd_e < 0.15, (k, nd_a, nd_e)
        # t-digest median of 1..50 integers: within one step of exact
        assert abs(med_a - med_e) <= 1.0, (k, med_a, med_e)


def test_sketch_profile_keeps_all_null_partkey_group(spark, monkeypatch):
    """a14_sketch_profile keeps a return-flag group whose partkeys are
    all NULL (countDistinct gives it 0), as its oracle does."""
    li = spark.createDataFrame(
        [("A", 1, 5.0), ("A", 2, 6.0), ("A", 3, 7.0),
         ("R", None, 5.0), ("R", None, 6.0), ("R", None, 7.0)],
        "l_returnflag string, l_partkey long, l_quantity double",
    )
    monkeypatch.setattr(queries_ext, "load_table", lambda *_: li)
    out = queries_ext.a14_sketch_profile(spark, "unused")
    assert sorted(tuple(r) for r in out.collect()) == [("A", 1, 1), ("R", 1, 1)]


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber"
    )
    dim = li.select("l_returnflag").distinct().withColumn(
        "label", F.concat(F.lit("f_"), F.col("l_returnflag"))
    )
    salted = salted_join(li, dim, "l_returnflag", salt_buckets=8)
    plain = li.join(dim, "l_returnflag")
    assert salted.count() == plain.count()
    assert (
        salted.exceptAll(plain.select(*salted.columns)).count() == 0
    )


def test_group_split_no_leakage_and_stability(spark, sf_dir):
    from hypertension_dashboard_pipeline_spark.operators.sampling import (
        deterministic_sample,
        group_split,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    split = group_split(ev, "user_id")
    # no user straddles splits
    assert (
        split.groupBy("user_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )
    # every row got a label and all three labels exist
    assert split.filter(F.col("split").isNull()).count() == 0
    assert split.select("split").distinct().count() == 3

    # deterministic sample is repartition-stable
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = sorted(r.doc_id for r in deterministic_sample(docs, "doc_id", 10).collect())
    b = sorted(
        r.doc_id
        for r in deterministic_sample(docs.repartition(7), "doc_id", 10).collect()
    )
    assert a == b and 0 < len(a) < docs.count()


def test_incremental_ingest_dedups_against_corpus_and_batch(spark):
    from hypertension_dashboard_pipeline_spark.operators.dedup import (
        incremental_ingest,
    )

    existing = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta eps zeta")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "alpha beta gamma"),   # dup of existing -> dropped
            (11, "Alpha,  beta GAMMA"), # normalized dup of existing -> dropped
            (12, "new content here"),   # fresh -> kept
            (13, "new content here"),   # batch dup of 12 -> dropped
            (14, "other novel text"),   # fresh -> kept
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in incremental_ingest(existing, incoming).collect()
    )
    assert kept == [12, 14]


def test_salted_counts_spreads_single_value_hot_key(spark):
    """The salt must come from per-row entropy, not data columns: a hot
    key whose rows all carry ONE value must still spread across all salt
    buckets (a value-derived salt would collapse it into one reducer —
    exactly the skew salting exists to break)."""
    from pyspark.sql import functions as F

    from hypertension_dashboard_pipeline_spark.operators.aggregates import (
        salted_counts,
    )

    n, buckets = 4096, 16
    hot = spark.range(n).select(
        F.lit("hot").alias("k"), F.lit(1).alias("v")
    )
    # result stays exact
    out = salted_counts(hot, "k", "v", salt_buckets=buckets).collect()
    assert len(out) == 1 and out[0]["n"] == n and out[0]["total"] == n

    # and the phase-1 salt really fans out: replicate the operator's
    # salt expression and count distinct buckets for the constant value
    salts = (
        hot.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id()),
                F.lit(buckets),
            ),
        )
        .select("__salt")
        .distinct()
        .count()
    )
    assert salts == buckets


def test_kll_merge_quantile_profile_bounds(spark, sf_dir):
    """Per-day KLL sketches folded to global quantiles: every estimate
    must land between the exact values at rank q ± 0.05 (the profile's
    advertised bound), and the harness columns must agree."""
    from hypertension_dashboard_pipeline_spark.operators.aggregates import (
        mergeable_quantile_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = mergeable_quantile_profile(
        ev, F.date_trunc("day", F.col("ts")), "value"
    ).collect()
    assert [r.quantile for r in rows] == [0.5, 0.9, 0.99]
    for r in rows:
        assert r.lo <= r.approx <= r.hi, (r.quantile, r.lo, r.approx, r.hi)
        assert r.within_bounds == 1


def test_hll_union_of_buckets_equals_single_sketch(spark, sf_dir):
    """Register-wise HLL union must be EXACTLY the sketch of the full
    data (register max is merge-order independent, no randomness) —
    the property that makes stored per-bucket sketches trustworthy."""
    ev = load_table(spark, sf_dir, "events")
    unioned = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    single = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    a = {r["event_type"]: r["est"] for r in unioned.collect()}
    b = {r["event_type"]: r["est"] for r in single.collect()}
    assert a == b
    # and different physical partitioning must not change the estimate
    c = {
        r["event_type"]: r["est"]
        for r in ev.repartition(3)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert a == c


def test_mergeable_distinct_profile_bounds(spark, sf_dir):
    from hypertension_dashboard_pipeline_spark.operators.aggregates import (
        mergeable_distinct_profile,
    )

    ev = load_table(spark, sf_dir, "events")
    rows = mergeable_distinct_profile(
        ev, F.date_trunc("day", F.col("ts")), "event_type", "user_id"
    ).collect()
    assert len(rows) == 5
    assert all(r["within_bounds"] == 1 for r in rows)
