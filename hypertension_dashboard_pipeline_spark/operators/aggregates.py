"""Aggregation operators (reference A1-A11, SURVEY.md §2.4).

All are single-shuffle hash aggregations with map-side partial
aggregation — the groupBy key is the patient key, which is
high-cardinality/low-skew, so these scale linearly. None of them
collect to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import round_fixed


def count_distinct_per_key(df: DataFrame, key: str | Sequence[str],
                           cols: Sequence[str]) -> DataFrame:
    """Reference A1/A2: per-patient n_distinct over identity columns to
    detect mis-bridged records (2_data_importing_cleaning.R:93-139).

    Output columns are named ``<col>_count`` like the reference.
    """
    keys = [key] if isinstance(key, str) else list(key)
    aggs = [F.countDistinct(c).alias(f"{c}_count") for c in cols]
    return df.groupBy(*keys).agg(*aggs)


def consistent_keys(df: DataFrame, key: str, cols: Sequence[str]) -> DataFrame:
    """Keys whose identity columns are all internally consistent
    (reference: filter(yob_count==1 & sex_count==1 & race_count==1),
    2_data_importing_cleaning.R:134-139)."""
    counted = count_distinct_per_key(df, key, cols)
    cond = None
    for c in cols:
        p = F.col(f"{c}_count") == 1
        cond = p if cond is None else cond & p
    return counted.filter(cond).select(key)


def same_day_avg(df: DataFrame, key: str, date_col: str, value_col: str,
                 out_col: str | None = None, scale: int = 1) -> DataFrame:
    """Reference A3: average same-day readings, rounded like R
    (half-to-even via bround, SURVEY.md §2.10-3)
    (3_blood_pressure.R:168-174)."""
    out = out_col or f"{value_col}_avg"
    return (
        df.groupBy(key, date_col)
        .agg(F.bround(F.avg(value_col), scale).alias(out))
    )


def same_day_avg_exact(df: DataFrame, key: str, date_col: str,
                       value_col: str, out_col: str | None = None,
                       scale: int = 1, input_scale: int = 0) -> DataFrame:
    """Half-even same-day average in EXACT integer arithmetic — the
    pre-built escape hatch for ``same_day_avg`` (SURVEY.md
    round-boundary step 4).

    ``same_day_avg`` pairs Spark ``bround(avg(x))`` with DuckDB
    ``ROUND_EVEN(AVG(x))``.  That pairing is structurally safe while
    the corpus keeps INTEGER-valued quantities (the mean of integers
    with small n either sits far from a 1dp midpoint or IS an exactly
    representable midpoint) — but it dies the day a regenerated corpus
    ships 1-2dp FRACTIONAL values, because both engines then half-even
    a double that only approximates the true mean, and they can
    approximate it from opposite sides.

    This formulation never rounds a double at all.  Inputs declared
    exact at ``input_scale`` (k) decimal places are recovered as
    integers m = rint(x*10^k) (exact: the stored double is the nearest
    double to m/10^k, so m is recovered bit-exactly for |m| well past
    any physiological/quantity range).  Then with S = Σm, n = count,
    the half-even rounding of (S/(n·10^k)) at ``scale`` (s) digits is
    pure integer arithmetic on N = |S|·10^s and d = n·10^k:

        q = N div d,  r = N mod d
        q += 1  iff  2r > d  or  (2r = d and q odd)
        result = sign(S) · q / 10^s

    Every step is exact in LONG (documented bound: |S|·10^s < 2^63 —
    at s=1, k=2 that is ~9e15 group-total units, far past any same-day
    group), and the single final double division q/10^s is correctly
    rounded by IEEE — so the value is the true half-even mean on ANY
    engine, with no cross-engine representability exposure.  The
    DuckDB mirror is the same integer expression; property-tested
    against ``fractions.Fraction`` ground truth and shown bit-equal to
    the bround path on integer corpora
    (tests/test_same_day_avg_exact.py).
    """
    out = out_col or f"{value_col}_avg"
    k = int(input_scale)
    s = int(scale)
    m = F.rint(F.col(value_col) * F.lit(float(10**k))).cast("long")
    g = df.groupBy(key, date_col).agg(
        F.sum(m).alias("_S"), F.count(m).alias("_n")
    )
    N = F.abs(F.col("_S")) * F.lit(10**s)
    d = F.col("_n") * F.lit(10**k)
    q = F.expr(f"(abs(_S) * {10**s}) div (_n * {10**k})")
    r = F.pmod(N, d)
    adj = F.when(
        (2 * r > d) | ((2 * r == d) & (q % 2 == 1)), F.lit(1)
    ).otherwise(F.lit(0))
    signed = F.signum(F.col("_S")).cast("long") * (q + adj)
    # all-null group: avg semantics return NULL (guard also keeps the
    # integral divide off n=0 under ANSI mode)
    value = F.when(
        F.col("_n") > 0, signed.cast("double") / F.lit(float(10**s))
    )
    return g.select(key, date_col, value.alias(out))


def sum_indicator(df: DataFrame, key: str, flag_col: str,
                  out_col: str = "n") -> DataFrame:
    """Reference A4: count of flagged days per patient
    (3_blood_pressure.R:286-288). F.sum ignores NULLs natively, matching
    ``sum(x, na.rm=TRUE)``."""
    return df.groupBy(key).agg(F.sum(flag_col).alias(out_col))


def freq_table(df: DataFrame, col: str, pct_scale: int = 6) -> DataFrame:
    """Reference A6: janitor ``tabyl`` — counts and percents per value
    (4_hypertension_phenotype_main.R:182-186).

    The percent denominator is a window total over an empty partition
    spec — a single-stage computation, no driver round-trip.
    """
    w = Window.partitionBy()
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "percent",
            round_fixed(F.lit(100.0) * F.col("n") / F.sum("n").over(w), pct_scale),
        )
    )


def freq_table_with_total(df: DataFrame, col: str) -> DataFrame:
    """Reference A7: frequency table with an appended totals row
    (janitor ``adorn_totals``), NULL-keyed as SQL's ``GROUP BY ROLLUP``
    gives it. One ``groupBy`` counts per value; the total is a global
    aggregate over those counts, so it is one row even on empty input,
    where Spark's ``rollup`` returns no row at all. The counts (one row
    per distinct value) sit in one partition, so the total needs no
    second shuffle, and the union reuses the counts' one."""
    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("n")).coalesce(1)
    total = counts.agg(F.lit(None).cast(df.schema[col].dataType).alias(col),
                       F.coalesce(F.sum("n"), F.lit(0)).alias("n"))
    return counts.unionByName(total)


def time_rollup(df: DataFrame, ts_col: str = "ts",
                value_col: str = "value") -> DataFrame:
    """Multi-granularity time-bucket rollup (hour → day → month) with
    ONE scan of the fact table — the continuous-aggregate/hypertable
    pattern: coarser grains re-aggregate the finest partial aggregate,
    never the raw rows.

    At 100 TB the fact scan dominates everything; the hourly partial is
    ~5 orders of magnitude smaller (one row per bucket), so deriving
    day/month from it is effectively free — and because sums are exact
    DECIMAL, hierarchical re-aggregation is bit-identical to direct
    aggregation (the commutativity floats would lose).  The hourly
    partial is localCheckpointed: bounded rows, three consuming
    branches, no persist bookkeeping.

    Output: (grain, bucket, n_events, value_sum double, value_avg
    double rounded 4dp).  Sums stay exact DECIMAL internally and cross
    the output boundary via ``dec_present`` (decimals hash/render
    engine-dependently; see functions/expressions.py); the avg uses the
    ``round_fixed`` floor form, not engine round().
    """
    from ..functions.expressions import dec_present, round_fixed

    v = F.col(value_col).cast("decimal(18,6)")
    hour = (
        df.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("s"))
        .localCheckpoint(eager=True)
    )
    day = hour.groupBy(
        F.date_trunc("day", F.col("bucket")).alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
    month = day.groupBy(
        F.date_trunc("month", F.col("bucket")).alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("s").alias("s"))

    def out(grain: str, g: DataFrame) -> DataFrame:
        sx = F.col("s").cast("decimal(28,6)")
        return g.select(
            F.lit(grain).alias("grain"),
            "bucket",
            F.col("n").alias("n_events"),
            dec_present(sx).alias("value_sum"),
            round_fixed(dec_present(sx) / F.col("n"), 4).alias("value_avg"),
        )

    return (
        out("hour", hour)
        .unionByName(out("day", day))
        .unionByName(out("month", month))
    )


def mergeable_quantile_profile(df: DataFrame, bucket: "F.Column",
                               value_col: str,
                               quantiles: Sequence[float] = (0.5, 0.9, 0.99),
                               rank_tol: float = 0.05) -> DataFrame:
    """Pre-aggregated quantiles via mergeable KLL sketches: one sketch
    per bucket (e.g. per day), folded into a single sketch with the
    pairwise ``kll_sketch_merge`` in deterministic bucket order, then
    probed for quantiles.

    THE 100 TB pattern this encodes: store the per-bucket sketches
    (a few KB each) as a profile table; any date-range quantile is a
    merge of the covered buckets — no rescan of the fact data, and the
    merge is associative so ranges compose.  Exact percentiles need a
    full sort-shuffle of every value, every time.

    KLL compaction is randomized (DataSketches), so raw quantile
    values vary run to run within the rank-error bound.  The returned
    frame therefore carries, per quantile: the sketch estimate AND the
    exact values at ranks q ± ``rank_tol`` (one exact percentile pass
    — the verification harness, not part of the production profile),
    plus a ``within_bounds`` flag.  The flag is the deterministic,
    oracle-checkable part; ``rank_tol`` of 5% is >3× the sketch's
    default normalized rank error.
    """
    per_bucket = df.groupBy(bucket.alias("__b")).agg(
        F.kll_sketch_agg_double(value_col).alias("__sk")
    )
    merged = per_bucket.agg(
        F.sort_array(F.collect_list(F.struct("__b", "__sk"))).alias("__a")
    ).select(
        F.expr(
            "aggregate(slice(__a, 2, size(__a) - 1), __a[0].__sk,"
            " (acc, x) -> kll_sketch_merge_double(acc, x.__sk))"
        ).alias("__sk")
    )
    probes = merged.select(
        *[
            F.kll_sketch_get_quantile_double("__sk", F.lit(q)).alias(f"__q{i}")
            for i, q in enumerate(quantiles)
        ]
    )
    rank_points = []
    for q in quantiles:
        rank_points.append(max(0.0, q - rank_tol))
        rank_points.append(min(1.0, q + rank_tol))
    # the exact bounds are fetched eagerly (ONE small aggregate job,
    # same pattern as the similarity queries' query-vector probe) and
    # spliced as literals: combining two 1-row frames lazily would be
    # a cartesian/constant-key join, which the registry-wide plan
    # invariant rightly forbids
    bounds = df.agg(
        F.percentile(
            value_col, F.array(*[F.lit(p) for p in rank_points])
        ).alias("__ex")
    ).first()["__ex"]
    if bounds is None:
        # EMPTY-INPUT CONTRACT (r8 empty-events sweep): percentile of
        # zero rows is NULL and the literal splice would subscript
        # None — the quantile profile of a range with no observations
        # is the EMPTY profile, not a row of NULL flags.
        return df.sparkSession.createDataFrame(
            [],
            "quantile double, approx double, lo double, hi double, "
            "within_bounds int",
        )
    per_q = [
        F.struct(
            F.lit(q).alias("quantile"),
            F.col(f"__q{i}").alias("approx"),
            F.lit(bounds[2 * i]).alias("lo"),
            F.lit(bounds[2 * i + 1]).alias("hi"),
            (
                (F.col(f"__q{i}") >= F.lit(bounds[2 * i]))
                & (F.col(f"__q{i}") <= F.lit(bounds[2 * i + 1]))
            ).cast("int").alias("within_bounds"),
        )
        for i, q in enumerate(quantiles)
    ]
    return (
        probes.select(F.explode(F.array(*per_q)).alias("r"))
        .select("r.quantile", "r.approx", "r.lo", "r.hi", "r.within_bounds")
    )


def mergeable_distinct_profile(df: DataFrame, bucket: "F.Column",
                               group_col: str, value_col: str,
                               tol: float = 0.05) -> DataFrame:
    """Pre-aggregated COUNT DISTINCT via mergeable HLL sketches: one
    sketch per (group, bucket), register-wise union per group
    (``hll_union_agg``), estimate once — the distinct-count twin of
    ``mergeable_quantile_profile``.

    Store the per-bucket sketches (a few KB each) and any date-range
    distinct count is a union of the covered buckets — no rescan, and
    the union is commutative/associative (register max), so unlike KLL
    the estimate is fully DETERMINISTIC: no randomized compaction,
    identical for any merge order or partitioning (pinned by test).

    Output per group: the exact distinct count (externally checkable),
    the sketch estimate, and a ``within_bounds`` flag at ``tol``
    relative error (default 3× the default-precision rsd of ~1.6%).
    """
    per_bucket = df.groupBy(group_col, bucket.alias("__b")).agg(
        F.hll_sketch_agg(value_col).alias("__sk")
    )
    merged = per_bucket.groupBy(group_col).agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("approx_distinct")
    )
    exact = df.groupBy(group_col).agg(
        F.countDistinct(value_col).alias("n_exact")
    )
    return merged.join(exact, group_col).select(
        group_col,
        "n_exact",
        (
            F.abs(F.col("approx_distinct") - F.col("n_exact"))
            <= F.lit(tol) * F.col("n_exact")
        ).cast("int").alias("within_bounds"),
    )


def dedup_deterministic(df: DataFrame, key: str | Sequence[str],
                        order_by: Sequence) -> DataFrame:
    """Reference A9: ``distinct(key, .keep_all=TRUE)`` with a
    deterministic survivor.

    dplyr keeps an arbitrary first row; Spark's dropDuplicates survivor
    varies per run. The engine picks the survivor by an explicit total
    order so result hashes are stable (SURVEY.md §2.10-4). The window
    shuffles once on the key — same cost as dropDuplicates.
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def salted_counts(df: DataFrame, key: str, value_col: str,
                  salt_buckets: int = 16,
                  salt_cols: Sequence[str] | None = None) -> DataFrame:
    """Two-phase skew-safe count/sum: rows are salted into
    ``salt_buckets`` sub-keys, partially aggregated, then merged.

    For a low-cardinality hot key (e.g. 3 distinct values across
    billions of rows) a plain groupBy concentrates each key's entire
    input on one reducer; salting spreads phase 1 across
    key×salt_buckets reducers and phase 2 only merges
    ``salt_buckets`` partial rows per key. Exact for algebraic
    aggregates (count/sum/min/max). AQE's skew handling covers joins;
    this is the aggregation-side equivalent.

    ``salt_cols`` (a high-cardinality id column / composite key) makes
    the salt a pure function of row content — the safe default shape:
    under stage retry or speculative re-execution a recomputed map task
    reproduces exactly the salt assignments reducers already fetched.
    Without it the salt falls back to per-row execution entropy
    (partition id + row position), which breaks skew even when the hot
    key's rows are bit-identical, but carries the same known exposure
    as the classic rand()-salting idiom (SPARK-23207 class): a map
    task recomputed after shuffle-fetch failure may re-bucket rows.
    Prefer ``salt_cols`` whenever any unique-ish column exists.
    """
    if salt_cols:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets)
        )
    else:
        salt = F.pmod(
            F.xxhash64(F.spark_partition_id(), F.monotonically_increasing_id()),
            F.lit(salt_buckets),
        )
    salted = df.withColumn("__salt", salt)
    partial = salted.groupBy(key, "__salt").agg(
        F.count(F.lit(1)).alias("__n"), F.sum(value_col).alias("__s")
    )
    return partial.groupBy(key).agg(
        F.sum("__n").alias("n"), F.sum("__s").alias("total")
    )


def grouped_percentiles(df: DataFrame, key: str, value_col: str,
                        percentiles: Sequence[float] = (0.5, 0.9, 0.99),
                        scale: int = 4) -> DataFrame:
    """Exact interpolated percentiles per group (``F.percentile``; same
    definition as ANSI PERCENTILE_CONT / DuckDB quantile_cont, so the
    oracle matches to the rounding scale).

    Exact percentiles require the group's values on one reducer; for
    100 TB hot groups use ``approx_percentiles`` (t-digest sketch,
    map-side combinable, bounded memory) instead.
    """
    aggs = [
        round_fixed(F.percentile(F.col(value_col), F.lit(p)), scale).alias(
            f"p{str(p).replace('0.', '')}"
        )
        for p in percentiles
    ]
    return df.groupBy(key).agg(*aggs)


def approx_distinct_and_percentiles(df: DataFrame, key: str,
                                    distinct_col: str, value_col: str,
                                    rsd: float = 0.05) -> DataFrame:
    """Sketch-based grouped profile: HyperLogLog++ distinct count and
    t-digest median — both map-side combinable with fixed-size state,
    the only viable shape for high-cardinality profiling at 100 TB
    (exact countDistinct shuffles every distinct value; exact
    percentile shuffles every row).

    Approximate by design → no SQL oracle; tests bound the relative
    error against exact computation instead.
    """
    return df.groupBy(key).agg(
        F.approx_count_distinct(distinct_col, rsd=rsd).alias("approx_distinct"),
        F.percentile_approx(value_col, 0.5, 10_000).alias("approx_median"),
    )


def attrition_pct(before: int, after: int, denom: int | None = None) -> float:
    """Reference A11: attrition percentage arithmetic over stage counts
    (2_data_importing_cleaning.R:403-405)."""
    d = denom if denom is not None else before
    return 100.0 * (before - after) / d


def count_min_profile(df: DataFrame, key_col: str,
                      depth: int = 4, width: int = 64) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan '05 — public
    literature; beyond-reference sketch surface next to the KLL/HLL
    profiles): ``depth`` independent hash rows of ``width`` counters.

    The sketch is built with ONE explode (depth rows per input row)
    and one hash aggregation on (row, bucket) — map-side partial agg
    collapses each task's contribution to at most depth×width
    counters, so the shuffle payload is the SKETCH SIZE, not the key
    cardinality: the property that makes frequency profiling viable
    when the key space (user ids, URLs) is itself 100 TB-scale.
    Counter updates are sums, so per-partition / per-day sketches
    merge by element-wise addition (same mergeability contract as
    ``mergeable_quantile_profile``).

    Hashing is explicit md5 arithmetic (``'{j}_{key}'`` → first 8 hex
    digits → mod width) so an independent SQL engine reproduces every
    counter exactly; estimates are deterministic (no randomized
    compaction).  Point estimate for a key = min over rows j of
    counter[j][h_j(key)] — an overestimate with one-sided error
    ≤ e·N/width at probability 1-(1/e)^depth.
    """
    j = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    keyed = df.select(F.col(key_col).cast("string").alias("__k")).select(
        "__k", j
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("j"), F.col("__k"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        keyed.select("j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimates(spark, sketch: DataFrame, probe_keys: list,
                        depth: int = 4, width: int = 64) -> DataFrame:
    """Point-estimate Count-Min lookups for an explicit probe list:
    min over sketch rows of the probed counter (0 when the bucket was
    never touched).  The probe side is depth×|probes| rows joined to
    the depth×width sketch — both tiny; at scale this is the
    dashboard-side read path, the fact table is never rescanned."""
    probes = spark.range(0, depth).select(
        F.col("id").cast("int").alias("j"),
        F.explode(
            F.array(*[F.lit(str(k)) for k in probe_keys])
        ).alias("__k"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("j"), F.col("__k"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % width
    )
    return (
        probes.select("j", "__k", bucket.alias("bucket"))
        .join(sketch, ["j", "bucket"], "left")
        .groupBy("__k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .select(F.col("__k").alias("key"), "est_count")
    )
