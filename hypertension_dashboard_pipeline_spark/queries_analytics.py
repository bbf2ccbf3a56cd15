"""Product-analytics queries: multidimensional aggregation (cube /
pivot), window frames (moving average, lag delta, ntile), funnels,
cohort retention, closed-form regression, histograms, and k-means —
the descriptive-statistics surface a dashboard pipeline serves
(reference analog: the tabyl/adorn_totals frequency / attrition /
summary tables of `4_hypertension_phenotype_main.R:182-186`),
generalized to event analytics and expressed Spark-first.

Oracle strategy follows the package convention: exact DECIMAL sums and
integer counts wherever possible; unavoidable double arithmetic
(regression, k-means distances) computed by the IDENTICAL closed form
on both engines and rounded 4dp well away from representability
boundaries; every computed column aliased the same on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.expressions import round_fixed
from .io import load_table
from .operators import analytics as an
from .registry import register

# --------------------------------------------------------------------------
# multidimensional aggregation
# --------------------------------------------------------------------------


@register(
    "a18_cube_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS g_id,
           COUNT(*) AS n_rows,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a18_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) with a grouping-id
    disambiguator: all four grouping sets from ONE scan — Spark's
    Expand produces the 4x row multiplication map-side and the partial
    aggregate collapses it before the single shuffle, which is why
    cube beats four unioned groupBys at 100 TB.  Exact DECIMAL sums
    keep all grouping levels bit-identical to the oracle; the sum
    crosses the output boundary as a ``dec_present`` double (decimals
    are hash-hostile externally, functions/expressions.py)."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("g_id"),
            F.count("*").alias("n_rows"),
            dec_present(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                    "decimal(28,2)"
                )
            ).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "g_id", "n_rows", "sum_qty")
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent_n", "high_n", "medium_n", "notspec_n", "low_n"]


@register(
    "a19_pivot_priority",
    oracle=f"""
    SELECT o_orderstatus,
           {", ".join(
               f"COUNT(*) FILTER (WHERE o_orderpriority = '{p}') AS {a}"
               for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
           )}
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a19_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order priority into wide count columns.  The pivot value
    list is EXPLICIT — the scale-critical choice: without it Spark
    runs a collect-distinct pre-pass over the fact table to discover
    the columns (an extra full scan + driver round-trip).  With the
    list, the pivot compiles to conditional aggregates: one scan, one
    shuffle, identical to the oracle's FILTER form."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a)
            for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
        ],
    )


# --------------------------------------------------------------------------
# window frames
# --------------------------------------------------------------------------


@register(
    "w3_moving_avg",
    oracle="""
    SELECT user_id, event_id,
           FLOOR(AVG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                 * 10000.0 + 0.5) / 10000.0 AS mavg_3
    FROM events
    """,
)
def w3_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-frame moving average (last 3 events per user): ONE window
    sort per user partition, no self-join.  The (ts, event_id) order
    key is total, so the frame contents — and therefore the rounded
    average — are deterministic.  At scale this is a single shuffle on
    user_id with an in-partition sort, the minimum any
    order-sensitive computation can pay."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        round_fixed(F.avg("value").over(w), 4).alias("mavg_3"),
    )


@register(
    "w4_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           FLOOR((value - LAG(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id))
                 * 10000.0 + 0.5) / 10000.0 AS delta
    FROM events
    """,
)
def w4_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-event delta via LAG — the
    change-since-last-reading shape (reference analog: same-day BP
    comparisons pair rows by key; here the pairing is positional).
    Shares the single user_id window sort with w3; NULL first-row
    deltas are part of the contract (both engines emit them)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        round_fixed(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@register(
    "w5_ntile_quartiles",
    oracle="""
    WITH t AS (
        SELECT c_mktsegment, c_acctbal,
               NTILE(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer
    )
    SELECT c_mktsegment, quartile, COUNT(*) AS n,
           FLOOR(MIN(c_acctbal) * 100.0 + 0.5) / 100.0 AS lo_bal,
           FLOOR(MAX(c_acctbal) * 100.0 + 0.5) / 100.0 AS hi_bal
    FROM t GROUP BY c_mktsegment, quartile
    """,
)
def w5_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartile summary of account balance per market segment.
    The (c_acctbal, c_custkey) order key is total, so tile boundaries
    are deterministic; both engines use the SQL-standard NTILE fill
    (earlier tiles take the remainder rows).  One window sort + one
    tiny aggregate."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            "c_acctbal",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count("*").alias("n"),
            round_fixed(F.min("c_acctbal"), 2).alias("lo_bal"),
            round_fixed(F.max("c_acctbal"), 2).alias("hi_bal"),
        )
    )


# --------------------------------------------------------------------------
# regression / distribution
# --------------------------------------------------------------------------


@register(
    "a20_grouped_regression",
    oracle="""
    WITH s AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(CAST(l_quantity AS DOUBLE)) AS sx,
               SUM(CAST(l_extendedprice AS DOUBLE)) AS sy,
               SUM(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS sxy,
               SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sxx,
               SUM(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS syy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           FLOOR((sxy - sx * sy / n) / (sxx - sx * sx / n)
                 * 10000.0 + 0.5) / 10000.0 AS slope,
           FLOOR((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n
                 * 10000.0 + 0.5) / 10000.0 AS intercept,
           FLOOR((sxy - sx * sy / n)
                 / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
                 * 10000.0 + 0.5) / 10000.0 AS corr_xy
    FROM s
    """,
)
def a20_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of extendedprice ~ quantity from the five
    sufficient statistics (operators/analytics.grouped_regression):
    REGR_SLOPE/REGR_INTERCEPT/CORR as ONE map-side-combinable
    aggregate — no ML library, no second pass.  Both engines evaluate
    the identical closed form from the same double sums."""
    return an.grouped_regression(
        load_table(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        x="l_quantity",
        y="l_extendedprice",
    )


@register(
    "a21_histogram_totalprice",
    oracle="""
    WITH b AS (
        SELECT CAST(LEAST(GREATEST(
                   FLOOR((o_totalprice - 0.0) / 25000.0), 0), 19) AS INT) AS bin
        FROM orders
    )
    SELECT bin,
           FLOOR(CAST(0.0 + bin * 25000.0 AS DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS bin_lo,
           FLOOR(CAST(0.0 + (bin + 1) * 25000.0 AS DOUBLE)
                 * 100.0 + 0.5) / 100.0 AS bin_hi,
           COUNT(*) AS n
    FROM b GROUP BY bin
    """,
)
def a21_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width 20-bin histogram of order totalprice over
    [0, 500000): bin assignment is pure arithmetic (no sampling
    pre-pass), so the operator is one narrow map + a 20-row shuffle —
    the cheapest possible distribution profile at any scale.  Edge
    values clamp into the boundary bins so the histogram always sums
    to the row count."""
    return an.histogram_fixed(
        load_table(spark, sf_dir, "orders"), "o_totalprice",
        lo=0.0, hi=500_000.0, nbins=20,
    )


# --------------------------------------------------------------------------
# funnel / retention
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


@register(
    "events_funnel",
    oracle="""
    WITH s0 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), s1 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s0 ON e.user_id = s0.user_id
        WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id
    ), counts AS (
        SELECT 0 AS step_idx, 'view' AS step,
               (SELECT COUNT(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM s2)
    )
    SELECT step_idx, step, n_users,
           FLOOR(n_users * 100.0
                 / (SELECT n_users FROM counts WHERE step_idx = 0)
                 * 10000.0 + 0.5) / 10000.0
               AS pct_of_first
    FROM counts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase
    (operators/analytics.funnel): ONE groupBy(user) over the
    step-filtered scan, per-user time-sorted fold with a higher-order
    ``aggregate`` — no per-step self-joins, no Python.  The greedy
    earliest-event walk is optimal, so it matches the oracle's
    min-timestamp cascade exactly (event timestamps are unique per
    user in this data, making strict-after unambiguous)."""
    return an.funnel(load_table(spark, sf_dir, "events"), _FUNNEL_STEPS)


@register(
    "events_rolling_wau",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ), days AS (SELECT DISTINCT d FROM act)
    SELECT days.d AS day, COUNT(DISTINCT act.user_id) AS wau
    FROM days JOIN act
      ON act.d <= days.d AND act.d >= days.d - 6
    GROUP BY days.d
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling active users per day (WAU) — COUNT DISTINCT over
    a sliding window, which no Spark window frame can express.  The
    scalable formulation: dedupe to (user, active-day) rows, explode
    each into the ≤7 report days it contributes to (a BOUNDED
    fan-out), and run ONE exact distinct count per day — versus the
    oracle's day×activity range join, whose fan-out is the same 7x
    but whose join is unbounded theta at the engine level.  Report
    days are observed activity days (no zero-fill), matching the
    oracle's day list."""
    from .operators import dedup as dd

    ev = load_table(spark, sf_dir, "events")
    # act feeds both the report-day list and the contribution explode;
    # persisted, the scan + dedup shuffle run once, not per branch
    dd.release_persisted()
    act = dd._maybe_persist(
        ev.select(
            "user_id", F.to_date(F.date_trunc("day", "ts")).alias("d")
        ).distinct(),
        True,
    )
    days = act.select("d").distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        contrib.join(F.broadcast(days.select(F.col("d").alias("day"))), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


_GAP_US = 259_200_000_000  # 3 days


@register(
    "events_funnel_windowed",
    oracle=f"""
    WITH v AS (SELECT user_id, epoch_us(ts) AS us FROM events
               WHERE event_type = 'view'),
    c AS (SELECT user_id, epoch_us(ts) AS us FROM events
          WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS us FROM events
          WHERE event_type = 'purchase'),
    u1 AS (SELECT DISTINCT user_id FROM v),
    u2 AS (SELECT DISTINCT v.user_id
           FROM v JOIN c ON c.user_id = v.user_id
                        AND c.us > v.us AND c.us <= v.us + {_GAP_US}),
    u3 AS (SELECT DISTINCT v.user_id
           FROM v JOIN c ON c.user_id = v.user_id
                        AND c.us > v.us AND c.us <= v.us + {_GAP_US}
                  JOIN p ON p.user_id = v.user_id
                        AND p.us > c.us AND p.us <= c.us + {_GAP_US})
    SELECT 0 AS step_idx, 'view' AS step,
           (SELECT COUNT(*) FROM u1) AS n_users
    UNION ALL SELECT 1, 'click', (SELECT COUNT(*) FROM u2)
    UNION ALL SELECT 2, 'purchase', (SELECT COUNT(*) FROM u3)
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (ClickHouse windowFunnel analog): view -> click
    -> purchase with each step within 3 days of the previous
    (operators/analytics.funnel_within).  Greedy earliest-anchoring is
    wrong under a gap rule, so the per-user fold is a latest-reach DP
    over k timestamp slots — still ONE step-filtered groupBy(user),
    never the oracle's per-user chain joins (which are the
    verification tool here, not the plan: their join fan-out is
    quadratic per user)."""
    return an.funnel_within(
        load_table(spark, sf_dir, "events"), _FUNNEL_STEPS, _GAP_US
    )


@register(
    "events_retention",
    oracle="""
    WITH fs AS (
        SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT CAST(date_trunc('day', fs.first_ts) AS DATE) AS cohort_day,
           CAST(FLOOR(date_diff('day', CAST(fs.first_ts AS DATE),
                                CAST(e.ts AS DATE)) / 7.0) AS INT)
               AS period_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN fs ON e.user_id = fs.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix
    (operators/analytics.cohort_retention): first-seen MIN per user
    (map-side combinable), same-key join back, exact distinct count
    per (cohort, offset).  Two shuffles total, both on keys the data
    already clusters by — the plan a 100 TB event store wants."""
    return an.cohort_retention(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# incremental rollup maintenance
# --------------------------------------------------------------------------


@register(
    "a23_incremental_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                          AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)
               AS value_sum,
           FLOOR(CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6)))
                               AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS value_avg
    FROM events
    GROUP BY 1, 2
    """,
)
def a23_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance
    (operators/analytics.partial_rollup / merge_rollups): the fact
    stream is split at a cutoff into a "stored summary" partial and a
    "new partition" partial, then MERGED — counts add, exact DECIMAL
    sums add.  The oracle is the full direct recompute over all
    events, so the externally-checked contract is the
    incremental-view-maintenance identity itself: merge(partials) ≡
    recompute(everything), bit-exact.  At 100 TB the merge touches
    summary-sized data only; the fact table is scanned once per new
    partition, never re-scanned."""
    from .operators.analytics import merge_rollups, partial_rollup

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
        "value",
        "ts",
    )
    cutoff = "2024-01-25"
    keys = ["day", "event_type"]
    stored = partial_rollup(ev.filter(F.col("ts") < cutoff), keys, "value")
    fresh = partial_rollup(ev.filter(F.col("ts") >= cutoff), keys, "value")
    return merge_rollups(stored, fresh).select(
        "day", "event_type", "n_events", "value_sum", "value_avg"
    )


@register(
    "events_path_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), t AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           FLOOR(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type)
                 * 10000.0 + 0.5) / 10000.0
               AS p_transition
    FROM t
    """,
)
def events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (the Markov/sankey source): LAG
    pairs each event with its predecessor per user (the same single
    user-partition sort every sequence operator here shares), then one
    tiny (prev, next) aggregation; transition probabilities normalize
    within each source state over the event-type-squared-sized result,
    not the fact table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    t = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        round_fixed(F.col("n") * 1.0 / F.sum("n").over(norm), 4).alias(
            "p_transition"
        ),
    )


@register(
    "cust_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day',
                         CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders))
                   AS r_days,
               COUNT(*) AS freq,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY o_custkey
    ), cuts AS (
        SELECT FLOOR(quantile_cont(r_days, 0.25) * 10000.0 + 0.5) / 10000.0 AS r25,
               FLOOR(quantile_cont(r_days, 0.50) * 10000.0 + 0.5) / 10000.0 AS r50,
               FLOOR(quantile_cont(r_days, 0.75) * 10000.0 + 0.5) / 10000.0 AS r75,
               FLOOR(quantile_cont(freq, 0.25) * 10000.0 + 0.5) / 10000.0 AS f25,
               FLOOR(quantile_cont(freq, 0.50) * 10000.0 + 0.5) / 10000.0 AS f50,
               FLOOR(quantile_cont(freq, 0.75) * 10000.0 + 0.5) / 10000.0 AS f75,
               FLOOR(quantile_cont(monetary, 0.25) * 10000.0 + 0.5) / 10000.0 AS m25,
               FLOOR(quantile_cont(monetary, 0.50) * 10000.0 + 0.5) / 10000.0 AS m50,
               FLOOR(quantile_cont(monetary, 0.75) * 10000.0 + 0.5) / 10000.0 AS m75
        FROM rfm
    )
    SELECT o_custkey, r_days, freq, monetary,
           CASE WHEN r_days <= r25 THEN 4 WHEN r_days <= r50 THEN 3
                WHEN r_days <= r75 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN freq > f75 THEN 4 WHEN freq > f50 THEN 3
                WHEN freq > f25 THEN 2 ELSE 1 END AS f_score,
           CASE WHEN monetary > m75 THEN 4
                WHEN monetary > m50 THEN 3
                WHEN monetary > m25 THEN 2
                ELSE 1 END AS m_score
    FROM rfm CROSS JOIN cuts
    """,
)
def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) with quartile
    scores from exact percentile CUT-POINTS, not a global NTILE: the
    cuts are a 1-row aggregate broadcast back onto the per-customer
    rollup, so scoring never needs the single-partition global sort
    NTILE would force — the difference between an unscalable toy and
    a 100 TB segmentation.  Cuts round to 4dp on both engines before
    comparison (a13's established percentile parity); monetary is an
    exact DECIMAL sum presented as a ``dec_present`` double (decimals
    are hash-hostile externally), so tile membership is bit-stable."""
    from .functions.expressions import dec_present

    orders = load_table(spark, sf_dir, "orders")
    # 1-row scalar sides attach via explicit broadcast products — the
    # compile target of a scalar subquery (declared in the plan sweep)
    max_date = orders.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            dec_present(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "decimal(28,2)"
                )
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff(F.col("maxd"), F.col("last_order")).alias("r_days"),
            "freq",
            "monetary",
        )
    )
    cuts = rfm.agg(
        *[
            round_fixed(F.percentile(F.col(c).cast("double"), F.lit(q)), 4).alias(
                f"{c[0]}{int(q * 100)}"
            )
            for c in ("r_days", "freq", "monetary")
            for q in (0.25, 0.50, 0.75)
        ]
    )
    m = F.col("monetary").cast("double")
    return (
        rfm.crossJoin(F.broadcast(cuts))
        .select(
            "o_custkey",
            "r_days",
            "freq",
            "monetary",
            F.when(F.col("r_days") <= F.col("r25"), 4)
            .when(F.col("r_days") <= F.col("r50"), 3)
            .when(F.col("r_days") <= F.col("r75"), 2)
            .otherwise(1)
            .alias("r_score"),
            F.when(F.col("freq") > F.col("f75"), 4)
            .when(F.col("freq") > F.col("f50"), 3)
            .when(F.col("freq") > F.col("f25"), 2)
            .otherwise(1)
            .alias("f_score"),
            F.when(m > F.col("m75"), 4)
            .when(m > F.col("m50"), 3)
            .when(m > F.col("m25"), 2)
            .otherwise(1)
            .alias("m_score"),
        )
    )


@register(
    "a25_winsorized_stats",
    oracle="""
    WITH cuts AS (
        SELECT l_returnflag,
               FLOOR(quantile_cont(l_extendedprice, 0.01)
                     * 10000.0 + 0.5) / 10000.0 AS p01,
               FLOOR(quantile_cont(l_extendedprice, 0.99)
                     * 10000.0 + 0.5) / 10000.0 AS p99
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           MAX(c.p01) AS lo_cut,
           MAX(c.p99) AS hi_cut,
           COUNT(*) FILTER (WHERE l.l_extendedprice < c.p01
                               OR l.l_extendedprice > c.p99) AS n_clamped,
           FLOOR(CAST(CAST(CAST(SUM(CAST(l.l_extendedprice
                                         AS DECIMAL(18,2)))
                               AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS mean_raw,
           FLOOR(CAST(CAST(CAST(SUM(CAST(
                     LEAST(GREATEST(l.l_extendedprice, c.p01), c.p99)
                     AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS VARCHAR)
                      AS DOUBLE)
                 / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS mean_winsorized
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def a25_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics: clamp each group's values to its
    [p1, p99] band and report raw vs winsorized means — the
    outlier-robust summary the reference approximates with hard
    plausibility bands (`3_blood_pressure.R:132-143`), derived from
    the data instead of a constant.  Two passes by necessity
    (percentiles, then clamp): pass one's 3-row cut table broadcasts
    back onto the scan, so the extra pass costs one scan, never a
    second whole-group shuffle.

    Determinism: the cut points are 4dp ``round_fixed`` snaps of the
    exact percentiles (bit-stable cross-engine — the cust_rfm trick),
    so every clamped value has <= 4 decimals and the means come from
    EXACT DECIMAL sums via the floor form — no order-sensitive float
    AVG survives into the comparison."""
    from .functions.expressions import dec_present, round_fixed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    cuts = li.groupBy("l_returnflag").agg(
        round_fixed(
            F.percentile("l_extendedprice", F.lit(0.01)), 4
        ).alias("p01"),
        round_fixed(
            F.percentile("l_extendedprice", F.lit(0.99)), 4
        ).alias("p99"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p01")), F.col("p99")
    )
    g = (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("p01").alias("lo_cut"),
            F.max("p99").alias("hi_cut"),
            F.sum(
                (
                    (F.col("l_extendedprice") < F.col("p01"))
                    | (F.col("l_extendedprice") > F.col("p99"))
                ).cast("long")
            ).alias("n_clamped"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("_s_raw"),
            F.sum(clamped.cast("decimal(18,4)"))
            .cast("decimal(28,4)")
            .alias("_s_win"),
            F.count("*").alias("_n"),
        )
    )
    return g.select(
        "l_returnflag",
        "lo_cut",
        "hi_cut",
        "n_clamped",
        round_fixed(dec_present("_s_raw") / F.col("_n"), 4).alias("mean_raw"),
        round_fixed(dec_present("_s_win") / F.col("_n"), 4).alias(
            "mean_winsorized"
        ),
    )


@register(
    "a24_key_skew_profile",
    oracle="""
    WITH per_key AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), tot AS (
        SELECT COUNT(*) AS total, COUNT(DISTINCT user_id) AS n_keys
        FROM events
    )
    SELECT p.user_id AS key, p.n AS n_rows,
           FLOOR(p.n * 100.0 / t.total * 10000.0 + 0.5) / 10000.0
               AS pct_of_total,
           FLOOR(p.n * t.n_keys / CAST(t.total AS DOUBLE)
                 * 10000.0 + 0.5) / 10000.0
               AS skew_factor
    FROM per_key p JOIN tot t ON TRUE
    ORDER BY p.n DESC, p.user_id
    LIMIT 10
    """,
)
def a24_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the top-10 heaviest join/agg keys with
    their share of rows and skew factor (count / mean-count) — the
    measurement that decides WHEN the salted paths
    (`a12_salted_skew_agg`, `j9_salted_skew_join`) are worth their
    extra shuffle.  One map-combined count per key + a broadcast of
    the 1-row totals + TakeOrdered(10); profiling a 100 TB table
    costs one aggregation, which is why it can run routinely before
    expensive joins."""
    from .operators import dedup as dd

    ev = load_table(spark, sf_dir, "events")
    # the key histogram feeds both the top-k and the totals branch;
    # persisted, the fact table is scanned ONCE (sum(n_rows) == row
    # count and count(*) == distinct keys by construction, so no
    # second scan is ever needed for the totals)
    dd.release_persisted()
    per_key = dd._maybe_persist(
        ev.groupBy(F.col("user_id").alias("key")).agg(
            F.count(F.lit(1)).alias("n_rows")
        ),
        True,
    )
    tot = per_key.agg(
        F.sum("n_rows").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    # truncate BEFORE attaching totals: the broadcast product is then
    # 10 rows x 1 row (declared in the plan sweep), never key-count-sized
    top = per_key.orderBy(F.col("n_rows").desc(), F.col("key")).limit(10)
    return (
        top.join(F.broadcast(tot))
        .select(
            "key",
            "n_rows",
            round_fixed(F.col("n_rows") * 100.0 / F.col("total"), 4).alias(
                "pct_of_total"
            ),
            round_fixed(
                F.col("n_rows") * F.col("n_keys") / F.col("total").cast("double"),
                4,
            ).alias("skew_factor"),
        )
    )


@register(
    "a30_grouped_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT c_mktsegment,
               FLOOR(quantile_cont(c_acctbal, 0.5) * 10000.0 + 0.5)
                   / 10000.0 AS med,
               COUNT(*) AS n
        FROM customer GROUP BY 1
    ),
    dev AS (
        SELECT c.c_mktsegment, ABS(c.c_acctbal - m.med) AS adev,
               m.med, m.n
        FROM customer c JOIN med m USING (c_mktsegment)
    ),
    mad AS (
        SELECT c_mktsegment,
               FLOOR(quantile_cont(adev, 0.5) * 10000.0 + 0.5)
                   / 10000.0 AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.c_mktsegment AS segment, d.n, d.med, m.mad,
           CAST(SUM(CASE WHEN d.adev > 4.4478 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (c_mktsegment)
    GROUP BY 1, 2, 3, 4
    """,
)
def a30_grouped_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen: median, MAD, and the count of
    values beyond the 3σ-equivalent robust fence (|x − med| >
    3·1.4826·MAD) — the plausibility-band (P12) and winsorize (a25)
    companion that needs no hand-tuned bounds, exactly the screen the
    reference applies to BP readings with fixed magic numbers
    (3_blood_pressure.R plausibility limits).  Medians/MADs round with
    the engine-safe floor form BEFORE feeding the deviation and fence
    arithmetic, so every downstream comparison is a pure function of
    identical doubles on both engines.  Like a13, the exact grouped
    percentile ships whole groups — fine for bounded group counts; at
    100 TB swap in the mergeable KLL sketch (a16) for med/MAD and keep
    the same fence logic.

    Plan shape: the per-segment median and MAD tables (a handful of
    rows each) are PERSISTED so the deviation projection — referenced
    by both the MAD aggregate and the outlier count — embeds cached
    broadcast sides instead of re-executed median subtrees; the fact
    table is scanned three times (med, MAD, count), the minimum for
    the med→MAD→fence dependency chain without caching a fact-sized
    frame (deliberately not done: a narrow re-scan beats fact-sized
    executor memory at 100 TB)."""
    from .functions.expressions import round_fixed
    from .operators.dedup import _maybe_persist, release_persisted

    cust = load_table(spark, sf_dir, "customer")
    release_persisted()
    med = _maybe_persist(
        cust.groupBy("c_mktsegment").agg(
            round_fixed(F.percentile(F.col("c_acctbal"), F.lit(0.5)), 4).alias(
                "med"
            ),
            F.count(F.lit(1)).alias("n"),
        ),
        True,
    )
    dev = cust.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment", "n", "med",
        F.abs(F.col("c_acctbal") - F.col("med")).alias("adev"),
    )
    mad = _maybe_persist(
        dev.groupBy("c_mktsegment").agg(
            round_fixed(F.percentile(F.col("adev"), F.lit(0.5)), 4).alias(
                "mad"
            )
        ),
        True,
    )
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .groupBy(
            F.col("c_mktsegment").alias("segment"), "n", "med", "mad"
        )
        .agg(
            F.sum(
                F.when(F.col("adev") > 4.4478 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers")
        )
    )


@register(
    "a29_heavy_hitters_sampled",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS N FROM events),
    sampled AS (
        SELECT event_type, COUNT(*) AS sc
        FROM events
        WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
              % 16 = 0
        GROUP BY 1
    ),
    cand AS (
        SELECT event_type FROM sampled, tot
        WHERE CAST(sc AS DOUBLE) >= 0.05 * N / 16.0
    ),
    exact AS (
        SELECT e.event_type, COUNT(*) AS n_rows
        FROM events e JOIN cand c USING (event_type)
        GROUP BY 1
    )
    SELECT event_type, n_rows,
           FLOOR(n_rows * 100.0 / CAST(N AS DOUBLE) * 10000.0 + 0.5)
               / 10000.0 AS pct_of_total
    FROM exact, tot
    WHERE n_rows >= CEIL(0.1 * N)
    """,
)
def a29_heavy_hitters_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """θ-heavy hitters (θ=10%) over event_type via the two-pass
    sampled-candidate operator (operators/analytics.heavy_hitters):
    candidates from a deterministic 1/16 md5 row sample, then exact
    recount of only the candidates — never a full key-histogram
    shuffle.  The scale complement of a24_key_skew_profile: a24
    measures the whole histogram (right at millions of keys), this
    finds the θ-heavy tail at billions.  Deterministic end to end (the
    sample is an md5 function of event_id), so the oracle replicates
    both passes verbatim."""
    from .operators.analytics import heavy_hitters

    return heavy_hitters(
        load_table(spark, sf_dir, "events"), "event_type", "event_id",
        theta=0.1, sample_buckets=16, safety=0.5,
    )


# --------------------------------------------------------------------------
# SCD-2 history intervals
# --------------------------------------------------------------------------


@register(
    "w7_scd2_intervals",
    oracle="""
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
)
def w7_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: a change stream becomes validity
    intervals via LEAD — each row's valid_to is the next change's
    timestamp, NULL marking the current version.  The complement of
    j13's SCD-1 merge-upsert: one window sort per entity, no
    self-join, which is why interval building stays one shuffle at any
    scale."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# --------------------------------------------------------------------------
# weighted sampling
# --------------------------------------------------------------------------


@register(
    "sample_weighted_topk",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
        SELECT doc_id, source, n_chars,
               ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT + 1.0) / 4294967297.0))
               / CAST(n_chars AS DOUBLE) AS score
        FROM documents WHERE n_chars > 0
    )
    ORDER BY score DESC, doc_id
    LIMIT 50
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.weighted_sample_topk): Efraimidis-Spirakis
    exponential keys with the uniform drawn from a content hash —
    inclusion probability scales with document length, the whole draw
    is a narrow map + ONE TakeOrdered(k), reproducible across engines
    and repartitionings.  The weighted counterpart of
    sample_deterministic's fixed-rate bucket filter."""
    from .operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_topk(docs, "doc_id", "n_chars", k=50)


# --------------------------------------------------------------------------
# k-means
# --------------------------------------------------------------------------


def _kmeans_oracle(k: int = 4, iterations: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd's iterations in DuckDB: assignment via
    ROW_NUMBER over (distance, cid) — the same lowest-id tie-break as
    the Spark operator's array_min over (dist, cid) structs — and
    per-dimension AVG centroids rebuilt with a range() unnest.  Empty
    clusters inherit the previous centroid on both sides."""
    sq = (
        "CAST(list_sum(list_transform(range(1, {d} + 1), "
        "i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i]))) AS DOUBLE)"
    ).format(d=dim)

    def assign(src: str, cents: str, name: str) -> str:
        return f"""{name} AS (
        SELECT vec_id, v, cid, dist FROM (
            SELECT a.vec_id, a.v, c.cid, {sq} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                      ORDER BY {sq}, c.cid) AS rn
            FROM {src} a CROSS JOIN {cents} c
        ) WHERE rn = 1
    )"""

    def update(assigned: str, prev: str, name: str) -> str:
        return f"""{name}_m AS (
        SELECT cid, list(m ORDER BY i) AS v FROM (
            SELECT cid, i, FLOOR(AVG(v[i]) * 1000000.0 + 0.5) / 1000000.0 AS m
            FROM {assigned}, range(1, {dim} + 1) t(i)
            GROUP BY cid, i
        ) GROUP BY cid
    ), {name} AS (
        SELECT p.cid, COALESCE(u.v, p.v) AS v
        FROM {prev} p LEFT JOIN {name}_m u ON p.cid = u.cid
    )"""

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v
        FROM e ORDER BY vec_id LIMIT {k}
    )""",
    ]
    prev = "c0"
    for it in range(iterations):
        ctes.append(assign("e", prev, f"a{it}"))
        ctes.append(update(f"a{it}", prev, f"c{it + 1}"))
        prev = f"c{it + 1}"
    ctes.append(assign("e", prev, "fin"))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT cid AS cluster, COUNT(*) AS n_members,
           FLOOR(AVG(sqrt(dist)) * 10000.0 + 0.5) / 10000.0 AS mean_dist
    FROM fin GROUP BY cid
    """
    )


# --------------------------------------------------------------------------
# event-time range frame
# --------------------------------------------------------------------------


@register(
    "w6_time_range_avg",
    oracle="""
    SELECT user_id, event_id,
           FLOOR(AVG(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                 * 10000.0 + 0.5) / 10000.0
               AS avg_1h
    FROM events
    """,
)
def w6_time_range_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME range frame (trailing 1 hour per user) — the frame
    holds however many events fall in the window, unlike w3's fixed
    row count.  Both engines order by epoch MICROSECONDS with a
    numeric range bound, so frame membership is decided on identical
    integers (an interval-typed bound against truncated-second epochs
    would disagree on sub-second edges).  Still one shuffle + one sort
    on the user partition."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        round_fixed(F.avg("value").over(w), 4).alias("avg_1h"),
    )


# --------------------------------------------------------------------------
# data-quality expectations
# --------------------------------------------------------------------------


@register(
    "dq_expectations",
    oracle="""
    WITH t AS (SELECT COUNT(*) AS n_checked FROM orders),
    report AS (
        SELECT 'o_custkey_set' AS rule_id, 'not_null' AS rule,
               'o_custkey' AS col_name, t.n_checked,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
                   AS n_violations
        FROM t
        UNION ALL
        SELECT 'totalprice_band', 'in_range[0.0,450000.0]', 'o_totalprice',
               t.n_checked,
               (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NOT NULL
                AND o_totalprice NOT BETWEEN 0.0 AND 450000.0)
        FROM t
        UNION ALL
        SELECT 'status_domain', 'in_set(F,O)', 'o_orderstatus', t.n_checked,
               (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL
                AND o_orderstatus NOT IN ('F', 'O'))
        FROM t
        UNION ALL
        SELECT 'priority_format', 'matches(^[1-4]-)', 'o_orderpriority',
               t.n_checked,
               (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
                AND NOT regexp_matches(o_orderpriority, '^[1-4]-'))
        FROM t
        UNION ALL
        SELECT 'orderkey_unique', 'unique', 'o_orderkey', t.n_checked,
               (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
                FROM orders)
        FROM t
        UNION ALL
        SELECT 'custkey_fk', 'referential(c_custkey)', 'o_custkey',
               t.n_checked,
               (SELECT COUNT(*) FROM orders o
                WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
                      (SELECT 1 FROM customer c
                       WHERE c.c_custkey = o.o_custkey))
        FROM t
    )
    SELECT rule_id, rule, col_name, n_checked, n_violations,
           CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
    FROM report
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit of the orders table
    (operators/quality.expectations) — the reference's QC idioms
    (plausibility bands `3_blood_pressure.R:132-143`, null screens,
    set-membership, per-key distinct checks
    `2_data_importing_cleaning.R:93-126`) as a rule list: ALL
    row-local rules share ONE scan as conditional sums, uniqueness is
    a count-vs-distinct twin, and the foreign-key probe is one
    broadcast anti-join.  Adding a rule adds an expression, never a
    pass — the property that keeps a 100-rule audit a single job at
    100 TB."""
    from .operators import quality as dq

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return dq.expectations(
        orders,
        [
            dq.not_null("o_custkey_set", "o_custkey"),
            dq.in_range("totalprice_band", "o_totalprice", 0.0, 450000.0),
            dq.in_set("status_domain", "o_orderstatus", ["F", "O"]),
            dq.matches("priority_format", "o_orderpriority", "^[1-4]-"),
            dq.unique("orderkey_unique", "o_orderkey"),
        ],
        referential=[("custkey_fk", "o_custkey", customer, "c_custkey")],
    )


@register("emb_kmeans_lloyd", oracle=_kmeans_oracle())
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=4, 2 fixed iterations) over the
    embeddings table (operators/analytics.kmeans_lloyd): per iteration
    ONE narrow-map assignment against broadcast centroid literals plus
    ONE groupBy(cluster) of per-dimension AVGs — the only driver state
    is the k x dim centroid matrix.  Deterministic lowest-id init and
    fixed rounds keep it exactly oracle-checkable (the oracle unrolls
    the identical iterations in SQL)."""
    return an.kmeans_lloyd(
        load_table(spark, sf_dir, "embeddings"), k=4, iterations=2, dim=64
    )


# --------------------------------------------------------------------------
# time-series regularization, graph importance, anomaly screening (r4 wave 2)
# --------------------------------------------------------------------------


@register(
    "ts_gap_fill_locf",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    gmax AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events),
    bounds AS (SELECT user_id, MIN(day) AS d0 FROM daily GROUP BY 1),
    scaffold AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                 AS day
      FROM bounds, gmax
    ),
    j AS (
      SELECT s.user_id, s.day, d.n
      FROM scaffold s LEFT JOIN daily d
        ON d.user_id = s.user_id AND d.day = s.day
    )
    SELECT user_id, day,
           LAST_VALUE(n IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_events_filled,
           n IS NULL AS is_gap
    FROM j
    """,
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-to-dense daily series with last-observation-carried-
    forward (operators/timeseries.gap_fill_locf): per-user daily event
    counts densified from each user's first active day to the global
    horizon.  Reference analog: BP observations carried forward onto
    the visit grid (`3_blood_pressure.R` date handling), generalized.
    Scale shape: the calendar is generated per key with
    sequence()+explode (narrow, no date-dimension cross join), the
    observation join is hash-partitioned on (key, day), and the LOCF
    is one running-frame window on the key — no self-joins, no driver
    loop, ~3x the source's daily-agg size in shuffled bytes."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    horizon = ev.agg(F.max(F.to_date("ts")).alias("d1"))
    from .operators import timeseries as ts

    return ts.gap_fill_locf(
        daily, "user_id", "day", "n", horizon,
        filled_alias="n_events_filled", gap_alias="is_gap",
    )


@register(
    "ts_gap_fill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, MAX(value) AS v
      FROM events GROUP BY 1, 2
    ),
    gmax AS (SELECT MAX(CAST(ts AS DATE)) AS d1 FROM events),
    bounds AS (SELECT user_id, MIN(day) AS d0 FROM daily GROUP BY 1),
    scaffold AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                 AS day
      FROM bounds, gmax
    ),
    j AS (
      SELECT s.user_id, s.day, d.v
      FROM scaffold s LEFT JOIN daily d
        ON d.user_id = s.user_id AND d.day = s.day
    ),
    w AS (
      SELECT user_id, day, v,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                 OVER wb AS pd,
             LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
                 OVER wf AS nd,
             FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv
      FROM j
      WINDOW wb AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           FLOOR((CASE WHEN nd IS NULL OR nd = pd THEN pv
                       ELSE pv + ((nv - pv)
                            * (CAST(day - pd AS DOUBLE)
                               / CAST(nd - pd AS DOUBLE))) END)
                 * 10000.0 + 0.5) / 10000.0 AS value_filled,
           v IS NULL AS is_gap
    FROM w
    """,
)
def ts_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF's companion (operators/timeseries.gap_fill_interpolate):
    per-user daily MAX(value) densified to the global horizon with
    LINEAR interpolation between neighboring observations — the
    feature-pipeline fill for continuous signals where a step function
    misrepresents the trend (the reference's BP series is exactly such
    a signal).  MAX keeps the daily pre-aggregate order-insensitive
    (no float-sum ordering exposure); the interpolated ratio rounds
    with the engine-safe floor form.  Scale shape: scaffold generated
    per key (sequence + explode, no date-dimension cross join), one
    (key, day) join, and two running-frame windows sharing one
    exchange on the key."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.max("value").alias("v"))
    horizon = ev.agg(F.max(F.to_date("ts")).alias("d1"))
    from .operators import timeseries as ts

    return ts.gap_fill_interpolate(
        daily, "user_id", "day", "v", horizon,
        filled_alias="value_filled", gap_alias="is_gap",
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, SUM(n) AS s1, SUM(n * n) AS s2, COUNT(*) AS c
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day, d.n,
           FLOOR((d.n - CAST(st.s1 AS DOUBLE) / st.c)
                 / sqrt((CAST(st.s2 AS DOUBLE)
                         - CAST(st.s1 AS DOUBLE) * st.s1 / st.c)
                        / (st.c - 1)) * 10000.0 + 0.5) / 10000.0 AS z
    FROM daily d JOIN st USING (event_type)
    WHERE ABS((d.n - CAST(st.s1 AS DOUBLE) / st.c)
              / sqrt((CAST(st.s2 AS DOUBLE)
                      - CAST(st.s1 AS DOUBLE) * st.s1 / st.c)
                     / (st.c - 1))) > 2
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly screen: daily count per event type z-scored
    against that type's own distribution, flagging |z| > 2 days.
    The moment sums (s1, s2, c) are exact integers, so mean and
    stddev are bit-identical closed forms on both engines — no
    Welford-order nondeterminism (the same trick as
    a20_grouped_regression).  Two shuffles total (daily agg + tiny
    stats agg), stats side broadcast back; at 100 TB the daily agg is
    the only wide op and it's map-side partial-agged."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    st = daily.groupBy("event_type").agg(
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.count("*").alias("c"),
    )
    m = F.col("s1").cast("double") / F.col("c")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("c"))
        / (F.col("c") - 1)
    )
    z = (F.col("n") - m) / sd
    from .functions.expressions import round_fixed

    return (
        daily.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) > 2)
        .select("event_type", "day", "n", round_fixed(z, 4).alias("z"))
    )


_EQD_PROBS = [i / 10.0 for i in range(1, 10)]


@register(
    "a26_equidepth_histogram",
    oracle=f"""
    WITH cuts AS (
      SELECT list_transform(
               quantile_cont(o_totalprice, {_EQD_PROBS!r}),
               c -> FLOOR(c * 10000.0 + 0.5) / 10000.0) AS cs
      FROM orders
    )
    SELECT bin, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM (
      SELECT o_totalprice,
             1 + len(list_filter(cuts.cs, c -> o_totalprice > c)) AS bin
      FROM orders, cuts
    )
    GROUP BY bin
    """,
)
def a26_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (exact decile bins) — the complement of
    a21's fixed-width bins: cut points are exact interpolated
    percentiles computed in ONE aggregate, rounded 4dp (the
    cust_rfm_segments trick that makes bin membership bit-stable
    across engines), broadcast back as a 1-row side, and each row's
    bin is 1 + #cuts-below — a pure expression, not an NTILE (which
    would force a single global rank sort AND tie-break
    nondeterministically).  Two scans total (cuts + binning), both
    map-side combined."""
    orders = load_table(spark, sf_dir, "orders")
    cuts = orders.agg(
        F.expr(
            "transform(percentile(o_totalprice, array("
            + ", ".join(str(p) for p in _EQD_PROBS)
            + ")), c -> floor(c * 10000.0 + 0.5) / 10000.0)"
        ).alias("cs")
    )
    binned = orders.crossJoin(F.broadcast(cuts)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.size(
                F.filter("cs", lambda c: F.col("o_totalprice") > c)
            )
        ).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "a27_pricing_summary",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(28,2)) AS s_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(28,2)) AS s_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(38,4)) AS s_disc_price,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))
                        * (1 + CAST(l_tax AS DECIMAL(18,2))))
                    AS DECIMAL(38,6)) AS s_charge,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2)))
                    AS DECIMAL(28,2)) AS s_disc,
               COUNT(*) AS n
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '2024-09-02'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(s_qty AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(s_price AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(s_disc_price AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(s_charge AS VARCHAR) AS DOUBLE) AS sum_charge,
           FLOOR(CAST(CAST(s_qty AS VARCHAR) AS DOUBLE) / n
                 * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           FLOOR(CAST(CAST(s_price AS VARCHAR) AS DOUBLE) / n
                 * 10000.0 + 0.5) / 10000.0 AS avg_price,
           FLOOR(CAST(CAST(s_disc AS VARCHAR) AS DOUBLE) / n
                 * 10000.0 + 0.5) / 10000.0 AS avg_disc,
           n AS count_order
    FROM g
    """,
)
def a27_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary over lineitem — the canonical
    scan-heavy aggregate: selective date predicate pushed to the
    parquet scan, 8 aggregates computed in ONE pass with map-side
    partial aggregation into a handful of groups.  Money math is
    exact DECIMAL end-to-end (sum_disc_price/sum_charge widen per
    multiplication, never round), presented as ``dec_present`` doubles
    (decimals are hash-hostile externally); the averages derive from
    the SAME exact sums via the ``round_fixed`` floor form — no
    order-sensitive float AVG anywhere.  The poster child for why a
    columnar scan + partial agg beats row pipelines at 100 TB:
    shuffled bytes are 4 groups x 8 numbers regardless of input
    size."""
    from .functions.expressions import dec_present, round_fixed

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("2024-09-02").cast("date")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("decimal(28,2)").alias("s_qty"),
        F.sum(price).cast("decimal(28,2)").alias("s_price"),
        F.sum(price * (F.lit(1) - disc))
        .cast("decimal(38,4)")
        .alias("s_disc_price"),
        F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
        .cast("decimal(38,6)")
        .alias("s_charge"),
        F.sum(disc).cast("decimal(28,2)").alias("s_disc"),
        F.count("*").alias("n"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        dec_present("s_qty").alias("sum_qty"),
        dec_present("s_price").alias("sum_base_price"),
        dec_present("s_disc_price").alias("sum_disc_price"),
        dec_present("s_charge").alias("sum_charge"),
        round_fixed(dec_present("s_qty") / F.col("n"), 4).alias("avg_qty"),
        round_fixed(dec_present("s_price") / F.col("n"), 4).alias("avg_price"),
        round_fixed(dec_present("s_disc") / F.col("n"), 4).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


@register(
    "j15_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                          AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
               AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_day
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def j15_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): segment-filtered customers →
    orders → lineitem, revenue per unshipped order, top 10.  The plan
    to want at 100 TB and the plan Catalyst produces: both date
    predicates PUSH to the fact scans, the orders⋈lineitem join
    shuffles on the orderkey both sides already share, and the top-10
    is TakeOrdered (no global sort).  Customer is a corpus-SCALING
    dimension (billions of rows at 100 TB), so it carries no broadcast
    hint — AQE broadcasts the segment-filtered side when the runtime
    size fits and falls back to a shuffled join when it doesn't.  Revenue is an exact DECIMAL sum presented as a
    ``dec_present`` double (decimals are hash-hostile externally); BOTH
    engines order by the presented double + orderkey, so the limit
    boundary is deterministic cross-engine."""
    from .functions.expressions import dec_present

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-03-15").cast("date")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_day"))
        .agg(
            dec_present(
                F.sum(price * (F.lit(1) - disc)).cast("decimal(38,4)")
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_day")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "j16_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                          AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def j16_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): the 6-way join —
    lineitem ⋈ orders shuffle on orderkey, then customer / supplier /
    nation / region, with the non-equi flavor c_nationkey =
    s_nationkey folded into the supplier join.  nation/region (fixed,
    ≤25 rows) carry broadcast hints so the region filter prunes
    nations BEFORE the fact join; customer and supplier are
    corpus-SCALING dimensions (billions of rows at 100 TB) and carry
    none — AQE broadcasts them when the runtime size fits.  Exact DECIMAL revenue per
    nation, presented as a ``dec_present`` double (decimals are
    hash-hostile externally)."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dec_present(
                F.sum(price * (F.lit(1) - disc)).cast("decimal(38,4)")
            ).alias("revenue")
        )
    )


@register(
    "events_last_touch_attribution",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.purchase_id, p.value, v.view_id, v.v_ts
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND p.p_ts >= v.v_ts
       AND p.p_ts < v.v_ts + INTERVAL 1 HOUR
    )
    SELECT purchase_id,
           MAX(value) AS purchase_value,
           max(struct_pack(t := v_ts, id := view_id))['id']
               AS attributed_view_id,
           COUNT(*) AS n_candidate_views
    FROM pairs
    GROUP BY purchase_id
    """,
)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """LAST-touch policy over the view→purchase interval join
    (operators/analytics.view_purchase_attribution): each purchase
    credits its most recent in-horizon view via ONE max-struct
    aggregate — (v_ts, view_id) argmax, deterministic under the
    view_id tiebreak, no window sort.  Composition point: any other
    policy (first-touch, linear) is a different aggregate over the
    SAME join, which is why the join emits all candidate pairs.
    ``value_by_purchase`` scales with the events corpus, so it carries
    no broadcast hint — both sides of the value join are already
    purchase-keyed and AQE broadcasts when the runtime size fits."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view")
    purchases = ev.filter(F.col("event_type") == "purchase")
    value_by_purchase = purchases.select(
        F.col("event_id").alias("purchase_id"), "value"
    )
    pairs = an.view_purchase_attribution(views, purchases, "1 hour")
    return (
        pairs.join(value_by_purchase, "purchase_id")
        .groupBy("purchase_id")
        .agg(
            F.max("value").alias("purchase_value"),
            F.max(
                F.struct(F.col("v_ts").alias("t"), F.col("view_id").alias("id"))
            )
            .getField("id")
            .alias("attributed_view_id"),
            F.count("*").alias("n_candidate_views"),
        )
    )


@register(
    "a28_unpivot_priority",
    oracle=f"""
    WITH wide AS (
      SELECT o_orderstatus,
             {", ".join(
                 f"COUNT(*) FILTER (WHERE o_orderpriority = '{p}') AS {a}"
                 for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
             )}
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, priority, n
    FROM (UNPIVOT wide ON {", ".join(_PRIORITY_ALIASES)}
          INTO NAME priority VALUE n)
    """,
)
def a28_unpivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of a19's explicit pivot: the wide
    per-priority count columns fold back to long (status, priority, n)
    rows with ``DataFrame.unpivot``.  Wide→long is a narrow per-row
    transform (each input row emits K rows, no shuffle beyond the
    pivot's own aggregate), so the pair a19+a28 round-trips layout
    without extra exchanges — the dashboard-vs-warehouse layout
    adapter."""
    wide = a19_pivot_priority(spark, sf_dir)
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=_PRIORITY_ALIASES,
        variableColumnName="priority",
        valueColumnName="n",
    )


# --------------------------------------------------------------------------
# r5 wave: sessionization, distribution drift, interval concurrency
# --------------------------------------------------------------------------

_SESSION_GAP_US = 1_800_000_000  # 30 min


@register(
    "events_sessionize",
    oracle=f"""
    WITH m AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new
        FROM events
    ), s AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    + 1 AS BIGINT) AS session_seq
        FROM m
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM s GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization (operators/analytics.sessionize,
    30-min inactivity gap): LAG marks session starts, a running SUM
    over the same per-user sort numbers them, one per-session
    aggregate — the three steps share ONE
    shuffle on user_id total.  Boundaries are deterministic (total
    (ts, event_id) order) and durations are exact microsecond
    BIGINTs, so the oracle matches bit-for-bit."""
    return an.sessionize(
        load_table(spark, sf_dir, "events"), gap_us=_SESSION_GAP_US
    )


@register(
    "dq_drift_kl",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n_td
        FROM events GROUP BY 1, 2
    ),
    per_day AS (SELECT day, SUM(n_td) AS n_d FROM daily GROUP BY day),
    corpus AS (SELECT event_type, COUNT(*) AS n_t FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM events),
    terms AS (
        SELECT d.day, p.n_d, d.event_type,
               (CAST(d.n_td AS DOUBLE) / p.n_d)
               * ln((CAST(d.n_td AS DOUBLE) / p.n_d)
                    / (CAST(g.n_t AS DOUBLE) / t.n)) AS term
        FROM daily d
        JOIN per_day p USING (day)
        JOIN corpus g USING (event_type)
        CROSS JOIN tot t
    )
    SELECT day, CAST(MAX(n_d) AS BIGINT) AS n_events,
           FLOOR(list_reduce(
                     list_prepend(0.0, list(term ORDER BY event_type)),
                     (a, b) -> a + b)
                 * 1000000.0 + 0.5) / 1000000.0 AS kl_vs_global
    FROM terms GROUP BY day
    """,
)
def dq_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: per-day KL divergence of the
    event-type mix against the whole-corpus mix — the data-quality
    monitor that catches a feed silently changing shape (the
    training/serving-skew check of an LLM data pipeline; complements
    `dq_expectations`' row-level rules and `events_anomaly_zscore`'s
    volume screen).

    Every probability comes from exact integer counts, and the
    per-day sum of p*ln(p/q) terms is a ``sort_array`` +
    higher-order ``aggregate`` LEFT FOLD in event-type order — NOT a
    parallel SUM over doubles — mirrored by the oracle's ordered
    ``list_reduce``, so the float result is bit-identical regardless
    of partitioning or engine.  Scale shape: one daily-counts
    aggregate (map-side combined) + two tiny broadcast sides; the
    fold runs over <= |event types| elements per day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n_td"))
    glob = ev.groupBy("event_type").agg(F.count("*").alias("n_t"))
    tot = ev.agg(F.count("*").alias("n"))
    per_day = daily.groupBy("day").agg(F.sum("n_td").alias("n_d"))
    p = F.col("n_td").cast("double") / F.col("n_d")
    q = F.col("n_t").cast("double") / F.col("n")
    terms = (
        daily.join(per_day, "day")
        .join(F.broadcast(glob), "event_type")
        .crossJoin(F.broadcast(tot))
        .select(
            "day", "n_d", "event_type", (p * F.log(p / q)).alias("term")
        )
    )
    folded = terms.groupBy("day").agg(
        F.max("n_d").alias("n_events"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("event_type", "term"))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("_kl"),
    )
    return folded.select(
        "day",
        "n_events",
        round_fixed("_kl", 6).alias("kl_vs_global"),
    )


@register(
    "dq_drift_psi",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n_td
        FROM events GROUP BY 1, 2
    ),
    per_day AS (SELECT day, SUM(n_td) AS n_d FROM daily GROUP BY day),
    corpus AS (SELECT event_type, COUNT(*) AS n_t FROM events GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n FROM events),
    grid AS (SELECT p.day, p.n_d, c.event_type, c.n_t FROM per_day p, corpus c),
    terms AS (
        SELECT g.day, g.n_d, g.event_type,
               ((CAST(COALESCE(d.n_td, 0) AS DOUBLE) / g.n_d)
                - (CAST(g.n_t AS DOUBLE) / t.n))
               * ln(GREATEST(CAST(COALESCE(d.n_td, 0) AS DOUBLE) / g.n_d,
                             0.000001)
                    / GREATEST(CAST(g.n_t AS DOUBLE) / t.n, 0.000001))
                   AS term
        FROM grid g
        LEFT JOIN daily d ON d.day = g.day AND d.event_type = g.event_type
        CROSS JOIN tot t
    )
    SELECT day, CAST(MAX(n_d) AS BIGINT) AS n_events,
           FLOOR(list_reduce(
                     list_prepend(0.0, list(term ORDER BY event_type)),
                     (a, b) -> a + b)
                 * 1000000.0 + 0.5) / 1000000.0 AS psi_vs_global
    FROM terms GROUP BY day
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per day vs the whole-corpus mix —
    the production-ML drift metric that complements `dq_drift_kl`:
    PSI's (p−q)·ln(p/q) terms are SYMMETRIC in direction and, unlike
    the KL query's inner-join formulation, a bin MISSING from a day
    contributes its full (0−q)·ln(ε/q) penalty instead of silently
    dropping — a category disappearing from the feed is precisely the
    drift worth alarming on.  Zero proportions follow the standard
    ε-clamp convention (ε = 1e-6) inside the log only, keeping the
    (p−q) factor exact.

    Determinism: exact integer counts; the per-day term sum is the
    same ordered left fold as the KL query (sort_array + aggregate ↔
    list_reduce), bit-identical across engines and partitionings.
    Scale shape: one daily-counts aggregate + a day-grid × |types|
    dense scaffold (bounded: days × categories), two broadcast sides,
    fold over ≤ |types| elements per day."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n_td"))
    glob = ev.groupBy("event_type").agg(F.count("*").alias("n_t"))
    tot = ev.agg(F.count("*").alias("n"))
    per_day = daily.groupBy("day").agg(F.sum("n_td").alias("n_d"))
    grid = per_day.crossJoin(F.broadcast(glob))
    joined = grid.join(daily, ["day", "event_type"], "left").crossJoin(
        F.broadcast(tot)
    )
    p = F.coalesce(F.col("n_td"), F.lit(0)).cast("double") / F.col("n_d")
    q = F.col("n_t").cast("double") / F.col("n")
    eps = F.lit(0.000001)
    term = (p - q) * F.log(F.greatest(p, eps) / F.greatest(q, eps))
    terms = joined.select("day", "n_d", "event_type", term.alias("term"))
    folded = terms.groupBy("day").agg(
        F.max("n_d").alias("n_events"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("event_type", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("_psi"),
    )
    return folded.select(
        "day", "n_events", round_fixed("_psi", 6).alias("psi_vs_global")
    )


_CONCURRENCY_HORIZON_US = 1_800_000_000  # each event "open" for 30 min


@register(
    "events_concurrency_peak",
    oracle=f"""
    WITH deltas AS (
        SELECT ts AS t, 1 AS d, event_id AS eid FROM events
        UNION ALL
        SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
    ), tagged AS (
        SELECT t, d, eid, CAST(date_trunc('day', t) AS DATE) AS day
        FROM deltas
    ), run AS (
        SELECT day, d,
               CAST(SUM(d) OVER (
                   ORDER BY t, d, eid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS r
        FROM tagged
    )
    SELECT day, MAX(r) AS peak_concurrency,
           COUNT(*) FILTER (WHERE d = 1) AS n_opens
    FROM run GROUP BY day
    """,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent open intervals per day (each event opens a
    30-min half-open interval) — the "max concurrent users" metric
    via the DISTRIBUTED two-pass prefix sum
    (operators/analytics.concurrency_peak_daily): per-day running
    sums partition by day while a tiny O(days) carry-in table makes
    them globally exact, so no global single-partition sort ever runs
    — the oracle IS that naive global running sum, which is the
    point: the scale-safe plan must equal the textbook definition
    exactly.  Closes order before opens at equal timestamps
    (half-open semantics), and the (t, d, eid) order is total, so
    both engines agree bit-for-bit on every prefix."""
    return an.concurrency_peak_daily(
        load_table(spark, sf_dir, "events"),
        horizon_us=_CONCURRENCY_HORIZON_US,
    )


@register(
    "j17_large_volume_orders",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(28,2)) AS sq
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(28,2)) > 300
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_day,
           o.o_totalprice AS total_price,
           CAST(CAST(b.sq AS VARCHAR) AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def j17_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, joined back to order and
    customer detail, top-100 by order value — the HAVING-filtered
    aggregate SEMI-reduction shape the inventory lacked (j6 is
    existence-only; this gates on an aggregate).

    Scale shape: the lineitem aggregate reduces the fact table to one
    exact DECIMAL sum per order BEFORE any join (map-side partials,
    one shuffle on the key lineitem is naturally clustered by); the
    HAVING filter then cuts that to the ~1% heavy tail, so the orders
    join input is tail-sized and AQE picks its strategy from the
    measured post-filter size — never a fact-to-fact join.  Customer
    is a corpus-SCALING dimension, so it carries no broadcast hint
    (AQE broadcasts when the runtime size fits).  Top-100 is
    TakeOrdered on (total_price DESC,
    orderkey) — both engines order by the same parquet doubles, and
    sum_qty crosses the boundary via ``dec_present``."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(28,2)")
            .alias("sq")
        )
        .filter(F.col("sq") > 300)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_day"),
            F.col("o_totalprice").alias("total_price"),
            dec_present("sq").alias("sum_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "a31_cms_point_estimates",
    oracle="""
    WITH sk AS (
        SELECT j,
               ('0x' || substr(md5(j::VARCHAR || '_' || user_id::VARCHAR),
                               1, 8))::BIGINT % 64 AS bucket,
               COUNT(*) AS cnt
        FROM events, range(0, 4) t(j)
        GROUP BY 1, 2
    ), probes AS (
        SELECT p::VARCHAR AS key, j
        FROM range(1, 11) s(p), range(0, 4) t(j)
    )
    SELECT key,
           MIN(COALESCE(cnt, 0)) AS est_count
    FROM probes LEFT JOIN sk
      ON sk.j = probes.j
     AND sk.bucket = ('0x' || substr(md5(probes.j::VARCHAR || '_' || key),
                                     1, 8))::BIGINT % 64
    GROUP BY key
    """,
)
def a31_cms_point_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency profile over event user ids (depth 4
    × width 64, explicit md5 bucket arithmetic) probed for users 1-10.
    The mergeable third sketch beside KLL quantiles (a16) and HLL
    distincts (a17): the fact scan shuffles at most depth×width
    counters (map-side combined), never the key histogram — the
    100 TB path for frequency estimates over unbounded key spaces
    (operators/aggregates.py count_min_profile)."""
    from .operators.aggregates import count_min_estimates, count_min_profile

    events = load_table(spark, sf_dir, "events")
    sketch = count_min_profile(events, "user_id", depth=4, width=64)
    return count_min_estimates(
        spark, sketch, probe_keys=list(range(1, 11)), depth=4, width=64
    )


# --------------------------------------------------------------------------
# r7 debuts: OHLC resampling, event-type PMI
# --------------------------------------------------------------------------

@register(
    "ts_resample_ohlc",
    oracle="""
    WITH r AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
               FIRST_VALUE(value) OVER (
                   PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY ts, event_id) AS open,
               FIRST_VALUE(value) OVER (
                   PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY ts DESC, event_id DESC) AS close
        FROM events
    )
    SELECT event_type, day,
           MIN(open) AS open, MAX(value) AS high,
           MIN(value) AS low, MIN(close) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY event_type, day
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bucket resampling: per (event_type, day), the value at
    the earliest and latest timestamp (ties broken by event_id — a
    total order, so open/close are deterministic) plus high/low/count.
    Open/close are struct-extremum aggregations — min/max over
    (ts, event_id, value) structs ride the SAME hash aggregation as
    the plain extrema, one shuffle total, no window over the fact
    table; the oracle uses the window-function construction
    (FIRST_VALUE two ways) precisely so the two engines compute the
    answer differently.  All outputs are copied input doubles — zero
    float arithmetic, so no rounding is needed at all."""
    ev = load_table(spark, sf_dir, "events")
    o = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.min(o)["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(o)["value"].alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("event_type", "day", "open", "high", "low", "close",
                "n_events")
    )


@register(
    "events_type_pmi",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
    marg AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_ab
        FROM ut a JOIN ut b USING (user_id)
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           FLOOR(log2(CAST(n_ab AS DOUBLE) * n_users
                      / (CAST(ma.n_t AS DOUBLE) * mb.n_t))
                 * 1000000.0 + 0.5) / 1000000.0 AS pmi
    FROM p JOIN marg ma ON p.type_a = ma.event_type
           JOIN marg mb ON p.type_b = mb.event_type, tot
    """,
)
def events_type_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types over user-level
    co-occurrence — log2(P(a,b) / P(a)P(b)) with all probabilities as
    exact integer counts over the distinct (user, type) relation; the
    same association statistic SGNS-style embedding pipelines factor.
    The self-join fans out per user only over that user's DISTINCT
    types (bounded by the type vocabulary, not activity volume), so a
    hyperactive user costs |T|² rows, not events².  Marginals and the
    1-row user total broadcast back onto the tiny pair relation."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    tot = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    marg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    pairs = (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("event_type").alias("type_a"),
                                    F.col("n_t").alias("n_a"))), "type_a")
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("type_b"),
                                    F.col("n_t").alias("n_b"))), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a", "type_b", "n_ab",
            round_fixed(
                F.log2(
                    F.col("n_ab").cast("double") * F.col("n_users")
                    / (F.col("n_a").cast("double") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# --------------------------------------------------------------------------
# r8-candidate debuts: referential-integrity audit, interval
# overlap join
# --------------------------------------------------------------------------


@register(
    "dq_referential_integrity",
    oracle="""
    WITH bad AS (
        SELECT l_orderkey + 1 AS l_orderkey
        FROM lineitem WHERE l_linenumber = 1 AND l_orderkey % 97 = 0
    ), child AS (
        SELECT l_orderkey FROM lineitem UNION ALL SELECT l_orderkey FROM bad
    )
    SELECT 'lineitem.l_orderkey->orders' AS relationship,
           (SELECT COUNT(*) FROM child) AS n_child,
           (SELECT COUNT(*) FROM child c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = c.l_orderkey))
               AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit — the referential half of the DQ
    expectation suite: per relationship, child row count and the count
    of children whose key has no parent, via LEFT ANTI joins (null-safe
    where NOT IN is not, matching the oracle's NOT EXISTS).  The
    lineitem->orders edge is audited on a deliberately corrupted child
    (every 97th order's first line re-delivered at l_orderkey+1 — some
    collide with real orders, some fall in TPC-H's key gaps, so the
    orphan count is a REAL measurement, not all-or-nothing).  Each
    audit is one broadcast-or-shuffle anti-join + a 1-row count;
    results union into the report relation."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    bad = li.filter(
        (F.col("l_linenumber") == 1) & (F.col("l_orderkey") % 97 == 0)
    ).select((F.col("l_orderkey") + 1).alias("l_orderkey"))
    child = li.select("l_orderkey").unionByName(bad)

    def audit(name, child_df, child_key, parent_df, parent_key):
        orphans = child_df.join(
            parent_df.select(F.col(parent_key).alias(child_key)),
            child_key,
            "left_anti",
        )
        return (
            child_df.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            )
            .select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )

    return (
        audit("lineitem.l_orderkey->orders", child, "l_orderkey",
              orders, "o_orderkey")
        .unionByName(
            audit("orders.o_custkey->customer",
                  orders.select("o_custkey"), "o_custkey",
                  customer, "c_custkey"))
        .unionByName(
            audit("lineitem.l_partkey->part",
                  li.select("l_partkey"), "l_partkey", part, "p_partkey"))
    )


@register(
    "j14_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_type, MIN(ts) AS s, MAX(ts) AS e
        FROM events GROUP BY 1, 2
    )
    SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
           CAST(date_diff('microseconds',
                          GREATEST(a.s, b.s),
                          LEAST(a.e, b.e)) AS BIGINT) AS overlap_us
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    WHERE a.s <= b.e AND b.s <= a.e
    """,
)
def j14_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (the temporal-algebra sibling of j10/j11):
    per-user activity intervals [first, last] per event type, joined on
    the classic overlap predicate s1 <= e2 AND s2 <= e1, reporting the
    exact overlap duration in microseconds (pure integer timestamp
    arithmetic — no floats).  The join is keyed on user_id, so fanout
    per user is bounded by the type vocabulary squared — the blocking
    key that keeps interval joins off the cross-join cliff at 100 TB;
    for unkeyed interval sets the same plan applies over coarse
    time-bucket blocking keys instead."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    a, b = iv.alias("a"), iv.alias("b")
    lo = F.greatest(F.col("a.s"), F.col("b.s"))
    hi = F.least(F.col("a.e"), F.col("b.e"))
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            # unix_micros, not a long cast (which truncates to seconds)
            (F.unix_micros(hi) - F.unix_micros(lo)).alias("overlap_us"),
        )
    )


@register(
    "sample_weighted_k_per_group",
    oracle="""
    WITH s AS (
        SELECT source, doc_id,
               ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT + 1.0) / 4294967297.0))
               / CAST(n_chars AS DOUBLE) AS score
        FROM documents WHERE n_chars > 0
    ), r AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id) AS rank
        FROM s
    )
    SELECT source, doc_id, rank FROM r WHERE rank <= 10
    """,
)
def sample_weighted_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 10 docs PER SOURCE
    (operators/sampling.weighted_sample_k_per_group): Efraimidis-
    Spirakis exponential keys from a content hash, composed with the
    map-side-truncating grouped top-k so a 100 TB source never
    shuffles whole — the per-domain quota draw a training-mix builder
    runs after temperature weighting."""
    from .operators.sampling import weighted_sample_k_per_group

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    return weighted_sample_k_per_group(
        docs, ["source"], "doc_id", "n_chars", k=10
    ).select("source", "doc_id", "rank")


@register(
    "emb_centroid_drift",
    oracle="""
    WITH ex AS (
        SELECT label, vec_id % 2 AS split,
               unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), cent AS (
        SELECT label, pos,
               FLOOR(AVG(CASE WHEN split = 0 THEN v END)
                     * 1000000.0 + 0.5) / 1000000.0 AS c0,
               FLOOR(AVG(CASE WHEN split = 1 THEN v END)
                     * 1000000.0 + 0.5) / 1000000.0 AS c1
        FROM ex GROUP BY 1, 2
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_dims,
           FLOOR(sqrt(SUM((c0 - c1) * (c0 - c1))) * 10000.0 + 0.5)
               / 10000.0 AS drift_l2
    FROM cent GROUP BY label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label L2 distance between the
    centroids of two halves of the corpus (even vs odd vec_id — the
    stand-in for yesterday's batch vs today's).  Centroid components
    are rounded with the engine-safe floor form BEFORE differencing,
    so both engines square identical values and cross-engine float-sum
    ordering has only the final 4dp rounding to flip (it cannot, at
    64-term sums).  Shape: one posexplode + (label, pos) hash agg +
    label-sized final agg — k x dim state, the label_centroids scale
    argument."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("split"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
    )
    cent = ex.groupBy("label", (F.col("p") + 1).alias("pos")).agg(
        round_fixed(
            F.avg(F.when(F.col("split") == 0, F.col("v"))), 6
        ).alias("c0"),
        round_fixed(
            F.avg(F.when(F.col("split") == 1, F.col("v"))), 6
        ).alias("c1"),
    )
    d = F.col("c0") - F.col("c1")
    return cent.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_dims"),
        round_fixed(F.sqrt(F.sum(d * d)), 4).alias("drift_l2"),
    )


@register(
    "dq_drift_ks",
    oracle="""
    WITH vals AS (
        SELECT value,
               SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
        FROM events WHERE value IS NOT NULL GROUP BY value
    ), cum AS (
        SELECT value,
               SUM(ca) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_a,
               SUM(cb) OVER (ORDER BY value
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_b,
               SUM(ca) OVER () AS n_a,
               SUM(cb) OVER () AS n_b
        FROM vals
    )
    SELECT FLOOR(ABS(CAST(cum_a AS DOUBLE) / n_a
                     - CAST(cum_b AS DOUBLE) / n_b)
                 * 1000000.0 + 0.5) / 1000000.0 AS ks_d,
           value AS at_value,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM cum
    ORDER BY ABS(CAST(cum_a AS DOUBLE) / n_a
                 - CAST(cum_b AS DOUBLE) / n_b) DESC, value
    LIMIT 1
    """,
)
def dq_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the even-
    and odd-event_id halves of the value distribution (the stand-in
    for reference window vs production window): D = max |F_A - F_B|
    over the pooled support, with the attaining value reported.  The
    ECDF ordinates are INTEGER cumulative counts over one ordered
    window on the grouped-value relation — support-bounded, not
    row-bounded (events values are discrete 2dp readings; a truly
    continuous column gets pre-binned, same as the KL/PSI queries) —
    so both engines divide identical integers and the argmax is
    engine-exact.  Complements dq_drift_kl (density view) and
    dq_drift_psi (binned view) with the distribution-free sup-norm
    view."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    vals = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("event_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    wo = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = vals.select(
        "value",
        F.sum("ca").over(wo).alias("cum_a"),
        F.sum("cb").over(wo).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    d = F.abs(
        F.col("cum_a").cast("double") / F.col("n_a")
        - F.col("cum_b").cast("double") / F.col("n_b")
    )
    return (
        cum.orderBy(d.desc(), F.col("value"))
        .limit(1)
        .select(
            round_fixed(d, 6).alias("ks_d"),
            F.col("value").alias("at_value"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
        )
    )


# --------------------------------------------------------------------------
# r8-candidate debuts, wave 2: TPC-H Q7/Q8 shapes, co-purchase lift,
# CDC last-writer-wins fold
# --------------------------------------------------------------------------

_DEC_REV = (
    "CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2))))"
    " AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)"
)


@register(
    "j19_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           {_DEC_REV} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def j19_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two nations, both
    directions, by ship year): the fact table shuffles ONCE (onto
    orders); nation (fixed, ≤25 rows) is hint-broadcast so the
    two-direction nation-pair predicate prunes fact rows before the
    orderkey shuffle, while supplier and customer — corpus-SCALING
    dimensions — carry no hint (AQE broadcasts when the runtime size
    fits).  Exact DECIMAL revenue, dec_present output."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            dec_present(
                F.sum(price * (F.lit(1) - disc)).cast("decimal(38,4)")
            ).alias("revenue")
        )
    )


@register(
    "j20_market_share",
    oracle=f"""
    WITH rev AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               n.n_name AS supp_nation,
               {_DEC_REV} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1, 2
    )
    SELECT o_year,
           FLOOR(SUM(CASE WHEN supp_nation = 'NATION_3'
                          THEN revenue ELSE 0 END)
                 / SUM(revenue) * 1000000.0 + 0.5) / 1000000.0
               AS mkt_share
    FROM rev GROUP BY o_year
    """,
)
def j20_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    supplier revenue into EUROPE customers per order year.  The
    per-(year, supp_nation) revenue is EXACT DECIMAL presented via
    dec_present before the share division, so both engines divide
    identical doubles — the decimal/decimal division itself is
    avoided (engines disagree on result scale).  Same one-fact-shuffle
    chain as Q5/Q7: nation/region keep their hints (fixed, ≤25 rows),
    customer and supplier — corpus-SCALING dimensions — carry none
    (AQE broadcasts when the runtime size fits)."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cn = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(
            F.year("o_orderdate").alias("o_year"), F.col("supp_nation")
        )
        .agg(
            dec_present(
                F.sum(price * (F.lit(1) - disc)).cast("decimal(38,4)")
            ).alias("revenue")
        )
    )
    return rev.groupBy("o_year").agg(
        round_fixed(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("revenue"))
                .otherwise(0.0)
            )
            / F.sum("revenue"),
            6,
        ).alias("mkt_share")
    )


@register(
    "rec_copurchase_lift",
    oracle="""
    WITH po AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), tot AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM po
    ), cnt AS (
        SELECT l_partkey, COUNT(*) AS n_x FROM po GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_ab
        FROM po a JOIN po b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), top AS (
        SELECT part_a, part_b, n_ab FROM pairs
        ORDER BY n_ab DESC, part_a, part_b LIMIT 20
    )
    SELECT t.part_a, t.part_b, t.n_ab,
           FLOOR(CAST(t.n_ab AS DOUBLE) * n_orders
                 / (CAST(ca.n_x AS DOUBLE) * cb.n_x)
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM top t
    JOIN cnt ca ON t.part_a = ca.l_partkey
    JOIN cnt cb ON t.part_b = cb.l_partkey, tot
    """,
)
def rec_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase association mining: top-20 part pairs by same-order
    co-occurrence, scored with lift n_ab·N / (n_a·n_b) — the
    item-item signal a co-occurrence recommender ranks on (and the
    basket analog of events_type_pmi's log form).  The pair join is
    keyed on l_orderkey, so fan-out per order is C(parts-in-order, 2)
    — bounded by basket size, never by catalog or order count.  Lift
    attaches AFTER the top-20 truncation, so the 1-row order-count
    product touches 20 rows, not the pair relation."""
    po = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    tot = po.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = po.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_x"))
    pairs = (
        po.alias("a")
        .join(
            po.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    top = pairs.orderBy(
        F.col("n_ab").desc(), "part_a", "part_b"
    ).limit(20)
    # Broadcast the BOUNDED side: top is ≤20 rows by construction,
    # while cnt is one row per distinct part — an unbounded dimension
    # a forced broadcast cannot survive at 100 TB.  Hinting top lets
    # the per-part counts stream through a broadcast-hash join probe.
    # The hint does NOT propagate through a join's output, so the
    # part_b join re-hints the (still ≤20-row) joined result — without
    # it the second join would rely entirely on AQE's runtime stats.
    return (
        F.broadcast(
            F.broadcast(top)
            .join(cnt.select(F.col("l_partkey").alias("part_a"),
                             F.col("n_x").alias("n_a")), "part_a")
        )
        .join(cnt.select(F.col("l_partkey").alias("part_b"),
                         F.col("n_x").alias("n_b")), "part_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a", "part_b", "n_ab",
            round_fixed(
                F.col("n_ab").cast("double") * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "j21_cdc_apply",
    oracle="""
    WITH ops AS (
        SELECT o_orderkey, 'U' AS op, o_orderdate AS ts,
               o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey, 'D', o_orderdate + INTERVAL 10 DAY, NULL
        FROM orders WHERE o_orderkey % 5 = 0
    ), latest AS (
        SELECT o_orderkey, op, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                  ORDER BY ts DESC,
                                           CASE op WHEN 'D' THEN 1
                                                   ELSE 0 END DESC) AS rn
        FROM ops
    )
    SELECT o_orderkey, o_totalprice AS final_price
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def j21_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log fold, last-writer-wins with deletes: an upsert/delete
    op stream (synthesized: every order inserts, every 5th deletes 10
    days later) collapses to final state via ONE latest-per-key window
    — delete beats upsert at equal timestamp (deterministic total
    order), surviving rows keep the latest payload.  This is the
    APPLY half of a streaming CDC pipeline (j13_merge_upsert is the
    single-batch merge; SCD-2 keeps history; this keeps heads), and
    it's the compaction a Delta/Hudi-style table runs on every
    checkpoint.  One shuffle on the key; payloads never fan out."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    ins = o.select(
        "o_orderkey", F.lit("U").alias("op"),
        F.col("o_orderdate").alias("ts"), "o_totalprice",
    )
    dels = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit("D").alias("op"),
        (F.col("o_orderdate") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("ts").desc(),
        F.when(F.col("op") == "D", 1).otherwise(0).desc(),
    )
    return (
        ins.unionByName(dels)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("o_orderkey", F.col("o_totalprice").alias("final_price"))
    )


# --------------------------------------------------------------------------
# r8-candidate debuts, wave 3: TPC-H Q10/Q13/Q22 shapes, EWMA fold
# --------------------------------------------------------------------------


@register(
    "j22_returned_item_revenue",
    oracle=f"""
    WITH rev AS (
        SELECT o.o_custkey, {_DEC_REV} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01'
        GROUP BY 1
    )
    SELECT c.c_custkey, c.c_name, r.revenue, c.c_acctbal,
           n.n_name
    FROM rev r
    JOIN customer c ON r.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    ORDER BY r.revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def j22_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): the top 20 customers
    by EXACT DECIMAL revenue lost to returned lineitems in a 6-month
    order window.  The fact-fact join shuffles lineitem once onto
    orderkey WITH both filters (returnflag on the lineitem scan, the
    date band on the orders scan) pushed below the exchange; the
    per-customer aggregate is the second and last shuffle, and the
    customer/nation name attachment happens AFTER the top-20
    truncation — the BOUNDED 20-row ``top`` side carries the broadcast
    hint (never full customer, which scales with the corpus), so the
    name join streams customer through the probe side of a
    broadcast-hash join.  Deterministic tie-break on custkey;
    dec_present output."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.sum(price * (F.lit(1) - disc))
            .cast("decimal(38,4)")
            .alias("rev_dec")
        )
    )
    top = rev.orderBy(
        F.col("rev_dec").desc(), F.col("o_custkey")
    ).limit(20)
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        F.broadcast(top)
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey", "c_name",
            dec_present(F.col("rev_dec")).alias("revenue"),
            "c_acctbal", "n_name",
        )
    )


@register(
    "a32_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority = '1-URGENT'
        GROUP BY 1
    )
    GROUP BY 1
    """,
)
def a32_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed exactly N urgent orders, INCLUDING the
    zero-order bucket — which is why the priority predicate must live
    in the LEFT JOIN's ON clause (a WHERE would silently demote the
    join and drop the zeros; the reference's j7 lesson applied in
    reverse).  COUNT(o_orderkey) counts only matched rows.  Two
    inherent shuffles (per-customer count, then count-of-counts);
    the second aggregates ~max(c_count) distinct keys, so its
    exchange is a few dozen rows per partition."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") == "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "j23_sales_opportunity",
    oracle="""
    WITH thr AS (
        SELECT CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                         AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS cutoff
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name,
           COUNT(*) AS numcust,
           CAST(CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
                          AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
               AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    CROSS JOIN thr
    WHERE c.c_acctbal > thr.cutoff
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY 1
    """,
)
def j23_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers whose
    balance beats the global positive-balance average but who have
    never placed an urgent order, counted and totalled per nation.
    The threshold is a 1-row scalar broadcast (the scalar-subquery
    compile shape) computed EXACTLY — DECIMAL sum presented via
    dec_present, then ONE double division by the count, so both
    engines compare against bit-identical cutoffs and no boundary
    customer can flip.  The no-urgent-orders predicate is a LEFT ANTI
    join on the pre-filtered orders side (shuffles only urgent
    orders); nation attaches by broadcast.  Both aggregates exact."""
    from .functions.expressions import dec_present

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                dec_present(F.sum(bal).cast("decimal(38,2)"))
                / F.count(F.lit(1))
            ).alias("cutoff")
        )
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_present(F.sum(bal).cast("decimal(38,2)")).alias(
                "totacctbal"
            ),
        )
    )


EWMA_LAST8_ORACLE = """
    WITH seq AS (
        SELECT user_id, COUNT(*) AS n_events,
               list(value ORDER BY ts, event_id) AS vs
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), cut AS (
        SELECT user_id, n_events,
               list_slice(vs, GREATEST(len(vs) - 7, 1), len(vs)) AS l8
        FROM seq
    )
    SELECT user_id, n_events,
           -- the transform's constant MUST be cast to DOUBLE:
           -- list_reduce re-casts its accumulator to the list's
           -- element type each step, and a bare 1.0 makes a
           -- DECIMAL(2,1) list that truncates the fold
           FLOOR(list_reduce(l8, (acc, x) -> acc * 0.9 + x)
                 / list_reduce(list_transform(l8,
                                              x -> CAST(1.0 AS DOUBLE)),
                               (acc, x) -> acc * 0.9 + x)
                 * 1000000.0 + 0.5) / 1000000.0 AS ewma_last
    FROM cut
    """


@register("ts_ewma_last8", oracle=EWMA_LAST8_ORACLE)
def ts_ewma_last8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average over the LAST 8
    events (decay 0.9 per step, normalized weights — the pandas
    ewm(adjust=True) form restricted to a bounded tail):
    operators/timeseries.ewma_last — one groupBy collects each user's
    (ts, event_id, value) sequence (event_id breaks ts ties
    deterministically) and twin left folds acc*0.9 + x over the tail
    slice compute numerator and weight sum by the IDENTICAL IEEE op
    sequence on both engines (the closed-form weight sum would not:
    DuckDB's literal 1.0-0.9 is exact DECIMAL, Spark's is double), so
    the doubles agree bit-for-bit before the 6dp presentation round.
    One shuffle on user_id; the tail slice bounds the fold regardless
    of history length."""
    from .operators.timeseries import ewma_last

    ev = load_table(spark, sf_dir, "events")
    out = ewma_last(
        ev, "user_id", ["ts", "event_id"], "value", decay=0.9, tail=8
    )
    return out.select(
        "user_id",
        "n_events",
        round_fixed(F.col("ewma_last"), 6).alias("ewma_last"),
    )


CUSUM_ORACLE = """
    WITH RECURSIVE ev AS (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               value
        FROM events WHERE value IS NOT NULL
    ), cusum AS (
        SELECT user_id, 0 AS rn, CAST(0.0 AS DOUBLE) AS s, 0 AS a
        FROM (SELECT DISTINCT user_id FROM ev)
        UNION ALL
        SELECT e.user_id, e.rn,
               CASE WHEN GREATEST(0.0, c.s + e.value - 90.0) > 120.0
                    THEN CAST(0.0 AS DOUBLE)
                    ELSE GREATEST(0.0, c.s + e.value - 90.0) END,
               c.a + CASE WHEN GREATEST(0.0, c.s + e.value - 90.0)
                               > 120.0
                          THEN 1 ELSE 0 END
        FROM cusum c
        JOIN ev e ON e.user_id = c.user_id AND e.rn = c.rn + 1
    )
    SELECT c.user_id, c.rn AS n_events, c.a AS n_alarms,
           FLOOR(c.s * 1000000.0 + 0.5) / 1000000.0 AS final_s
    FROM cusum c
    JOIN (SELECT user_id, MAX(rn) AS mx FROM cusum GROUP BY 1) m
      ON c.user_id = m.user_id AND c.rn = m.mx
    """


@register("ts_cusum_alarm", oracle=CUSUM_ORACLE)
def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM change detector (Page's
    decision-interval scheme, level 90 / threshold 120, reset on
    alarm): operators/timeseries.cusum_alarms — the recurrence
    max(0, s + x - level) with conditional reset is nonlinear, so no
    window frame expresses it; it distributes as ONE groupBy + a
    single struct-accumulator array fold.  The oracle is deliberately
    a DIFFERENT construction (a recursive CTE advancing every user
    one event per step) — NOT a list_reduce: DuckDB's list_reduce
    mutates struct-accumulator fields IN PLACE during lambda
    evaluation (a later field reads an earlier field's NEW value),
    which silently corrupts any fold whose fields share a
    subexpression; row-level recursive SQL has no such aliasing.
    One shuffle on user_id at any scale."""
    from .operators.timeseries import cusum_alarms

    ev = load_table(spark, sf_dir, "events")
    out = cusum_alarms(
        ev, "user_id", ["ts", "event_id"], "value",
        level=90.0, threshold=120.0,
    )
    return out.select(
        "user_id",
        "n_events",
        "n_alarms",
        round_fixed(F.col("final_s"), 6).alias("final_s"),
    )


# --------------------------------------------------------------------------
# r8-candidate debuts, wave 9: the remaining TPC-H join/agg shapes
# (Q2/Q4/Q6/Q9), adapted to this corpus (no partsupp table, no
# commit/receipt dates — supplier-part offers derive from lineitem,
# lateness derives from shipdate vs orderdate)
# --------------------------------------------------------------------------


@register(
    "j24_min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l.l_partkey, l.l_suppkey,
               MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS offer
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY 1, 2
    ), ranked AS (
        SELECT o.l_partkey, o.l_suppkey, o.offer,
               ROW_NUMBER() OVER (PARTITION BY o.l_partkey
                                  ORDER BY o.offer, o.l_suppkey) AS rn
        FROM offers o
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
           CAST(CAST(k.offer AS VARCHAR) AS DOUBLE) AS min_price
    FROM ranked k
    JOIN part p ON k.l_partkey = p.p_partkey
    JOIN supplier s ON k.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE k.rn = 1 AND p.p_size BETWEEN 10 AND 20
      AND p.p_type = 'STANDARD'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 20
    """,
)
def j24_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each mid-size
    STANDARD part, the EUROPE supplier offering the lowest observed
    price.  The classic correlated-MIN subquery is expressed as a
    window rank over the per-(part, supplier) offer relation — the
    offer aggregation shuffles the fact table ONCE on (partkey,
    suppkey) and the per-part rank reuses hash partitioning on the
    prefix key; nation/region (fixed, ≤25 rows) carry broadcast
    hints so region pruning happens BEFORE the fact shuffle, while
    supplier and part — corpus-scaling dimensions — carry none (AQE
    broadcasts when the runtime size fits).  Offers compare as
    exact DECIMAL (ties broken on suppkey), so the rn=1 winner is
    deterministic cross-engine; top-20 by acctbal is TakeOrdered, not
    a global sort."""
    from pyspark.sql import Window

    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "STANDARD")
    )
    offers = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "offer"
            )
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("offer", "l_suppkey")
    best = offers.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        best.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            dec_present(F.col("offer")).alias("min_price"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@register(
    "a33_order_priority_late",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY 1
    """,
)
def a33_order_priority_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders from one year
    with at least one lineitem shipped >90 days after the order date,
    counted per priority.  The EXISTS is a LEFT SEMI join whose
    correlated predicate (shipdate vs the outer row's orderdate) rides
    the join condition — the semi join deduplicates map-side before
    the count, so multi-lineitem orders never inflate the shuffle.
    Both sides shuffle on the orderkey they already share; the year
    filter pushes to the orders scan."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@register(
    "a34_forecast_revenue",
    oracle="""
    SELECT
        CAST(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                           * CAST(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
            AS revenue_delta,
        COUNT(*) AS n_rows
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def a34_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): a pure scan-and-
    aggregate — the query whose ENTIRE cost at 100 TB is how much of
    the scan the predicates prune, so all three filters (ship year,
    discount band, quantity cap) must reach the parquet reader as
    PushedFilters; no join, no wide shuffle, one partial-agg exchange
    of a single running pair.  The discount band compares doubles that
    are bit-identical on both engines (the column's value set is
    exactly representable multiples read from the same parquet);
    revenue is the exact DECIMAL sum of price x discount."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return li.agg(
        dec_present(F.sum(price * disc).cast("decimal(38,4)")).alias(
            "revenue_delta"
        ),
        F.count("*").alias("n_rows"),
    )


@register(
    "j25_product_profit",
    oracle="""
    SELECT n.n_name AS supp_nation,
           EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(CAST(CAST(SUM(
               CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
               - CAST(p.p_retailprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(18,2))
           ) AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def j25_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): per supplier nation and
    order year, net amount on 'widget' parts — revenue minus a unit
    cost (p_retailprice stands in for ps_supplycost; this corpus has
    no partsupp table).  The name-filtered part join prunes the fact
    table BEFORE its one shuffle onto orders; only nation (25 rows,
    fixed) carries a broadcast hint — part and supplier scale with
    the corpus, so AQE picks their join strategy from runtime sizes
    (broadcast here, shuffled at 100 TB).  The amount stays exact DECIMAL
    end-to-end (price x (1-disc) minus retail x qty), summed, then
    crosses the boundary via dec_present."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    retail = F.col("p_retailprice").cast("decimal(18,2)")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    amount = price * (F.lit(1) - disc) - retail * qty
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            dec_present(F.sum(amount).cast("decimal(38,4)")).alias("profit")
        )
    )


@register(
    "a35_important_parts",
    oracle="""
    WITH val AS (
        SELECT l.l_partkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS part_value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(part_value) AS DECIMAL(38,2)) AS total_value,
               COUNT(*) AS n_parts
        FROM val
    )
    SELECT v.l_partkey,
           CAST(CAST(v.part_value AS VARCHAR) AS DOUBLE) AS part_value
    FROM val v, tot t
    WHERE v.part_value * t.n_parts > t.total_value * 2
    ORDER BY v.part_value DESC, v.l_partkey
    """,
)
def a35_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    supplied value from one nation exceeds TWICE the mean per-part
    share of that nation's total — the grouped-aggregate-vs-GLOBAL-
    scalar HAVING.  The cut is mean-relative (value*n_parts >
    total*2) the way Q11's own fraction scales with 1/SF: a fixed
    fraction is degenerate at some corpus size in either direction
    (measured: 0.2% returns 171 rows at sf0.001 and ZERO at sf0.1).
    The scalar (total, n_parts) is a 1-row re-aggregation of the
    grouped relation crossJoined back, so the fact table shuffles
    once on partkey and is never re-scanned; the threshold stays in
    exact integer-DECIMAL cross-multiplication — no double division
    near the cut boundary."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    val = (
        # supplier scales with the corpus — no hint (AQE decides);
        # the single-nation filter (25-row dim) keeps its hint
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("part_value")
        )
    )
    tot = val.agg(
        F.sum("part_value").cast("decimal(38,2)").alias("total_value"),
        F.count("*").alias("n_parts"),
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("part_value") * F.col("n_parts")
            > F.col("total_value") * F.lit(2)
        )
        .select(
            "l_partkey", dec_present(F.col("part_value")).alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "j26_late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
    GROUP BY 1
    """,
)
def j26_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode / priority split; l_returnflag
    stands in for the absent l_shipmode): late-shipped 1998 lineitems
    split into high/low-priority counts per flag.  The conditional
    aggregation is two CASE sums over ONE pass — never two filtered
    joins; the lateness predicate (shipdate vs orderdate + 60d) rides
    the join condition, and the ship-year filter pushes to the fact
    scan before the single orderkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1998-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "a36_promo_revenue_share",
    oracle="""
    SELECT
        FLOOR(
            100.0
            * CAST(CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END)
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
            / CAST(CAST(CAST(SUM(
                CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
            * 1000000.0 + 0.5) / 1000000.0 AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-06-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-07-01'
    """,
)
def a36_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): PROMO parts' percentage of
    one ship-month's revenue.  Both the conditional and total revenue
    are EXACT DECIMAL sums computed in the same single aggregation
    (one part join — no hint, part scales with the corpus, AQE
    decides — then one 1-row exchange); each is presented to
    double via the string-mediated dec_present route BEFORE the
    division, so both engines divide bit-identical doubles, and the
    ratio rounds 6dp via the floor form."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1997-06-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1997-07-01").cast("date"))
    )
    p = load_table(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1) - disc)
    zero = F.lit(0).cast("decimal(18,2)")
    agg = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            dec_present(
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("decimal(38,4)")
            ).alias("promo_rev"),
            dec_present(F.sum(rev).cast("decimal(38,4)")).alias("total_rev"),
        )
    )
    return agg.select(
        round_fixed(
            F.lit(100.0) * F.col("promo_rev") / F.col("total_rev"), 6
        ).alias("promo_share_pct")
    )


@register(
    "j27_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(38,4)) AS total_rev
        FROM lineitem l
        WHERE CAST(l.l_shipdate AS DATE) >= DATE '1998-01-01'
          AND CAST(l.l_shipdate AS DATE) < DATE '1998-04-01'
        GROUP BY 1
    ), mx AS (
        SELECT MAX(total_rev) AS max_rev FROM rev
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(CAST(r.total_rev AS VARCHAR) AS DOUBLE) AS total_rev
    FROM rev r
    JOIN supplier s ON r.l_suppkey = s.s_suppkey, mx
    WHERE r.total_rev = mx.max_rev
    ORDER BY s.s_suppkey
    """,
)
def j27_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) achieving the
    maximum quarterly revenue — the view-vs-scalar-subquery pattern.
    The quarterly revenue relation aggregates the date-pruned fact
    ONCE on suppkey; the global max is a 1-row re-aggregation
    crossJoined back, and the equality test runs on exact DECIMAL
    (double equality against an aggregate would be engine-dependent;
    decimal equality is well-defined), presenting only at output."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit("1998-01-01").cast("date"))
        & (F.to_date("l_shipdate") < F.lit("1998-04-01").cast("date"))
    )
    s = load_table(spark, sf_dir, "supplier")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(price * (F.lit(1) - disc))
        .cast("decimal(38,4)")
        .alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        # after the max-equality filter the left side is the tie set
        # (usually 1 row); supplier scales with the corpus, so no
        # hint — AQE broadcasts the tiny filtered side at runtime
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            dec_present(F.col("total_rev")).alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "a37_supplier_part_breadth",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND ps.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2
    """,
)
def a37_supplier_part_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many
    distinct suppliers serve each (brand, type), excluding one brand
    and complaint-flagged suppliers (negative account balance stands
    in for the LIKE '%Customer%Complaints%' predicate; this corpus
    derives the part-supplier relation from lineitem — no partsupp).
    The NOT IN is a LEFT ANTI join; the excluded-supplier set and the
    brand-filtered part dim are FRACTIONS of corpus-scaling tables
    (tiny here, unbroadcastable at 100 TB), so neither carries a
    hint — AQE picks broadcast when the runtime size fits.  The
    distinct (part, supp) pairs collapse map-side before the
    count-distinct shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != "Brand#1"
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(
            bad,
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "j28_small_qty_revenue",
    oracle="""
    WITH pq AS (
        SELECT l.l_partkey,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS sum_qty,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#3'
        GROUP BY 1
    )
    SELECT
        CAST(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                       AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
            AS small_qty_revenue,
        COUNT(*) AS n_rows
    FROM lineitem l
    JOIN pq ON l.l_partkey = pq.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * pq.n_lines
          < pq.sum_qty
    """,
)
def j28_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from
    Brand#3 lineitems whose quantity is below 20% of that part's
    average.  The correlated AVG subquery is a groupBy + join-back on
    partkey — and the 0.2*avg comparison is restated as the EXACT
    integer-DECIMAL cross-multiplication qty*5*n < sum_qty, so no
    double division ever sits near the cut boundary (quantities are
    integral).  Both joins shuffle on the partkey the aggregate
    already produced; the brand filter prunes via the part join
    before either shuffle (no hint — the brand slice is a fixed
    FRACTION of a corpus-scaling dim, so AQE decides)."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    branded = li.join(
        p, F.col("l_partkey") == F.col("p_partkey")
    )
    pq = branded.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).cast("decimal(38,2)").alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )
    return (
        li.join(pq, F.col("l_partkey") == F.col("pk"))
        .filter(qty * F.lit(5) * F.col("n_lines") < F.col("sum_qty"))
        .agg(
            dec_present(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "decimal(38,2)"
                )
            ).alias("small_qty_revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "a38_disjunctive_revenue",
    oracle="""
    SELECT
        CAST(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                       AS DECIMAL(38,4)) AS VARCHAR) AS DOUBLE)
            AS revenue,
        COUNT(*) AS n_rows
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def a38_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR'd brand/size/quantity conjunctions across the join — the
    stress test for predicate pushdown through a join.  Catalyst
    factors the common l_quantity bounds below the join and keeps the
    cross-table disjunction as the join residual; the fact table is
    scanned once (part carries no hint — it scales with the corpus;
    AQE broadcasts it here and shuffles at 100 TB).  Exact DECIMAL
    revenue."""
    from .functions.expressions import dec_present

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            dec_present(
                F.sum(price * (F.lit(1) - disc)).cast("decimal(38,4)")
            ).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "j29_dominant_suppliers",
    oracle="""
    WITH sp AS (
        SELECT l.l_partkey, l.l_suppkey,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS supp_qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY 1, 2
    ), pt AS (
        SELECT l_partkey,
               CAST(SUM(supp_qty) AS DECIMAL(38,2)) AS part_qty
        FROM sp GROUP BY 1
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM sp
    JOIN pt ON sp.l_partkey = pt.l_partkey
    JOIN supplier s ON sp.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE sp.supp_qty * 8 > pt.part_qty
    ORDER BY s.s_suppkey
    """,
)
def j29_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-availability suppliers): suppliers who
    shipped more than an EIGHTH of some 'red' part's total volume
    (the dominance threshold scales with the per-part supplier fan-out) — the
    nested semi-join chain (name-filtered parts -> per-(part, supp)
    volume -> per-part threshold -> supplier identity).  The
    threshold is the exact cross-multiplication supp_qty*8 > part_qty
    (no 0.125* double); the per-part total re-aggregates the
    per-(part, supp) relation rather than re-scanning the fact, so
    the fact shuffles once on (part, supp) and the threshold join
    reuses partkey partitioning.  DISTINCT collapses multi-part
    winners to one supplier row."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    # part/supplier carry no hints (corpus-scaling dims — AQE
    # decides); nation (25 rows, fixed) keeps its hint
    sp = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qty).cast("decimal(38,2)").alias("supp_qty"))
    )
    pt = sp.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("supp_qty").cast("decimal(38,2)").alias("part_qty")
    )
    return (
        sp.join(pt, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("supp_qty") * F.lit(8) > F.col("part_qty"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
        .orderBy("s_suppkey")
    )


@register(
    "j30_waiting_suppliers",
    oracle="""
    WITH ls AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate
                             + INTERVAL 90 DAY
                        THEN 1 ELSE 0 END) AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY 1, 2
    ), po AS (
        SELECT l_orderkey, COUNT(*) AS n_supps,
               SUM(late) AS n_late
        FROM ls GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM ls
    JOIN po ON ls.l_orderkey = po.l_orderkey
    JOIN supplier s ON ls.l_suppkey = s.s_suppkey
    WHERE ls.late = 1 AND po.n_supps > 1 AND po.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 20
    """,
)
def j30_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for
    finished orders with multiple suppliers, count per supplier the
    orders where THAT supplier alone shipped late (>90 days after the
    order date) — the classic EXISTS + NOT EXISTS double correlation.
    Both correlated subqueries collapse into ONE per-(order, supplier)
    late-flag aggregation plus a per-order rollup of (supplier count,
    late count): the sole-blame test is then late=1 AND n_supps>1 AND
    n_late=1, turning two fact re-scans into re-aggregations of an
    already-shuffled relation — the orderkey partitioning is reused by
    every step.  Counting is all-integer; top-20 is TakeOrdered with a
    suppkey tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier")
    late_flag = F.max(
        F.when(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
            1,
        ).otherwise(0)
    ).alias("late")
    ls = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(late_flag)
    )
    po = ls.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supps"), F.sum("late").alias("n_late")
    )
    return (
        ls.join(po, F.col("l_orderkey") == F.col("ok"))
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late") == 1)
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# r8-candidate debuts, wave 10: diversity selection, link prediction,
# engagement stickiness
# --------------------------------------------------------------------------


def _kcenter_oracle(k: int = 6, dim: int = 64) -> str:
    """Unrolled greedy farthest-point traversal in DuckDB: one CTE per
    selection step (argmax of the LEAST of per-center fold distances,
    id tie-break), then the same ROW_NUMBER nearest-center assignment
    as the k-means oracle."""

    def sq(a: str, c: str) -> str:
        return (
            "CAST(list_sum(list_transform(range(1, {d} + 1), "
            "i -> ({a}.v[i] - {c}.v[i]) * ({a}.v[i] - {c}.v[i]))) "
            "AS DOUBLE)"
        ).format(d=dim, a=a, c=c)

    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "s0 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for t in range(1, k):
        prev = ", ".join(f"s{j} c{j}" for j in range(t))
        dists = ", ".join(sq("e", f"c{j}") for j in range(t))
        dmin = dists if t == 1 else f"LEAST({dists})"
        exclude = " AND ".join(
            f"e.vec_id <> c{j}.vec_id" for j in range(t)
        )
        ctes.append(
            f"""s{t} AS (
        SELECT e.vec_id, e.v FROM e, {prev}
        WHERE {exclude}
        ORDER BY {dmin} DESC, e.vec_id LIMIT 1
    )"""
        )
    cents = " UNION ALL ".join(
        f"SELECT {t} AS sel_step, vec_id, v FROM s{t}" for t in range(k)
    )
    ctes.append(f"cents AS ({cents})")
    ctes.append(
        f"""fin AS (
        SELECT vec_id, sel_step, cvid, dist FROM (
            SELECT e.vec_id, c.sel_step, c.vec_id AS cvid,
                   {sq('e', 'c')} AS dist,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {sq('e', 'c')}, c.sel_step)
                       AS rn
            FROM e, cents c
        ) WHERE rn = 1
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """,
    agg AS (
        SELECT sel_step, COUNT(*) AS n_assigned,
               FLOOR(MAX(dist) * 1000000.0 + 0.5) / 1000000.0 AS radius_sq
        FROM fin GROUP BY 1
    )
    SELECT c.sel_step, c.vec_id AS center_id,
           COALESCE(a.n_assigned, 0) AS n_assigned, a.radius_sq
    FROM cents c LEFT JOIN agg a ON c.sel_step = a.sel_step
    """
    )


@register("sample_kcenter_diversity", oracle=_kcenter_oracle())
def sample_kcenter_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity selection by greedy k-center (farthest-point
    traversal) over the embedding corpus — the coreset pick a
    curation pipeline uses to maximize coverage of embedding space
    (contrast SemDeDup, which REMOVES near-duplicates; this SELECTS
    spread exemplars).  operators/analytics.kcenter_greedy: k-1
    narrow scans against literal centers + one assignment pass — no
    wide shuffle at any step, k x dim driver state, the same
    100 TB contract as k-means.  The oracle unrolls the identical
    greedy steps as CTE argmaxes over the same IEEE fold."""
    from .operators.analytics import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_greedy(emb, k=6)


@register(
    "events_user_stickiness",
    oracle="""
    WITH mdu AS (
        SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS month_start,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ), daily AS (
        SELECT month_start, day, COUNT(*) AS dau
        FROM mdu GROUP BY 1, 2
    ), monthly AS (
        SELECT month_start, COUNT(DISTINCT user_id) AS mau
        FROM mdu GROUP BY 1
    )
    SELECT d.month_start, CAST(SUM(d.dau) AS BIGINT) AS sum_dau,
           COUNT(*) AS n_days, m.mau,
           FLOOR(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / m.mau
                 * 1000000.0 + 0.5) / 1000000.0 AS stickiness
    FROM daily d JOIN monthly m ON d.month_start = m.month_start
    GROUP BY 1, m.mau
    """,
)
def events_user_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement ratio product
    dashboards track (avg daily actives over monthly actives).  ONE
    distinct (month, day, user) relation feeds both sides: daily
    actives are a re-aggregation and monthly actives a
    count-distinct over the same deduplicated frame, so the raw
    events shuffle once; the ratio divides exact integer counts as
    identical doubles on both engines, 6dp floor-rounded."""
    ev = load_table(spark, sf_dir, "events")
    mdu = ev.select(
        F.to_date(F.date_trunc("month", "ts")).alias("month_start"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
    ).distinct()
    daily = mdu.groupBy("month_start", "day").agg(
        F.count("*").alias("dau")
    )
    monthly = mdu.groupBy(F.col("month_start").alias("m2")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        daily.groupBy("month_start")
        .agg(F.sum("dau").alias("sum_dau"), F.count("*").alias("n_days"))
        .join(monthly, F.col("month_start") == F.col("m2"))
        .select(
            "month_start",
            "sum_dau",
            "n_days",
            "mau",
            round_fixed(
                F.col("sum_dau").cast("double")
                / F.col("n_days")
                / F.col("mau"),
                6,
            ).alias("stickiness"),
        )
    )


@register(
    "w8_percent_rank_cume",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           FLOOR(PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey)
                 * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
           FLOOR(CUME_DIST() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey)
                 * 1000000.0 + 0.5) / 1000000.0 AS cume
    FROM customer
    """,
)
def w8_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank + cume_dist) per
    market segment — the remaining rank-function family beyond w5's
    ntile.  The order key includes the unique custkey so neither
    function ever sees peers (tie groups would otherwise make
    cume_dist counts data-order-dependent); one shuffle + one sort
    per partition serves both functions from the same window frame.
    Both ratios divide identical small integers, 6dp floor-rounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        round_fixed(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_fixed(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "ts_seasonality_profile",
    oracle="""
    SELECT EXTRACT(dow FROM ts) + 1 AS day_of_week,
           EXTRACT(hour FROM ts) AS hour_of_day,
           COUNT(*) AS n_events,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                          AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
               AS value_sum,
           FLOOR(CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS value_avg
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality grid: event volume and value by (day-of-week,
    hour-of-day) — the cheap seasonal-profile read (load curves,
    staffing heatmaps) that precedes any real decomposition.  One
    scan, one <=168-key shuffle; at 100 TB this is a map-side-combine
    showcase (the partial aggregate collapses each task to <=168
    rows).  Day-of-week matched across engines (Spark dayofweek is
    1=Sunday; DuckDB dow is 0=Sunday, offset +1); the value sum is
    the exact-DECIMAL pattern (values are 2dp money doubles) and the
    mean divides the presented double by the integer count."""
    from .functions.expressions import dec_present

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    vsum = F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
    return (
        ev.groupBy(
            F.dayofweek("ts").alias("day_of_week"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            dec_present(vsum).alias("value_sum"),
        )
        .select(
            "day_of_week",
            "hour_of_day",
            "n_events",
            "value_sum",
            round_fixed(F.col("value_sum") / F.col("n_events"), 6).alias(
                "value_avg"
            ),
        )
    )


@register(
    "events_cohort_ltv",
    oracle="""
    WITH first AS (
        SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1
    ), enr AS (
        SELECT CAST(date_trunc('month', f.t0) AS DATE) AS cohort_month,
               CAST(FLOOR(date_diff('day', CAST(f.t0 AS DATE),
                                    CAST(e.ts AS DATE)) / 7.0)
                    AS BIGINT) AS week_idx,
               e.value
        FROM events e JOIN first f ON e.user_id = f.user_id
        WHERE e.value IS NOT NULL
    ), wk AS (
        SELECT cohort_month, week_idx, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS wk_value
        FROM enr GROUP BY 1, 2
    )
    SELECT cohort_month, week_idx, n_events,
           CAST(CAST(CAST(SUM(wk_value) OVER (
                    PARTITION BY cohort_month ORDER BY week_idx)
                AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS cum_value
    FROM wk
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen month,
    cumulative event value per week since acquisition — the LTV
    companion of events_retention.  The first-event relation and the
    enriched join share the user_id shuffle; weekly sums stay exact
    DECIMAL and the cumulative is a decimal running window over the
    TINY (cohort, week) aggregate, presented via dec_present only at
    the boundary.  Week indexing counts calendar-day deltas (both
    engines difference DATEs, no sub-day ambiguity) floor-divided
    by 7."""
    from .functions.expressions import dec_present
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy(F.col("user_id").alias("uid")).agg(
        F.min("ts").alias("t0")
    )
    enr = (
        ev.filter(F.col("value").isNotNull())
        .join(first, F.col("user_id") == F.col("uid"))
        .select(
            F.to_date(F.date_trunc("month", "t0")).alias("cohort_month"),
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("t0")) / F.lit(7.0)
            )
            .cast("bigint")
            .alias("week_idx"),
            "value",
        )
    )
    wk = enr.groupBy("cohort_month", "week_idx").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("wk_value"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return wk.select(
        "cohort_month",
        "week_idx",
        "n_events",
        dec_present(F.sum("wk_value").over(w).cast("decimal(38,2)")).alias(
            "cum_value"
        ),
    )


@register(
    "a39_grouped_corr",
    oracle="""
    WITH oc AS (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY 1
    ), xy AS (
        SELECT c.c_nationkey,
               CAST(c.c_acctbal AS DECIMAL(18,2)) AS x,
               COALESCE(oc.n_orders, 0) AS y
        FROM customer c LEFT JOIN oc ON c.c_custkey = oc.o_custkey
    ), m AS (
        SELECT c_nationkey, COUNT(*) AS n,
               CAST(CAST(CAST(SUM(x) AS DECIMAL(38,2)) AS VARCHAR)
                    AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(CAST(CAST(SUM(x * y) AS DECIMAL(38,2)) AS VARCHAR)
                    AS DOUBLE) AS sxy,
               CAST(CAST(CAST(SUM(x * x) AS DECIMAL(38,4)) AS VARCHAR)
                    AS DOUBLE) AS sx2,
               CAST(SUM(y * y) AS DOUBLE) AS sy2
        FROM xy GROUP BY 1
    )
    SELECT c_nationkey, n,
           FLOOR((n * sxy - sx * sy)
                 / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))
                 * 1000000.0 + 0.5) / 1000000.0 AS corr_bal_orders
    FROM m WHERE n > 1 AND (n * sx2 - sx * sx) > 0
                 AND (n * sy2 - sy * sy) > 0
    """,
)
def a39_grouped_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation (account balance vs order count per
    customer nation) in the a20 closed-moment form: every moment is
    an EXACT sum — balances as DECIMAL(18,2), counts as integers —
    presented to identical doubles before the one closed-form
    division, so the correlation is bit-stable cross-engine without
    trusting either engine's CORR() accumulation order.  The order
    counts pre-aggregate BEFORE the customer join (map-side-combined
    custkey shuffle), and zero-variance groups are excluded by exact
    integer/decimal predicates."""
    from .functions.expressions import dec_present

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    oc = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").alias("n_orders")
    )
    x = F.col("c_acctbal").cast("decimal(18,2)")
    xy = c.join(oc, F.col("c_custkey") == F.col("ck"), "left").select(
        "c_nationkey",
        x.alias("x"),
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("y"),
    )
    m = xy.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        dec_present(F.sum("x").cast("decimal(38,2)")).alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        dec_present(
            F.sum(F.col("x") * F.col("y")).cast("decimal(38,2)")
        ).alias("sxy"),
        dec_present(
            F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)")
        ).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("sy2"),
    )
    varx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    return m.filter((F.col("n") > 1) & (varx > 0) & (vary > 0)).select(
        "c_nationkey",
        "n",
        round_fixed(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.sqrt(varx) * F.sqrt(vary)),
            6,
        ).alias("corr_bal_orders"),
    )


@register(
    "events_user_features",
    oracle="""
    WITH ut AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), ut2 AS (
        SELECT user_id, event_type, c,
               SUM(c) OVER (PARTITION BY user_id) AS n_tot
        FROM ut
    ), ent AS (
        SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
               COUNT(*) AS n_event_types,
               list_reduce(
                   list(-(CAST(c AS DOUBLE) / n_tot)
                        * ln(CAST(c AS DOUBLE) / n_tot)
                        ORDER BY event_type),
                   (acc, x) -> acc + x) AS h
        FROM ut2
        GROUP BY user_id
    ), base AS (
        SELECT user_id,
               COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                   AS n_active_days,
               date_diff('day', CAST(MIN(ts) AS DATE),
                         CAST(MAX(ts) AS DATE)) + 1 AS span_days,
               COUNT(value) AS n_valued,
               CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                              AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
                   AS value_sum
        FROM events GROUP BY 1
    )
    SELECT b.user_id, e.n_events, b.n_active_days, b.span_days,
           e.n_event_types,
           FLOOR(e.h * 1000000.0 + 0.5) / 1000000.0 AS type_entropy,
           b.value_sum,
           CASE WHEN b.n_valued > 0
                THEN FLOOR(b.value_sum / b.n_valued * 1000000.0 + 0.5)
                     / 1000000.0 END AS value_mean
    FROM base b JOIN ent e ON b.user_id = e.user_id
    """,
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature table — the one-pass feature
    engineering a churn/propensity model trains on: activity counts,
    active days, lifetime span, event-type diversity (Shannon entropy
    over the user's type distribution), and monetary sums.  Two
    aggregations over the SAME user_id partitioning (per-(user, type)
    counts re-aggregated for entropy; per-user scan aggregates for
    the rest) joined on that key — no second corpus shuffle.  The
    entropy fold runs over the SORTED per-type list (deterministic
    left-to-right IEEE sum, the adamic-adar convention); money is
    exact DECIMAL presented once."""
    from .functions.expressions import dec_present

    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    # the entropy fold needs the per-user total BEFORE aggregation —
    # precompute it as a window over the (user, type) relation so the
    # groupBy sees it as a plain struct field (same partitioning, no
    # extra join)
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id")
    ut2 = ut.withColumn("n_ev_tot", F.sum("c").over(wu).cast("double"))
    ent = ut2.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count(F.lit(1)).alias("n_event_types"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct("event_type", "c", "n_ev_tot"))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            - (x["c"].cast("double") / x["n_ev_tot"])
            * F.log(x["c"].cast("double") / x["n_ev_tot"]),
        ).alias("h"),
    )
    base = ev.groupBy(F.col("user_id").alias("uid")).agg(
        F.countDistinct(F.to_date("ts")).alias("n_active_days"),
        (
            F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts")))
            + F.lit(1)
        ).alias("span_days"),
        F.count("value").alias("n_valued"),
        dec_present(
            F.sum(F.col("value").cast("decimal(18,2)")).cast(
                "decimal(38,2)"
            )
        ).alias("value_sum"),
    )
    return base.join(ent, F.col("uid") == F.col("user_id")).select(
        "user_id",
        "n_events",
        "n_active_days",
        "span_days",
        "n_event_types",
        round_fixed(F.col("h"), 6).alias("type_entropy"),
        "value_sum",
        F.when(
            F.col("n_valued") > 0,
            round_fixed(F.col("value_sum") / F.col("n_valued"), 6),
        ).alias("value_mean"),
    )


@register(
    "a40_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS g_id,
           COUNT(*) AS n_rows,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DECIMAL(28,2)) AS VARCHAR) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def a40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag), (status)) — the third
    multidimensional-aggregation API beside a18's CUBE and a7's
    ROLLUP: two independent one-column breakdowns from ONE scan (the
    Expand node emits 2 rows per input, partial-aggregated map-side
    before the single shuffle — vs two unioned groupBys scanning the
    fact twice).  Exact DECIMAL sums; the grouping-id column
    disambiguates which set each row belongs to, and NULLed-out keys
    sort null-safely on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(2 * GROUPING(l_returnflag)
                    + GROUPING(l_linestatus) AS INT) AS g_id,
               COUNT(*) AS n_rows,
               CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                              AS DECIMAL(28,2)) AS STRING) AS DOUBLE)
                   AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        li=li,
    )


@register(
    "a41_yoy_growth",
    oracle="""
    WITH cy AS (
        SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
               CAST(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1, 2
    ), seq AS (
        SELECT o_custkey, yr, rev,
               LAG(yr) OVER w AS prev_yr,
               LAG(rev) OVER w AS prev_rev
        FROM cy WINDOW w AS (PARTITION BY o_custkey ORDER BY yr)
    )
    SELECT o_custkey, yr, rev, prev_rev,
           FLOOR(rev / prev_rev * 1000000.0 + 0.5) / 1000000.0
               AS growth_ratio
    FROM seq
    WHERE prev_yr = yr - 1 AND prev_rev > 0
    ORDER BY growth_ratio DESC, o_custkey, yr
    LIMIT 20
    """,
)
def a41_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year customer spend growth (the TPC-DS Q4/Q11 shape):
    top-20 consecutive-year revenue ratios.  The classic benchmark
    phrasing self-joins the yearly aggregate with itself; the Spark
    plan to WANT is a LAG window over the same relation — the
    per-customer partitioning the aggregate already produced is
    reused, halving the shuffles (the oracle uses the identical LAG
    form, and a consecutive-year guard keeps gaps from pairing).
    Yearly revenue is exact DECIMAL presented before the one ratio
    division; top-20 is TakeOrdered with full tie-breaks."""
    from pyspark.sql import Window

    from .functions.expressions import dec_present

    o = load_table(spark, sf_dir, "orders")
    cy = o.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(
        dec_present(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "decimal(38,2)"
            )
        ).alias("rev")
    )
    w = Window.partitionBy("o_custkey").orderBy("yr")
    seq = cy.select(
        "o_custkey",
        "yr",
        "rev",
        F.lag("yr").over(w).alias("prev_yr"),
        F.lag("rev").over(w).alias("prev_rev"),
    )
    return (
        seq.filter(
            (F.col("prev_yr") == F.col("yr") - 1) & (F.col("prev_rev") > 0)
        )
        .select(
            "o_custkey",
            "yr",
            "rev",
            "prev_rev",
            round_fixed(F.col("rev") / F.col("prev_rev"), 6).alias(
                "growth_ratio"
            ),
        )
        .orderBy(F.col("growth_ratio").desc(), "o_custkey", "yr")
        .limit(20)
    )


@register(
    "dq_uniqueness_report",
    oracle="""
    SELECT 'orders.o_orderkey' AS key, COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
               AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'lineitem.(o_orderkey,l_linenumber)', COUNT(*),
           COUNT(DISTINCT (l_orderkey, l_linenumber)),
           CAST(COUNT(*)
                - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'customer.c_custkey', COUNT(*), COUNT(DISTINCT c_custkey),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    """,
)
def dq_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit — the DQ check beside
    dq_expectations (nulls/ranges/domains) and
    dq_referential_integrity (foreign keys): for each declared key,
    total rows vs distinct key values and the duplicate overhang.
    Each audited table is ONE scan with a count-distinct aggregate
    (composite keys count a distinct struct); the three 1-row audits
    union into the report frame.  All integer-exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def audit(df, key_label, key_cols):
        nd = F.countDistinct(*key_cols).alias("n_distinct")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"), nd
        ).select(
            F.lit(key_label).alias("key"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct"))
            .cast("bigint")
            .alias("n_dup_rows"),
        )

    return (
        audit(o, "orders.o_orderkey", ["o_orderkey"])
        .unionByName(
            audit(
                li,
                "lineitem.(o_orderkey,l_linenumber)",
                ["l_orderkey", "l_linenumber"],
            )
        )
        .unionByName(audit(c, "customer.c_custkey", ["c_custkey"]))
    )


@register(
    "events_value_gini",
    oracle="""
    WITH uv AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2))
                   AS v
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v, user_id) AS i
        FROM uv
    ), m AS (
        SELECT COUNT(*) AS n,
               CAST(CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS VARCHAR)
                    AS DOUBLE) AS total,
               CAST(CAST(CAST(SUM(i * v) AS DECIMAL(38,2)) AS VARCHAR)
                    AS DOUBLE) AS weighted
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           FLOOR((2.0 * weighted / (n * total)
                  - (n + 1.0) / n) * 1000000.0 + 0.5) / 1000000.0
               AS gini
    FROM m
    """,
)
def events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration Gini coefficient over per-user event value
    — the whale-dependence number (0 = value spread evenly, ->1 = a
    few users carry everything) behind every "top 1%% of users
    produce X%% of revenue" claim.  Closed rank form
    G = 2*sum(i*v_i)/(n*sum(v)) - (n+1)/n over values ranked
    ascending (user_id tie-break): per-user sums AND the
    rank-weighted sum both stay exact DECIMAL — i*v is int x decimal
    — presented to identical doubles only for the final closed form,
    so no order-dependent float accumulation anywhere.  One user_id
    shuffle + one rank sort of the (small) per-user relation."""
    from pyspark.sql import Window

    from .functions.expressions import dec_present

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    uv = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("v")
    )
    w = Window.orderBy("v", "user_id")
    ranked = uv.withColumn("i", F.row_number().over(w))
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        dec_present(F.sum("v").cast("decimal(38,2)")).alias("total"),
        dec_present(
            F.sum(F.col("i") * F.col("v")).cast("decimal(38,2)")
        ).alias("weighted"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_users"),
        round_fixed(
            F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "events_anomaly_seasonal",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               EXTRACT(dow FROM ts) + 1 AS dow,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ), prof AS (
        SELECT dow, COUNT(*) AS n_days,
               CAST(SUM(n_events) AS BIGINT) AS s1,
               CAST(SUM(n_events * n_events) AS BIGINT) AS s2
        FROM daily GROUP BY 1
    )
    SELECT d.day, d.n_events,
           FLOOR((d.n_events - CAST(p.s1 AS DOUBLE) / p.n_days)
                 / sqrt(CAST(p.s2 AS DOUBLE) / p.n_days
                        - (CAST(p.s1 AS DOUBLE) / p.n_days)
                          * (CAST(p.s1 AS DOUBLE) / p.n_days))
                 * 1000000.0 + 0.5) / 1000000.0 AS z_seasonal
    FROM daily d JOIN prof p ON d.dow = p.dow
    WHERE p.n_days > 1
      AND CAST(p.s2 AS DOUBLE) * p.n_days > CAST(p.s1 AS DOUBLE) * p.s1
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume anomaly: each day's event count
    z-scored against the SAME-WEEKDAY population — the deseasonalized
    sibling of events_anomaly_zscore (a quiet Sunday is normal; a
    quiet Tuesday is the anomaly, invisible to an all-days baseline).
    The weekday profile is exact integer moments (n, sum, sum of
    squares) re-aggregated from the daily relation — never a second
    event scan — broadcast back onto the <=7-key join; zero-variance
    weekdays are excluded by the exact integer cross-multiplication
    s2*n > s1^2 (no epsilon against a float variance)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    prof = daily.groupBy(F.col("dow").alias("dw")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").cast("bigint").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events"))
        .cast("bigint")
        .alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_days")
    var = F.col("s2").cast("double") / F.col("n_days") - mu * mu
    return (
        daily.join(F.broadcast(prof), F.col("dow") == F.col("dw"))
        .filter(
            (F.col("n_days") > 1)
            & (
                F.col("s2").cast("double") * F.col("n_days")
                > F.col("s1").cast("double") * F.col("s1")
            )
        )
        .select(
            "day",
            "n_events",
            round_fixed(
                (F.col("n_events") - mu) / F.sqrt(var), 6
            ).alias("z_seasonal"),
        )
    )


@register(
    "a42_top_customer_share",
    oracle="""
    WITH cv AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS v
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, o_custkey) AS rn
        FROM cv
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(CAST(CAST(SUM(CASE WHEN rn <= 10 THEN v
                                   ELSE CAST(0 AS DECIMAL(38,2)) END)
                          AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
               AS top10_value,
           FLOOR(CAST(CAST(CAST(SUM(CASE WHEN rn <= 10 THEN v
                                   ELSE CAST(0 AS DECIMAL(38,2)) END)
                          AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(CAST(SUM(v) AS DECIMAL(38,2)) AS VARCHAR)
                        AS DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS top10_share
    FROM ranked
    """,
)
def a42_top_customer_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers' share of total order value — the entity-level
    concentration headline beside events_value_gini's full-curve
    summary.  One custkey aggregation, one rank over the (small)
    per-customer relation, and BOTH the top-10 and total sums stay
    exact DECIMAL inside one conditional aggregation (never a second
    scan or a scalar cross join); the share divides the two presented
    doubles."""
    from pyspark.sql import Window

    from .functions.expressions import dec_present

    o = load_table(spark, sf_dir, "orders")
    cv = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("v")
    )
    w = Window.orderBy(F.col("v").desc(), "o_custkey")
    ranked = cv.withColumn("rn", F.row_number().over(w))
    zero = F.lit(0).cast("decimal(38,2)")
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        dec_present(
            F.sum(F.when(F.col("rn") <= 10, F.col("v")).otherwise(zero))
            .cast("decimal(38,2)")
        ).alias("top10_value"),
        dec_present(F.sum("v").cast("decimal(38,2)")).alias("total_value"),
    )
    return m.select(
        "n_customers",
        "top10_value",
        round_fixed(
            F.col("top10_value") / F.col("total_value"), 6
        ).alias("top10_share"),
    )


@register(
    "ts_autocorr_lag1",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS x
        FROM events GROUP BY 1
    ), pairs AS (
        SELECT x, LEAD(x) OVER (ORDER BY day) AS y
        FROM daily
    ), m AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sx2,
               CAST(SUM(y * y) AS DOUBLE) AS sy2
        FROM pairs WHERE y IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           FLOOR((n * sxy - sx * sy)
                 / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))
                 * 1000000.0 + 0.5) / 1000000.0 AS autocorr_lag1
    FROM m WHERE n > 1 AND (n * sx2 - sx * sx) > 0
                 AND (n * sy2 - sy * sy) > 0
    """,
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume — the "is today
    like yesterday" number that separates trending/bursty series from
    noise (and the one-line feature a forecasting pipeline computes
    before committing to any model).  (x_t, x_{t+1}) pairs come from
    one LEAD over the tiny daily relation; all moments are exact
    integer sums cast once, closed Pearson form (the a39 pattern) —
    no engine CORR(), no order-dependent float accumulation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.orderBy("day")
    pairs = daily.select(
        "x", F.lead("x").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sx2"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("sy2"),
    )
    varx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    return (
        m.filter((F.col("n") > 1) & (varx > 0) & (vary > 0))
        .select(
            F.col("n").cast("bigint").alias("n_pairs"),
            round_fixed(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.sqrt(varx) * F.sqrt(vary)),
                6,
            ).alias("autocorr_lag1"),
        )
    )


# --------------------------------------------------------------------------
# r8 debuts: Holt linear trend, activity streaks, inter-arrival profile
# --------------------------------------------------------------------------


HOLT_LINEAR_ORACLE = """
    WITH RECURSIVE ev AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events WHERE value IS NOT NULL
    ), tl AS (
        SELECT user_id, n_events, CAST(value AS DOUBLE) AS x,
               rn - GREATEST(n_events - 12, 0) AS i
        FROM ev WHERE rn > n_events - 12
    ), holt AS (
        SELECT user_id, n_events, 1 AS i, x AS l, CAST(0.0 AS DOUBLE) AS b
        FROM tl WHERE i = 1
        UNION ALL
        SELECT t.user_id, h.n_events, CAST(t.i AS INT),
               0.5 * t.x + 0.5 * (h.l + h.b),
               0.25 * ((0.5 * t.x + 0.5 * (h.l + h.b)) - h.l) + 0.75 * h.b
        FROM holt h JOIN tl t ON t.user_id = h.user_id AND t.i = h.i + 1
    ), lastrow AS (
        SELECT user_id, MAX(i) AS mx FROM holt GROUP BY 1
    )
    SELECT h.user_id, h.n_events,
           FLOOR(h.l * 1000000.0 + 0.5) / 1000000.0 AS level,
           FLOOR(h.b * 1000000.0 + 0.5) / 1000000.0 AS trend,
           FLOOR((h.l + h.b) * 1000000.0 + 0.5) / 1000000.0 AS forecast_1
    FROM holt h JOIN lastrow m ON h.user_id = m.user_id AND h.i = m.mx
    """


@register("ts_holt_linear", oracle=HOLT_LINEAR_ORACLE)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (level + trend double exponential)
    per user over the last 12 values, 1-step forecast = level + trend
    — the trend-aware sibling of ts_ewma_last8 and the classical
    short-horizon forecaster (operators/timeseries.holt_linear_last).
    α=0.5, β=0.25 are exact binary fractions, so every smoothing
    constant is the identical double in both engines; the fold is one
    struct-accumulator F.aggregate over the collected tail (bounded
    state per key), mirrored by the oracle's recursive CTE running the
    same IEEE expression order — the CUSUM twin pattern."""
    from .operators.timeseries import holt_linear_last

    ev = load_table(spark, sf_dir, "events")
    out = holt_linear_last(
        ev, "user_id", ["ts", "event_id"], "value",
        alpha=0.5, beta=0.25, tail=12,
    )
    return out.select(
        "user_id",
        "n_events",
        round_fixed(F.col("level"), 6).alias("level"),
        round_fixed(F.col("trend"), 6).alias("trend"),
        round_fixed(F.col("level") + F.col("trend"), 6).alias("forecast_1"),
    )


@register(
    "w9_user_streaks",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), r AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY day) AS INT) AS anchor
        FROM d
    ), s AS (
        SELECT user_id, anchor, COUNT(*) AS len FROM r GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM s GROUP BY user_id
    """,
)
def w9_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user longest run of CONSECUTIVE active
    days — the classic engagement-streak statistic, solved with the
    day-minus-row_number anchor trick: consecutive days share one
    anchor date, so streaks fall out of two hash aggregations after a
    single per-user window sort.  No self-join, no iteration; at
    100 TB the distinct (user, day) relation is the only shuffled
    surface and the window rides its partitioning."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    per = anchored.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len")
    )
    return per.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@register(
    "events_interarrival_profile",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us
        FROM events
        WINDOW w AS (PARTITION BY user_id, event_type
                     ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           FLOOR(CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_gap_s,
           FLOOR(quantile_cont(gap_us, 0.5) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS p50_gap_s,
           FLOOR(quantile_cont(gap_us, 0.9) / 1000000.0
                 * 1000000.0 + 0.5) / 1000000.0 AS p90_gap_s
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type (gaps measured
    within each user's per-type sequence, pooled by type) — the
    hazard/traffic profile capacity planning and anomaly baselining
    read first.  Gaps are EXACT microsecond integers (unix_micros ↔
    epoch_us), so the mean is one exact BIGINT sum divided at the end
    and the percentile interpolation (F.percentile ↔ quantile_cont,
    the a13 pairing) runs on identical integers — no order-dependent
    float summation anywhere.  One window sort on the (user, type)
    partitioning, one hash aggregation."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = (
        ev.select(
            "event_type",
            (
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        round_fixed(
            F.sum("gap_us").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0),
            6,
        ).alias("avg_gap_s"),
        round_fixed(
            F.percentile("gap_us", F.lit(0.5)) / F.lit(1000000.0), 6
        ).alias("p50_gap_s"),
        round_fixed(
            F.percentile("gap_us", F.lit(0.9)) / F.lit(1000000.0), 6
        ).alias("p90_gap_s"),
    )
