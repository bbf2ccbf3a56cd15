"""Core operator queries (SURVEY.md §2 parity surface) over the driver
testdata (TESTDATA.md: TPC-H-ish tables standing in for the OMOP ones —
customer≈PERSON, orders≈CONDITION_OCCURRENCE, lineitem≈MEASUREMENT,
events≈measurement stream; FIXTURES.md "Driver testdata mapping").

Every query exercises the engine's operator modules (operators/,
functions/) — not ad-hoc expressions — so the driver's oracle check
covers the same code paths the OMOP pipeline plans use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.expressions import (
    age_from_birth_year,
    flag,
    recode,
    round_fixed,
    round_half_even,
    strip_ends,
    trim_chars,
)
from .io import load_table, register_views
from .operators import aggregates as agg
from .operators import filters as flt
from .operators import joins as jn
from .operators import windows as win
from .registry import register

# --------------------------------------------------------------------------
# scans / projections / filters  (S1, P1-P13)
# --------------------------------------------------------------------------


@register(
    "s1_scan_project_alias",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment AS segment
    FROM customer
    """,
)
def s1_scan_project_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+P1: parquet scan with projection and aliasing — the engine form
    of the reference's SELECT-list ODBC pull
    (2_data_importing_cleaning.R:61-76). Column pruning reaches the scan."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", F.col("c_mktsegment").alias("segment")
    )


@register(
    "p4_literal_evidence_flag",
    oracle="""
    SELECT o_orderkey, 1 AS evidence
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def p4_literal_evidence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: constant evidence column, as in the reference's
    ``'1' AS PREG_CONDITION`` exclusion queries
    (2_data_importing_cleaning.R:288) — standardized to int."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", F.lit(1).alias("evidence"))
    )


@register(
    "p5_not_null_filter",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
    """,
)
def p5_not_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: null-key filter (``!is.na(PATIENT_LINKAGE)``,
    2_data_importing_cleaning.R:80-81)."""
    df = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return flt.not_null(df, "c_custkey", "c_name")


@register(
    "p6_p7_range_conjunction",
    oracle="""
    SELECT c_custkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal BETWEEN 0 AND 5000 AND c_mktsegment = 'BUILDING'
    """,
)
def p6_p7_range_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7/P8: conjunctive range predicate — the women-18-44 cohort
    filter shape (2_data_importing_cleaning.R:195-198)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal").between(0, 5000) & (F.col("c_mktsegment") == "BUILDING"))
        .select("c_custkey", "c_acctbal", "c_mktsegment")
    )


@register(
    "p9_codelist_isin",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem WHERE l_partkey IN (1, 2, 3, 5, 8, 13, 21, 34)
    """,
)
def p9_codelist_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: codelist membership as one IN (...) predicate — the codelist
    filter's single path for a Python list of any length
    (2_data_importing_cleaning.R:299). Pushed to scan."""
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    return flt.codelist_filter(df, "l_partkey", [1, 2, 3, 5, 8, 13, 21, 34])


@register(
    "p10_year_filter",
    oracle="""
    SELECT o_orderkey, YEAR(o_orderdate) AS o_year
    FROM orders WHERE YEAR(o_orderdate) IN (1995, 1996)
    """,
)
def p10_year_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/F6: date-part predicate, the reference's only time filter
    (``YEAR(d) IN (2022,2023)``, 3_blood_pressure.R:100)."""
    df = load_table(spark, sf_dir, "orders")
    return flt.year_in(df, "o_orderdate", [1995, 1996]).select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )


@register(
    "p12_plausibility_band",
    oracle="""
    SELECT l_returnflag, AVG(l_quantity) AS qty_avg, COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_quantity BETWEEN 10 AND 40
    GROUP BY l_returnflag
    """,
)
def p12_plausibility_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: plausibility band (BP 30-300 analog, 3_blood_pressure.R:143-151)
    then a grouped average. l_quantity is integer-valued so the average
    is order-insensitive exact."""
    df = load_table(spark, sf_dir, "lineitem")
    banded = flt.plausibility_band(df, "l_quantity", 10, 40)
    return banded.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("qty_avg"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# joins  (J1-J8)
# --------------------------------------------------------------------------


@register(
    "j1_left_enrich",
    oracle="""
    SELECT c.c_custkey, COALESCE(o.n_orders, 0) AS n_orders
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def j1_left_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left-outer enrich — attach per-patient aggregates back to the
    cohort (3_blood_pressure.R:293-295), with explicit null fill (F10)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumnRenamed("o_custkey", "c_custkey")
    )
    return jn.enrich(cust, counts, "c_custkey").fillna({"n_orders": 0})


@register(
    "j2_inner_join",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'MACHINERY'
    """,
)
def j2_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: inner equi-join restricted by a dimension predicate
    (2_data_importing_cleaning.R:395-397 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select("o_orderkey", "c_custkey", "o_totalprice")
    )


@register(
    "j3_pair_composite_key",
    oracle="""
    WITH clicks AS (
        SELECT user_id, CAST(ts AS DATE) AS event_day, COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), views AS (
        SELECT user_id, CAST(ts AS DATE) AS event_day, COUNT(*) AS n_views
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT c.user_id, c.event_day, c.n_clicks, v.n_views
    FROM clicks c JOIN views v
      ON c.user_id = v.user_id AND c.event_day = v.event_day
    """,
)
def j3_pair_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: composite-key inner join — the SBP/DBP same-day pairing shape
    ``by = c(PATIENT_LINKAGE, MEASUREMENT_DATE)``
    (3_blood_pressure.R:203-205), here pairing click/view activity per
    (user, day)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_day", F.col("ts").cast("date")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "event_day")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "event_day")
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    return jn.pair(clicks, views, ["user_id", "event_day"])


@register(
    "j4_full_outer_evidence",
    oracle="""
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           COALESCE(a.flag95, 0) AS flag95,
           COALESCE(b.flag96, 0) AS flag96
    FROM (SELECT DISTINCT o_custkey, 1 AS flag95 FROM orders
          WHERE YEAR(o_orderdate) = 1995) a
    FULL OUTER JOIN
         (SELECT DISTINCT o_custkey, 1 AS flag96 FROM orders
          WHERE YEAR(o_orderdate) = 1996) b
    ON a.o_custkey = b.o_custkey
    """,
)
def j4_full_outer_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: full outer join merging evidence across domains
    (2_data_importing_cleaning.R:389-392)."""
    orders = load_table(spark, sf_dir, "orders")
    a = (
        flt.year_in(orders, "o_orderdate", [1995])
        .select("o_custkey").distinct()
        .withColumn("flag95", F.lit(1))
    )
    b = (
        flt.year_in(orders, "o_orderdate", [1996])
        .select("o_custkey").distinct()
        .withColumn("flag96", F.lit(1))
    )
    joined = a.join(b, "o_custkey", "full")
    return joined.select(
        F.col("o_custkey").alias("custkey"),
        F.coalesce("flag95", F.lit(0)).alias("flag95"),
        F.coalesce("flag96", F.lit(0)).alias("flag96"),
    )


@register(
    "j5_anti_exclude",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def j5_anti_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: anti-join exclusion — remove patients present in an exclusion
    set (2_data_importing_cleaning.R:399-400). The exclusion set is the
    urgent-order customers so the survivor set is non-empty at every SF."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return jn.exclude(cust, urgent, "c_custkey")


@register(
    "j6_semi_evidence",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def j6_semi_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: semi-join "has any evidence" — replaces the reference's
    inner-join + distinct idiom (2_data_importing_cleaning.R:395-397)
    without duplicating or widening rows."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return jn.has_evidence(cust, urgent, "c_custkey")


@register(
    "j7_outer_join_demoted",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderpriority
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_orderpriority = '1-URGENT'
    """,
)
def j7_outer_join_demoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: LEFT JOIN + null-rejecting WHERE on the right side — the
    reference's accidental inner join (2_data_importing_cleaning.R:283-303).
    Written as SQL so Catalyst's EliminateOuterJoin performs the same
    demotion the reference got from Snowflake."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_orderpriority
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE o.o_orderpriority = '1-URGENT'
        """
    )


@register(
    "j8_broadcast_codelist_join",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
    GROUP BY l_returnflag
    """,
)
def j8_broadcast_codelist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: the codelist filter's DataFrame path — a codelist held as a
    DataFrame (here derived from ``part``) becomes a broadcast LEFT SEMI
    join (2_data_importing_cleaning.R:209). The fact side never
    shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    codes = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey")
    )
    filtered = flt.codelist_filter(li, "l_partkey", codes, code_col="p_partkey")
    return filtered.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# aggregations  (A1-A11)
# --------------------------------------------------------------------------


@register(
    "a1_count_distinct_per_key",
    oracle="""
    SELECT o_custkey,
           COUNT(DISTINCT o_orderstatus) AS o_orderstatus_count,
           COUNT(DISTINCT o_orderpriority) AS o_orderpriority_count
    FROM orders GROUP BY o_custkey
    """,
)
def a1_count_distinct_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: per-key n_distinct — the mis-bridged-record detector
    (2_data_importing_cleaning.R:93-126)."""
    df = load_table(spark, sf_dir, "orders")
    return agg.count_distinct_per_key(
        df, "o_custkey", ["o_orderstatus", "o_orderpriority"]
    )


@register(
    "a2_consistent_keys",
    oracle="""
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(DISTINCT l_returnflag) = 1 AND COUNT(DISTINCT l_linestatus) = 1
    """,
)
def a2_consistent_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: multi-n_distinct + all-equal-1 filter — the dedup-eligible-keys
    step (2_data_importing_cleaning.R:134-139)."""
    df = load_table(spark, sf_dir, "lineitem")
    return agg.consistent_keys(df, "l_orderkey", ["l_returnflag", "l_linestatus"])


@register(
    "a3_same_day_avg",
    oracle="""
    SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_day,
           ROUND_EVEN(AVG(l_quantity), 1) AS qty_avg
    FROM lineitem GROUP BY 1, 2
    """,
)
def a3_same_day_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/F8/F12: same-day average with R-matching half-even rounding
    (3_blood_pressure.R:168-174; SURVEY.md §2.10-3). Integer-valued
    inputs keep the mean exact, so the .x25/.x75 half-even ties are
    genuinely exercised against the oracle."""
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_day", F.col("l_shipdate").cast("date")
    )
    return agg.same_day_avg(df, "l_orderkey", "ship_day", "l_quantity",
                            out_col="qty_avg", scale=1)


@register(
    "a4_sum_indicator",
    oracle="""
    SELECT l_suppkey,
           CAST(SUM(CASE WHEN l_quantity >= 45 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
    FROM lineitem GROUP BY l_suppkey
    """,
)
def a4_sum_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F4: count of flagged readings per key — the ≥2-high-BP-days
    rule input (3_blood_pressure.R:286-288)."""
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "hi", flag(F.col("l_quantity") >= 45)
    )
    return agg.sum_indicator(df, "l_suppkey", "hi", out_col="n_hi")


@register(
    "a5_global_count",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def a5_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: global row count as a 1-row relation (``nrow``,
    2_data_importing_cleaning.R:403)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "a6_freq_table",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           FLOOR(100.0 * COUNT(*) / SUM(COUNT(*)) OVER ()
                 * 1000000.0 + 0.5) / 1000000.0 AS percent
    FROM orders GROUP BY o_orderpriority
    """,
)
def a6_freq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: janitor-tabyl frequency table — counts + percents
    (4_hypertension_phenotype_main.R:182-186)."""
    return agg.freq_table(load_table(spark, sf_dir, "orders"), "o_orderpriority")


@register(
    "a7_rollup_total",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders GROUP BY ROLLUP(o_orderstatus)
    """,
)
def a7_rollup_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: frequency table with totals row (``adorn_totals``) via
    grouping sets — the NULL group is the total
    (4_hypertension_phenotype_main.R:182-186)."""
    return agg.freq_table_with_total(load_table(spark, sf_dir, "orders"), "o_orderstatus")


@register(
    "a8_distinct",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def a8_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: full-row distinct (2_data_importing_cleaning.R:161)."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "a10_grouped_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def a10_grouped_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: dplyr grouped distinct ≡ all-column distinct (the group
    annotation is redundant, 2_data_importing_cleaning.R:150-156)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
    )


@register(
    "f17_json_extract_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(k) AS n_parsed,
           -- DuckDB SUM(BIGINT) widens to HUGEINT (exact); present
           -- through the string-mediated double boundary, mirroring
           -- Spark's DECIMAL(38,0) sum + dec_present
           CAST(CAST(SUM(k) AS VARCHAR) AS DOUBLE) AS k_sum,
           CAST(MIN(k) AS BIGINT) AS k_min,
           CAST(MAX(k) AS BIGINT) AS k_max
    FROM (
        -- mirror of Spark from_json(LongType) STRICTNESS, probed:
        -- malformed JSON, non-object top level, missing key, JSON
        -- null, strings, floats, booleans, and > Long.MAX integers
        -- ALL parse to NULL; only integral in-range numbers survive
        SELECT event_type,
               CASE WHEN props IS NOT NULL AND json_valid(props)
                         AND json_type(props) = 'OBJECT'
                         AND json_type(json_extract(props, '$.k'))
                             IN ('BIGINT', 'UBIGINT')
                    THEN TRY_CAST(json_extract_string(props, '$.k')
                                  AS BIGINT)
               END AS k
        FROM events
    )
    GROUP BY event_type
    """,
)
def f17_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-projected JSON parsing of the semi-structured ``props``
    column (``from_json`` with an explicit struct schema — the
    cluster-friendly parse: one pass, JVM-side Jackson, the projected
    field prunes everything else), aggregated per event type.  The
    scalar-function-surface twin of the reference's ad-hoc string
    munging (SURVEY §2.8): real pipelines carry a JSON side-channel on
    every event, and parsing it must not mean a UDF.  Malformed or
    missing keys parse to NULL on both engines (exercised: n vs
    n_parsed).  The sum aggregates in exact DECIMAL(38,0), NOT a long
    — the adversarial sweep feeds Long.MAX values and a plain SUM is
    an ANSI ARITHMETIC_OVERFLOW crash, the kind of poisoned-feed
    landmine a 100 TB ingest job cannot afford — and crosses the
    boundary via dec_present (DuckDB mirror: HUGEINT sum cast through
    VARCHAR)."""
    from pyspark.sql import types as T

    from .functions.expressions import dec_present

    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(
            F.col("props"), T.StructType([T.StructField("k", T.LongType())])
        )["k"].alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("k").alias("n_parsed"),
        dec_present(F.sum(F.col("k").cast("decimal(38,0)"))).alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


@register(
    "f16_profile_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(c_acctbal) AS n_nonnull,
           FLOOR(AVG(c_acctbal) * 10000.0 + 0.5) / 10000.0 AS bal_avg,
           MIN(c_acctbal) AS bal_min,
           MAX(c_acctbal) AS bal_max
    FROM customer
    """,
)
def f16_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: the str/skim profiling idiom as a one-row relation
    (2_data_importing_cleaning.R:77-78) — distributed describe()."""
    return load_table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_nonnull"),
        round_fixed(F.avg("c_acctbal"), 4).alias("bal_avg"),
        F.min("c_acctbal").alias("bal_min"),
        F.max("c_acctbal").alias("bal_max"),
    )


@register(
    "a9_dedup_deterministic",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def a9_dedup_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: keep-one-row-per-key dedup with a deterministic survivor —
    the engine's stable replacement for ``distinct(.keep_all=TRUE)``
    (3_blood_pressure.R:220-221; SURVEY.md §2.10-4)."""
    df = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    return agg.dedup_deterministic(
        df, "o_custkey", [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )


@register(
    "a11_attrition_stats",
    oracle="""
    SELECT COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN l_quantity BETWEEN 10 AND 40 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           FLOOR(100.0 * (COUNT(*) - CAST(SUM(CASE WHEN l_quantity BETWEEN 10
                                              AND 40 THEN 1 ELSE 0 END)
                                          AS BIGINT)) / COUNT(*)
                 * 1000000.0 + 0.5) / 1000000.0
               AS pct_excluded
    FROM lineitem
    """,
)
def a11_attrition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: attrition percentages over stage counts
    (2_data_importing_cleaning.R:403-405), computed in one distributed
    pass rather than driver-side nrow() arithmetic."""
    kept = flag(F.col("l_quantity").between(10, 40))
    return (
        load_table(spark, sf_dir, "lineitem")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
        )
        .select(
            "n_total",
            "n_kept",
            round_fixed(
                100.0 * (F.col("n_total") - F.col("n_kept")) / F.col("n_total"), 6
            ).alias("pct_excluded"),
        )
    )


# --------------------------------------------------------------------------
# windows / top-k / sort-limit  (W1, L1-L3)
# --------------------------------------------------------------------------


@register(
    "w1_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def w1_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest record per patient (3_blood_pressure.R:351-354), as a
    single-shuffle max(struct) aggregation — partial-aggregates map-side
    where a row_number window would shuffle every row."""
    df = load_table(spark, sf_dir, "orders")
    return win.latest_per_key(
        df, "o_custkey", ["o_orderdate", "o_orderkey"], ["o_totalprice"]
    )


@register(
    "l3_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        SELECT p_brand, p_partkey, p_retailprice,
               ROW_NUMBER() OVER (PARTITION BY p_brand
                                  ORDER BY p_retailprice DESC, p_partkey) AS rn
        FROM part
    ) WHERE rn <= 3
    """,
)
def l3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: top-k per group (the reference's slice(which.max) generalized
    to k>1), deterministic via unique tiebreak."""
    df = load_table(spark, sf_dir, "part").select("p_brand", "p_partkey", "p_retailprice")
    return win.top_k_per_key(
        df, "p_brand", [F.col("p_retailprice").desc(), F.col("p_partkey")], 3,
        rank_col="rn",
    )


@register(
    "l1_order_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def l1_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: ORDER BY + LIMIT (the reference's ``LIMIT 20`` test queries,
    2_data_importing_cleaning.R:711) — Spark plans a TakeOrderedAndProject,
    never a full sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# set ops  (U1)
# --------------------------------------------------------------------------


@register(
    "u1_evidence_key_union",
    oracle="""
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
    UNION
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
    """,
)
def u1_evidence_key_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/J4: key-set union across evidence domains — replaces the
    reference's chained full outer joins (2_data_importing_cleaning.R:389-392)
    with a union+distinct (one shuffle on the key)."""
    orders = load_table(spark, sf_dir, "orders")
    a = flt.year_in(orders, "o_orderdate", [1995])
    b = flt.year_in(orders, "o_orderdate", [1996])
    return jn.evidence_union("o_custkey", a, b)


@register(
    "u2_intersect_keys",
    oracle="""
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
    INTERSECT
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
    """,
)
def u2_intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op completeness (SURVEY.md §2.7: the reference has no
    intersect; built-in in Spark): customers active in both years."""
    orders = load_table(spark, sf_dir, "orders")
    a = flt.year_in(orders, "o_orderdate", [1995]).select("o_custkey")
    b = flt.year_in(orders, "o_orderdate", [1996]).select("o_custkey")
    return a.intersect(b)


@register(
    "u3_except_keys",
    oracle="""
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
    EXCEPT
    SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
    """,
)
def u3_except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op completeness: customers active in 1995 but not 1996
    (the anti-join J5 expressed as a set difference)."""
    orders = load_table(spark, sf_dir, "orders")
    a = flt.year_in(orders, "o_orderdate", [1995]).select("o_custkey")
    b = flt.year_in(orders, "o_orderdate", [1996]).select("o_custkey")
    # subtract = SQL EXCEPT (set semantics); exceptAll would keep keys
    # that merely appear more often on the left
    return a.subtract(b)


# --------------------------------------------------------------------------
# scalar functions  (F1-F14)
# --------------------------------------------------------------------------


@register(
    "f1_trim_chars",
    oracle="""
    SELECT c_custkey, TRIM(c_mktsegment, 'BDEGYL') AS seg_trim FROM customer
    """,
)
def f1_trim_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: trim a character *set* from both ends — the reference strips
    embedded literal quotes with TRIM(col,'\"')
    (2_data_importing_cleaning.R:67-69)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", trim_chars("c_mktsegment", "BDEGYL").alias("seg_trim")
    )


@register(
    "f2_strip_ends",
    oracle="""
    SELECT c_custkey, SUBSTRING(c_name, 2, LENGTH(c_name) - 2) AS name_inner
    FROM customer
    """,
)
def f2_strip_ends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: drop first+last char (``str_sub(x,2,-2)`` on quote-wrapped
    ZIP3, 2_data_importing_cleaning.R:655)."""
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", strip_ends("c_name").alias("name_inner")
    )


@register(
    "f3_recode",
    oracle="""
    SELECT n_nationkey,
           CASE n_name WHEN 'UNITED STATES' THEN 'US'
                       WHEN 'GERMANY' THEN 'DE'
                       WHEN 'FRANCE' THEN 'FR'
                       ELSE n_name END AS n_label
    FROM nation
    """,
)
def f3_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: value remap — dplyr ``recode`` of RACE/SEX labels
    (2_data_importing_cleaning.R:644-653)."""
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        recode("n_name", {"UNITED STATES": "US", "GERMANY": "DE", "FRANCE": "FR"})
        .alias("n_label"),
    )


@register(
    "f7_arith_derived",
    oracle="SELECT p_partkey, 2023 - p_size AS age_like FROM part",
)
def f7_arith_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: arithmetic derived column (``age = 2023 - YEAR_OF_BIRTH``,
    2_data_importing_cleaning.R:643)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey", age_from_birth_year("p_size").alias("age_like")
    )


@register(
    "f8_round_half_even",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND_EVEN(l_quantity / 4, 1) AS q_round
    FROM lineitem
    """,
)
def f8_round_half_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: half-to-even rounding matching R's ``round``
    (SURVEY.md §2.10-3). quantity/4 lands exactly on .25/.75 ties, so
    HALF_UP would visibly diverge — this pins the semantics."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        round_half_even(F.col("l_quantity") / 4, 1).alias("q_round"),
    )


@register(
    "f10_null_fill",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           COALESCE(NULLIF(l_quantity, 1), 0) AS q_filled
    FROM lineitem
    """,
)
def f10_null_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: NULL→0 fill (``x[is.na(x)] <- 0``,
    4_hypertension_phenotype_main.R:141)."""
    df = load_table(spark, sf_dir, "lineitem")
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_quantity"), F.lit(1)), F.lit(0.0)).alias(
            "q_filled"
        ),
    )


@register(
    "f11_bool_or_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_quantity >= 45 OR l_discount >= 0.09
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f11_bool_or_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/F4: OR of comparisons inside an indicator — the high-BP flag
    ``SBP>=140 | DBP>=90`` (3_blood_pressure.R:276)."""
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "hi", flag((F.col("l_quantity") >= 45) | (F.col("l_discount") >= 0.09))
    )
    return agg.sum_indicator(df, "l_returnflag", "hi", out_col="n_hi")


@register(
    "f14_collect_concat",
    oracle="""
    SELECT n_regionkey, STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def f14_collect_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: collapse group values to a delimited string
    (``paste(codes, collapse=',')``, 2_data_importing_cleaning.R:209) —
    sorted for determinism."""
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
    )


@register(
    "f17_json_extract",
    oracle="""
    SELECT event_id,
           TRY_CAST(TRY_CAST(props AS JSON) ->> '$.k' AS DOUBLE) AS k_val
    FROM events
    """,
)
def f17_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference convenience: JSON property extraction from the
    events payload (the reference has no JSON; included for the events
    table surface).

    Tolerant typed-extraction contract (r8 — the adversarial parity
    sweep found the original ``.cast("int")`` raising ANSI
    CAST_INVALID_INPUT on a ``{"k": 3.7}`` payload): the property
    surfaces as DOUBLE (JSON's number type) via try-cast, and anything
    non-numeric — booleans, objects, malformed JSON, missing keys —
    is NULL.  Plain int TRY_CAST would NOT align cross-engine (DuckDB
    rounds '3.7' to 4, Spark NULLs it); the double parse of a decimal
    string is correctly rounded in both engines, verified value-equal
    over all 14 hostile payload shapes in the sweep corpus."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").try_cast("double").alias("k_val"),
    )


@register(
    "p2_p3_column_prune",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    """,
)
def p2_p3_column_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2+P3: column drop (``select(-yob_count, ...)``,
    2_data_importing_cleaning.R:640) and keep-subset
    (``select(PATIENT_LINKAGE, age, ...)``, 3_blood_pressure.R:222).
    Both prune the Parquet ReadSchema — the drop is folded into the scan
    projection, not applied after a full-width read."""
    df = load_table(spark, sf_dir, "customer")
    kept = df.drop("c_address", "c_phone", "c_comment")  # P2 drop
    return kept.select("c_custkey", "c_name", "c_mktsegment")  # P3 keep


@register(
    "l2_head_inspect",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_custkey LIMIT 5
    """,
)
def l2_head_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: head-n inspection (``head``/``slice_head``/``print(n=)``,
    3_blood_pressure.R:359-360) — made deterministic with an explicit
    total order on the unique key. Spark plans this as TakeOrderedAndProject
    (a per-partition top-k + driver merge, no global sort)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
        .limit(5)
    )


@register(
    "f5_date_parse_formats",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(o_orderdate AS VARCHAR) AS DATE) AS d_iso,
           CAST(strptime(strftime(o_orderdate, '%Y/%m/%d'), '%Y/%m/%d')
                AS DATE) AS d_slash,
           YEAR(o_orderdate) AS d_year
    FROM orders
    """,
)
def f5_date_parse_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6: string→date parsing in both shapes the reference needs —
    ISO default (``as.Date``, 3_blood_pressure.R:256) and the explicit
    '%Y/%m/%d' format (3_blood_pressure.R:353) — plus year extraction.
    Checkpoint round-trips in the reference degrade dates to strings
    and re-cast; here the cast is explicit and type-checked once."""
    df = load_table(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.to_date(F.col("o_orderdate").cast("string")).alias("d_iso"),
        F.to_date(
            F.date_format("o_orderdate", "yyyy/MM/dd"), "yyyy/MM/dd"
        ).alias("d_slash"),
        F.year("o_orderdate").alias("d_year"),
    )


@register(
    "w2_rowwise_flag_no_window",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END AS hi_flag
    FROM lineitem
    """,
)
def w2_rowwise_flag_no_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: the reference groups by (patient, date) and then computes a
    purely row-wise ifelse flag (3_blood_pressure.R:275-277) — the
    grouping is decorative. The engine form is a plain withColumn with
    NO window/shuffle (a naive port would wrongly add one; SURVEY.md
    §2.5). The plan is a single narrow projection over the scan."""
    from .functions.expressions import flag

    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        flag(F.col("l_quantity") >= 40).alias("hi_flag"),
    )


@register(
    "f9_f13_cast_sum",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(CASE WHEN l_quantity >= 25 THEN '1' END AS INTEGER))
                AS BIGINT) AS n_hi
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f9_f13_cast_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9+F13: string flag → numeric cast
    (``as.numeric(HTN_DX)``, 4_hypertension_phenotype_main.R:140) then a
    null-ignoring grouped sum (``sum(x, na.rm=T)``,
    3_blood_pressure.R:288). The '1'/NULL string flag reproduces the
    type degradation the reference's CSV checkpoints cause; F.sum skips
    NULLs natively, matching na.rm=TRUE."""
    df = load_table(spark, sf_dir, "lineitem").withColumn(
        "hi_str", F.when(F.col("l_quantity") >= 25, F.lit("1"))
    )
    return (
        df.withColumn("hi", F.col("hi_str").cast("int"))
        .groupBy("l_returnflag")
        .agg(F.sum("hi").alias("n_hi"))
    )


# --------------------------------------------------------------------------
# flagship: the cohort-shaped end-to-end pipeline (SURVEY.md §7 phase 1)
# --------------------------------------------------------------------------

FLAGSHIP_ORACLE = """
WITH cohort AS (
    SELECT c_custkey, c_mktsegment AS segment
    FROM customer
    WHERE c_custkey IS NOT NULL
      AND c_acctbal BETWEEN -999 AND 9999
      AND c_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_regionkey IN (SELECT r_regionkey FROM region
                                                WHERE r_name = 'AMERICA'))
), daily AS (
    SELECT l_orderkey, CAST(l_shipdate AS DATE) AS ship_day,
           ROUND_EVEN(AVG(l_quantity), 1) AS qty_avg
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_quantity BETWEEN 5 AND 45
      AND YEAR(l_shipdate) IN (1995, 1996)
    GROUP BY 1, 2
), per_cust AS (
    SELECT o.o_custkey,
           SUM(CASE WHEN d.qty_avg >= 25 THEN 1 ELSE 0 END) AS n_hi
    FROM orders o
    JOIN daily d ON o.o_orderkey = d.l_orderkey
    WHERE YEAR(o.o_orderdate) IN (1995, 1996)
    GROUP BY o.o_custkey
)
SELECT c.segment,
       COUNT(*) AS n_cust,
       CAST(SUM(CASE WHEN COALESCE(p.n_hi, 0) >= 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       FLOOR(100.0 * CAST(SUM(CASE WHEN COALESCE(p.n_hi, 0) >= 2
                              THEN 1 ELSE 0 END) AS BIGINT)
             / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS pct_flagged
FROM cohort c LEFT JOIN per_cust p ON c.c_custkey = p.o_custkey
GROUP BY c.segment
"""


@register("flagship_cohort_pipeline", oracle=FLAGSHIP_ORACLE)
def flagship_cohort_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query: the reference's whole dataflow shape
    (SURVEY.md §3 "end-to-end dataflow") re-expressed on the driver
    testdata — cohort build (projection, null filter, plausibility,
    codelist semi-join) → measurement cleaning (band, year look-back,
    same-day half-even average) → per-patient evidence (≥2 high days,
    3_blood_pressure.R:286-290) → left-enrich + null-safe flag →
    frequency stats.

    One broadcast (region→nation codelist), two key-shuffles (daily agg
    on orderkey feeds the orders join; per-customer agg), one small
    shuffle for the final stats — the minimal movement for this shape.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    amer_nations = jn.has_evidence(
        nation,
        region.filter(F.col("r_name") == "AMERICA").select(
            F.col("r_regionkey").alias("n_regionkey")
        ),
        "n_regionkey",
    ).select("n_nationkey")

    cohort = (
        flt.not_null(cust, "c_custkey")
        .filter(F.col("c_acctbal").between(-999, 9999))
        .join(
            F.broadcast(amer_nations.withColumnRenamed("n_nationkey", "c_nationkey")),
            "c_nationkey",
            "left_semi",
        )
        .select("c_custkey", F.col("c_mktsegment").alias("segment"))
    )

    daily = agg.same_day_avg(
        flt.year_in(
            flt.plausibility_band(li, "l_quantity", 5, 45), "l_shipdate", [1995, 1996]
        ).withColumn("ship_day", F.col("l_shipdate").cast("date")),
        "l_orderkey",
        "ship_day",
        "l_quantity",
        out_col="qty_avg",
        scale=1,
    )

    per_cust = agg.sum_indicator(
        flt.year_in(orders, "o_orderdate", [1995, 1996])
        .join(daily, orders.o_orderkey == daily.l_orderkey, "inner")
        .withColumn("hi", flag(F.col("qty_avg") >= 25)),
        "o_custkey",
        "hi",
        out_col="n_hi",
    )

    flagged = (
        jn.enrich(cohort, per_cust.withColumnRenamed("o_custkey", "c_custkey"),
                  "c_custkey")
        .fillna({"n_hi": 0})
        .withColumn("is_flagged", flag(F.col("n_hi") >= 2))
    )

    # round_fixed, not F.round: 100·n/m ratios are exactly the class of
    # doubles that can land on a 6dp shortest-repr midpoint (the r5
    # failure mode) — this was the package's last F.round site
    return flagged.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("is_flagged").alias("n_flagged"),
        round_fixed(
            100.0 * F.sum("is_flagged") / F.count(F.lit(1)), 6
        ).alias("pct_flagged"),
    )
