"""Product-analytics operators: funnel, cohort retention, grouped
closed-form regression, fixed-width histograms, and broadcast-centroid
k-means.

The reference dashboards compute population-level descriptive
statistics over the phenotyped cohort (the tabyl/adorn_totals
frequency and attrition tables of
`4_hypertension_phenotype_main.R:182-186`); these operators
generalize the same
"aggregate-the-cohort" shapes to the event-funnel / retention /
distribution questions any analytics engine alongside it must answer,
expressed Spark-first:

* one fact-table scan per operator, aggregation pushed map-side;
* sequential per-user logic (funnel) via ``sort_array(collect_list)``
  + a higher-order ``aggregate`` fold — one shuffle, no Python;
* iterative fitting (k-means) via broadcast centroid literals — the
  only driver-side state is the k x dim centroid matrix itself.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import dec_present, round_fixed

# --------------------------------------------------------------------------
# funnel
# --------------------------------------------------------------------------


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many users performed ``steps[0]``,
    then ``steps[1]`` strictly after it, and so on.

    Plan: filter the fact scan to the step event types (predicate
    pushed to parquet), then ONE ``groupBy(user)`` collecting the
    (ts, step_idx) pairs sorted by time, folded with a higher-order
    ``aggregate`` that advances the funnel depth whenever the next
    expected step appears.  Single shuffle on ``user``; per-user state
    is bounded by that user's step-type events only (the filter is the
    scale guard — non-step traffic never reaches the shuffle).  The
    final depth histogram is a tiny second aggregation.

    Returns one row per step: ``step_idx, step, n_users,
    pct_of_first`` (users reaching at least that step).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    if len(set(steps)) != len(steps):
        # duplicate names would collide in the step->index map literal
        # (error or silent last-wins depending on mapKeyDedupPolicy)
        raise ValueError(f"funnel steps must be distinct: {steps}")
    idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    # fold state carries (depth, ts of the advancing event) so the
    # strictly-after rule holds even for same-timestamp events: a step
    # at the exact instant of the previous step does NOT advance
    # (matching the oracle's `ts > prev` cascade)
    null_ts = F.lit(None).cast("timestamp")
    per_user = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.col(ts_col).alias("ts"), idx[F.col(type_col)].alias("idx")
            ).alias("ev"),
        )
        .groupBy("user")
        .agg(F.sort_array(F.collect_list("ev")).alias("evs"))
        .select(
            "user",
            F.aggregate(
                "evs",
                F.struct(F.lit(0).alias("d"), null_ts.alias("t")),
                lambda s, e: F.when(
                    (e["idx"] == s["d"])
                    & ((s["d"] == 0) | (e["ts"] > s["t"])),
                    F.struct((s["d"] + 1).alias("d"), e["ts"].alias("t")),
                ).otherwise(s),
            )["d"].alias("depth"),
        )
    )
    # users reaching >= step i+1  ==  count of users with depth > i;
    # a user at depth d contributes to steps 0..d-1 (explode, no
    # nested-loop join — the fan-out is bounded by len(steps))
    reached = (
        per_user.filter(F.col("depth") > 0)
        .select(
            F.explode(F.sequence(F.lit(0), F.col("depth") - 1)).alias("step_idx")
        )
        .select(F.col("step_idx").cast("int").alias("step_idx"))
        .groupBy("step_idx")
        .agg(F.count("*").alias("n_users"))
    )
    steps_df = F.broadcast(
        events.sparkSession.createDataFrame(
            [(i, s) for i, s in enumerate(steps)], "step_idx int, step string"
        )
    )
    from pyspark.sql.window import Window

    # the joined result is len(steps) rows; an unpartitioned window over
    # it is a single tiny task, not a scale hazard
    n_first = F.sum(
        F.when(F.col("step_idx") == 0, F.col("n_users"))
    ).over(Window.partitionBy())
    return (
        steps_df.join(reached, "step_idx", "left")
        .select(
            "step_idx",
            "step",
            F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
            # round_fixed, not F.round: 100*n/m lands EXACTLY on 4dp
            # midpoints whenever (2k+1)*m = 2*10^4*... — the class
            # where engine round()s disagree (functions/expressions.py)
            round_fixed(
                F.coalesce(F.col("n_users"), F.lit(0)) * 100.0 / n_first, 4
            ).alias("pct_of_first"),
        )
        .orderBy("step_idx")
    )


def funnel_within(
    events: DataFrame,
    steps: list[str],
    max_gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Windowed funnel (the windowFunnel shape): each step must occur
    strictly after the previous step and within ``max_gap_us``
    microseconds of it.

    Greedy earliest-anchoring is NOT optimal under a gap constraint
    (a later step-0 event may enable a chain the earliest one
    cannot), so the fold keeps, per depth, the LATEST time that depth
    was reached — processing events in time order, "latest reach"
    maximizes slack for the next step, which makes the DP exactly
    equivalent to "does any qualifying chain exist" (property-tested
    against brute-force chain search).

    Duplicate per-user timestamps are handled EXACTLY by per-instant
    commit batching: the fold carries COMMITTED slots (reaches
    strictly before the current instant) beside STAGED slots (reaches
    up to and including it), and an event advances only from the
    committed side — so a step-0 and a step-1 event at the same
    instant never chain, while a later same-step event at that
    instant can no longer shadow an earlier anchor (the adversarial
    case where the latest-reach overwrite alone is lossy: step-0 at
    t1, step-0 and step-1 both at t2 — the t2 anchor overwrote t1
    before the step-1 event read it, missing the valid (t1, t2)
    chain).  "Latest reach" stays lossless within committed state
    because any future event is at a strictly later instant than
    every commit it reads.  State is 2*len(steps) epoch-microsecond
    slots + the current instant per user; the plan is the same single
    step-filtered groupBy(user) as the unconstrained funnel.

    Returns ``step_idx, step, n_users`` (users completing at least
    that step under the gap rule).
    """
    if not steps:
        raise ValueError("funnel_within needs at least one step")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel steps must be distinct: {steps}")
    k = len(steps)
    idx = F.create_map(
        *[x for i, s in enumerate(steps) for x in (F.lit(s), F.lit(i))]
    )
    null_t = F.lit(None).cast("long")

    def advance(s: Column, e: Column) -> Column:
        new_instant = s["last"].isNull() | (e["us"] > s["last"])
        committed = [
            F.when(new_instant, s[f"s{d}"]).otherwise(s[f"c{d}"])
            for d in range(k)
        ]
        slots = []
        for d in range(k):
            reached = e["idx"] == d
            if d == 0:
                ok = reached
            else:
                prev = committed[d - 1]
                # strictly after AND within the gap, judged against the
                # PRE-instant state — same-instant reaches can't anchor
                ok = reached & prev.isNotNull() & (e["us"] > prev) & (
                    e["us"] <= prev + F.lit(max_gap_us)
                )
            slots.append(
                F.when(ok, e["us"]).otherwise(s[f"s{d}"]).alias(f"s{d}")
            )
        return F.struct(
            *[committed[d].alias(f"c{d}") for d in range(k)],
            *slots,
            e["us"].alias("last"),
        )

    depth = F.coalesce(
        *[
            F.when(F.col("st")[f"s{d}"].isNotNull(), F.lit(d + 1))
            for d in range(k - 1, -1, -1)
        ],
        F.lit(0),
    )
    per_user = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.unix_micros(F.col(ts_col)).alias("us"),
                idx[F.col(type_col)].alias("idx"),
            ).alias("ev"),
        )
        .groupBy("user")
        .agg(F.sort_array(F.collect_list("ev")).alias("evs"))
        .select(
            "user",
            F.aggregate(
                "evs",
                F.struct(
                    *[null_t.alias(f"c{d}") for d in range(k)],
                    *[null_t.alias(f"s{d}") for d in range(k)],
                    null_t.alias("last"),
                ),
                advance,
            ).alias("st"),
        )
        .select("user", depth.alias("depth"))
    )
    reached = (
        per_user.filter(F.col("depth") > 0)
        .select(
            F.explode(F.sequence(F.lit(0), F.col("depth") - 1)).alias("step_idx")
        )
        .select(F.col("step_idx").cast("int").alias("step_idx"))
        .groupBy("step_idx")
        .agg(F.count("*").alias("n_users"))
    )
    steps_df = F.broadcast(
        events.sparkSession.createDataFrame(
            [(i, s) for i, s in enumerate(steps)], "step_idx int, step string"
        )
    )
    return (
        steps_df.join(reached, "step_idx", "left")
        .select(
            "step_idx",
            "step",
            F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
        )
        .orderBy("step_idx")
    )


# --------------------------------------------------------------------------
# cohort retention
# --------------------------------------------------------------------------


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort-retention matrix: users bucketed by the period of their
    first event (the cohort), counted distinct in each later period
    offset.

    Plan: one ``groupBy(user)`` for first-seen (map-side combinable
    MIN), join back on ``user`` (both sides hash-partitioned on the
    same key — AQE merges into one exchange each), then an exact
    distinct-count per (cohort, offset).  At 100 TB the first-seen
    aggregate is the cheap side; the distinct-count shuffles
    (cohort, offset, user) once — no row explosion anywhere.

    Returns ``cohort_day, period_offset, n_active`` where
    ``cohort_day`` is the first event's date truncated to day and
    ``period_offset`` counts ``period_days``-day periods since it.
    """
    first_seen = events.groupBy(F.col(user_col).alias("user")).agg(
        F.min(ts_col).alias("first_ts")
    )
    return (
        events.select(F.col(user_col).alias("user"), F.col(ts_col).alias("ts"))
        .join(first_seen, "user")
        .select(
            F.to_date(F.date_trunc("day", "first_ts")).alias("cohort_day"),
            (
                F.datediff(F.to_date("ts"), F.to_date("first_ts"))
                / F.lit(period_days)
            )
            .cast("int")
            .alias("period_offset"),
            "user",
        )
        .groupBy("cohort_day", "period_offset")
        .agg(F.countDistinct("user").alias("n_active"))
    )


# --------------------------------------------------------------------------
# batch sessionization (gap-based) and view -> purchase attribution
# --------------------------------------------------------------------------


def sessionize(
    events: DataFrame,
    gap_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based batch sessionization: a new session starts whenever a
    user's inter-event gap exceeds ``gap_us`` microseconds — the analytics
    shape behind every "sessions per user / session duration"
    dashboard (reference analog: the same-day visit grouping of
    `3_blood_pressure.R`, generalized from calendar-day to activity
    gaps).

    Division of labor vs ``operators/windows.sessionize``: that one
    TAGS each row with a session_id (row-level enrichment, ts-only
    order); this one emits the per-SESSION aggregate — (user,
    session_seq) with bounds, counts, and exact microsecond durations
    — under a (ts, id) TOTAL order so boundaries are deterministic
    even with duplicate timestamps.

    The classic two-window formulation, ONE shuffle total: LAG marks
    session starts, a running SUM over the same (user, ts, id) sort
    turns the marks into per-user session ordinals, and the final
    per-session aggregate reuses the (user)-partitioning.  The
    (ts, id) order key is total, so session boundaries are
    deterministic.  Durations are exact microsecond BIGINTs.

    Returns ``<user_col>, session_seq, n_events, session_start,
    session_end, duration_us``.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col))
    new_sess = F.when(
        us - F.lag(us).over(w) > F.lit(gap_us), 1
    ).otherwise(0)
    marked = events.select(
        F.col(user_col),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        new_sess.alias("is_new"),
    )
    w2 = (
        Window.partitionBy(user_col)
        .orderBy("ts", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = marked.select(
        user_col, "ts", (F.sum("is_new").over(w2) + 1).alias("session_seq")
    )
    return sess.groupBy(user_col, "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )


def view_purchase_attribution(views: DataFrame, purchases: DataFrame,
                              horizon: str = "1 hour") -> DataFrame:
    """Purchases attributed to same-user views within ``horizon``
    before the purchase: ``v.ts <= p.ts < v.ts + horizon``.  Every
    candidate pair is emitted, so an attribution policy (last touch,
    first touch, linear) is one aggregate over the same join."""
    v = views.selectExpr(
        "user_id AS v_user", "event_id AS view_id", "ts AS v_ts"
    )
    p = purchases.selectExpr(
        "user_id AS p_user", "event_id AS purchase_id", "ts AS p_ts"
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id",
        "v_ts", "p_ts",
    )


# --------------------------------------------------------------------------
# interval concurrency (distributed prefix sum)
# --------------------------------------------------------------------------


def concurrency_peak_daily(
    events: DataFrame,
    horizon_us: int,
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Peak concurrent open intervals per day, where each event opens
    the half-open interval ``[ts, ts + horizon_us)`` — the
    "max concurrent sessions/users" metric.

    The naive formulation is a running sum over ONE global time order
    — a single-partition sort that dies at 100 TB.  This is the
    distributed two-pass prefix sum instead:

    1. each event emits (+1 at ts) and (−1 at ts+horizon), each delta
       tagged with its DAY — a narrow 2x map;
    2. per-day NET sums aggregate map-side (days-sized result), and a
       running sum over the tiny day sequence gives each day's
       CARRY-IN (open intervals inherited from all prior days);
    3. the within-day running sum partitions by day (parallel,
       bounded partitions), and adding the broadcast carry-in makes
       it globally exact — peak per day is then one MAX.

    Tie order at equal timestamp: closes sort before opens
    (half-open intervals — an interval ending at t does not overlap
    one starting at t), then ``id_col`` totalizes the order, so the
    running sum is deterministic.

    Returns ``day, peak_concurrency, n_opens``.
    """
    from pyspark.sql.window import Window

    # one scan, narrow 2x explode fan-out (a UNION of opens and closes
    # would read the fact table twice per consuming branch)
    open_s = F.struct(
        F.col(ts_col).alias("t"), F.lit(1).alias("d"),
        F.col(id_col).alias("eid"),
    )
    close_s = F.struct(
        F.timestamp_micros(
            F.unix_micros(F.col(ts_col)) + F.lit(horizon_us)
        ).alias("t"),
        F.lit(-1).alias("d"),
        F.col(id_col).alias("eid"),
    )
    deltas = (
        events.select(F.explode(F.array(open_s, close_s)).alias("x"))
        .select("x.t", "x.d", "x.eid")
        .withColumn("day", F.to_date(F.date_trunc("day", "t")))
    )
    day_net = deltas.groupBy("day").agg(
        F.sum("d").alias("net"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("n_opens"),
    )
    wdays = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the day table is O(days) rows — the one place a global window
    # sort is fine; carry_in(day) = sum of prior days' nets
    carry = day_net.select(
        "day",
        "n_opens",
        (F.sum("net").over(wdays) - F.col("net")).alias("carry_in"),
    )
    wday = (
        Window.partitionBy("day")
        .orderBy("t", "d", "eid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = deltas.withColumn("run", F.sum("d").over(wday))
    return (
        running.groupBy("day")
        .agg(F.max("run").alias("peak_in_day"))
        .join(F.broadcast(carry), "day")
        .select(
            "day",
            (F.col("peak_in_day") + F.col("carry_in")).alias(
                "peak_concurrency"
            ),
            "n_opens",
        )
    )


# --------------------------------------------------------------------------
# grouped closed-form regression
# --------------------------------------------------------------------------


def grouped_regression(
    df: DataFrame, group_cols: list[str], x: str, y: str
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ x`` from the five
    classic sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) — one
    map-side-combinable aggregation, no per-group iteration, no ML
    library.  This is the REGR_SLOPE/REGR_INTERCEPT/CORR family
    expressed as explicit sums so the 100 TB plan is a single partial
    aggregate; slope/intercept/r are O(groups) post-arithmetic.

    Returns ``group_cols..., n, slope, intercept, corr_xy`` with the
    derived floats rounded to 4dp via the ``round_fixed`` floor form
    (both engines compute the identical closed form from the sums;
    engine round() would diverge at representation boundaries).
    """
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    sums = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc * yc).alias("sxy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum(yc * yc).alias("syy"),
    )
    n = F.col("n")
    cov_n = F.col("sxy") - F.col("sx") * F.col("sy") / n
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n
    var_y = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov_n / var_x
    return sums.select(
        *group_cols,
        "n",
        round_fixed(slope, 4).alias("slope"),
        round_fixed((F.col("sy") - slope * F.col("sx")) / n, 4).alias(
            "intercept"
        ),
        round_fixed(cov_n / F.sqrt(var_x * var_y), 4).alias("corr_xy"),
    )


# --------------------------------------------------------------------------
# fixed-width histogram
# --------------------------------------------------------------------------


def histogram_fixed(
    df: DataFrame, col: str, lo: float, hi: float, nbins: int
) -> DataFrame:
    """Fixed-width histogram over ``[lo, hi)``: bin index is pure
    arithmetic (no sampling pre-pass, unlike rdd.histogram), so the
    whole operator is one map-side-combinable count per bin — the
    degenerate-cheap shuffle (``nbins`` rows).  Out-of-range values
    clamp into the edge bins so totals always reconcile with the scan.

    Returns ``bin, bin_lo, bin_hi, n`` for non-empty bins.
    """
    w = (hi - lo) / nbins
    raw = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(w))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")
    return (
        df.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            round_fixed(F.lit(lo) + F.col("bin") * F.lit(w), 2).alias(
                "bin_lo"
            ),
            round_fixed(F.lit(lo) + (F.col("bin") + 1) * F.lit(w), 2).alias(
                "bin_hi"
            ),
            "n",
        )
    )


# --------------------------------------------------------------------------
# incremental rollup maintenance
# --------------------------------------------------------------------------


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    row_id_col: str,
    theta: float = 0.1,
    sample_buckets: int = 16,
    safety: float = 0.5,
    release: bool = True,
) -> DataFrame:
    """All θ-heavy hitters (keys with frequency ≥ θ·N), exactly
    counted, via a sampled candidate pass — the 100 TB alternative to
    ``a24_key_skew_profile``'s full key histogram when the key space
    is billions wide.

    Pass 1 shuffles only the KEYS OF A 1/``sample_buckets`` ROW SAMPLE
    (deterministic md5 bucket of the row id — the ``sampling.py``
    convention, reproducible in any engine): per-key sampled counts,
    kept as candidates when ≥ ``safety``·θ·N/``sample_buckets``.
    Pass 2 broadcast-semi-joins the fact to the (tiny) candidate set,
    counts EXACTLY, and keeps keys with count ≥ ceil(θ·N) — so every
    emitted row is a true θ-heavy hitter with its true count.

    Approximate-by-construction in candidate RECALL only (a heavy key
    whose rows systematically dodge the sample bucket is missed — at
    θN·1/16 expected sampled rows the probability is astronomically
    small, and the miss is DETERMINISTIC, not flaky); precision is
    exact.  Both passes are pure functions of the data, so a SQL
    oracle replicates the result bit-for-bit — the MinHash-LSH
    blocking precedent.

    Scale: THREE fact scans total — the global count, the sampled
    count, and the candidate recount — enforced by persisting the
    1-row total and the tiny candidate list (without the persists the
    lazy plan re-embeds the counting subtree at every reference:
    measured 8 parquet scans in the un-persisted plan).  The only
    shuffles carry ~distinct-sampled-keys and ~candidate-count rows.
    A full ``groupBy(key).count()`` ships every distinct key per
    partition through the exchange; at billions of keys the sampled
    pass ships 1/16th of that and the exact pass only the handful of
    candidates.
    """
    from .dedup import _maybe_persist, release_persisted
    from .sampling import hash_bucket

    if release:
        release_persisted()
    tot = _maybe_persist(df.agg(F.count(F.lit(1)).alias("_N")), True)
    sampled = (
        df.filter(hash_bucket(F.col(row_id_col), sample_buckets) == 0)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_sc"))
    )
    cand = _maybe_persist(
        sampled.join(F.broadcast(tot))
        .filter(
            F.col("_sc").cast("double")
            >= F.lit(safety * theta) * F.col("_N") / F.lit(float(sample_buckets))
        )
        .select(key_col),
        True,
    )
    exact = (
        df.join(F.broadcast(cand), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        exact.join(F.broadcast(tot))
        .filter(F.col("n_rows") >= F.ceil(F.lit(theta) * F.col("_N")))
        .select(
            key_col,
            "n_rows",
            round_fixed(
                F.col("n_rows") * 100.0 / F.col("_N").cast("double"), 4
            ).alias("pct_of_total"),
        )
    )


def power_iteration_top_component(
    gram: list[list[float]], iters: int = 8
) -> tuple[list[float], float]:
    """Dominant eigenvector/eigenvalue of a small symmetric matrix by
    fixed-iteration power method — DRIVER-side math on the collected
    d×d gram matrix (bounded state, the k-means-centroid precedent;
    the DATA never leaves the cluster, only the d² sufficient
    statistic does).

    Bit-reproducible by construction: the start vector is
    1/sqrt(d) in every position, every dot product is a LEFT FOLD
    from 0.0 in index order, the normalizer is sqrt of the same fold
    of squares, and the iteration count is fixed — so a SQL engine
    replaying the identical IEEE ops on the identical (pre-rounded)
    gram values produces the identical doubles.  No convergence test
    (a data-dependent stopping rule would be engine-divergent).
    """
    d = len(gram)
    v = [1.0 / math.sqrt(float(d))] * d
    lam = 0.0
    for _ in range(iters):
        w = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + gram[i][j] * v[j]
            w.append(acc)
        acc = 0.0
        for x in w:
            acc = acc + x * x
        lam = math.sqrt(acc)
        # zero matrix: w is all zeros and the direction is undefined —
        # emit the zero vector (oracle mirror: CASE WHEN n = 0)
        v = [0.0] * d if lam == 0.0 else [x / lam for x in w]
    return v, lam


def partial_rollup(
    df: DataFrame, keys: list[Column | str], value_col: str
) -> DataFrame:
    """Mergeable partial aggregate: per-key (n, exact DECIMAL sum).
    Exactness is the contract — DOUBLE partials would make the merged
    rollup depend on which batches the data arrived in."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_s"),
    )


def merge_rollups(*parts: DataFrame) -> DataFrame:
    """Fold any number of ``partial_rollup`` outputs into the rollup
    the full recompute would produce: counts add, DECIMAL sums add —
    the incremental-view-maintenance identity.  At 100 TB this is the
    difference between re-scanning the fact table and aggregating only
    the new partition's (tiny) partial against the stored summary: the
    merge touches summary-sized data only.

    The sum is exact DECIMAL through the merge (that exactness IS the
    merge == recompute identity) and crosses the output boundary as a
    ``dec_present`` double — decimals hash/render engine-dependently,
    and even a direct decimal->double cast diverges cross-engine past
    2^53 scaled (functions/expressions.py has the measurements).
    ``value_avg`` uses the ``round_fixed`` floor form; note its halves
    round toward +infinity, so NEGATIVE value averages land one ulp-step
    above round-half-away-from-zero at exact .x5 boundaries — fine here
    because the oracle uses the identical form, but callers wanting R/
    SQL half-away semantics on negatives need a sign-aware variant."""
    keys = [c for c in parts[0].columns if c not in ("n_events", "_s")]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    sx = F.col("_sx")
    return (
        out.groupBy(*keys)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_s").cast("decimal(28,6)").alias("_sx"),
        )
        .withColumn(
            "value_avg", round_fixed(dec_present(sx) / F.col("n_events"), 4)
        )
        .withColumn("value_sum", dec_present(sx))
        .drop("_sx")
    )


# --------------------------------------------------------------------------
# k-means (Lloyd's, broadcast centroids)
# --------------------------------------------------------------------------


def _sq_dist_sql(vec_sql: str, cent: list[float]) -> str:
    """SQL text of the squared L2 to a literal center — the same
    left-to-right IEEE fold as the Column form (see _nearest_centroid
    for why SQL strings)."""
    from ..functions.vectors import sql_double

    arr = "array(" + ", ".join(sql_double(float(c)) for c in cent) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (a, b) -> (a - b) * (a - b)), "
        f"0.0D, (acc, d) -> acc + d)"
    )


def _nearest_centroid(vec_sql: str, centroids: list[list[float]]) -> Column:
    """Cluster id of the nearest centroid (squared L2; ties -> lowest
    id).  Centroids are literal arrays baked into the expression —
    the broadcast-small-side pattern without even a join: the k x dim
    matrix rides inside the task binary, the scan stays one narrow
    map.

    Takes the vector as SQL TEXT and builds one parsed expression: the
    Column form was k × dim ``F.lit`` py4j round-trips per call, built
    once per Lloyd iteration per consumer — the bulk of
    sim_cluster_purity's 10 s construction (r13 optimization; the
    parsed tree is identical modulo lambda variable names, same device
    as pq.encode / similarity.sign_bucket)."""
    structs = ", ".join(
        f"struct({_sq_dist_sql(vec_sql, cent)} as dist, {cid} as cid)"
        for cid, cent in enumerate(centroids)
    )
    return F.expr(f"array_min(array({structs}))")["cid"]


def _lloyd_centroids(
    emb: DataFrame,
    k: int,
    iterations: int,
    vec_col: str,
    id_col: str,
    dim: int,
) -> list[list[float]]:
    """The shared deterministic Lloyd training loop behind
    ``kmeans_lloyd`` and ``kmeans_assignments`` (previously restated
    in both — merged in the r10 kmeans-family rotation).

    Init is the ``k`` lowest-id vectors; when the corpus has FEWER
    than ``k`` rows the effective k clamps to the corpus size (the
    1..k-1-row corpora that used to IndexError on
    ``centroids[cid]``) — callers train/return ``len(centroids)``
    clusters.  Per iteration: assignment is a narrow map against
    broadcast centroid literals (no shuffle); the update is ONE
    ``groupBy(cluster)`` computing per-dimension means as ``dim``
    map-side-combinable AVG aggregates; empty clusters keep their
    previous centroid.  Centroid components round to 6dp (the
    label_centroids convention) via the round_fixed floor form: the
    raw parallel-sum AVG differs from a sequential fold in final
    ulps, and feeding that unrounded into the next round's argmin
    would let partitioning/engine flip boundary assignments —
    rounding pins the centroids both sides agree on.
    """
    v = F.col(vec_col).cast("array<double>")
    centroids = [
        [float(x) for x in r[0]]
        for r in emb.orderBy(id_col).select(v.alias("v")).limit(k).collect()
    ]
    k_eff = len(centroids)  # k-clamp: < k rows trains k_eff clusters
    if k_eff == 0:
        return []
    vec_sql = f"cast({vec_col} as array<double>)"
    for _ in range(iterations):
        assigned = emb.select(
            v.alias("v"),
            _nearest_centroid(vec_sql, centroids).alias("cluster"),
        )
        new_rows = (
            assigned.groupBy("cluster")
            .agg(*[
                round_fixed(F.avg(F.col("v")[i]), 6).alias(f"c{i}")
                for i in range(dim)
            ])
            .collect()
        )
        by_cid = {r["cluster"]: [r[f"c{i}"] for i in range(dim)] for r in new_rows}
        centroids = [by_cid.get(cid, centroids[cid]) for cid in range(k_eff)]
    return centroids


def kmeans_lloyd(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, deterministic init
    (the ``k`` lowest-id vectors, clamped to the corpus size), fixed
    ``iterations`` — the training loop lives in ``_lloyd_centroids``
    (shared with ``kmeans_assignments``).

    Driver state is only the k x dim centroid matrix — at 100 TB each
    iteration is exactly one scan + one k-row shuffle, the textbook
    scalable plan.  Fixed iteration count keeps the operator
    deterministic and oracle-checkable (the oracle unrolls the same
    rounds in SQL).

    Returns per-cluster ``cluster, n_members, mean_dist`` (mean L2
    distance to the final centroid, rounded 4dp; ``len(centroids)``
    clusters — an empty corpus returns the typed empty result).
    """
    if dim is None:
        # fallback probe job; callers with a known encoder width pass
        # ``dim`` and skip it (same contract as similarity.py)
        probe = emb.select(vec_col).first()
        if probe is None:
            return emb.sparkSession.createDataFrame(
                [], "cluster int, n_members bigint, mean_dist double"
            )
        dim = len(probe[0])
    v = F.col(vec_col).cast("array<double>")
    centroids = _lloyd_centroids(emb, k, iterations, vec_col, id_col, dim)
    if not centroids:
        return emb.sparkSession.createDataFrame(
            [], "cluster int, n_members bigint, mean_dist double"
        )
    # final assignment + per-row distance against the FINAL centroids
    finals = [
        F.when(
            F.col("cluster") == cid,
            F.sqrt(F.expr(_sq_dist_sql("v", cent))),
        )
        for cid, cent in enumerate(centroids)
    ]
    return (
        emb.select(
            v.alias("v"),
            _nearest_centroid(
                f"cast({vec_col} as array<double>)", centroids
            ).alias("cluster"),
        )
        .select("cluster", F.coalesce(*finals).alias("d"))
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            round_fixed(F.avg("d"), 4).alias("mean_dist"),
        )
    )


def kcenter_greedy(
    emb: DataFrame,
    k: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy k-center (farthest-point traversal, Gonzalez 1985) —
    the diversity-selection pass a curation pipeline runs to pick a
    maximally-spread coreset of embeddings (2-approximation of the
    optimal k-center cover).

    Deterministic: seeded at the lowest id; each step picks the
    not-yet-selected point maximizing its min squared-L2 distance to
    the chosen set, raw IEEE doubles compared (both engines compute
    the identical fold), ties broken on the lower id (so an
    all-duplicates corpus still yields k distinct ids, never a
    re-pick).  Distributed shape: each of the k-1
    steps is ONE narrow scan against literal center vectors (k x dim
    driver state, no shuffle — F.least over per-center fold
    expressions) reduced by a 1-row TakeOrdered; the final coverage
    pass assigns every point to its nearest selected center and
    aggregates per-center counts and the coverage radius.  At 100 TB:
    k scans, zero wide shuffles, the same contract as kmeans_lloyd.

    Returns ``sel_step, center_id, n_assigned, radius_sq`` (radius =
    max assigned squared distance, 6dp).
    """
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("vec_id"), v.alias("v"))
    first = base.orderBy("vec_id").limit(1).collect()[0]
    centers: list[tuple[int, list[float]]] = [
        (first["vec_id"], [float(x) for x in first["v"]])
    ]
    for _ in range(1, k):
        dists = [F.expr(_sq_dist_sql("v", cent)) for _, cent in centers]
        dmin = dists[0] if len(dists) == 1 else F.least(*dists)
        chosen = [cid for cid, _ in centers]
        pick = (
            base.filter(~F.col("vec_id").isin(chosen))
            .select("vec_id", "v", dmin.alias("d"))
            .orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .collect()[0]
        )
        centers.append((pick["vec_id"], [float(x) for x in pick["v"]]))
    cent_vecs = [cent for _, cent in centers]
    step = _nearest_centroid("v", cent_vecs)
    d_assigned = F.coalesce(
        *[
            F.when(F.col("sel_step") == i, F.expr(_sq_dist_sql("v", cent)))
            for i, cent in enumerate(cent_vecs)
        ]
    )
    agg = (
        base.select("v", step.alias("sel_step"))
        .select("sel_step", d_assigned.alias("d"))
        .groupBy("sel_step")
        .agg(
            F.count("*").alias("n_assigned"),
            round_fixed(F.max("d"), 6).alias("radius_sq"),
        )
    )
    # every selected center emits a row even when assignment ties
    # drain it (duplicate-point corpora assign whole tie groups to the
    # earliest step): left-join the k-row selection literal
    sel = emb.sparkSession.createDataFrame(
        [(i, int(cid)) for i, (cid, _) in enumerate(centers)],
        "sel_step int, center_id long",
    )
    return sel.join(agg, "sel_step", "left").select(
        "sel_step",
        "center_id",
        F.coalesce(F.col("n_assigned"), F.lit(0).cast("bigint")).alias(
            "n_assigned"
        ),
        F.col("radius_sq"),
    )


def kmeans_assignments(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Final (id, cluster) assignments of the SAME deterministic Lloyd
    training ``kmeans_lloyd`` runs (lowest-id init clamped to the
    corpus size, fixed iterations, 6dp-rounded centroids) — the
    relation evaluation queries join labels onto.  The training loop
    is the shared ``_lloyd_centroids`` (merged in the r10
    kmeans-family rotation; it was previously restated here to avoid
    drifting ``emb_kmeans_lloyd`` outside its window).
    """
    if dim is None:
        probe = emb.select(vec_col).first()
        if probe is None:
            return emb.sparkSession.createDataFrame(
                [], f"{id_col} long, cluster int"
            )
        dim = len(probe[0])
    v = F.col(vec_col).cast("array<double>")
    centroids = _lloyd_centroids(emb, k, iterations, vec_col, id_col, dim)
    if not centroids:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, cluster int"
        )
    return emb.select(
        F.col(id_col),
        _nearest_centroid(
            f"cast({vec_col} as array<double>)", centroids
        ).alias("cluster"),
    )
