"""Time-series regularization: calendar scaffolding and gap filling.

Dashboards and feature pipelines consume *regular* daily series, but
event tables are sparse — a user with no events on a day simply has no
row (the reference meets the same mismatch when its BP observations
skip days and `3_blood_pressure.R` carries measurements forward to the
visit grid).  These operators densify a sparse keyed series:

* ``daily_scaffold`` — per-key calendar from the key's first active day
  to the global horizon, built with ``sequence()`` + ``explode`` (a
  narrow per-row generator, NOT a cross join against a date dimension:
  at 100 TB the scaffold is generated where each key's row already
  lives, no shuffle).
* ``gap_fill_locf`` — last-observation-carried-forward over the
  scaffold with ``last(value, ignorenulls=True)`` on a running rows
  frame: one window shuffle on the key, no self-join, no driver loop.

Scale notes: the only wide operations are the daily pre-aggregation
and the scaffold-to-observation left join, both hash-partitioned on
(key, day); the LOCF window re-uses the key partitioning.  Spark can
run the join and the window in the same exchange when the join output
is already distributed by key — AQE coalesces the tiny per-key
calendars.

Tail-fold state contract (r9): ``ewma_last`` and ``holt_linear_last``
only ever read the last ``tail`` values, so both pre-truncate with
``_tail_truncated`` (a JVM-side WindowGroupLimit rank-limit pushdown:
each partition truncates to its per-key last-``tail`` rows BEFORE the
exchange) — per-key state is ≤ ``tail`` elements at ANY history
length.  ``cusum_alarms`` is different BY SEMANTICS: the alarm count
folds over the key's FULL history (every value moves the reset
state), so no prefix can be dropped in a batch recomputation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def daily_scaffold(daily: DataFrame, key_col: str, day_col: str,
                   horizon: DataFrame) -> DataFrame:
    """Dense (key, day) grid from each key's first observed day to the
    global horizon.

    ``horizon`` is a 1-row DataFrame with column ``d1`` (the global
    max day) — computed once from the source and broadcast; keeping it
    a DataFrame (not a collected scalar) leaves the whole plan lazy.
    """
    bounds = daily.groupBy(key_col).agg(F.min(day_col).alias("d0"))
    return (
        bounds.crossJoin(F.broadcast(horizon))
        .select(key_col, F.explode(F.sequence("d0", "d1")).alias(day_col))
    )


def gap_fill_locf(daily: DataFrame, key_col: str, day_col: str,
                  value_col: str, horizon: DataFrame,
                  filled_alias: str = "filled",
                  gap_alias: str = "is_gap") -> DataFrame:
    """Left-join the sparse series onto its scaffold and forward-fill.

    Emits one row per (key, day) in the dense grid with
    ``filled_alias`` = the most recent non-null value at-or-before the
    day and ``gap_alias`` = whether the day had no observation.  The
    first day per key is always observed (the scaffold starts at the
    key's min day), so the fill never yields null.
    """
    grid = daily_scaffold(daily, key_col, day_col, horizon)
    joined = grid.join(daily, [key_col, day_col], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key_col,
        day_col,
        F.last(value_col, ignorenulls=True).over(w).alias(filled_alias),
        F.col(value_col).isNull().alias(gap_alias),
    )


def gap_fill_interpolate(daily: DataFrame, key_col: str, day_col: str,
                         value_col: str, horizon: DataFrame,
                         filled_alias: str = "filled",
                         gap_alias: str = "is_gap",
                         scale: int = 4) -> DataFrame:
    """LOCF's companion: fill gaps by LINEAR interpolation between the
    neighboring observations, time-weighted by day distance —

        filled(d) = pv + (nv - pv) · (d - pd) / (nd - pd)

    where (pd, pv) is the last observation at-or-before d and (nd, nv)
    the first at-or-after.  Days after the final observation carry the
    last value forward (LOCF tail); the first day per key is always
    observed (scaffold starts at the key's min day).

    Same scale shape as ``gap_fill_locf`` — one scaffold join plus TWO
    running-frame windows on the same key partitioning (backward for
    the previous observation, forward for the next; Spark evaluates
    both in one exchange).  The observation (day, value) travels as a
    null-when-unobserved struct so day and value can't desynchronize
    through ``last/first(ignorenulls)``.

    The interpolated value is a continuous ratio, so it is rounded
    with the engine-safe floor form (``round_fixed``); oracles pair
    with ``FLOOR(x*10^s + 0.5)/10^s``.
    """
    from ..functions.expressions import round_fixed

    grid = daily_scaffold(daily, key_col, day_col, horizon)
    joined = grid.join(daily, [key_col, day_col], "left")
    obs = F.when(
        F.col(value_col).isNotNull(),
        F.struct(F.col(day_col).alias("d"), F.col(value_col).alias("v")),
    )
    wb = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev = F.last(obs, ignorenulls=True).over(wb)
    nxt = F.first(obs, ignorenulls=True).over(wf)
    frac = F.datediff(F.col(day_col), prev["d"]).cast("double") / F.datediff(
        nxt["d"], prev["d"]
    ).cast("double")
    filled = F.when(
        nxt.isNull() | (nxt["d"] == prev["d"]), prev["v"]
    ).otherwise(prev["v"] + (nxt["v"] - prev["v"]) * frac)
    return joined.select(
        key_col,
        day_col,
        round_fixed(filled, scale).alias(filled_alias),
        F.col(value_col).isNull().alias(gap_alias),
    )


def _tail_truncated(df: DataFrame, key_col: str, order_cols: list[str],
                    value_col: str, tail: int) -> tuple[DataFrame, DataFrame]:
    """Bound the tail-fold collects: (per-key counts, per-key LAST
    ``tail`` rows) with MAP-SIDE TRUNCATION, entirely JVM-side.

    The naive form collects a key's FULL ordered history into one
    aggregation-buffer array and slices the last ``tail`` values: the
    fold is bounded but the collect is not — a key with 10⁸ events
    materializes a 10⁸-element array in a single buffer row (executor
    OOM at 100× scale).  Here the truncation is a descending
    ``row_number() <= tail`` window, which Catalyst rewrites into a
    **WindowGroupLimit pair** (rank-limit pushdown,
    ``spark.sql.optimizer.windowGroupLimitThreshold``, tail ≪ 1000):
    the Partial node truncates each input partition to its per-key
    last-``tail`` rows BEFORE the exchange — correct because the
    last-k of a union is the last-k of the per-part last-k's
    (``order_cols`` is a total order per key) — so the shuffle moves
    at most ``tail · keys · partitions`` rows and the Final node cuts
    the residue to exactly ``tail``.  Same effect as a hand-rolled
    ``grouped_topk_partial`` stage but with zero Python in the path
    (plan shape pinned in tests/test_plans.py).  Per-key state
    anywhere downstream is ≤ ``tail`` elements at ANY history length,
    and the downstream groupBy-collect rides the window's key
    partitioning with no further exchange.

    ``n_events`` still counts the full (null-filtered) history — a
    separate map-side-combined count aggregate on the same narrow
    projection (cheap: the shuffle carries partial counts, one row
    per key per partition).

    The truncation window orders by ``order_cols`` with ``value_col``
    as a final DESCENDING tiebreaker (ADVICE r9 #1): callers'
    contract is a unique trailing order column, but if that contract
    is ever violated the tiebreaker keeps the truncated SET — and
    therefore the downstream fold — deterministic (rows tying on the
    full (order_cols, value) tuple are interchangeable for the fold).
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_events"))
    oc = list(order_cols)
    narrow = df.select(key_col, *oc, value_col)
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in oc], F.col(value_col).desc()
    )
    trunc = (
        narrow.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= tail)
        .drop("__rn")
    )
    return counts, trunc


def ewma_last(df: DataFrame, key_col: str, order_cols: list[str],
              value_col: str, decay: float = 0.9,
              tail: int = 8) -> DataFrame:
    """Per-key exponentially-weighted moving average of the LAST
    ``tail`` values in ``order_cols`` order (normalized weights —
    the pandas ``ewm(adjust=True)`` form restricted to a bounded
    tail; the reference smooths BP series with grouped running means,
    3_blood_pressure.R:141-166 — this is the exponentially-decayed
    generalization).

    One groupBy collects each key's ordered (order..., value) structs;
    ``sort_array`` orders them (the trailing order column must be
    unique per key for determinism) and a single left fold
    ``acc*decay + x`` over the tail slice IS the weighted numerator:
    after folding L values it equals sum_i decay^(L-1-i) * x_i.  The
    weight sum is computed by the SAME fold over constant 1.0s rather
    than the closed form (1-decay^L)/(1-decay) — deliberately: the
    closed form mixes engine-specific literal arithmetic (DuckDB's
    `1.0 - 0.9` is exact DECIMAL 0.1, Python/Spark's is the double
    0.09999999999999998), while twin folds run the identical IEEE op
    sequence on both engines and agree bit-for-bit before any
    presentation round.  No per-row window state, no recursion, no
    UDF.

    Scale: the history is PRE-TRUNCATED map-side (``_tail_truncated``:
    a descending row_number ≤ tail that Catalyst rewrites into the
    JVM-side WindowGroupLimit Partial/Final pair) so the collected
    per-key array is ≤ ``tail`` elements at any history length — no
    unbounded aggregation buffer anywhere; one extra cheap count pass
    carries the full n_events.

    Null measurements are SKIPPED (the SUM/AVG convention) — without
    the explicit filter, Spark's collect_list silently drops nulls
    while count() keeps them, desynchronizing n_events from the
    folded list (and DuckDB's list() keeps nulls, diverging further).
    Keys whose every value is null emit no row.

    Output: (key, n_events, ewma_last) — ewma_last is an unrounded
    double (callers present with round_fixed)."""
    df = df.filter(F.col(value_col).isNotNull())
    counts, trunc = _tail_truncated(df, key_col, order_cols, value_col, tail)
    seq = trunc.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(F.struct(*order_cols, value_col))
        ).alias("seq"),
    ).join(counts, key_col)
    l8 = F.slice(
        F.col("seq"),
        F.greatest(F.size("seq") - (tail - 1), F.lit(1)),
        F.lit(tail),
    )
    vals = F.transform(l8, lambda x: x[value_col])
    length = F.size(vals)
    num = F.aggregate(
        F.slice(vals, 2, F.greatest(length - 1, F.lit(1))),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: acc * F.lit(decay) + x,
    )
    denom = F.aggregate(
        F.slice(vals, 2, F.greatest(length - 1, F.lit(1))),
        F.lit(1.0),
        lambda acc, x: acc * F.lit(decay) + F.lit(1.0),
    )
    return seq.select(
        F.col(key_col), F.col("n_events"), (num / denom).alias("ewma_last")
    )


def cusum_alarms(df: DataFrame, key_col: str, order_cols: list[str],
                 value_col: str, level: float = 55.0,
                 threshold: float = 30.0) -> DataFrame:
    """Per-key one-sided CUSUM change detector with reset-on-alarm:
    S_t = max(0, S_{t-1} + x_t - level); when S_t exceeds
    ``threshold`` an alarm fires and S resets to 0 (Page 1954's
    decision-interval scheme — the sequential upgrade of the
    reference's fixed plausibility bands, 3_blood_pressure.R:87-96:
    a run of mildly-high values alarms even though no single value
    crosses a band).

    The recurrence is nonlinear (max + conditional reset), so no
    window frame expresses it; like ``ewma_last`` it distributes as
    ONE groupBy collecting each key's ordered values and a single
    left fold with a (state, alarm-count) struct accumulator — each
    step computes max(0, s + x - level) ONCE from the previous
    struct and branches both fields on it.  No per-row window state,
    no UDF, no iteration.

    Scale: one shuffle on the key; per-key state is the collected
    value list (pre-truncate unbounded histories with a
    latest-k-per-key window).

    Null measurements are SKIPPED (same contract and reason as
    ``ewma_last``); all-null keys emit no row.

    Output: (key, n_events, n_alarms, final_s) — final_s unrounded
    (callers present with round_fixed)."""
    df = df.filter(F.col(value_col).isNotNull())
    seq = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sort_array(
            F.collect_list(F.struct(*order_cols, value_col))
        ).alias("seq"),
    )
    vals = F.transform(F.col("seq"), lambda x: x[value_col])

    def step(acc, x):
        t = F.greatest(
            F.lit(0.0), acc["s"] + x.cast("double") - F.lit(level)
        )
        fired = t > F.lit(threshold)
        return F.struct(
            F.when(fired, F.lit(0.0)).otherwise(t).alias("s"),
            (acc["a"] + F.when(fired, F.lit(1)).otherwise(F.lit(0)))
            .alias("a"),
        )

    folded = F.aggregate(
        vals,
        F.struct(F.lit(0.0).alias("s"), F.lit(0).alias("a")),
        step,
    )
    return seq.select(
        F.col(key_col),
        F.col("n_events"),
        folded["a"].alias("n_alarms"),
        folded["s"].alias("final_s"),
    )


def holt_linear_last(df: DataFrame, key_col: str, order_cols: list[str],
                     value_col: str, alpha: float = 0.5,
                     beta: float = 0.25, tail: int = 12) -> DataFrame:
    """Per-key Holt linear-trend (double exponential) smoothing over
    the LAST ``tail`` values: level l' = α·x + (1-α)(l+b), trend
    b' = β(l'-l) + (1-β)b, initialized l=x₀, b=0 — the trend-aware
    sibling of ``ewma_last`` and the classical one-step forecaster
    (forecast = l + b).

    Same distributed shape as the EWMA fold: the history is
    PRE-TRUNCATED map-side (``_tail_truncated``) so the collected
    per-key array is ≤ ``tail`` elements at any history length, then
    a single ``F.aggregate`` with a struct accumulator (l, b) runs
    the recurrence as an ordered left fold — no per-row window state,
    no recursion, no UDF, no unbounded aggregation buffer.  The DEFAULT α=0.5, β=0.25 are exact binary
    fractions, so α, 1-α, β, 1-β are bit-identical literals in any
    engine (no DECIMAL-vs-double literal divergence, the hazard the
    EWMA twin-fold works around); an oracle reproduces the fold as a
    recursive CTE with the same IEEE expression order.

    Null-measurement contract (SURVEY §7 r7→r8 step 5): null values
    are SKIPPED explicitly; all-null keys emit no row.

    Output: (key, n_events, level, trend) — unrounded doubles, callers
    present with round_fixed; the 1-step forecast is level + trend.
    """
    df = df.filter(F.col(value_col).isNotNull())
    counts, trunc = _tail_truncated(df, key_col, order_cols, value_col, tail)
    seq = trunc.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(F.struct(*order_cols, value_col))
        ).alias("seq"),
    ).join(counts, key_col)
    lt = F.slice(
        F.col("seq"),
        F.greatest(F.size("seq") - (tail - 1), F.lit(1)),
        F.lit(tail),
    )
    vals = F.transform(lt, lambda x: x[value_col].cast("double"))
    a, one_a = F.lit(float(alpha)), F.lit(1.0 - alpha)
    bt, one_b = F.lit(float(beta)), F.lit(1.0 - beta)
    init = F.struct(
        F.element_at(vals, 1).alias("l"),
        F.lit(0.0).alias("b"),
    )

    def step(acc, x):
        lp = a * x + one_a * (acc["l"] + acc["b"])
        bp = bt * (lp - acc["l"]) + one_b * acc["b"]
        return F.struct(lp.alias("l"), bp.alias("b"))

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        init,
        step,
    )
    return seq.select(
        F.col(key_col),
        F.col("n_events"),
        folded["l"].alias("level"),
        folded["b"].alias("trend"),
    )
