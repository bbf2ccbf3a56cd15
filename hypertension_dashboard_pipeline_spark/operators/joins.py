"""Join operators (reference J1-J8 and U1, SURVEY.md §2.3/§2.7).

Every reference join is an equi-join on the patient key (one composite
case). On a cluster, the big patient-keyed joins are sort-merge joins
shuffled on the key; codelist-sized sides broadcast. AQE re-plans
strategy and splits skewed partitions at runtime, so nothing here picks
a physical join or forces a broadcast.
"""

from __future__ import annotations

from functools import reduce
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def enrich(left: DataFrame, right: DataFrame,
           on: str | Sequence[str]) -> DataFrame:
    """Reference J1: left outer join attaching flags/BP back to the
    cohort (3_blood_pressure.R:293-295)."""
    return left.join(right, on=on, how="left")


def pair(a: DataFrame, b: DataFrame, on: Sequence[str]) -> DataFrame:
    """Reference J3: composite-key inner join — pair same-day SBP and
    DBP readings on (patient, date) (3_blood_pressure.R:203-205)."""
    return a.join(b, on=list(on), how="inner")


def has_evidence(cohort: DataFrame, evidence: DataFrame,
                 on: str | Sequence[str]) -> DataFrame:
    """Reference J6 (and the J2+distinct idiom): keep cohort rows with
    at least one matching evidence row (2_data_importing_cleaning.R:395-397).

    LEFT SEMI: never duplicates cohort rows, never carries evidence
    columns through the shuffle — strictly less data movement than the
    reference's inner-join-then-distinct.
    """
    return cohort.join(evidence, on=on, how="left_semi")


def exclude(cohort: DataFrame, exclusion: DataFrame,
            on: str | Sequence[str]) -> DataFrame:
    """Reference J5: anti-join cohort exclusion
    (2_data_importing_cleaning.R:399-400)."""
    return cohort.join(exclusion, on=on, how="left_anti")


def evidence_union(key: str, *domains: DataFrame) -> DataFrame:
    """Reference J4/U1: the union of patient keys flagged in any domain.

    The reference chains full outer joins to merge exclusion keys across
    condition/measurement/observation/procedure domains
    (2_data_importing_cleaning.R:389-392); since only the key survives
    downstream, the scalable formulation is a key-column union +
    distinct — one shuffle on the key, no wide rows.
    """
    keys = [d.select(F.col(key)) for d in domains]
    return reduce(DataFrame.unionByName, keys).distinct()


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str = "ts", right_ts: str = "ts",
              payload: Sequence[str] | None = None) -> DataFrame:
    """Backward as-of join: attach to each left row the most recent
    right row with ``right_ts <= left_ts`` sharing the key (the
    time-series "last known value" join Spark has no native operator
    for; DuckDB/pandas call it ASOF).

    Spark-first formulation — NOT a range-exploded join: both sides are
    tagged and unioned, then ONE per-key window ordered by
    ``(ts, side)`` carries the latest right payload forward
    (``F.last(ignorenulls)`` over an unbounded-preceding frame, a
    running accumulator Tungsten evaluates in a single pass per key).
    One shuffle on the key; skew and output size are those of the
    inputs, never of the match cross-product. Right rows order before
    left rows at equal ts, giving ``<=`` (not ``<``) semantics,
    matching ASOF backward.

    The right payload is carried as a STRUCT so a right row whose
    payload fields are null still matches (``ignorenulls`` skips only
    rows with no right struct at all, i.e. left rows).

    Left rows with no preceding right row keep null payload (ASOF LEFT
    JOIN). Right must be unique per ``(key, right_ts)`` for the match
    to be well-defined; callers pre-aggregate ties away.
    """
    keys = list(on)
    pay = list(payload) if payload is not None else [
        c for c in right.columns if c not in {*keys, right_ts}
    ]
    clash = [c for c in pay if c in left.columns]
    if clash:
        raise ValueError(f"payload columns collide with left side: {clash}")

    r = right.select(
        *keys,
        F.col(right_ts).alias("__asof_ts"),
        F.struct(*[F.col(c) for c in pay]).alias("__asof_pay"),
        F.lit(0).alias("__asof_side"),
    )
    l = left.withColumn("__asof_ts", F.col(left_ts)).withColumn(
        "__asof_side", F.lit(1)
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__asof_ts").asc(), F.col("__asof_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        l.unionByName(r, allowMissingColumns=True)
        .withColumn("__asof_m", F.last("__asof_pay", ignorenulls=True).over(w))
        .filter(F.col("__asof_side") == 1)
    )
    return matched.select(
        *left.columns,
        *[F.col("__asof_m")[c].alias(c) for c in pay],
    )


def range_join(a: DataFrame, b: DataFrame, on: Sequence[str],
               ts_a: str = "ts", ts_b: str = "ts",
               max_gap_sec: int = 120) -> DataFrame:
    """Band/interval join: all pairs with ``|ts_a - ts_b| <= max_gap``
    sharing the key, without the naive inequality join's per-key
    cross-product.

    Each side is binned to ``max_gap``-wide time buckets; side ``b`` is
    replicated into its bucket and both neighbors, the join is a plain
    EQUI-join on ``(key, bucket)``, and the exact band predicate
    filters the residue. Any qualifying pair lands in exactly one
    bucket equality (a's own bucket vs b's replica), so no dedup pass
    is needed. Cost scales with rows-per-bucket, not rows-per-key —
    the standard bounded-band formulation that survives hot keys at
    100 TB. Result columns: a.* plus ``gap_us`` plus the b payload
    columns (callers alias collisions away beforehand).
    """
    keys = list(on)
    clash = [c for c in b.columns if c in a.columns and c not in keys]
    if clash:
        raise ValueError(f"b columns collide with a: {clash}")
    gap_us = int(max_gap_sec) * 1_000_000

    a2 = a.withColumn("__us_a", F.unix_micros(F.col(ts_a))).withColumn(
        "__bucket", F.expr(f"unix_micros({ts_a}) DIV {gap_us}")
    )
    b2 = (
        b.withColumn("__us_b", F.unix_micros(F.col(ts_b)))
        .withColumn(
            "__bucket",
            F.explode(
                F.array(
                    F.expr(f"unix_micros({ts_b}) DIV {gap_us} - 1"),
                    F.expr(f"unix_micros({ts_b}) DIV {gap_us}"),
                    F.expr(f"unix_micros({ts_b}) DIV {gap_us} + 1"),
                )
            ),
        )
    )
    joined = a2.join(b2, on=[*keys, "__bucket"]).filter(
        F.abs(F.col("__us_b") - F.col("__us_a")) <= gap_us
    )
    b_pay = [c for c in b.columns if c not in keys]
    return joined.select(
        *[F.col(c) for c in a.columns],
        (F.col("__us_b") - F.col("__us_a")).alias("gap_us"),
        *[F.col(c) for c in b_pay],
    )


def salted_join(skewed: DataFrame, other: DataFrame, on: str,
                salt_buckets: int = 16) -> DataFrame:
    """Inner equi-join that survives extreme key skew: the skewed side
    gets a random-but-deterministic salt (hash of its whole row via
    monotonically increasing id is NOT deterministic — use xxhash64 of
    all columns), the other side is exploded across all salt values,
    and the join key becomes (key, salt) — a hot key's rows spread over
    ``salt_buckets`` reducers instead of one.

    AQE's skew-join split (on by default in session.py) handles most
    skew by splitting oversized partitions; this manual form remains
    for the pathological case AQE can't fix — a single join key larger
    than executor memory — at the cost of replicating the other side
    ``salt_buckets``×. Exact same result set as a plain inner join
    (oracle-checked).
    """
    skew_salted = skewed.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]),
               F.lit(salt_buckets)),
    )
    other_exploded = other.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return skew_salted.join(other_exploded, on=[on, "__salt"]).drop("__salt")


def merge_upsert(target: DataFrame, source: DataFrame,
                 on: Sequence[str],
                 version_col: str | None = None) -> DataFrame:
    """SCD-type-1 MERGE: upsert ``source`` rows into ``target`` —
    matched keys take the source row (update), unmatched source keys
    append (insert), unmatched target keys survive untouched. The
    DataFrame form of ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN
    NOT MATCHED THEN INSERT`` (Spark has the statement only for
    catalog tables that support row-level ops).

    Formulation: tag + union + one per-key window keeping the winning
    row — a single shuffle on the key, no join at all, and the window
    is a max-1-row-per-key reduction AQE handles like any groupBy.
    ``version_col`` (when given) orders candidates newest-first before
    the source-beats-target tie-break, so late-arriving stale source
    rows do not clobber a newer target. Both inputs must be unique per
    key (upstream contract, same as SQL MERGE's cardinality rule).

    At 100 TB the same plan holds: the union is scan-concatenation,
    the window shuffles each side once on the merge key, and with both
    sides bucketed on the key it collapses to a shuffle-free
    per-bucket sort. Pair with partition-overwrite for incremental
    refresh (only partitions containing source keys rewrite).
    """
    keys = list(on)
    if set(target.columns) != set(source.columns):
        raise ValueError("merge_upsert requires identical column sets")
    tagged = target.withColumn("__src", F.lit(0)).unionByName(
        source.withColumn("__src", F.lit(1))
    )
    order = [F.col("__src").desc()]
    if version_col is not None:
        order.insert(0, F.col(version_col).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def fuzzy_join_blocked(a: DataFrame, b: DataFrame, col_a: str, col_b: str,
                       max_dist: int = 2, block_chars: int = 8) -> DataFrame:
    """Edit-distance fuzzy equi-candidate join: pairs whose string
    columns are within ``max_dist`` Levenshtein edits, found without a
    cross join by BLOCKING — candidates must share their first
    ``block_chars`` characters and have lengths within ``max_dist``.

    The blocking predicate is an EQUI-join on the prefix (hash/sort-
    merge joinable, skew bounded by the hottest prefix), the length
    band and exact ``levenshtein`` evaluate only on candidates.
    This is the standard record-linkage blocking compromise: recall
    misses pairs whose edits fall inside the prefix, in exchange for
    never materializing |a|×|b|. Callers needing full recall at small
    distance use multi-pass blocking (prefix + suffix passes).

    Output: ``(s_left, s_right, dist)`` — the two matched strings and
    their edit distance; join keys/payloads are the caller's to carry.
    """
    la = a.select(F.col(col_a).alias("s_left")).filter(
        F.col("s_left").isNotNull()
    ).distinct().withColumn("__blk", F.substring("s_left", 1, block_chars))
    lb = b.select(F.col(col_b).alias("s_right")).filter(
        F.col("s_right").isNotNull()
    ).distinct().withColumn("__blk", F.substring("s_right", 1, block_chars))
    return (
        la.join(lb, "__blk")
        .filter(
            F.abs(F.length("s_left") - F.length("s_right")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("s_left", "s_right"))
        .filter(F.col("dist") <= max_dist)
        .drop("__blk")
    )


def asof_join_forward(left: DataFrame, right: DataFrame, on: Sequence[str],
                      left_ts: str = "ts", right_ts: str = "ts",
                      payload: Sequence[str] | None = None) -> DataFrame:
    """Forward as-of join: attach to each left row the EARLIEST right
    row with ``right_ts >= left_ts`` sharing the key — the
    "next event after" lookup (time-to-next-purchase, next sensor
    reading after an alarm).  Mirror of ``asof_join``; kept as a
    separate function rather than a direction flag so the verified
    backward operator's fingerprint is untouched.

    Same Spark-first shape: tag + union + ONE per-key window, here an
    unbounded-FOLLOWING frame with ``F.first(ignorenulls)`` carrying
    the nearest right payload backward.  Left rows sort BEFORE right
    rows at equal ts (side 1 < right side 2... ordering by side puts
    left first), so an equal-timestamp right row IS eligible —
    ``>=`` semantics, matching ASOF forward.  One shuffle on the key,
    output size of the left input, no range explosion.
    """
    keys = list(on)
    pay = list(payload) if payload is not None else [
        c for c in right.columns if c not in {*keys, right_ts}
    ]
    clash = [c for c in pay if c in left.columns]
    if clash:
        raise ValueError(f"payload columns collide with left side: {clash}")

    r = right.select(
        *keys,
        F.col(right_ts).alias("__asof_ts"),
        F.struct(*[F.col(c) for c in pay]).alias("__asof_pay"),
        F.lit(2).alias("__asof_side"),
    )
    l = left.withColumn("__asof_ts", F.col(left_ts)).withColumn(
        "__asof_side", F.lit(1)
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__asof_ts").asc(), F.col("__asof_side").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = (
        l.unionByName(r, allowMissingColumns=True)
        .withColumn("__asof_m", F.first("__asof_pay", ignorenulls=True).over(w))
        .filter(F.col("__asof_side") == 1)
    )
    return matched.select(
        *left.columns,
        *[F.col("__asof_m")[c].alias(c) for c in pay],
    )
