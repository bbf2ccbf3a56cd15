"""Byte-pair-encoding merge-table training (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" —
public literature), distributed the way the algorithm factors:

BPE statistics are a function of the WORD FREQUENCY table, not the
corpus: tokenize once, count distinct words (the only corpus-sized
shuffle), and run every merge iteration against the compact
(word, freq, symbols) relation — at 100 TB the corpus has billions of
rows but only millions of distinct words, so the iterating set is
~1000x smaller than the data.  Each iteration is one pair-count
aggregation (adjacent symbol pairs weighted by word frequency), a
1-row deterministic argmax (count DESC, then lexicographic — the
driver holds only the merge table itself, n_merges rows), and a
narrow per-word array fold applying the merge left-to-right
non-overlapping:

    acc ends with `a` and next symbol is `b`  ->  replace last with ab
    otherwise                                 ->  append

``localCheckpoint`` truncates the growing lineage per iteration (the
k-means treatment); without it iteration k replays all k-1
prior rewrites inside every pair-count job.

Reference analog: none — the reference has no subword machinery; this
is part of the LLM-curation surface (SURVEY.md §2-extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens


def _merge_once(s, a: str, b: str):
    """Left fold applying one merge rule to a symbol array."""
    merged = a + b
    return F.aggregate(
        s,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(spark: SparkSession, df: DataFrame, text_col: str = "text",
              n_merges: int = 8) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the
    merge table (rank, left, right, merged, support) — support is the
    frequency-weighted pair count at the time of the merge.  Stops
    early if the corpus runs out of adjacent pairs."""
    merges, _ = bpe_train_encode(spark, df, text_col, n_merges)
    return merges


def bpe_train_encode(
    spark: SparkSession, df: DataFrame, text_col: str = "text",
    n_merges: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Train AND encode in one pass: the final iteration's symbol
    table IS the encoding of every distinct word under the learned
    merges, so it comes for free.  Returns (merge table,
    (word, freq, s) encoded-word table) — downstream, corpora encode
    by joining their exploded tokens against the word table (shuffle
    on word, or broadcast when the vocabulary fits)."""
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = words.select(
        "word", "freq", F.split("word", "").alias("s")
    ).localCheckpoint()

    merges: list[tuple[int, str, str, str, int]] = []
    for k in range(1, n_merges + 1):
        pair_idx = F.sequence(F.lit(1), F.size("s") - 1)
        pairs = (
            syms.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at(F.col("s"), i).alias("a"),
                            F.element_at(F.col("s"), i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("a"), F.col("b")
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((k, a, b, a + b, cnt))
        syms = syms.withColumn(
            "s", _merge_once(F.col("s"), a, b)
        ).localCheckpoint()

    merge_df = spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "support long",
    )
    return merge_df, syms
