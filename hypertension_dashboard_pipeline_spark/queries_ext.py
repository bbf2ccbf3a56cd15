"""Extension-surface queries: training-data-pipeline operators over the
``documents`` and ``embeddings`` tables (BASELINE.json north star),
plus streaming plumbing.

Oracle strategy: everything hash-based uses md5 (not engine-native
hashes like xxhash64/duckdb hash), folds sequentially, and rounds any
float that feeds a threshold or rank — so DuckDB can reproduce results
bit-for-bit. The few genuinely non-SQL ops (streaming state, pandas
plumbing) register without an oracle and get the driver's rows-only
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import text as tx
from .functions.expressions import round_fixed
from .io import load_table
from .operators import dedup as dd
from .operators import similarity as sim
from .registry import register
from .streaming.daily_window import run_available_now

# --------------------------------------------------------------------------
# DuckDB oracle building blocks (kept next to the queries they verify)
# --------------------------------------------------------------------------

# whitespace tokens; [] for blank text (matches functions.text.tokens)
_DK_TOKENS = (
    "CASE WHEN trim({c}) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim({c}), '\\s+') END"
)


def _dk_list(words: list[str]) -> str:
    inner = ", ".join(f"'{w}'" for w in words)
    return f"[{inner}]"


_DK_NORM = (
    "regexp_replace(trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g')),"
    " ' +', ' ', 'g')"
)

# distinct k-word shingles (k=3), [] when fewer than k tokens
_DK_SHINGLES = (
    "CASE WHEN len(ws) >= 3 THEN list_distinct(list_transform("
    "range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))) "
    "ELSE []::VARCHAR[] END"
)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({_DK_TOKENS.format(c='text')}) AS n_tokens,
           LENGTH(text) AS n_chars_calc
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token + char counting (extension: token accounting for
    training-data pipelines)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.char_count("text").alias("n_chars_calc"),
    )


_STOPS = tx.STOPWORDS_EN[0].split()

@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len({_DK_TOKENS.format(c='text')})::DOUBLE AS n_tok,
               CASE WHEN len({_DK_TOKENS.format(c='text')}) > 0 THEN
                   len(list_filter({_DK_TOKENS.format(c='lower(text)')},
                        t -> list_contains({_dk_list(_STOPS)}, t)))::DOUBLE
                   / len({_DK_TOKENS.format(c='text')})
               ELSE 0.0 END AS stop_raw,
               CASE WHEN LENGTH(text) > 0 THEN
                   len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / LENGTH(text)
               ELSE 0.0 END AS punct_raw
        FROM documents
    )
    SELECT doc_id,
           FLOOR((LEAST(n_tok / 100.0, 1.0)
                  + LEAST(stop_raw * 4, 1.0)
                  + GREATEST(0.0, 1.0 - punct_raw * 5)) / 3
                 * 1000000.0 + 0.5) / 1000000.0 AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristic (length / stopword / punctuation
    signals), one pass, no UDF.  Token arrays materialize in a prior
    projection so the document is split ONCE per row — the scoring
    expressions sit inside conditional branches, outside codegen
    subexpression elimination (r13 optimization; values bit-identical,
    see functions/text.quality_score_from)."""
    toked = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text",
        tx.tokens(F.col("text")).alias("_toks"),
        tx.tokens(F.lower(F.col("text"))).alias("_ltoks"),
    )
    return toked.select(
        "doc_id",
        tx.quality_score_from(
            F.col("_toks"), F.col("_ltoks"), F.col("text")
        ).alias("quality"),
    )


def _langid_oracle() -> str:
    toks = _DK_TOKENS.format(c="lower(text)")
    hit_cols = ",\n               ".join(
        f"len(list_filter({toks}, t -> list_contains({_dk_list(list(ws))}, t)))"
        f" AS hits_{lang}"
        for lang, ws in tx.LANG_MARKERS.items()
    )
    best = "GREATEST(" + ", ".join(f"hits_{m}" for m in tx.LANG_MARKERS) + ")"
    cases = "\n                ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in tx.LANG_MARKERS
    )
    return f"""
    WITH h AS (
        SELECT doc_id,
               {hit_cols}
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und'
                {cases}
           END AS lang_pred
    FROM h
    """


@register("text_lang_id", oracle=_langid_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language identification: marker-word argmax with a
    deterministic tie order (extension: language filtering)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.lang_id("text").alias("lang_pred")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_DK_NORM.format(c='text')}) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical content fingerprint: md5 over normalized text —
    engine-agnostic by construction."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.fingerprint("text").alias("fingerprint")
    )


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-digest groups with deterministic survivor.
    One shuffle on the digest; at 100 TB the digest groupBy is the
    canonical first dedup pass."""
    return dd.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


# shared oracle CTE: one (id, shingle) row per distinct 3-shingle per doc
_DK_EX = f"""
    sh AS (
        SELECT doc_id AS id, {_DK_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents)
        WHERE len(ws) >= 3
    ), ex AS (
        SELECT id, unnest(shingles) AS shingle FROM sh
    )"""


def _dk_max_df(src: str = "ex", out: str = "exf") -> str:
    """Oracle twin of shingle_pairs_jaccard's hot-shingle guard: drop
    shingles whose document frequency exceeds DEFAULT_MAX_DF before any
    pairing, mirroring the operator's default semantics."""
    import textwrap

    return textwrap.dedent(f"""\
        rare AS (
            SELECT shingle FROM {src} GROUP BY shingle
            HAVING COUNT(*) <= {dd.DEFAULT_MAX_DF}
        ), {out} AS (
            SELECT {src}.id, {src}.shingle FROM {src} JOIN rare USING (shingle)
        )""")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter JOIN sizes sa ON inter.id_a = sa.id
               JOIN sizes sb ON inter.id_b = sb.id
    WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-word-shingle Jaccard ≥ 0.1. Candidates
    come from an inverted-index self-join (docs sharing ≥1 shingle) with
    the default max_df hot-shingle cut, ∩ from per-pair match counts
    and ∪ from per-doc sizes — no cross join, no arrays through the
    shuffle, no unbounded bucket."""
    return dd.shingle_pairs_jaccard(
        load_table(spark, sf_dir, "documents"), threshold=0.1
    )


@register(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH inc AS (
        SELECT doc_id + 100000 AS doc_id,
               CASE WHEN doc_id % 2 = 0 THEN text
                    ELSE text || ' v' || doc_id END AS text
        FROM documents
    ), incfp AS (
        SELECT doc_id, text, md5({_DK_NORM.format(c='text')}) AS fp FROM inc
    ), seen AS (
        SELECT DISTINCT md5({_DK_NORM.format(c='text')}) AS fp FROM documents
    ), fresh AS (
        -- NOT EXISTS, not NOT IN: a NULL fp (NULL text) must behave like
        -- Spark's left_anti (keep the row), not void the whole predicate
        SELECT * FROM incfp
        WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fp = incfp.fp)
    ), surv AS (
        SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
    )
    SELECT f.doc_id, f.text
    FROM fresh f JOIN surv USING (fp, doc_id)
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-on-append: an incoming batch (half exact re-deliveries of
    corpus documents, half novel revisions) is reduced to only the rows
    whose normalized fingerprint is new — digest-keyed anti-join
    against the corpus plus min-id batch dedup."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("doc_id")))
        .alias("text"),
    )
    return dd.incremental_ingest(
        docs.select("doc_id", "text"), incoming
    ).select("doc_id", "text")


_DK_EX_DUPS = f"""
    shd AS (
        SELECT doc_id AS id,
               list_transform(range(1, len(ws) - 1),
                              i -> array_to_string(ws[i:i+2], ' ')) AS shingles
        FROM (SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents)
        WHERE len(ws) >= 3
    ), exd AS (
        SELECT id, unnest(shingles) AS shingle FROM shd
    )"""


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH {_DK_EX_DUPS}, cnt AS (
        SELECT id, shingle, COUNT(*) AS c FROM exd GROUP BY 1, 2
    )
    SELECT id AS doc_id,
           FLOOR(MAX(c)::DOUBLE / SUM(c) * 1000000.0 + 0.5) / 1000000.0 AS rep_ratio
    FROM cnt GROUP BY id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/repetition signal: the most frequent 3-shingle's
    share of all (positional) shingles per doc — near 1.0 for looping
    generated text, low for natural prose. Two map-side-combinable
    aggregations, no arrays through the shuffle."""
    ex = dd.exploded_shingles(
        load_table(spark, sf_dir, "documents"), distinct=False
    )
    cnt = ex.groupBy("id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnt.groupBy("id")
        .agg(
            round_fixed(
                F.max("c").cast("double") / F.sum("c"), 6
            ).alias("rep_ratio")
        )
        .withColumnRenamed("id", "doc_id")
    )


@register(
    "text_top_ngrams",
    oracle=f"""
    WITH {_DK_EX_DUPS}
    SELECT shingle, COUNT(*) AS n
    FROM exd GROUP BY shingle
    ORDER BY n DESC, shingle LIMIT 20
    """,
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide most frequent 3-shingles (contamination/boilerplate
    audit): one partial-aggregated count + TakeOrdered(20) with a
    deterministic tie-break — no global sort."""
    ex = dd.exploded_shingles(
        load_table(spark, sf_dir, "documents"), distinct=False
    )
    return (
        ex.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("shingle"))
        .limit(20)
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
        WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= 0.1
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    )
    SELECT id, MIN(r) AS component FROM reach GROUP BY id
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate groups from near-dup pairs: iterative
    min-label propagation (one groupBy per round, O(diameter) rounds,
    localCheckpoint between) — the pairs→clusters step every dedup
    pipeline needs before keep-one-per-group. Oracle: recursive-CTE
    closure computing min reachable id per node."""
    pairs = dd.shingle_pairs_jaccard(
        load_table(spark, sf_dir, "documents"), threshold=0.1
    )
    # release=False: the pairs plan still references the persisted
    # shingle intermediate; dropping it here would recompute it 4x.
    return dd.connected_components(pairs, release=False)


# NOTE: this is the third SQL rendering of tx.quality_score (the
# others: text_quality_score's oracle above, _curation_oracle below).
# They are kept as separate literal strings deliberately — each is the
# frozen oracle text of an externally-verified query — and any drift
# from tx.quality_score fails that query's parity sweep loudly, so the
# copies cannot silently diverge.
_DK_QUALITY = f"""
    q AS (
        SELECT doc_id,
               FLOOR((LEAST(len({_DK_TOKENS.format(c='text')})::DOUBLE
                            / 100.0, 1.0)
                      + LEAST(CASE WHEN len({_DK_TOKENS.format(c='text')}) > 0
                              THEN len(list_filter(
                                       {_DK_TOKENS.format(c='lower(text)')},
                                       t -> list_contains({_dk_list(_STOPS)}, t)
                                   ))::DOUBLE
                                   / len({_DK_TOKENS.format(c='text')})
                              ELSE 0.0 END * 4, 1.0)
                      + GREATEST(0.0, 1.0 -
                            CASE WHEN LENGTH(text) > 0 THEN
                                len(regexp_extract_all(text,
                                    '[^\\w\\s]'))::DOUBLE / LENGTH(text)
                            ELSE 0.0 END * 5)) / 3
                     * 1000000.0 + 0.5) / 1000000.0 AS quality
        FROM documents
    )"""


@register(
    "dedup_quality_survivor",
    oracle=f"""
    WITH RECURSIVE {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
        WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= 0.5
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    ), comp AS (
        SELECT id, MIN(r) AS component FROM reach GROUP BY id
    ), {_DK_QUALITY}, ranked AS (
        SELECT comp.component, comp.id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY comp.component
                                  ORDER BY q.quality DESC, comp.id) AS rn
        FROM comp JOIN q ON q.doc_id = comp.id
    )
    SELECT component,
           MAX(CASE WHEN rn = 1 THEN id END) AS survivor_id,
           COUNT(*) AS n_members,
           MAX(CASE WHEN rn = 1 THEN quality END) AS best_quality
    FROM ranked GROUP BY component
    """,
)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup family
    (3-shingle Jaccard ≥ 0.5 components) keep the HIGHEST-quality
    document, not the lowest id — the survivor policy a real curation
    pipeline wants (boilerplate families usually contain one clean
    original plus mangled copies).  One max-struct aggregation per
    component — (quality, -id, id) — gives argmax-with-tie-break
    without a window sort; composes the existing pair generation,
    connected components, and quality scorer unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.shingle_pairs_jaccard(docs, threshold=0.5)
    comp = dd.connected_components(pairs, release=False)
    q = docs.select(
        F.col("doc_id").alias("id"), tx.quality_score("text").alias("quality")
    )
    best = F.max(
        F.struct(
            F.col("quality").alias("q"),
            (-F.col("id")).alias("neg_id"),
            F.col("id").alias("id"),
        )
    )
    return (
        comp.join(q, "id")
        .groupBy("component")
        .agg(
            best["id"].alias("survivor_id"),
            F.count(F.lit(1)).alias("n_members"),
            best["q"].alias("best_quality"),
        )
    )


def _minhash_oracle(n_hashes: int = 16, bands: int = 4) -> str:
    rows = n_hashes // bands
    p = dd.MINHASH_PRIME
    mins = ",\n               ".join(
        f"MIN(({a} * x + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(dd.perm_params(n_hashes))
    )
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT id, {b} AS band, md5("
        + " || '|' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows))
        + ") AS bucket FROM sigs"
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""
    WITH {_DK_EX}, xs AS (
        SELECT id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {p} AS x
        FROM ex
    ), sigs AS (
        SELECT id,
               {mins}
        FROM xs GROUP BY id
    ), banded AS (
        {band_selects}
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b USING (band, bucket)
        WHERE a.id < b.id
    )
    SELECT id_a, id_b,
           FLOOR(({match_sum})::DOUBLE / {n_hashes}
                 * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
    FROM cand JOIN sigs sa ON cand.id_a = sa.id
              JOIN sigs sb ON cand.id_b = sb.id
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 16 integer permutation hashes
    min-aggregated in one groupBy (one md5 per shingle), 4 bands × 4
    rows, bucket self-join on (band, digest) carrying ids only. The
    banding bounds join fan-out — the 100 TB dedup path."""
    return dd.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n_hashes=16, bands=4
    )


_DK_TOKEN_ROWS = f"""
    tk AS (
        SELECT DISTINCT id, token FROM (
            SELECT doc_id AS id,
                   unnest({_DK_TOKENS.format(c='text')}) AS token
            FROM documents
        )
    )"""


def _simhash_sig_cte(n_bits: int = 64) -> str:
    # 64-bit token hash carried as two 32-bit halves (md5 hex digits
    # 1-8 = high word, 9-16 = low word) so no unsigned-64 literal is
    # ever parsed; bit 63 of the signature is the BIGINT sign bit, so
    # its term is -2^63 (two's complement) — written as an expression
    # because the bare literal would parse as HUGEINT.
    sums = ",\n               ".join(
        f"SUM(CASE WHEN ({'x_lo' if b < 32 else 'x_hi'} >> {b % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS s{b}"
        for b in range(n_bits)
    )
    sig = " + ".join(
        "(CASE WHEN s63 >= 0 THEN (-9223372036854775807 - 1)::BIGINT"
        " ELSE 0 END)"
        if b == 63
        else f"(CASE WHEN s{b} >= 0 THEN {2 ** b}::BIGINT ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"""
    WITH {_DK_TOKEN_ROWS}, xs AS (
        SELECT id,
               ('0x' || substr(md5(token), 1, 8))::BIGINT AS x_hi,
               ('0x' || substr(md5(token), 9, 8))::BIGINT AS x_lo
        FROM tk
    ), sums AS (
        SELECT id,
               {sums}
        FROM xs GROUP BY id
    ), sigs AS (
        SELECT id, {sig} AS simhash FROM sums
    )"""


@register(
    "text_simhash",
    oracle=_simhash_sig_cte() + "\n    SELECT id, simhash FROM sigs",
)
def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash signature: distinct tokens vote ±1
    per bit of their md5-derived hash; one explode + one groupBy with
    map-side-combinable SUMs."""
    dd.release_persisted()
    return dd.simhash_signatures(load_table(spark, sf_dir, "documents"))


def _simhash_pairs_oracle(n_bits: int = 64, chunks: int = 8,
                          max_hamming: int = 6) -> str:
    width = n_bits // chunks
    mask = (1 << width) - 1
    chunk_selects = "\n        UNION ALL\n        ".join(
        f"SELECT id, simhash, {c} AS chunk, (simhash >> {c * width}) & {mask}"
        f" AS piece FROM sigs"
        for c in range(chunks)
    )
    return (
        _simhash_sig_cte(n_bits)
        + f""", chunked AS (
        {chunk_selects}
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               a.simhash AS sig_a, b.simhash AS sig_b
        FROM chunked a JOIN chunked b USING (chunk, piece)
        WHERE a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """
    )


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 8×8-bit chunk blocking over 64-bit
    signatures (pigeonhole: max_hamming 6 < 8 chunks, so every
    qualifying pair collides on a chunk — lossless), exact Hamming via
    bit_count(xor) on candidates only."""
    return dd.simhash_pairs(load_table(spark, sf_dir, "documents"),
                            max_hamming=6)


def _simhash_groups_oracle(n_bits: int = 64, chunks: int = 8,
                           max_hamming: int = 6) -> str:
    width = n_bits // chunks
    mask = (1 << width) - 1
    chunk_selects = "\n        UNION ALL\n        ".join(
        f"SELECT simhash, {c} AS chunk, (simhash >> {c * width}) & {mask}"
        f" AS piece FROM usig"
        for c in range(chunks)
    )
    sig_cte = _simhash_sig_cte(n_bits).replace("WITH", "WITH RECURSIVE", 1)
    return (
        sig_cte
        + f""", usig AS (
        SELECT DISTINCT simhash FROM sigs
    ), chunked AS (
        {chunk_selects}
    ), spairs AS (
        SELECT DISTINCT a.simhash AS sa, b.simhash AS sb
        FROM chunked a JOIN chunked b USING (chunk, piece)
        WHERE a.simhash < b.simhash
          AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    ), sedges AS (
        SELECT sa AS s, sb AS t FROM spairs
        UNION SELECT sb, sa FROM spairs
    ), reach AS (
        SELECT s AS sig, s AS r FROM sedges
        UNION
        SELECT e.t, reach.r FROM reach JOIN sedges e ON e.s = reach.sig
    ), scomp AS (
        SELECT sig, MIN(r) AS comp FROM reach GROUP BY sig
    ), sig2comp AS (
        SELECT u.simhash, COALESCE(sc.comp, u.simhash) AS comp
        FROM usig u LEFT JOIN scomp sc ON sc.sig = u.simhash
    ), gid AS (
        SELECT s2.comp, MIN(s.id) AS group_id
        FROM sigs s JOIN sig2comp s2 USING (simhash)
        GROUP BY s2.comp
    )
    SELECT s.id, g.group_id
    FROM sigs s JOIN sig2comp s2 USING (simhash)
                JOIN gid g ON g.comp = s2.comp
    """
    )


@register("dedup_simhash_groups", oracle=_simhash_groups_oracle())
def dedup_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-output SimHash dedup: every document labeled with the min
    doc id of its transitive near-dup family — n output rows, never the
    O(family²) pair expansion ``dedup_simhash_pairs``'s contract
    forces.  Connected components run on DISTINCT signatures (a
    boilerplate family is one node); docs join their signature's
    component once.  Oracle: recursive-CTE closure over the same
    signature graph."""
    return dd.simhash_groups(load_table(spark, sf_dir, "documents"),
                             max_hamming=6)


# --------------------------------------------------------------------------
# embedding similarity
# --------------------------------------------------------------------------

_DK_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
)


def _cosine_oracle_topk() -> str:
    # zero-norm corpus vectors are excluded from scoring (WHERE guard),
    # mirroring the operator's when-guarded cosine + NULL drop — the r8
    # LATENT-BUG ROTATION fix (registry.py); the NOT isnan leg is the
    # r10 extension (NaN > 0 is TRUE in both engines, so a
    # NaN-component vector would otherwise rank FIRST under ORDER BY
    # DESC).  On a clean corpus the result is unchanged.
    dot_vq = _DK_DOT.format(a="e.v", b="q.qv")
    dot_vv = _DK_DOT.format(a="e.v", b="e.v")
    dot_qq = _DK_DOT.format(a="q.qv", b="q.qv")
    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT e.vec_id,
           FLOOR({dot_vq} / (sqrt({dot_vv}) * sqrt({dot_qq}))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM e, q
    WHERE {dot_vv} > 0 AND NOT isnan({dot_vv})
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """


@register("sim_cosine_topk", oracle=_cosine_oracle_topk())
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector (the embedding of
    vec_id=0): the exact ANN baseline. One scan + TakeOrdered — at
    scale this is the per-query cost floor that the LSH variant
    undercuts."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return sim.brute_force_topk(emb, [float(x) for x in qv], k=10)


def _near_dup_oracle(threshold: float = 0.4, n_tables: int = 4,
                     planes_per_table: int = 4, dim: int = 64) -> str:
    """Banded-LSH near-dup oracle: the hyperplanes are md5-derived
    constants (operators/similarity.py:_hyperplane), so DuckDB can apply
    the IDENTICAL blocking — the approximate operator stays exactly
    oracle-checkable instead of degrading to a rows-only check."""
    from .operators.similarity import _hyperplane

    table_buckets = []
    for t in range(n_tables):
        bits = []
        for j in range(planes_per_table):
            comps = _hyperplane(t * planes_per_table + j, dim)
            lit = "[" + ",".join(repr(c) for c in comps) + "]::DOUBLE[]"
            dotp = _DK_DOT.format(a="v", b=f"({lit})")
            bits.append(f"(CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END)")
        table_buckets.append(
            f"SELECT {t} AS t, vec_id, {' || '.join(bits)} AS b FROM e"
        )
    sigs = " UNION ALL ".join(table_buckets)

    dot_ab = _DK_DOT.format(a="a.v", b="b.v")
    dot_aa = _DK_DOT.format(a="a.v", b="a.v")
    dot_bb = _DK_DOT.format(a="b.v", b="b.v")
    dot_vv = _DK_DOT.format(a="v", b="v")
    return f"""
    WITH e AS (
        -- zero-norm vectors are excluded before bucketing on the
        -- Spark side (cosine undefined); mirror that here
        SELECT * FROM (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ) WHERE {dot_vv} > 0
    ), sigs AS (
        {sigs}
    ), cand AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM sigs x JOIN sigs y ON x.t = y.t AND x.b = y.b
                                AND x.vec_id < y.vec_id
    )
    SELECT c.id_a, c.id_b,
           FLOOR({dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb}))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM cand c JOIN e a ON c.id_a = a.vec_id JOIN e b ON c.id_b = b.vec_id
    WHERE FLOOR({dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb}))
                * 1000000.0 + 0.5) / 1000000.0 >= {threshold}
    """


@register("sim_cosine_near_dup", oracle=_near_dup_oracle())
def sim_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, cosine ≥ 0.4, via banded hyperplane
    LSH (4 tables × 4 planes, OR-amplified) — candidate generation is a
    bucket equi-join, never all-pairs.  The oracle applies the same
    deterministic blocking, so equality is exact; recall vs the
    exhaustive baseline is pinned in tests/test_similarity.py. dim
    passed explicitly — no per-call first-row probe job."""
    return sim.cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4,
        n_tables=4, planes_per_table=4, dim=64,
    )


def _ivf_oracle(n_probe: int = 2, k: int = 10) -> str:
    def dot(a: str, b: str) -> str:
        return _DK_DOT.format(a=a, b=b)

    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), cents AS (
        SELECT label, pos, FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0 AS cv
        FROM (
            SELECT label,
                   unnest(embedding::DOUBLE[]) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        )
        GROUP BY label, pos
    ), cvecs AS (
        SELECT label, list(cv ORDER BY pos) AS cvec FROM cents GROUP BY label
    ), probed AS (
        -- zero-centroid clusters (all-zero members) and NaN centroids
        -- (a NaN-component member poisons the AVG) are excluded from
        -- the ranking, mirroring the operator's guarded centroid cosine
        SELECT label
        FROM cvecs, q
        WHERE {dot('cvecs.cvec', 'cvecs.cvec')} > 0
          AND NOT isnan({dot('cvecs.cvec', 'cvecs.cvec')})
        ORDER BY FLOOR({dot('cvecs.cvec', 'q.qv')}
                 / (sqrt({dot('cvecs.cvec', 'cvecs.cvec')})
                    * sqrt({dot('q.qv', 'q.qv')}))
                 * 1000000.0 + 0.5) / 1000000.0 DESC, label
        LIMIT {n_probe}
    ), e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT e.vec_id,
           FLOOR({dot('e.v', 'q.qv')}
                 / (sqrt({dot('e.v', 'e.v')}) * sqrt({dot('q.qv', 'q.qv')}))
                 * 1000000.0 + 0.5) / 1000000.0
               AS cos_sim
    FROM e JOIN probed USING (label), q
    WHERE {dot('e.v', 'e.v')} > 0 AND NOT isnan({dot('e.v', 'e.v')})
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT {k}
    """


@register("sim_ivf_topk", oracle=_ivf_oracle())
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe approximate top-k: rank label centroids against the
    query, score only the 2 nearest clusters (~1/5 of rows here;
    1/n_clusters·n_probe in general). Fully deterministic, so unlike
    most ANN this one is oracle-checked end-to-end."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return sim.ivf_topk(emb, [float(x) for x in qv], k=10, n_probe=2)


def _lsh_bucket_topk_oracle(k: int = 10, n_planes: int = 4,
                            dim: int = 64) -> str:
    """Bucket-probe top-k oracle: the hyperplanes are md5-derived
    constants (same ones as table 0 of the near-dup blocking), so the
    bucket assignment — and therefore the approximate result set — is
    exactly reproducible in SQL. 'Approximate' here means approximate
    W.R.T. the exhaustive baseline, not nondeterministic."""
    from .operators.similarity import _hyperplane

    def bits(vec: str) -> str:
        parts = []
        for j in range(n_planes):
            comps = _hyperplane(j, dim)
            lit = "[" + ",".join(repr(c) for c in comps) + "]::DOUBLE[]"
            dotp = _DK_DOT.format(a=vec, b=f"({lit})")
            parts.append(f"(CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END)")
        return " || ".join(parts)

    dot_vq = _DK_DOT.format(a="eb.v", b="q.qv")
    dot_vv = _DK_DOT.format(a="eb.v", b="eb.v")
    dot_qq = _DK_DOT.format(a="q.qv", b="q.qv")
    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), qb AS (
        SELECT {bits('qv')} AS b FROM q
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), eb AS (
        SELECT vec_id, v, {bits('v')} AS b FROM e
    )
    SELECT eb.vec_id,
           FLOOR({dot_vq} / (sqrt({dot_vv}) * sqrt({dot_qq}))
                 * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
    FROM eb JOIN qb USING (b), q
    WHERE {dot_vv} > 0 AND NOT isnan({dot_vv})
    ORDER BY cos_sim DESC, eb.vec_id
    LIMIT {k}
    """


# Materialized-index cache: one bucket-partitioned copy of the
# embeddings table per (session, sf_dir), written on first probe and
# removed at interpreter exit.  Real deployments write the index once
# as a standing table; the cache gives the registered query the same
# read-side plan without re-bucketing per invocation.
_LSH_INDEX_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = None  # set below
_LSH_INDEX_DIRS: list[str] = []


def _lsh_index_path(spark: SparkSession, sf_dir: str) -> str:
    global _LSH_INDEX_CACHE
    import atexit
    import shutil
    import tempfile
    import weakref

    if _LSH_INDEX_CACHE is None:
        _LSH_INDEX_CACHE = weakref.WeakKeyDictionary()

        @atexit.register
        def _cleanup_lsh_index_dirs() -> None:
            while _LSH_INDEX_DIRS:
                shutil.rmtree(_LSH_INDEX_DIRS.pop(), ignore_errors=True)

    per_sf = _LSH_INDEX_CACHE.setdefault(spark, {})
    path = per_sf.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="spark_graft_lsh_index_")
        _LSH_INDEX_DIRS.append(path)
        sim.build_lsh_index(
            load_table(spark, sf_dir, "embeddings"), path, n_planes=4, dim=64
        )
        per_sf[sf_dir] = path
    return path


@register("sim_lsh_bucket_topk_indexed", oracle=_lsh_bucket_topk_oracle())
def sim_lsh_bucket_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The served-index variant of sim_lsh_bucket_topk: probe a
    materialized bucket-partitioned copy of the embeddings table, so
    the bucket equality becomes a PartitionFilter and only ~1/2^planes
    of the data is read (plan pinned in tests/test_plans.py).  Same
    deterministic hyperplanes → same result set → same oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return sim.lsh_bucket_topk_indexed(
        spark, _lsh_index_path(spark, sf_dir),
        [float(x) for x in qv], k=10, n_planes=4,
    )


@register("sim_lsh_bucket_topk", oracle=_lsh_bucket_topk_oracle())
def sim_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: score only the query's hyperplane-sign bucket
    (md5-derived deterministic hyperplanes). Approximate vs the
    exhaustive baseline (recall pinned in tests/test_similarity.py) yet
    fully deterministic, so the oracle applies the identical bucket
    filter and the result is exactly hash-checked."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return sim.lsh_bucket_topk(emb, [float(x) for x in qv], k=10, n_planes=4)


# --------------------------------------------------------------------------
# sessionization, skew-safe aggregation, pandas surfaces
# --------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, MAX(session_id) AS n_sessions, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization (30-min gap rule) via lag + running-sum
    windows — one shuffle on the user key."""
    from .operators.windows import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", gap_seconds=1800)


@register(
    "a12_salted_skew_agg",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                          AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS total
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a12_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: l_returnflag has 3 hot values —
    salting spreads phase 1 over key×16 reducers; the result is exactly
    the plain GROUP BY (which is the oracle). The salt derives from the
    (l_orderkey, l_linenumber) row identity, so retried map tasks
    re-bucket deterministically.

    The sum is EXACT DECIMAL, presented via dec_present (r8 — the
    adversarial parity sweep caught the original raw-double SUM
    diverging cross-engine on fractional quantities: float addition is
    order-dependent, and a salted two-phase sum adds in a different
    order than the oracle's single-phase sum by construction; the
    driver corpus never showed it because integer-valued quantities
    sum exactly in doubles).  Exactness is doubly load-bearing here:
    it is also what makes the salted plan provably equal to the plain
    GROUP BY at any bucket count."""
    from .functions.expressions import dec_present
    from .operators.aggregates import salted_counts

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "l_quantity", F.col("l_quantity").cast("decimal(18,6)")
    )
    out = salted_counts(li, "l_returnflag", "l_quantity", salt_buckets=16,
                        salt_cols=["l_orderkey", "l_linenumber"])
    return out.select(
        "l_returnflag", "n",
        dec_present(F.col("total").cast("decimal(38,6)")).alias("total"),
    )


@register(
    "text_scrub_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   text || ' contact: user' || doc_id ||
                   '@example.com see http://ex.com/' || doc_id,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g') AS scrubbed
    FROM documents
    """,
)
def text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails/URLs → typed placeholders) over text with
    injected contact strings, so the redaction provably fires. JVM-side
    regexp_replace — full scan speed, no UDF."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact: user"), F.col("doc_id"),
            F.lit("@example.com see http://ex.com/"), F.col("doc_id"),
        ).alias("dirty"),
    )
    return docs.select("doc_id", tx.scrub_pii("dirty").alias("scrubbed"))


@register(
    "pack_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               len({_DK_TOKENS.format(c='text')}) AS n_tokens
        FROM documents
    )
    SELECT source, doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 512.0) AS BIGINT)
               AS chunk_id
    FROM t
    WINDOW w AS (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents accumulate into ~512-token chunks
    per source via a running-total window — the distributed packing
    variant (one shuffle on the group key; chunks overshoot by at most
    one document)."""
    from .operators.packing import pack_by_token_budget

    return pack_by_token_budget(
        load_table(spark, sf_dir, "documents"), "source", "doc_id"
    )


@register(
    "sample_deterministic",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100 < 10
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% corpus sample by content-hash bucket — stable
    under repartitioning and portable across engines, unlike seeded-RNG
    df.sample. A pure narrow map: no shuffle, full pushdown."""
    from .operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    return deterministic_sample(docs, "doc_id", pct=10)


@register(
    "split_by_group",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT DISTINCT user_id,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     % 100 AS b
              FROM events)
    )
    SELECT split, COUNT(*) AS n_users
    FROM s GROUP BY split
    """,
)
def split_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: the split label is a function of the
    *user* hash, so all of an entity's rows share a split — the eval
    hygiene rule per-row sampling breaks."""
    from .operators.sampling import group_split

    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    return group_split(users, "user_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DK_TOKENS.format(c='lower(text)')}) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS N FROM documents),
    scored AS (
        SELECT t.doc_id, t.term,
               FLOOR((t.tf * (ln((1.0 + N) / (1.0 + dfc)) + 1.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        FROM tf t JOIN dfreq USING (term) CROSS JOIN nd
    ),
    r AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smooth idf, sklearn
    convention: ln((1+N)/(1+df)) + 1) — the per-doc keyword extractor
    complementing corpus-level BM25 ranking (text_bm25_topk scores
    docs FOR a query; this characterizes each doc with no query).
    Rank on the ROUNDED score (floor form, ties broken by term) so
    the cutoff is engine-stable.  Scale shape: explode + two hash
    aggregations + one token-keyed join + a per-doc window — every
    stage keyed by high-cardinality columns (doc_id or term), no
    broadcast of the vocabulary-sized df table needed."""
    docs = load_table(spark, sf_dir, "documents")
    from .functions.expressions import round_fixed

    toks = docs.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    nd = docs.agg(F.count(F.lit(1)).alias("N"))
    idf = F.log((F.lit(1.0) + F.col("N")) / (F.lit(1.0) + F.col("dfc"))) + F.lit(
        1.0
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "term", round_fixed(F.col("tf") * idf, 6).alias("tfidf")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


@register(
    "text_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'))
               AS n_bpe_ish
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-ish token accounting (letter runs / digit runs / single
    punctuation) — the budget estimator shape for BPE corpora, as a
    single JVM-side regexp_count."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.bpe_ish_token_count("text").alias("n_bpe_ish")
    )


@register(
    "a13_grouped_percentiles",
    oracle="""
    SELECT l_returnflag,
           FLOOR(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0 AS p5,
           FLOOR(quantile_cont(l_quantity, 0.9) * 10000.0 + 0.5) / 10000.0 AS p9,
           FLOOR(quantile_cont(l_quantity, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a13_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (F.percentile == PERCENTILE_CONT ==
    DuckDB quantile_cont, linear interpolation). Beyond-reference:
    distribution stats for BP-like value columns. The exact form
    shuffles whole groups — see a14_sketch_profile for the scale path."""
    from .operators.aggregates import grouped_percentiles

    return grouped_percentiles(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity"
    )


@register(
    "a14_sketch_profile",
    oracle="""
    SELECT l_returnflag, 1 AS hll_ok, 1 AS tdigest_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a14_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates: HyperLogLog++ approx distinct + t-digest
    approx median per group — fixed-size map-side-combinable state, the
    100 TB replacement for exact countDistinct/percentile on hot
    groups (``operators.aggregates.approx_distinct_and_percentiles`` is
    the production operator).

    Sketches are approximate, so raw values can't hash-match an
    external engine; instead this query is its own exact-twin harness:
    one aggregation computes sketch AND exact values side by side and
    emits per-group within-bound flags (HLL++ relative error ≤ 3·rsd;
    approx median within 10% of the exact interpolated median).  The
    oracle asserts the flags — the error bound itself is externally
    verified, not just locally (tests/test_scale_ops.py keeps the
    value-level bounds).

    Plan shape (r13 optimization): countDistinct must NOT share an
    aggregation with the imperative sketch aggregates — the planner
    rewrites a mixed distinct/non-distinct agg through an Expand that
    doubles the input, and every HLL/QuantileSummaries/Percentile
    buffer then chews the doubled stream (measured 19.9 s for the
    four-in-one agg vs 0.92 s split at sf0.1).  The exact distinct is
    its own explicit two-phase aggregation — groupBy(flag, partkey)
    then count per flag, the Expand-free form — joined back on the
    3-row group key."""
    li = load_table(spark, sf_dir, "lineitem")
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("__ad"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10_000)).alias("__am"),
        F.percentile("l_quantity", F.lit(0.5)).alias("__em"),
    )
    exact_distinct = (
        # countDistinct ignores NULL keys; the split two-phase form
        # would count a NULL group — pin the equivalence with an
        # explicit non-null filter (no-op on TPC-H, where l_partkey is
        # non-null, but the rewrite must not diverge if a generator
        # ever emits NULL keys)
        li.filter(F.col("l_partkey").isNotNull())
        .groupBy("l_returnflag", "l_partkey").agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("__ed"))
    )
    # left join: a group whose partkeys are all NULL has no exact_distinct
    # row, and countDistinct would give it 0
    g = sketches.join(exact_distinct, "l_returnflag", "left")
    ed = F.coalesce(F.col("__ed"), F.lit(0))
    return g.select(
        "l_returnflag",
        (F.abs(F.col("__ad") - ed) <= 0.15 * ed).cast("int").alias("hll_ok"),
        (F.abs(F.col("__am") - F.col("__em"))
         <= 0.10 * F.col("__em")).cast("int").alias("tdigest_ok"),
    )


@register(
    "j9_salted_skew_join",
    oracle="""
    SELECT d.label, COUNT(*) AS n,
           CAST(CAST(CAST(SUM(CAST(a.l_quantity AS DECIMAL(18,6)))
                          AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE)
               AS total_qty
    FROM lineitem a
    JOIN (SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS label
          FROM lineitem) d USING (l_returnflag)
    GROUP BY d.label
    """,
)
def j9_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted skew join: lineitem's 3-value l_returnflag is the
    pathological hot key; the salt spreads each key across 16 reducers
    while the dim side replicates 16x. Result is exactly the plain
    inner join (the oracle).

    Sum is exact DECIMAL via dec_present (r8, same finding as a12: a
    salted plan reorders float addition relative to the unsalted
    oracle, so only an order-free aggregate can claim plan
    equivalence; caught by the adversarial parity sweep on fractional
    quantities)."""
    from .functions.expressions import dec_present
    from .operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,6)").alias("l_quantity"),
        "l_orderkey", "l_linenumber",
    )
    dim = li.select("l_returnflag").distinct().withColumn(
        "label", F.concat(F.lit("flag_"), F.col("l_returnflag"))
    )
    joined = salted_join(li, dim, "l_returnflag", salt_buckets=16)
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        dec_present(
            F.sum("l_quantity").cast("decimal(38,6)")
        ).alias("total_qty"),
    )


@register(
    "p12b_strict_integer_band",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM (SELECT l_returnflag, l_quantity / 2 AS v FROM lineitem)
    WHERE v IS NOT NULL AND v BETWEEN 5 AND 20 AND v = FLOOR(v)
    GROUP BY l_returnflag
    """,
)
def p12b_strict_integer_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 strict variant: R's ``%in% 30:300`` integer-set semantics —
    values in band AND integral (SURVEY.md §2.10-2's faithful mode)."""
    from .operators.filters import plausibility_band

    df = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", (F.col("l_quantity") / 2).alias("v")
    )
    banded = plausibility_band(df, "v", 5, 20, strict_integers=True)
    return banded.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@register(
    "udf_pandas_token_count",
    oracle=f"""
    SELECT doc_id, len({_DK_TOKENS.format(c='text')}) AS py_n_tokens
    FROM documents
    """,
)
def udf_pandas_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (the engine's sanctioned slow
    path — never row-at-a-time Python). Matches the JVM-side token
    count bit-for-bit, which the oracle pins."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # note: no type annotations — the module-level `from __future__
    # import annotations` would stringify them, which pandas_udf rejects
    @pandas_udf("int")
    def py_tokens(s):
        return s.str.split().map(len)

    return load_table(spark, sf_dir, "documents").select(
        "doc_id", py_tokens(F.col("text")).alias("py_n_tokens")
    )


# --------------------------------------------------------------------------
# embedding centroids + the curation flagship
# --------------------------------------------------------------------------


@register(
    "emb_label_centroids",
    oracle="""
    SELECT label, pos, FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0
               AS centroid_val
    FROM (
        SELECT label,
               unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (the IVF coarse-quantizer build
    step): posexplode + one (label, pos) hash aggregation — fully
    distributed, no vector ever collected. Rounded with the engine-safe
    floor form so cross-engine float-sum ordering can't flip a digit
    (round_fixed also never emits -0.0, which retires the old
    ``+ 0.0`` normalizer this query carried under F.round)."""
    from .functions.expressions import round_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "v"),
        )
        .groupBy("label", (F.col("p") + 1).alias("pos"))
        .agg(round_fixed(F.avg("v"), 4).alias("centroid_val"))
    )


def _curation_oracle() -> str:
    lang_toks = _DK_TOKENS.format(c="lower(text)")
    hits = {
        lang: f"len(list_filter({lang_toks}, t -> list_contains({_dk_list(list(ws))}, t)))"
        for lang, ws in tx.LANG_MARKERS.items()
    }
    best = "GREATEST(" + ", ".join(hits.values()) + ")"
    lang_case = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        + " ".join(
            f"WHEN {hits[lang]} = {best} THEN '{lang}'" for lang in tx.LANG_MARKERS
        )
        + " END"
    )
    toks = _DK_TOKENS.format(c="text")
    quality = f"""
        FLOOR((LEAST(len({toks})::DOUBLE / 100.0, 1.0)
               + LEAST(CASE WHEN len({toks}) > 0 THEN
                       len(list_filter({lang_toks},
                            t -> list_contains({_dk_list(_STOPS)}, t)))::DOUBLE
                       / len({toks}) ELSE 0.0 END * 4, 1.0)
               + GREATEST(0.0, 1.0 - CASE WHEN LENGTH(text) > 0 THEN
                       len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                       / LENGTH(text) ELSE 0.0 END * 5)) / 3
              * 1000000.0 + 0.5) / 1000000.0
    """
    return f"""
    WITH scored AS (
        SELECT doc_id, text, source,
               {lang_case} AS lang_pred,
               {quality} AS quality
        FROM documents
    ), kept AS (
        SELECT * FROM scored WHERE lang_pred = 'en' AND quality >= 0.5
    ), exact_survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
    ), kd AS (
        SELECT k.* FROM kept k JOIN exact_survivors s USING (doc_id)
    ), sh AS (
        SELECT doc_id AS id, {_DK_SHINGLES} AS shingles
        FROM (SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM kd)
        WHERE len(ws) >= 3
    ), ex AS (
        SELECT id, unnest(shingles) AS shingle FROM sh
    ), {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), near_dup AS (
        SELECT DISTINCT id_b AS doc_id
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
        WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= 0.5
    )
    SELECT source, COUNT(*) AS n_docs,
           FLOOR(AVG(quality) * 10000.0 + 0.5) / 10000.0 AS avg_quality
    FROM kd WHERE doc_id NOT IN (SELECT doc_id FROM near_dup)
    GROUP BY source
    """


@register("curation_pipeline", oracle=_curation_oracle())
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation flagship: language filter (predicted en) →
    quality threshold → exact dedup (min-id survivor) → near-dup
    removal (3-shingle Jaccard ≥ 0.5, higher id dropped) → per-source
    survivor stats. Every stage is an engine operator; the composition
    is one lazy plan end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    # token arrays materialize ONCE per row in a prior projection: the
    # lang argmax + quality expressions reference them ~12×, and
    # conditional (CASE) branches sit outside codegen subexpression
    # elimination, so the inline form re-split the document per
    # reference (r13 optimization — scoring scan 1.31 s → 0.81 s at
    # sf0.1; values bit-identical, functions/text.*_from).  The
    # materialize_barrier matters here because of the filter below:
    # without it the optimizer substitutes the whole scoring expression
    # into a pushed-down scan predicate — 12 tokenizations per row,
    # per document, before the projection scores survivors again
    # (39 split( nodes in the plan vs 2; 1.60 s → 0.92 s).
    from .functions.expressions import materialize_barrier

    toked = docs.select(
        "doc_id", "text", "source",
        materialize_barrier(tx.tokens(F.col("text"))).alias("_toks"),
        materialize_barrier(
            tx.tokens(F.lower(F.col("text")))
        ).alias("_ltoks"),
    )
    kept = toked.select(
        "doc_id", "text", "source",
        tx.lang_id_from(F.col("_ltoks")).alias("lang_pred"),
        tx.quality_score_from(
            F.col("_toks"), F.col("_ltoks"), F.col("text")
        ).alias("quality"),
    ).filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))

    # kd feeds the near-dup machinery (which re-reads it for the
    # inverted index and the max_df cut) AND the survivor join below —
    # persisted, the regex-heavy scoring + dedup shuffle run once, not
    # three times (measured ~25% off the whole pipeline at sf0.1).
    # single_pass: the default groupBy+semi form evaluates its input in
    # both join branches — here that input is the scoring scan, so the
    # window form halves the scoring work (r13).
    dd.release_persisted()
    kd = dd._maybe_persist(
        dd.exact_dedup(kept, "text", "doc_id", single_pass=True), True
    )
    near = (
        dd.shingle_pairs_jaccard(kd, threshold=0.5, release=False)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    survivors = kd.join(near, "doc_id", "left_anti")
    from .functions.expressions import round_fixed

    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_fixed(F.avg("quality"), 4).alias("avg_quality"),
    )


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


@register(
    "streaming_stateful_counters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running counters over the event stream. With the bounded
    single-file source the final update equals the batch groupBy — the
    oracle — while exercising real state-store semantics."""
    from .streaming.stateful import run_available_now as run_stateful

    return run_stateful(spark, sf_dir)


@register(
    "streaming_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the event stream unioned with
    itself (at-least-once delivery simulation) deduplicated per
    event_id via dropDuplicatesWithinWatermark — bounded state, rows
    emitted on first arrival. The distinct events ARE the batch table,
    which is the oracle."""
    import itertools

    from .streaming.dedup import run_available_now as run_dedup

    if not hasattr(streaming_dedup, "_seq"):
        streaming_dedup._seq = itertools.count()
    # memory sinks need a fresh queryName per run within a session
    return run_dedup(spark, sf_dir, name=f"dedup_stream_{next(streaming_dedup._seq)}")


@register(
    "streaming_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.value, u.user_n_events
    FROM events e
    JOIN (SELECT user_id, COUNT(*) AS user_n_events
          FROM events GROUP BY user_id) u USING (user_id)
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrich: each micro-batch of the event
    stream joins a static per-user profile (no state store; the static
    side re-plans per batch). Bounded availableNow run equals the batch
    join — the oracle."""
    import itertools

    from .streaming.dedup import run_stream_static_join

    if not hasattr(streaming_static_join, "_seq"):
        streaming_static_join._seq = itertools.count()
    return run_stream_static_join(
        spark, sf_dir, name=f"enrich_stream_{next(streaming_static_join._seq)}"
    )


@register(
    "streaming_daily_window",
    oracle="""
    WITH wm AS (
        SELECT MAX(ts) - INTERVAL 1 DAY AS w FROM events
    ), daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               FLOOR(AVG(value) * 10000.0 + 0.5) / 10000.0 AS value_avg
        FROM events GROUP BY 1
    )
    SELECT day, n_events, value_avg
    FROM daily, wm
    WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
)
def streaming_daily_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-day aggregation with watermark,
    availableNow over the static events table.

    Deterministic and therefore oracle-checkable: with a bounded
    source the final watermark is max(ts) - 1 day, and append mode
    emits exactly the windows that watermark has closed (window end ≤
    watermark — the trailing unclosed window(s) stay in state on both
    sides). The oracle is the batch day-groupBy with the same cutoff."""
    # memory-sink rows live on the driver for the life of the temp
    # view: reuse ONE view name and drop the previous run's rows first,
    # so repeated bench/driver runs don't accumulate sink tables.
    name = "daily_window_sink"
    spark.catalog.dropTempView(name)
    return run_available_now(spark, sf_dir, name=name)


# --------------------------------------------------------------------------
# temporal joins (beyond the reference surface: as-of + band joins, the
# two time-series joins Spark has no native operator for)
# --------------------------------------------------------------------------


@register(
    "j10_asof_join",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    ), clicks AS (
        SELECT user_id, ts, ts AS clicked_at, MAX(value) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT p.event_id, p.user_id, p.ts, p.purchase_value,
           c.clicked_at, c.click_value
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def j10_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase is annotated with the user's
    most recent prior-or-simultaneous click (operators/joins.asof_join
    — union + one per-key carry-forward window, never a range-exploded
    join). Oracle: DuckDB's native ASOF LEFT JOIN, an independent
    implementation of the same semantics."""
    from .operators import joins as jn

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
        .withColumn("clicked_at", F.col("ts"))
    )
    return jn.asof_join(
        purchases, clicks, on=["user_id"],
        payload=["clicked_at", "click_value"],
    )


@register(
    "j11_range_join",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id AS click_id, ts
        FROM events WHERE event_type = 'click'
    ), e AS (
        SELECT user_id, event_id AS error_id, ts AS err_ts
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, c.ts,
           CAST(epoch_us(e.err_ts) - epoch_us(c.ts) AS BIGINT) AS gap_us,
           e.error_id, e.err_ts
    FROM c JOIN e ON c.user_id = e.user_id
     AND abs(epoch_us(e.err_ts) - epoch_us(c.ts)) <= 3600000000
    """,
)
def j11_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join: (click, error) pairs by the same user within one
    hour, via bucketed equi-join (operators/joins.range_join) instead
    of the inequality join's per-key cross-product. Oracle: the naive
    inequality join DuckDB can afford at sf0.01."""
    from .operators import joins as jn

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"),
        F.col("ts").alias("err_ts"),
    )
    return jn.range_join(
        clicks, errors, on=["user_id"], ts_a="ts", ts_b="err_ts",
        max_gap_sec=3600,
    )


def _quantized_topk_oracle(k: int = 10) -> str:
    """Replicates quantized_topk's arithmetic exactly: divide-then-
    multiply order, floor-to-BIGINT codes, sequential-fold dot product,
    round-6 de-scaled score (see operators/similarity.quantized_topk)."""
    maxabs = "list_max(list_transform({v}, x -> abs(x)))"
    qmax = maxabs.format(v="v")
    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0
    ), qs AS (
        SELECT v, CASE WHEN {qmax} = 0 THEN 1.0 ELSE {qmax} END AS maxq
        FROM q
    ), qq AS (
        SELECT list_transform(v, x -> CAST(floor(x * (127.0 / maxq)) AS BIGINT)) AS qv,
               maxq
        FROM qs
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), es AS (
        -- NaN-component vectors have no int8 code (floor(NaN) is a
        -- cast error): excluded from the index on both sides
        SELECT vec_id, v,
               CASE WHEN {qmax} = 0 THEN 1.0 ELSE {qmax} END AS maxc
        FROM e
        WHERE NOT isnan({qmax})
    ), codes AS (
        SELECT vec_id, maxc,
               list_transform(v, x -> CAST(floor(x * (127.0 / maxc)) AS BIGINT)) AS cv
        FROM es
    ), scored AS (
        SELECT c.vec_id,
               CAST(list_sum(list_transform(range(1, len(c.cv) + 1),
                                            i -> c.cv[i] * q.qv[i])) AS BIGINT) AS qdot,
               c.maxc, q.maxq
        FROM codes c, qq q
    )
    SELECT vec_id, qdot,
           FLOOR(CAST(qdot AS DOUBLE) * maxc * maxq / 16129.0
                 * 1000000.0 + 0.5) / 1000000.0 AS approx_dot
    FROM scored
    ORDER BY approx_dot DESC, vec_id
    LIMIT {k}
    """


@register("sim_quantized_topk", oracle=_quantized_topk_oracle())
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized inner-product top-k against the vec_id=0
    query vector: the compressed-index ANN path (4× smaller store than
    float32; exact BIGINT code dot products). Quantization error is
    part of the operator contract, so the oracle reproduces it
    bit-for-bit rather than degrading to a tolerance check."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return sim.quantized_topk(emb, [float(x) for x in qv], k=10)


@register(
    "a15_time_rollup",
    oracle="""
    WITH base AS (
        SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
               date_trunc('month', ts) AS m,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events
    )
    SELECT 'hour' AS grain, h AS bucket, COUNT(*) AS n_events,
           CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE)
               AS value_sum,
           FLOOR(CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR)
                      AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
               AS value_avg
    FROM base GROUP BY h
    UNION ALL
    SELECT 'day', d, COUNT(*),
           CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE),
           FLOOR(CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR)
                      AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
    FROM base GROUP BY d
    UNION ALL
    SELECT 'month', m, COUNT(*),
           CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR) AS DOUBLE),
           FLOOR(CAST(CAST(CAST(SUM(v) AS DECIMAL(28,6)) AS VARCHAR)
                      AS DOUBLE) / COUNT(*) * 10000.0 + 0.5) / 10000.0
    FROM base GROUP BY m
    """,
)
def a15_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate-style rollup: hour/day/month buckets from
    ONE fact scan, coarser grains derived from the hourly partial
    (operators/aggregates.time_rollup). Exact DECIMAL sums make the
    hierarchical re-aggregation bit-identical to the oracle's direct
    per-grain aggregation — which is the point: the 100 TB plan and
    the naive plan must agree exactly."""
    from .operators.aggregates import time_rollup

    return time_rollup(load_table(spark, sf_dir, "events"))


@register(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH inc AS (
        SELECT doc_id + 200000 AS doc_id,
               CASE WHEN doc_id % 3 = 0 THEN text
                    ELSE text || ' rev' || doc_id END AS text
        FROM documents
    ), incfp AS (
        SELECT doc_id, text, md5({_DK_NORM.format(c='text')}) AS fp FROM inc
    ), seen AS (
        SELECT DISTINCT md5({_DK_NORM.format(c='text')}) AS fp FROM documents
    ), fresh AS (
        SELECT * FROM incfp
        WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.fp = incfp.fp)
    ), surv AS (
        SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
    )
    SELECT f.doc_id, f.text
    FROM fresh f JOIN surv USING (fp, doc_id)
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered dedup-on-append: definitely-new fingerprints
    (most of a typical append) skip the exact anti-join; only Bloom
    positives reach it (operators/dedup.incremental_ingest_bloom —
    filter built from xxhash64 probes + one bit_or aggregation, no
    native Bloom API needed). Output is identical to the exact path,
    so the oracle IS the exact path's SQL — the approximation
    accelerates, never changes, the result."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" rev"), F.col("doc_id")))
        .alias("text"),
    )
    return dd.incremental_ingest_bloom(
        docs.select("doc_id", "text"), incoming
    ).select("doc_id", "text")


@register(
    "a16_kll_merge_quantiles",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS quantile, 1 AS within_bounds
    UNION ALL SELECT CAST(0.9 AS DOUBLE), 1
    UNION ALL SELECT CAST(0.99 AS DOUBLE), 1
    """,
)
def a16_kll_merge_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-day KLL quantile profile of events.value, folded
    to global p50/p90/p99 (operators/aggregates.mergeable_quantile_
    profile) — the store-sketches-not-values pattern that answers
    arbitrary-range quantiles without rescanning the fact table.

    KLL compaction is randomized, so like a14 the externally-checked
    contract is the within-bounds flags against an exact twin (exact
    percentiles at rank q ± 0.05, >3x the sketch's rank error); the
    approximate values themselves are asserted in
    tests/test_scale_ops.py."""
    from .operators.aggregates import mergeable_quantile_profile

    ev = load_table(spark, sf_dir, "events")
    return mergeable_quantile_profile(
        ev, F.date_trunc("day", F.col("ts")), "value"
    ).select("quantile", "within_bounds")


@register(
    "streaming_session_window",
    oracle="""
    WITH wm AS (
        SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM events
    ), ord AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         IS NULL
                     OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ), sess AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM ord
    ), agg AS (
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM agg, wm WHERE session_end <= wm.w
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows (F.session_window + watermark,
    state per OPEN session) over the bounded events stream — the
    incremental twin of the batch lag-based sessionize. Append mode
    emits exactly the watermark-closed sessions; the oracle recomputes
    them with the classic gap-break SQL and the same cutoff.
    Events exactly gap-apart start a NEW session (the merge window
    [t, t+gap) is half-open), hence the oracle's >= break."""
    from .streaming.sessions import run_available_now as run_sessions

    name = "session_window_sink"
    spark.catalog.dropTempView(name)
    return run_sessions(spark, sf_dir, name=name)


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ), meta AS (
        SELECT doc_id, ws,
               GREATEST(1, (GREATEST(len(ws) - 8, 0) + 55) // 56) AS n_chunks
        FROM base
    ), chunks AS (
        SELECT doc_id, ws, CAST(u.i AS INT) AS chunk_idx
        FROM meta, UNNEST(range(n_chunks)) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           len(ws[chunk_idx*56+1 : chunk_idx*56+64]) AS n_chunk_tokens,
           -- COALESCE: DuckDB's array_to_string of the empty slice a
           -- zero-token document produces is NULL, while the operator
           -- (Spark array_join) emits '' — the empty chunk text.
           -- Caught by the r8 adversarial parity sweep on the hostile
           -- documents corpus (empty/whitespace-only docs).
           COALESCE(array_to_string(ws[chunk_idx*56+1 : chunk_idx*56+64],
                                    ' '), '') AS chunk_text
    FROM chunks
    """,
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 8-token
    overlap) — the splitting complement of pack_token_budget
    (operators/packing.chunk_documents): tokenize once, explode the
    chunk indices, slice each window back out; all built-ins, 1→N
    narrow fan-out, no Python."""
    from .operators.packing import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_tokens=64, overlap=8,
    )


def _bm25_oracle(terms: list[str], k: int = 20,
                 k1: float = 1.2, b: float = 0.75) -> str:
    """Oracle twin of operators/relevance.bm25_topk with IDENTICAL
    arithmetic shape; the folded constants (k1+1, 1-b) are spliced via
    repr() so both engines start from the same doubles."""
    c_num = repr(k1 + 1.0)
    c_k1 = repr(k1)
    c_1b = repr(1.0 - b)
    c_b = repr(b)
    tok = ("CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] "
           "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END")
    df_cols = ", ".join(
        f"SUM(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    parts = []
    for i, t in enumerate(terms):
        tf = f"len(list_filter(b.ws, x -> x = '{t}'))"
        idf = f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        parts.append(
            f"{idf} * (({tf} * {c_num}) / "
            f"({tf} + {c_k1} * ({c_1b} + {c_b} * (len(b.ws) / s.avgdl))))"
        )
    score = " + ".join(["0.0"] + parts)
    return f"""
    WITH base AS (
        SELECT doc_id, {tok} AS ws FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl,
               {df_cols}
        FROM base
    )
    SELECT b.doc_id, FLOOR(({score}) * 1000000.0 + 0.5) / 1000000.0 AS bm25
    FROM base b, stats s
    ORDER BY bm25 DESC, b.doc_id
    LIMIT {k}
    """


@register("text_bm25_topk", oracle=_bm25_oracle(["hash", "join", "scan", "vector"]))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {hash, join, scan, vector}
    (operators/relevance.bm25_topk): corpus stats are one small
    aggregate spliced as literals; the scoring scan is a single pass
    of built-in higher-order functions — no shuffle, no UDF."""
    from .operators.relevance import bm25_topk

    return bm25_topk(
        load_table(spark, sf_dir, "documents"),
        ["hash", "join", "scan", "vector"], k=20,
    )


def _hybrid_rrf_oracle(terms: list[str], n: int = 50, c: int = 60,
                       k: int = 20, k1: float = 1.2, b: float = 0.75,
                       w_lex: float = 1.0, w_sem: float = 1.0) -> str:
    """Oracle twin of the RRF hybrid-retrieval composition: the BM25
    leg restates _bm25_oracle's arithmetic shape (same folded
    constants), the cosine leg restates _cosine_oracle_topk's guarded
    form, and the fusion is pure integer-rank arithmetic times the
    constant leg weights."""
    c_num, c_k1, c_1b, c_b = repr(k1 + 1.0), repr(k1), repr(1.0 - b), repr(b)
    tok = ("CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] "
           "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END")
    df_cols = ", ".join(
        f"SUM(CASE WHEN list_contains(ws, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    parts = []
    for i, t in enumerate(terms):
        tf = f"len(list_filter(b.ws, x -> x = '{t}'))"
        idf = f"ln((s.n - s.df{i} + 0.5) / (s.df{i} + 0.5) + 1.0)"
        parts.append(
            f"{idf} * (({tf} * {c_num}) / "
            f"({tf} + {c_k1} * ({c_1b} + {c_b} * (len(b.ws) / s.avgdl))))"
        )
    score = " + ".join(["0.0"] + parts)
    dot_vq = _DK_DOT.format(a="e.v", b="q.qv")
    dot_vv = _DK_DOT.format(a="e.v", b="e.v")
    dot_qq = _DK_DOT.format(a="q.qv", b="q.qv")
    return f"""
    WITH base AS (
        SELECT doc_id, {tok} AS ws FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl,
               {df_cols}
        FROM base
    ), lex AS (
        SELECT b.doc_id,
               FLOOR(({score}) * 1000000.0 + 0.5) / 1000000.0 AS bm25
        FROM base b, stats s
        ORDER BY bm25 DESC, b.doc_id
        LIMIT {n}
    ), lexr AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                    AS INTEGER) AS rank_lex
        FROM lex
    ), q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sem AS (
        SELECT e.vec_id,
               FLOOR({dot_vq} / (sqrt({dot_vv}) * sqrt({dot_qq}))
                     * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
        FROM e, q
        WHERE {dot_vv} > 0 AND NOT isnan({dot_vv})
          AND {dot_qq} > 0 AND NOT isnan({dot_qq})
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT {n}
    ), semr AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id)
                    AS INTEGER) AS rank_sem
        FROM sem
    )
    SELECT l.doc_id, l.rank_lex, s.rank_sem,
           FLOOR(({repr(float(w_lex))}::DOUBLE / ({c} + l.rank_lex)
                  + {repr(float(w_sem))}::DOUBLE / ({c} + s.rank_sem))
                 * 1000000.0 + 0.5) / 1000000.0 AS rrf
    FROM lexr l JOIN semr s ON s.vec_id = l.doc_id
    ORDER BY rrf DESC, l.doc_id
    LIMIT {k}
    """


@register(
    "text_hybrid_rrf",
    oracle=_hybrid_rrf_oracle(["hash", "join", "scan", "vector"]),
)
def text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: BM25 top-50 for the
    term query {hash, join, scan, vector} fused with cosine top-50
    against the vec_id=0 embedding — rrf = 1/(60+rank_lex) +
    1/(60+rank_sem) over documents in both lists, top-20 (the RAG
    retrieval shape).  Each leg is an already-bounded ranking, so the
    fusion windows/join touch <= 50 rows.  An empty embeddings table
    returns the typed empty result (no query vector to probe)."""
    from .operators import similarity as sim
    from .operators.relevance import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    lex = bm25_topk(docs, ["hash", "join", "scan", "vector"], k=50)
    if qrow is None:
        return lex.select(
            "doc_id",
            F.lit(0).alias("rank_lex"),
            F.lit(0).alias("rank_sem"),
            F.lit(0.0).alias("rrf"),
        ).limit(0)
    sem = sim.brute_force_topk(
        emb, [float(x) for x in qrow["embedding"]], k=50
    )
    return rrf_fuse(lex, sem, c=60, k=20)


@register(
    "text_hybrid_weighted_rrf",
    oracle=_hybrid_rrf_oracle(
        ["hash", "join", "scan", "vector"], w_lex=3.0, w_sem=1.0
    ),
)
def text_hybrid_weighted_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reciprocal-rank fusion over the same bounded top-50
    legs as text_hybrid_rrf, tilted 3:1 toward the lexical ranking —
    the production knob for a query class where BM25 is the
    more-trusted index.  The fused score stays derived purely from
    integer ranks and constant weights (one IEEE divide/multiply/add
    per leg before the shared 6dp floor-round), so the determinism
    argument of the unweighted query carries over unchanged; both
    windows still run over <= 50 rows.  An empty embeddings table
    returns the typed empty result."""
    from .operators import similarity as sim
    from .operators.relevance import bm25_topk, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    lex = bm25_topk(docs, ["hash", "join", "scan", "vector"], k=50)
    if qrow is None:
        return lex.select(
            "doc_id",
            F.lit(0).alias("rank_lex"),
            F.lit(0).alias("rank_sem"),
            F.lit(0.0).alias("rrf"),
        ).limit(0)
    sem = sim.brute_force_topk(
        emb, [float(x) for x in qrow["embedding"]], k=50
    )
    return rrf_fuse(lex, sem, c=60, k=20, w_lex=3.0, w_sem=1.0)


@register(
    "a17_hll_union_profile",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
           1 AS within_bounds
    FROM events GROUP BY event_type
    """,
)
def a17_hll_union_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count profile: per-(event_type, day) HLL
    sketches unioned register-wise per event_type
    (operators/aggregates.mergeable_distinct_profile) — range distinct
    counts from stored sketches, no rescan. HLL union is deterministic
    (register max, no randomness), and the externally-checked columns
    are the exact count plus the within-3·rsd flag."""
    from .operators.aggregates import mergeable_distinct_profile

    ev = load_table(spark, sf_dir, "events")
    return mergeable_distinct_profile(
        ev, F.date_trunc("day", F.col("ts")), "event_type", "user_id"
    )


# --------------------------------------------------------------------------
# r5 extension surface: decontamination, domain mixing, merge, fuzzy
# join, semantic dedup
# --------------------------------------------------------------------------


@register(
    "text_decontaminate",
    oracle=f"""
    WITH {_DK_EX},
    bench AS (SELECT DISTINCT shingle FROM ex WHERE id % 13 = 0),
    corp AS (SELECT * FROM ex WHERE id % 13 <> 0),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM corp GROUP BY id),
    hits AS (
        SELECT id, COUNT(*) AS n_hit FROM corp
        WHERE shingle IN (SELECT shingle FROM bench) GROUP BY id
    )
    SELECT s.id AS doc_id, s.n_sh, COALESCE(h.n_hit, 0) AS n_hit,
           FLOOR(COALESCE(h.n_hit, 0)::DOUBLE / s.n_sh
                 * 1000000.0 + 0.5) / 1000000.0 AS overlap_ratio,
           (FLOOR(COALESCE(h.n_hit, 0)::DOUBLE / s.n_sh
                  * 1000000.0 + 0.5) / 1000000.0 >= 0.2)::INT
               AS contaminated
    FROM sizes s LEFT JOIN hits h USING (id)
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scores (extension: the GPT-3 appendix-C
    n-gram overlap protocol). Every 13th document plays the held-out
    eval set; each remaining document is scored by the fraction of its
    distinct 3-gram shingles that appear anywhere in the benchmark.
    The benchmark shingle set is BROADCAST — at 100 TB the corpus side
    stays a narrow scan + one per-doc groupBy, with no self-join."""
    from .operators.decontam import contamination_scores

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    corpus = docs.filter(F.col("doc_id") % 13 != 0)
    return contamination_scores(corpus, bench, threshold=0.2).select(
        F.col("id").alias("doc_id"), "n_sh", "n_hit", "overlap_ratio",
        "contaminated",
    )


@register(
    "sample_temperature_mix",
    oracle="""
    WITH counts AS (SELECT lang, COUNT(*) AS n_d FROM documents GROUP BY lang),
    tot AS (SELECT SUM(sqrt(n_d)) AS z, SUM(n_d) AS n_total FROM counts),
    rates AS (
        SELECT lang,
               FLOOR(LEAST(1.0, 0.5 * n_total * sqrt(n_d) / z / n_d)
                     * 100000) AS thresh
        FROM counts, tot
    )
    SELECT d.doc_id, d.lang FROM documents d JOIN rates USING (lang)
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 100000 < thresh
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature-flattened language mix at ~50% overall rate:
    dominant `en` is down-sampled, tail languages kept near-whole
    (Conneau & Lample 2019 §3.1). Selection is the content-hash bucket
    — deterministic, repartition-stable, reproduced bit-for-bit by the
    oracle. Per-domain rates come from one tiny-cardinality agg that
    broadcasts back; the sample itself is a narrow map."""
    from .operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(docs, "lang", "doc_id", sample_frac=0.5).select(
        "doc_id", "lang"
    )


@register(
    "j13_merge_upsert",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    ), s AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice + 100 AS o_totalprice
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', o_totalprice
        FROM orders WHERE o_orderkey % 1000 = 0
    ), u AS (
        SELECT *, 0 AS src FROM t UNION ALL SELECT *, 1 AS src FROM s
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        FROM u
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM r WHERE rn = 1
    """,
)
def j13_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 MERGE INTO as a DataFrame operator: a source batch of
    updates (every 10th order re-priced, status U) and inserts (every
    1000th key offset past the table) upserts into orders — matched
    keys take the source row, unmatched keys pass through. One shuffle
    on the merge key, no join (tag + union + per-key window)."""
    from .operators import joins as jn

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100).alias("o_totalprice"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return jn.merge_upsert(
        orders, updates.unionByName(inserts), on=["o_orderkey"]
    )


@register(
    "j12_fuzzy_join_blocked",
    oracle="""
    WITH la AS (
        SELECT DISTINCT p_name AS s_left FROM part WHERE p_name IS NOT NULL
    ), lb AS (
        SELECT DISTINCT substr(p_name, 1, length(p_name) - 1) AS s_right
        FROM part WHERE p_name IS NOT NULL
    )
    SELECT s_left, s_right, levenshtein(s_left, s_right) AS dist
    FROM la JOIN lb ON substr(s_left, 1, 8) = substr(s_right, 1, 8)
    WHERE abs(length(s_left) - length(s_right)) <= 2
      AND levenshtein(s_left, s_right) <= 2
    """,
)
def j12_fuzzy_join_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy join: part names vs a corrupted copy (last
    char dropped), matched within 2 Levenshtein edits. Candidates come
    from an EQUI-join on the 8-char prefix block + length band — never
    |a|×|b| — with exact edit distance only on candidates."""
    from .operators import joins as jn

    part = load_table(spark, sf_dir, "part")
    corrupted = part.select(
        F.expr("substring(p_name, 1, length(p_name) - 1)").alias("p_name")
    )
    return jn.fuzzy_join_blocked(part, corrupted, "p_name", "p_name",
                                 max_dist=2, block_chars=8)


def _semdedup_oracle(threshold: float = 0.4) -> str:
    dot_ab = _DK_DOT.format(a="a.v", b="b.v")
    dot_aa = _DK_DOT.format(a="a.v", b="a.v")
    dot_bb = _DK_DOT.format(a="b.v", b="b.v")
    dot_vv = _DK_DOT.format(a="v", b="v")
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), ep AS (
        -- only positive-norm vectors can pair (zero vectors always
        -- survive — mirrors the Spark operator's zero-norm exclusion)
        SELECT * FROM e WHERE {dot_vv} > 0
    ), removed AS (
        SELECT DISTINCT b.vec_id
        FROM ep a JOIN ep b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE FLOOR({dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb}))
                    * 1000000.0 + 0.5) / 1000000.0
              >= {threshold}
    )
    SELECT e.vec_id, e.label FROM e
    WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.vec_id = e.vec_id)
    """


@register("sim_semdedup", oracle=_semdedup_oracle())
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): within each precomputed cluster
    (the `label` column plays the k-means assignment), drop every
    vector with a lower-id neighbor at cosine ≥ 0.4; survivors keep
    one representative per semantic neighborhood. The pair space is
    bounded per cluster — the operator never compares across clusters,
    which is what makes semantic dedup tractable at 100 TB."""
    return sim.semdedup_survivors(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("vec_id", "label")


def _batch_ann_oracle(k: int = 5, n_queries: int = 8) -> str:
    dot_cq = _DK_DOT.format(a="c.v", b="q.qv")
    dot_cc = _DK_DOT.format(a="c.v", b="c.v")
    dot_qq = _DK_DOT.format(a="q.qv", b="q.qv")
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}
    ), c AS (
        SELECT vec_id, v FROM e WHERE vec_id >= {n_queries}
    ), s AS (
        -- zero-norm AND NaN guard on BOTH sides (corpus vector AND
        -- query vector are data here), mirroring the guarded cosine
        SELECT q.query_id, c.vec_id,
               FLOOR({dot_cq} / (sqrt({dot_cc}) * sqrt({dot_qq}))
                     * 1000000.0 + 0.5) / 1000000.0
                   AS cos_sim
        FROM c, q
        WHERE {dot_cc} > 0 AND NOT isnan({dot_cc})
          AND {dot_qq} > 0 AND NOT isnan({dot_qq})
    ), r AS (
        SELECT query_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM s
    )
    SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= {k}
    """


@register("sim_batch_ann_topk", oracle=_batch_ann_oracle())
def sim_batch_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-5 cosine neighbors for a BATCH of 8 query
    vectors in one corpus pass — queries broadcast, scores generated
    corpus-side, then ``grouped_topk_partial`` truncates per Arrow
    batch BEFORE the shuffle. The window form would shuffle the whole
    corpus×queries score matrix; this shuffles ≤ k·queries·batches
    rows — the difference between feasible and not at 100 TB.

    Zero-norm exclusion on BOTH sides via the when-guarded cosine +
    NULL drop (corpus vector and query vector are both data here);
    the oracle mirrors it with a two-sided self-dot WHERE guard."""
    from .operators.windows import grouped_topk_partial
    from .functions.vectors import cosine_guarded

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 8)
    scored = corpus.crossJoin(F.broadcast(queries_df)).select(
        "query_id",
        "vec_id",
        cosine_guarded(F.col("embedding"), F.col("qv"), scale=6).alias("cos_sim"),
    ).filter(F.col("cos_sim").isNotNull())
    return grouped_topk_partial(
        scored, ["query_id"], "cos_sim", "vec_id", k=5
    ).select("query_id", "vec_id", "cos_sim", "rank")


@register(
    "sample_k_per_group",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pri
        FROM documents
    ), r AS (
        SELECT lang, doc_id, pri,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY pri ASC, doc_id) AS rank
        FROM keyed
    )
    SELECT lang, doc_id, pri, rank FROM r WHERE rank <= 10
    """,
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample: 10 documents per language,
    chosen by content-hash priority (min-md5) — the distributed,
    reproducible form of per-stratum reservoir sampling. Same
    map-side-truncating top-k as the batch ANN, so a 100 TB stratum
    never shuffles whole; ties cannot occur (md5 collisions aside) and
    doc_id breaks them anyway."""
    from .operators.windows import grouped_topk_partial

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("pri")
    )
    return grouped_topk_partial(
        docs, ["lang"], "pri", "doc_id", k=10, ascending=True
    ).select("lang", "doc_id", "pri", "rank")


# --------------------------------------------------------------------------
# segment-level boilerplate removal (C4-style line dedup, r4 wave 2)
# --------------------------------------------------------------------------


@register(
    "text_segment_boilerplate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ),
    ex AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS seg_i
      FROM toks
    ),
    segs AS (
      SELECT doc_id, seg_i,
             array_to_string(ws[(seg_i * 10 + 1):(seg_i * 10 + 10)], ' ')
                 AS seg
      FROM ex
    ),
    b AS (SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3)
    SELECT doc_id,
           COUNT(*) AS n_segs,
           COUNT(*) FILTER (WHERE seg IN (SELECT seg FROM b)) AS n_boiler,
           md5(COALESCE(
             string_agg(seg, ' ' ORDER BY seg_i)
               FILTER (WHERE seg NOT IN (SELECT seg FROM b)),
             '')) AS clean_md5
    FROM segs GROUP BY doc_id
    """,
)
def text_segment_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-span removal (operators/segments): C4's
    line-level dedup adapted to line-less text via fixed 10-word
    segments.  Segments shared by >= 3 distinct documents (nav bars /
    license blocks / template boilerplate) are cut from every document;
    output is per-doc segment accounting plus the md5 of the cleaned
    reassembly (position order preserved).  Scale shape: a narrow
    segmentize, ONE document-frequency shuffle on the segment text
    (map-side partial agg), then a broadcast anti-flag and one
    reassembly groupBy — no document-vs-document comparison anywhere,
    the property that keeps it linear at 100 TB."""
    from .operators import segments as sg

    return sg.remove_boilerplate(
        load_table(spark, sf_dir, "documents"),
        text_col="text", id_col="doc_id", width=10, min_df=3,
    )


@register(
    "streaming_stream_stream_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, view_id, purchase_id, v_ts, p_ts
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p_ts >= v_ts
     AND p_ts < v_ts + INTERVAL 1 HOUR
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (view→purchase attribution within a
    1-hour horizon): watermarks on both sides + the time-range join
    condition let Spark expire buffered views/purchases older than the
    horizon, so state stays bounded at production rates — the missing
    quadrant after stream-static (streaming_static_join).  Inner joins
    emit on match, so the bounded availableNow run equals the batch
    join exactly and the oracle is plain SQL
    (streaming/stream_join.py)."""
    from .streaming.stream_join import run_attribution_available_now

    return run_attribution_available_now(spark, sf_dir)


# upper-triangle index pairs for the gram-matrix query (dims 0..7)
_GRAM_D = 8
_GRAM_PAIRS = [(i, j) for i in range(_GRAM_D) for j in range(i, _GRAM_D)]


def _gram_oracle() -> str:
    cols = ", ".join(
        f"FLOOR(SUM(CAST(embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(embedding[{j + 1}] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0"
        f" AS \"g_{i}_{j}\""
        for i, j in _GRAM_PAIRS
    )
    return f"""
    WITH agg AS (SELECT {cols} FROM embeddings)
    SELECT CAST(split_part(name, '_', 2) AS INT) AS i,
           CAST(split_part(name, '_', 3) AS INT) AS j,
           g
    FROM (UNPIVOT agg ON COLUMNS(*) INTO NAME name VALUE g)
    """


@register("emb_gram_matrix", oracle=_gram_oracle())
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment (gram) matrix over the embedding
    column, dims 0..7 upper triangle — the sufficient statistic for
    PCA/whitening computed the scale-correct way: ONE scan producing
    d*(d+1)/2 map-side-combined SUM expressions into a single-row
    aggregate (driver state = the matrix, never the data), then an
    explode to tidy (i, j, g) rows.  No per-pair scans, no explode of
    the vectors through a shuffle, no mapInPandas accumulator — the
    whole reduction rides Tungsten's partial aggregation.  The
    eigendecomposition of the returned matrix is driver-side work
    (d x d), exactly like k-means' centroid state
    (emb_kmeans_lloyd)."""
    from .functions.expressions import round_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    agg = emb.agg(
        *[
            round_fixed(
                F.sum(
                    F.col("embedding").getItem(i).cast("double")
                    * F.col("embedding").getItem(j).cast("double")
                ),
                4,
            ).alias(f"g_{i}_{j}")
            for i, j in _GRAM_PAIRS
        ]
    )
    tidy = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.lit(j).alias("j"),
                    F.col(f"g_{i}_{j}").alias("g"),
                )
                for i, j in _GRAM_PAIRS
            ]
        )
    ).alias("t")
    return agg.select(tidy).select("t.i", "t.j", "t.g")


def _gram_slice_sq() -> "Column":
    """Sum of squares over the gram dims (0.._GRAM_D-1): NaN exactly
    when the slice contains a non-finite component — the finiteness
    predicate the top-component pair filters on (only its isnan-ness
    is consumed, so fold order is irrelevant)."""
    out = F.lit(0.0)
    for i in range(_GRAM_D):
        e = F.col("embedding").getItem(i).cast("double")
        out = out + e * e
    return out


def _top_component_oracle(iters: int = 8) -> str:
    d = _GRAM_D

    def gref(i: int, j: int) -> str:
        a, b = (i, j) if i <= j else (j, i)
        return f"g_{a}_{b}"

    cols = ", ".join(
        f"FLOOR(SUM(CAST(embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(embedding[{j + 1}] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0"
        f" AS {gref(i, j)}"
        for i, j in _GRAM_PAIRS
    )
    mrows = ", ".join(
        "[" + ", ".join(gref(i, j) for j in range(d)) + "]" for i in range(d)
    )
    matvec = (
        f"list_transform(range(1, {d + 1}), i -> list_reduce("
        f"list_prepend(0.0, list_transform(range(1, {d + 1}), "
        f"j -> m[i][j] * v[j])), (a, b) -> a + b))"
    )
    sq8 = " + ".join(
        f"CAST(embedding[{i + 1}] AS DOUBLE) * "
        f"CAST(embedding[{i + 1}] AS DOUBLE)"
        for i in range(d)
    )
    ctes = [
        # rows whose gram-slice (dims 0..d-1) is non-finite are
        # excluded from the second-moment statistic: one garbage
        # NaN-component vector would otherwise turn the whole corpus'
        # dominant direction into NaN (and crash the driver-side
        # floor-round) — mirrored by the Spark query's filter
        f"g AS (SELECT {cols} FROM embeddings "
        f"WHERE NOT isnan({sq8}))",
        f"it0 AS (SELECT [{mrows}] AS m, "
        f"list_transform(range(1, {d + 1}), i -> 1.0 / sqrt({float(d)!r})) "
        f"AS v, 0.0 AS n FROM g)",
    ]
    for k in range(1, iters + 1):
        ctes.append(f"""
    it{k} AS (
        SELECT m,
               list_transform(w, x -> CASE WHEN n = 0 THEN 0.0
                                           ELSE x / n END) AS v,
               n
        FROM (
            SELECT m, w,
                   sqrt(list_reduce(list_prepend(0.0,
                        list_transform(w, x -> x * x)),
                        (a, b) -> a + b)) AS n
            FROM (SELECT m, {matvec} AS w FROM it{k - 1})
        )
    )""")
    return f"""
    WITH {", ".join(ctes)}
    SELECT CAST(u.i - 1 AS INT) AS pos,
           FLOOR(v[u.i] * 1000000.0 + 0.5) / 1000000.0 AS component,
           FLOOR(n * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue
    FROM it{iters}, (SELECT unnest(range(1, {d + 1})) AS i) u
    """


@register("emb_top_component", oracle=_top_component_oracle())
def emb_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding second-moment
    matrix (dims 0..7) by fixed-8-iteration power method — the
    all-but-the-top / whitening preparation step of an embedding
    pipeline.  Scale split exactly like emb_gram_matrix + kmeans: the
    CLUSTER computes the d×d gram in one map-side-combined scan
    (pre-rounded 4dp so both engines iterate from identical doubles);
    the DRIVER iterates on the collected d² statistic
    (operators/analytics.power_iteration_top_component — left-fold
    dot products, fixed iterations, no convergence test), which a SQL
    oracle replays as 8 unrolled list-arithmetic CTEs, bit-identical.
    Components and eigenvalue floor-round 6dp at the boundary.
    Rows whose gram-slice is non-finite are excluded from the
    statistic (one NaN-component garbage vector would otherwise turn
    the whole corpus' dominant direction into NaN); the oracle's g
    CTE carries the matching WHERE."""
    import math as _math

    from .functions.expressions import round_fixed
    from .operators.analytics import power_iteration_top_component

    emb = load_table(spark, sf_dir, "embeddings").filter(
        ~F.isnan(_gram_slice_sq())
    )
    row = emb.agg(
        *[
            round_fixed(
                F.sum(
                    F.col("embedding").getItem(i).cast("double")
                    * F.col("embedding").getItem(j).cast("double")
                ),
                4,
            ).alias(f"g_{i}_{j}")
            for i, j in _GRAM_PAIRS
        ]
    ).first()
    up = {(i, j): row[f"g_{i}_{j}"] for i, j in _GRAM_PAIRS}
    gram = [
        [up[(i, j)] if i <= j else up[(j, i)] for j in range(_GRAM_D)]
        for i in range(_GRAM_D)
    ]
    v, lam = power_iteration_top_component(gram, iters=8)

    def rf6(x: float) -> float:
        return _math.floor(x * 1000000.0 + 0.5) / 1000000.0

    rows = [(p, rf6(c), rf6(lam)) for p, c in enumerate(v)]
    return spark.createDataFrame(
        rows, "pos INT, component DOUBLE, eigenvalue DOUBLE"
    )


def _remove_top_oracle(iters: int = 8) -> str:
    d = _GRAM_D
    base = _top_component_oracle(iters)
    # reuse the iteration CTE chain; strip its final SELECT
    with_block = base.split("SELECT CAST(u.i - 1 AS INT)")[0].rstrip()
    dot = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {d + 1}), "
        f"j -> CAST(e.embedding[j] AS DOUBLE) * v[j])), (a, b) -> a + b)"
    )
    return f"""
    {with_block},
    comp AS (SELECT v FROM it{iters}),
    proj AS (
        SELECT e.vec_id, {dot} AS dot, v
        FROM embeddings e, comp
    )
    SELECT p.vec_id, CAST(u.i - 1 AS INT) AS pos,
           FLOOR((CAST(e.embedding[u.i] AS DOUBLE) - p.dot * p.v[u.i])
                 * 1000000.0 + 0.5) / 1000000.0 AS corrected
    FROM proj p
    JOIN embeddings e ON e.vec_id = p.vec_id,
         (SELECT unnest(range(1, {d + 1})) AS i) u
    """


@register("emb_remove_top_component", oracle=_remove_top_oracle())
def emb_remove_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding post-processing (Mu & Viswanath 2018):
    subtract each vector's projection onto the corpus' dominant
    direction — the cheap isotropy correction that measurably improves
    cosine retrieval, applied over the gram dims 0..7.  Composition of
    emb_top_component (driver computes the d-vector from the collected
    gram) with a pure NARROW map: the component enters the plan as d
    literals, the per-row dot is an ordered left fold, and no shuffle
    exists anywhere — at 100 TB this is a streaming-friendly
    projection pass.  Output tidied to (vec_id, pos, corrected),
    floor-rounded 6dp.  The direction comes from the same
    finite-slice-filtered statistic as emb_top_component (one garbage
    vector must not steer the corpus correction); the PROJECTION still
    covers every row — a non-finite row just projects to NaN, in both
    engines."""
    from .functions.expressions import round_fixed
    from .operators.analytics import power_iteration_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(~F.isnan(_gram_slice_sq())).agg(
        *[
            round_fixed(
                F.sum(
                    F.col("embedding").getItem(i).cast("double")
                    * F.col("embedding").getItem(j).cast("double")
                ),
                4,
            ).alias(f"g_{i}_{j}")
            for i, j in _GRAM_PAIRS
        ]
    ).first()
    up = {(i, j): row[f"g_{i}_{j}"] for i, j in _GRAM_PAIRS}
    gram = [
        [up[(i, j)] if i <= j else up[(j, i)] for j in range(_GRAM_D)]
        for i in range(_GRAM_D)
    ]
    v, _lam = power_iteration_top_component(gram, iters=8)

    e = lambda j: F.col("embedding").getItem(j).cast("double")  # noqa: E731
    dot = F.lit(0.0)
    for j in range(_GRAM_D):
        dot = dot + e(j) * F.lit(v[j])
    tidy = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("pos"),
                    round_fixed(e(i) - F.col("_dot") * F.lit(v[i]), 6).alias(
                        "corrected"
                    ),
                )
                for i in range(_GRAM_D)
            ]
        )
    ).alias("t")
    return (
        emb.select("vec_id", "embedding", dot.alias("_dot"))
        .select("vec_id", tidy)
        .select("vec_id", "t.pos", "t.corrected")
    )


@register(
    "text_lm_bigram_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) AS bg
      FROM toks
    ),
    uni AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    c2 AS (SELECT bg, COUNT(*) AS n2 FROM bi GROUP BY bg),
    c1 AS (SELECT w, COUNT(*) AS n1 FROM uni GROUP BY w),
    v AS (SELECT COUNT(*) AS nv FROM c1)
    SELECT d.doc_id,
           FLOOR(AVG(ln(CAST(c2.n2 + 1 AS DOUBLE) / (c1.n1 + v.nv)))
                 * 10000.0 + 0.5) / 10000.0
               AS lm_score,
           COUNT(*) AS n_bigrams
    FROM bi d
    JOIN c2 USING (bg)
    JOIN c1 ON c1.w = split_part(d.bg, ' ', 1)
    CROSS JOIN v
    GROUP BY d.doc_id
    """,
)
def text_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model scoring (the CCNet/KenLM
    quality-filter idea with the corpus itself as the model): per-doc
    mean log P(w2|w1) under add-one smoothing,
    ln((c(w1,w2) + 1) / (c(w1) + V)).  All counts are exact integers;
    the only floats are the final ln/avg, identical closed forms both
    engines, rounded 4dp.

    Scale shape: two count aggregations (bigram, unigram) + two
    hash joins of the exploded bigram stream against them — every step
    keyed and map-side combinable, nothing pairwise, so the cost is
    O(tokens) shuffled bytes; V rides a 1-row crossJoin.  Docs with
    < 2 tokens have no bigrams and drop out (both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tx.tokens("text").alias("ws"))
    pair_idx = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bi = toks.select(
        "doc_id",
        F.explode(pair_idx).alias("i"),
        F.col("ws"),
    ).select(
        "doc_id",
        F.col("ws")[F.col("i") - 1].alias("w1"),
        F.concat_ws(
            " ", F.col("ws")[F.col("i") - 1], F.col("ws")[F.col("i")]
        ).alias("bg"),
    )
    uni = toks.select(F.explode("ws").alias("w"))
    c2 = bi.groupBy("bg").agg(F.count("*").alias("n2"))
    c1 = uni.groupBy("w").agg(F.count("*").alias("n1"))
    v = c1.agg(F.count("*").alias("nv"))
    scored = (
        bi.join(c2, "bg")
        .join(c1, F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("n2") + 1).cast("double") / (F.col("n1") + F.col("nv"))
            ).alias("lp"),
        )
    )
    from .functions.expressions import round_fixed

    return scored.groupBy("doc_id").agg(
        round_fixed(F.avg("lp"), 4).alias("lm_score"),
        F.count("*").alias("n_bigrams"),
    )


@register(
    "sample_global_shuffle",
    oracle="""
    SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                % 16 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS INT) AS pos
    FROM documents
    """,
)
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data export: every doc
    gets a content-hash shard and a reproducible position within it —
    the (shard, pos) order is the training order, identical on any
    engine and any partitioning (no seeded RNG, no
    zipWithIndex driver coupling).

    Scale shape: shard count is the parallelism knob (pick ~ output
    file count, thousands at 100 TB); each shard's ordering is an
    independent window sort, so shards sort in parallel and each
    writer task emits exactly one ordered shard.  A global ORDER BY
    md5 would funnel everything through one range sort instead."""
    from pyspark.sql import Window

    from .operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy(h, "doc_id")
    return (
        docs.select(
            "doc_id", hash_bucket("doc_id", 16).cast("int").alias("shard")
        )
        .withColumn("pos", F.row_number().over(w))
    )


@register(
    "sample_global_index",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS global_idx
    FROM documents
    """,
)
def sample_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ordinal in deterministic content-hash order
    (operators/sampling.global_index): bucket by the md5 order key's
    first hex digit (monotone in the global order), rank locally per
    bucket in parallel, and convert the 16-row bucket-count table into
    starting offsets with an O(buckets) window — the global ROW_NUMBER
    without the single-partition sort it costs naively, which is what
    the oracle asserts it equals.  Complements sample_global_shuffle's
    (shard, pos) training order when an EXACT 0..N-1 position is
    required (resumable step counters, strided splits)."""
    from .operators.sampling import global_index

    return global_index(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )


# --------------------------------------------------------------------------
# product quantization (operators/pq.py)
# --------------------------------------------------------------------------


def _pq_sql_parts() -> tuple[str, str]:
    """(codes_cte, adc_select) fragments reproducing operators/pq.py's
    exact left-fold arithmetic; centroid constants embedded via repr()
    (round-trips to the identical double)."""
    from .operators import pq

    cb = pq.codebook()
    code_exprs = []
    for m in range(pq.M_SUB):
        dists = ", ".join(
            " + ".join(
                f"(e[{m * pq.SUB_DIM + j + 1}] - {cb[m][c][j]!r})"
                f" * (e[{m * pq.SUB_DIM + j + 1}] - {cb[m][c][j]!r})"
                for j in range(pq.SUB_DIM)
            )
            for c in range(pq.K_CODES)
        )
        code_exprs.append(
            f"CAST(list_position([{dists}], list_min([{dists}])) - 1 "
            f"AS INTEGER) AS code_{m}"
        )
    codes_cte = (
        "SELECT vec_id, " + ", ".join(code_exprs)
        + " FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"
    )
    # ADC table from the query vector (vec_id = 0), same fold order
    adc_terms = []
    for m in range(pq.M_SUB):
        lut = ", ".join(
            " + ".join(
                f"q[{m * pq.SUB_DIM + j + 1}] * {cb[m][c][j]!r}"
                for j in range(pq.SUB_DIM)
            )
            for c in range(pq.K_CODES)
        )
        adc_terms.append(f"[{lut}][code_{m} + 1]")
    adc_select = " + ".join(adc_terms)
    return codes_cte, adc_select


_PQ_CODES_CTE, _PQ_ADC_SELECT = _pq_sql_parts()


@register("emb_pq_codes", oracle=_PQ_CODES_CTE)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/pq.py): 64-dim float32
    vectors -> 8 one-byte codes against md5-derived per-subspace
    codebooks, a pure narrow map (WholeStageCodegen, no shuffle, no
    Python) — the 32x scan-compression step for 100 TB ANN.  Codes are
    integers, so the oracle check is exact; argmin ties resolve to the
    lowest code on both engines (first-minimal position over
    bit-identical left-fold distances)."""
    from .operators import pq

    return pq.encode(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH codes AS ({_PQ_CODES_CTE}),
    qv AS (
      SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           FLOOR(({_PQ_ADC_SELECT}) * 1000000.0 + 0.5) / 1000000.0
               AS adc_score
    FROM codes, qv
    ORDER BY adc_score DESC, vec_id
    LIMIT 10
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes: the query vector (one-row driver fetch,
    same pattern as the other top-k probes) expands to an 8x16 lookup
    table and every compressed vector scores with EIGHT table reads
    instead of 64 multiplies — codes, not vectors, feed TakeOrdered.
    Approximate by construction (quantization error), exactly
    reproducible by the oracle because encode + ADC share one fold
    order."""
    from .operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    codes = pq.encode(emb)
    return (
        pq.adc_scores(codes, qvec)
        .orderBy(F.desc("adc_score"), "vec_id")
        .limit(10)
    )


@register(
    "streaming_stream_stream_outer_join",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
      -- Spark's GLOBAL watermark under the default
      -- multipleWatermarkPolicy=min: watermarks attach AFTER the
      -- view/purchase filters, so the final watermark is the MIN of
      -- the two per-stream maxima minus the 2h delay — not max(ts)
      -- over all events (the two can differ by however long the
      -- quieter stream trails the busier one).
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'view'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 2 HOUR AS w
    ),
    m AS (
      SELECT v.user_id, v.view_id, p.purchase_id, v.v_ts, p.p_ts
      FROM v JOIN p
        ON v.user_id = p.user_id
       AND p_ts >= v_ts
       AND p_ts < v_ts + INTERVAL 1 HOUR
    )
    SELECT * FROM m
    UNION ALL
    SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS purchase_id,
           v.v_ts, CAST(NULL AS TIMESTAMP) AS p_ts
    FROM v, wm
    WHERE v.view_id NOT IN (SELECT view_id FROM m)
      AND v.v_ts + INTERVAL 1 HOUR < wm.w
    """,
)
def streaming_stream_stream_outer_join(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: unmatched views emit a
    null-joined row only after the watermark proves no match can still
    arrive (state eviction) — the semantics that make outer joins of
    two live streams well-defined.  Over the bounded run the emitted
    set is matched-pairs ∪ {unmatched views whose whole match window
    sits below the final GLOBAL watermark}; under the default
    multipleWatermarkPolicy=min and per-stream watermarks attached
    after the type filters, that is LEAST(max view ts, max purchase
    ts) − 2h, which the oracle's wm CTE mirrors exactly.  Younger
    views stay in state and don't emit (deterministic prefix, same
    contract as streaming_daily_window)
    (streaming/stream_join.py)."""
    from .streaming.stream_join import run_attribution_outer_available_now

    return run_attribution_outer_available_now(spark, sf_dir)


@register(
    "dedup_prefix_filter_pairs",
    oracle=f"""
    WITH {_DK_EX}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM ex GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 AS jaccard
    FROM inter JOIN sizes sa ON inter.id_a = sa.id
               JOIN sizes sb ON inter.id_b = sb.id
    WHERE 5 * n_inter >= 3 * (sa.n_sh + sb.n_sh - n_inter)
    """,
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs 3-shingle Jaccard >= 3/5 by prefix filtering
    (AllPairs/PPJoin): each document indexes only its n - ceil(t*n) + 1
    globally-rarest shingles, which provably still catches every
    qualifying pair, so — unlike dedup_ngram_jaccard's max_df cut —
    the hot-shingle guard costs no semantics.  The oracle is the
    UNfiltered brute-force inverted index: the cross-check asserts the
    pruned plan reproduces exhaustive semantics exactly.  All
    threshold tests are integer (5*I >= 3*U); the float column is
    presentation only (operators/dedup.py prefix_filter_pairs)."""
    return dd.prefix_filter_pairs(load_table(spark, sf_dir, "documents"))


def _gopher_oracle() -> str:
    toks = _DK_TOKENS.format(c="lower(coalesce(text, ''))")
    stop_terms = " + ".join(
        f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END"
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
    )
    return f"""
    WITH m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               length(regexp_replace(t, '\\s+', '', 'g')) AS n_word_chars,
               len(regexp_extract_all(t, '#')) AS n_hash,
               len(regexp_extract_all(t, '\\.\\.\\.|…')) AS n_ellipsis,
               len(list_filter(toks,
                               x -> regexp_matches(x, '[A-Za-z]')))
                   AS n_alpha_words,
               {stop_terms} AS n_stopword_kinds
        FROM (SELECT doc_id, coalesce(text, '') AS t, {toks} AS toks
              FROM documents)
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
               AS word_count_ok,
           CASE WHEN 3 * n_words <= n_word_chars
                 AND n_word_chars <= 10 * n_words THEN 1 ELSE 0 END
               AS mean_word_len_ok,
           CASE WHEN 10 * n_hash <= n_words THEN 1 ELSE 0 END
               AS hash_ratio_ok,
           CASE WHEN 10 * n_ellipsis <= n_words THEN 1 ELSE 0 END
               AS ellipsis_ratio_ok,
           CASE WHEN 10 * n_alpha_words >= 8 * n_words THEN 1 ELSE 0 END
               AS alpha_ratio_ok,
           CASE WHEN n_stopword_kinds >= 2 THEN 1 ELSE 0 END AS stopword_ok,
           (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END)
           * (CASE WHEN 3 * n_words <= n_word_chars
                    AND n_word_chars <= 10 * n_words THEN 1 ELSE 0 END)
           * (CASE WHEN 10 * n_hash <= n_words THEN 1 ELSE 0 END)
           * (CASE WHEN 10 * n_ellipsis <= n_words THEN 1 ELSE 0 END)
           * (CASE WHEN 10 * n_alpha_words >= 8 * n_words THEN 1 ELSE 0 END)
           * (CASE WHEN n_stopword_kinds >= 2 THEN 1 ELSE 0 END) AS keep
    FROM m
    """


@register("text_gopher_rules", oracle=_gopher_oracle())
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: named per-document
    pass/fail flags (word count, mean word length, symbol and ellipsis
    ratios, alphabetic-word ratio, stopword presence) and the combined
    keep bit.  All thresholds are integer cross-multiplied ratios —
    no floats, no divisions — so the flags are engine-exact on any
    corpus; the filter itself is a shuffle-free narrow map
    (operators/quality.py gopher_rule_flags)."""
    from .operators.quality import gopher_rule_flags

    return gopher_rule_flags(load_table(spark, sf_dir, "documents"))


def _rp_oracle() -> str:
    from .operators.similarity import jl_sign_matrix

    signs = jl_sign_matrix(16, 64, 1.0 / (16 ** 0.5))
    rows = ", ".join(
        "[" + ", ".join(repr(v) for v in row) + "]" for row in signs
    )
    return f"""
    WITH s AS (SELECT [{rows}] AS sgn)
    SELECT vec_id, j,
           list_reduce(list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE) * sgn[j + 1][i]),
               (a, b) -> a + b) AS val
    FROM embeddings, s, range(0, 16) t(j)
    """


@register("emb_random_projection", oracle=_rp_oracle())
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64→16-dim Johnson-Lindenstrauss projection with a deterministic
    md5-derived ±0.25 sign matrix (constant-folded literal, zero
    shuffle).  Each output coordinate is an ordered left fold over the
    input dims, so the doubles are BIT-EXACT cross-engine with no
    rounding step — same contract as dq_drift_kl's ordered sums
    (operators/similarity.py random_projection)."""
    from .operators.similarity import random_projection

    return random_projection(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH ws_t AS (
        SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ), spans AS (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) >= 8 THEN list_transform(
                   range(1, len(ws) - 6),
                   i -> array_to_string(ws[i:i+7], ' '))
               ELSE []::VARCHAR[] END) AS span
        FROM ws_t
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM spans
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication report: every 8-token
    sliding window hashed and counted, keeping spans recurring across
    >= 2 distinct documents — the within-document boilerplate-repeat
    granularity that doc-level exact dedup (md5 digest) and shingle
    near-dup both miss.  One explode + one hash aggregation on the
    128-bit span digest (fixed-width shuffle key, map-side combined)
    (operators/dedup.py duplicate_spans)."""
    return dd.duplicate_spans(load_table(spark, sf_dir, "documents"))


def _ivf_pq_oracle(n_probe: int = 2, k: int = 10) -> str:
    def dot(a: str, b: str) -> str:
        return _DK_DOT.format(a=a, b=b)

    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), cents AS (
        SELECT label, pos, FLOOR(AVG(v) * 10000.0 + 0.5) / 10000.0 AS cv
        FROM (
            SELECT label,
                   unnest(embedding::DOUBLE[]) AS v,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings
        )
        GROUP BY label, pos
    ), cvecs AS (
        SELECT label, list(cv ORDER BY pos) AS cvec FROM cents GROUP BY label
    ), probed AS (
        SELECT label
        FROM cvecs, q
        ORDER BY FLOOR({dot('cvecs.cvec', 'q.qv')}
                 / (sqrt({dot('cvecs.cvec', 'cvecs.cvec')})
                    * sqrt({dot('q.qv', 'q.qv')}))
                 * 1000000.0 + 0.5) / 1000000.0 DESC, label
        LIMIT {n_probe}
    ), codes AS (
        SELECT c.*, l.label
        FROM ({_PQ_CODES_CTE}) c
        JOIN (SELECT vec_id, label FROM embeddings) l USING (vec_id)
    ), qv AS (
        SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0
    )
    SELECT vec_id,
           FLOOR(({_PQ_ADC_SELECT}) * 1000000.0 + 0.5) / 1000000.0
               AS adc_score
    FROM codes JOIN probed USING (label), qv
    ORDER BY adc_score DESC, vec_id
    LIMIT {k}
    """


@register("sim_ivf_pq_topk", oracle=_ivf_pq_oracle())
def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (the FAISS IVFADC layout as a relational
    plan): coarse centroid probing prunes to 2 of the 5 label clusters
    via a broadcast semi-join — partition pruning on a label-
    partitioned store — then ADC scores only the survivors' PQ codes
    (8 table reads/row, codes never vectors).  Scan volume drops
    multiplicatively: probe fraction × 32x code compression — THE
    100 TB ANN serving shape.  Deterministic end-to-end, so unlike
    production ANN it is oracle-checked exactly
    (operators/pq.py ivf_adc_topk)."""
    from .operators import pq

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return pq.ivf_adc_topk(emb, qvec, k=10, n_probe=2)


@register(
    "text_vocab_encode",
    oracle=f"""
    WITH ws_t AS (
        SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ), toks AS (
        SELECT doc_id, unnest(ws) AS tok,
               generate_subscripts(ws, 1) AS pos
        FROM ws_t
    ), vocab AS (
        SELECT tok,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                    AS INT) AS token_id
        FROM toks GROUP BY tok
        ORDER BY COUNT(*) DESC, tok LIMIT 16
    )
    SELECT t.doc_id, t.pos, COALESCE(v.token_id, 0) AS token_id
    FROM toks t LEFT JOIN vocab v USING (tok)
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency vocabulary (top 16, ties by token; UNK id 0)
    and integer encoding of every token position — the id-ification
    step feeding sequence packing.  The rank window runs on the
    vocab-budget rows only (post orderBy+limit cut — bounded by the
    budget, never the corpus), and encoding is a broadcast left join
    against the exploded positions: the corpus itself never shuffles
    (operators/relevance.py vocab_encode)."""
    from .operators.relevance import vocab_encode

    return vocab_encode(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_span_coverage",
    oracle=f"""
    WITH ws_t AS (
        SELECT doc_id, {_DK_TOKENS.format(c='text')} AS ws FROM documents
    ), spans AS (
        SELECT doc_id, i AS start,
               array_to_string(ws[i:i+7], ' ') AS span
        FROM ws_t, unnest(CASE WHEN len(ws) >= 8
                          THEN range(1, len(ws) - 6)
                          ELSE []::BIGINT[] END) t(i)
    ), flagged AS (
        SELECT md5(span) AS h FROM spans
        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ), covered AS (
        SELECT doc_id, COUNT(DISTINCT cpos) AS n_covered
        FROM (
            SELECT s.doc_id, s.start + d AS cpos
            FROM spans s
            JOIN flagged f ON md5(s.span) = f.h,
            range(0, 8) r(d)
        )
        GROUP BY 1
    )
    SELECT w.doc_id,
           len(w.ws) AS n_tokens,
           COALESCE(c.n_covered, 0) AS n_covered,
           CASE WHEN len(w.ws) > 0
                THEN FLOOR(COALESCE(c.n_covered, 0)::DOUBLE / len(w.ws)
                           * 1000000.0 + 0.5) / 1000000.0
                ELSE 0.0 END AS dup_coverage
    FROM ws_t w LEFT JOIN covered c USING (doc_id)
    """,
)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span coverage — the fraction of each
    document's tokens inside an 8-token span that recurs in >= 2
    documents; the threshold a curation pipeline drops on ("more than
    X% copied"), with dedup_duplicate_spans as its corpus-level
    report.  Flagged digests return as an ids-only SEMI-join, each
    surviving occurrence fans out to its k covered positions (bounded
    k× explode), and interval union is a distinct-position count —
    no per-document sort, no window
    (operators/dedup.py duplicate_span_coverage)."""
    return dd.duplicate_span_coverage(load_table(spark, sf_dir, "documents"))


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DK_TOKENS.format(c='text')}) AS tok
        FROM documents
    )
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % 32 AS bucket,
           COUNT(*) AS cnt
    FROM toks
    GROUP BY 1, 2
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (Weinberger et al. ICML'09, public
    literature): token -> md5 bucket mod 32, counted per document —
    FIXED-width features with no vocabulary state at all, the
    stateless sibling of text_vocab_encode (no vocab table to build,
    broadcast, version, or keep consistent across incremental
    batches; new tokens land in existing buckets instead of forcing a
    re-encode).  One explode + one (doc, bucket) hash aggregation
    with map-side combine; output is the exploded sparse form
    downstream learners consume."""
    from .functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % 32
    )
    return (
        toks.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --------------------------------------------------------------------------
# r7 debuts: containment, winnowing, span decontamination, stratified
# sampling, exact vector dedup, token entropy
# --------------------------------------------------------------------------

@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
           FLOOR(n_inter::DOUBLE / LEAST(sa.n_sh, sb.n_sh)
                 * 1000000.0 + 0.5) / 1000000.0 AS containment
    FROM inter JOIN sizes sa ON inter.id_a = sa.id
               JOIN sizes sb ON inter.id_b = sb.id
    WHERE FLOOR(n_inter::DOUBLE / LEAST(sa.n_sh, sb.n_sh)
                * 1000000.0 + 0.5) / 1000000.0 >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (Broder '97
    resemblance-vs-containment): |A∩B| / min(|A|,|B|) >= 0.8 over
    3-word shingles — catches a short document quoted inside a long
    one, which Jaccard scores near |A|/|B| and misses.  Same inverted-
    index candidate machinery and windowed max_df hot-shingle guard as
    dedup_ngram_jaccard (operators/dedup.py containment_pairs)."""
    return dd.containment_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    )


@register(
    "text_winnow_fingerprints",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id, {_DK_TOKENS.format(c='text')} AS ws
        FROM documents
    ), sh AS (
        SELECT id, u.s AS start,
               ('0x' || substr(md5(array_to_string(ws[u.s:u.s+2], ' ')),
                               1, 8))::BIGINT AS hv
        FROM tk, LATERAL unnest(range(1, len(ws) - 1)) AS u(s)
        WHERE len(ws) >= 3
    ), wm AS (
        SELECT id,
               start,
               COUNT(*) OVER (PARTITION BY id) AS n_sp,
               MIN(hv) OVER (PARTITION BY id ORDER BY start
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp
        FROM sh
    )
    SELECT DISTINCT id AS doc_id, fp
    FROM wm WHERE start <= n_sp - 3
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03 / MOSS):
    minimum shingle hash per sliding window of w=4 consecutive
    3-shingles, distinct per document — the guarantee-carrying
    sub-sample of the shingle set (any shared run of >= w+k-1 tokens
    shares a fingerprint) at ~2/(w+1) density.  One document-bounded
    window, no corpus-wide sort (operators/dedup.py
    winnow_fingerprints)."""
    return dd.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=3, w=4
    ).withColumnRenamed("id", "doc_id")


@register(
    "dedup_contaminated_spans",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id, {_DK_TOKENS.format(c='text')} AS ws
        FROM documents
    ), sp AS (
        SELECT id, u.s AS start,
               md5(array_to_string(ws[u.s:u.s+7], ' ')) AS h
        FROM tk, LATERAL unnest(range(1, len(ws) - 6)) AS u(s)
        WHERE len(ws) >= 8
    ), hits AS (
        SELECT id, start FROM sp
        WHERE id % 13 <> 0
          AND h IN (SELECT h FROM sp WHERE id % 13 = 0)
    ), runs AS (
        SELECT id, start,
               start - ROW_NUMBER() OVER (PARTITION BY id ORDER BY start)
                   AS island
        FROM hits
    ), isl AS (
        SELECT id, island, COUNT(*) AS run_len FROM runs GROUP BY 1, 2
    ), a1 AS (
        SELECT id, COUNT(*) AS n_hit_spans, MIN(start) AS first_hit,
               MAX(start) AS last_hit
        FROM hits GROUP BY id
    ), a2 AS (
        SELECT id, MAX(run_len) AS max_run FROM isl GROUP BY id
    )
    SELECT a1.id AS doc_id, n_hit_spans, max_run, first_hit, last_hit
    FROM a1 JOIN a2 USING (id)
    """,
)
def dedup_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional exact-substring decontamination: every 8-token
    sliding window of a corpus document that appears verbatim in the
    benchmark split (doc_id % 13 = 0, the text_decontaminate
    convention), reported per document with first/last hit position
    and the longest consecutive-hit run — the position granularity a
    removal pass needs where text_decontaminate only scores documents.
    Benchmark digests collapse to a distinct set (broadcast at scale);
    runs are gaps-and-islands on start - row_number(), one
    document-bounded window (operators/dedup.py contaminated_spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.contaminated_spans(
        docs.filter(F.col("doc_id") % 13 != 0),
        docs.filter(F.col("doc_id") % 13 == 0),
        k=8,
    )


@register(
    "sample_stratified_exact",
    oracle="""
    WITH t AS (
        SELECT o_orderkey, o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                               1, 15))::BIGINT AS h,
               COUNT(*) OVER (PARTITION BY o_orderpriority) AS n_g
        FROM orders
    ), r AS (
        SELECT o_orderkey, o_orderpriority, n_g,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY h, o_orderkey) AS rn
        FROM t
    )
    SELECT o_orderkey, o_orderpriority
    FROM r WHERE rn <= (2 * n_g + 10) // 20
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional stratified sample: exactly round(n_g/10) rows
    per o_orderpriority stratum, selected as the lowest content-hash
    keys — deterministic, repartition-stable, integer-exact allocation
    (operators/sampling.py stratified_exact)."""
    from .operators.sampling import stratified_exact

    return stratified_exact(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        "o_orderpriority", "o_orderkey", 1, 10,
    )


@register(
    "sim_exact_vector_dup",
    oracle="""
    WITH allv AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, embedding FROM embeddings
        WHERE vec_id % 2 = 0
    ), inr AS (
        -- fixed-point range contract: vectors with any |component|
        -- > 9e12 are excluded before digesting (BIGINT overflow at
        -- scale 6; also drops NaN/Inf — comparisons with NaN are
        -- false), mirroring the operator's filter
        SELECT vec_id, embedding FROM allv
        WHERE list_max(list_transform(embedding::DOUBLE[],
                                      v -> abs(v))) <= 9000000000000.0
    ), qd AS (
        SELECT vec_id,
               md5(array_to_string(list_transform(embedding,
                   v -> CAST(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0
                                        + 0.5) AS BIGINT) AS VARCHAR)),
                   ',')) AS vec_hash
        FROM inr
    )
    SELECT vec_hash, COUNT(*) AS n_vectors, MIN(vec_id) AS keep_id
    FROM qd GROUP BY vec_hash HAVING COUNT(*) >= 2
    """,
)
def sim_exact_vector_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-duplicate groups over a dup-injected set (every
    even vec_id re-delivered at vec_id+100000 — the
    dedup_incremental_ingest convention): per-component fixed-point
    quantization -> joined digest -> one hash aggregation; the
    embedding-space analog of exact text dedup
    (operators/similarity.py exact_vector_dup_groups)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") % 2 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    return sim.exact_vector_dup_groups(
        emb.select("vec_id", "embedding").unionByName(
            dup.select("vec_id", "embedding")
        )
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id,
               unnest({_DK_TOKENS.format(c='text')}) AS token
        FROM documents
    ), cnt AS (
        SELECT id, token, COUNT(*) AS c FROM tk GROUP BY 1, 2
    ), m AS (
        SELECT id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               SUM(c * log2(c)) AS slc
        FROM cnt GROUP BY id
    )
    SELECT id AS doc_id, n_tokens,
           FLOOR((log2(CAST(n_tokens AS DOUBLE)) - slc / n_tokens)
                 * 1000000.0 + 0.5) / 1000000.0 AS token_entropy
    FROM m
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (bits) in the
    stable integer-weighted form H = log2(n) - Σ c·log2(c)/n — the
    whole-distribution repetition signal complementing
    text_repetition_ratio's single-mode view (operators/relevance.py
    token_entropy)."""
    from .operators.relevance import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


def _minhash_merge_oracle(n_hashes: int = 16) -> str:
    p = dd.MINHASH_PRIME
    mins = ",\n           ".join(
        f"MIN(({a} * x + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(dd.perm_params(n_hashes))
    )
    return f"""
    WITH tk AS (
        SELECT doc_id AS id, {_DK_TOKENS.format(c='text')} AS ws
        FROM documents
    ), halves AS (
        SELECT id, ws[1:(len(ws)+1)//2] AS hw FROM tk
        UNION ALL
        SELECT id, ws[(len(ws)+1)//2+1:len(ws)] AS hw FROM tk
    ), sh AS (
        SELECT id, unnest(CASE WHEN len(hw) >= 3 THEN
                   list_transform(range(1, len(hw) - 1),
                                  i -> array_to_string(hw[i:i+2], ' '))
               ELSE []::VARCHAR[] END) AS shingle
        FROM halves
    ), xs AS (
        SELECT id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {p} AS x
        FROM sh
    )
    SELECT id AS doc_id,
           {mins}
    FROM xs GROUP BY id
    """


@register("dedup_minhash_merge", oracle=_minhash_merge_oracle())
def dedup_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash index maintenance: each document arrives as
    TWO chunks (front/back token halves — the multi-part delivery
    shape), each chunk is signed independently, and the stored
    signatures merge by elementwise MIN (operators/dedup.py
    merge_minhash_signatures) — bit-identical to signing the union of
    the chunks' shingle sets, which is what the oracle computes
    DIRECTLY (one-sided check of the mergeability law minhash's
    incremental story rests on).  At 100 TB this is the difference
    between re-shingling the corpus per batch and one 16-column min
    aggregation over (stored ∪ delta) signature rows."""
    from .functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    m = F.expr("(size(toks) + 1) div 2")
    front = toked.select(
        "doc_id", F.concat_ws(" ", F.slice("toks", F.lit(1), m)).alias("text")
    )
    back = toked.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice("toks", m + 1, F.greatest(F.size("toks") - m, F.lit(0)))
        ).alias("text"),
    )
    sigs = dd.minhash_signatures(front.unionByName(back), "doc_id", "text")
    return dd.merge_minhash_signatures(sigs).withColumnRenamed("id", "doc_id")


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tf AS (
        SELECT token, COUNT(*) AS c
        FROM (SELECT unnest({_DK_TOKENS.format(c='text')}) AS token
              FROM documents)
        GROUP BY token
    ), r AS (
        SELECT c,
               ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
        FROM tf
    ), m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(ln(rank)) AS sx, SUM(ln(c)) AS sy,
               SUM(ln(rank) * ln(c)) AS sxy,
               SUM(ln(rank) * ln(rank)) AS sxx
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_vocab,
           FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 10000.0 + 0.5) / 10000.0 AS slope,
           FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n * 10000.0 + 0.5) / 10000.0 AS intercept
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS of
    ln(freq) on ln(rank) in the same closed-moment form as
    a20_grouped_regression (slope ≈ -1 for natural language; a corpus
    of templated/generated text bends the tail, making the slope a
    cheap corpus-health number).  The token-frequency aggregation is
    corpus-wide and map-side-combinable; the rank window sorts only
    the VOCABULARY relation (types, not tokens — bounded by the
    language, not the corpus), and the final moments are one 1-row
    aggregate.  Tie ranks break by token text identically on both
    engines."""
    from pyspark.sql.window import Window

    from .functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = tf.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy().orderBy(F.col("c").desc(), F.col("token"))
        ),
    )
    lx, ly = F.log(F.col("rank").cast("double")), F.log(F.col("c").cast("double"))
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"), F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"), F.sum(lx * lx).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        F.col("n").cast("long").alias("n_vocab"),
        round_fixed(slope, 4).alias("slope"),
        round_fixed((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4)
            .alias("intercept"),
    )


@register(
    "streaming_ohlc",
    oracle="""
    WITH wm AS (
        SELECT MAX(ts) - INTERVAL 1 DAY AS w FROM events
    ), r AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               value,
               FIRST_VALUE(value) OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS open,
               FIRST_VALUE(value) OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts DESC, event_id DESC) AS close
        FROM events
    ), daily AS (
        SELECT event_type, day, MIN(open) AS open, MAX(value) AS high,
               MIN(value) AS low, MIN(close) AS close,
               COUNT(*) AS n_events
        FROM r GROUP BY event_type, day
    )
    SELECT event_type, day, open, high, low, close, n_events
    FROM daily, wm
    WHERE CAST(day AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
)
def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC: the ts_resample_ohlc struct-extremum
    aggregation run incrementally (streaming/ohlc.py) — struct min/max
    are associative+commutative, so they fold in the window state
    store like plain extrema; FIRST_VALUE-style formulations would
    not.  availableNow + watermark => emitted rows are exactly the
    closed (type, day) windows; the oracle is the batch OHLC with the
    same cutoff."""
    name = "ohlc_sink"
    spark.catalog.dropTempView(name)
    from .streaming.ohlc import run_available_now as run_ohlc

    return run_ohlc(spark, sf_dir, name=name)


@register(
    "j18_asof_join_forward",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts, value AS click_value
        FROM events WHERE event_type = 'click'
    ), purchases AS (
        SELECT user_id, ts, ts AS next_purchase_at, MAX(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           p.next_purchase_at, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def j18_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click annotated with the user's NEXT
    purchase at-or-after it (time-to-conversion lookup) —
    operators/joins.asof_join_forward, the unbounded-FOLLOWING mirror
    of the verified backward operator; one union + one per-key window,
    no range explosion.  Oracle: DuckDB's native ASOF LEFT JOIN with
    the <= inequality (forward direction)."""
    from .operators import joins as jn

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .withColumn("next_purchase_at", F.col("ts"))
    )
    return jn.asof_join_forward(
        clicks, purchases, on=["user_id"],
        payload=["next_purchase_at", "purchase_value"],
    )


def _source_sim_oracle(n_hashes: int = 16) -> str:
    p = dd.MINHASH_PRIME
    mins = ",\n               ".join(
        f"MIN(({a} * x + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(dd.perm_params(n_hashes))
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(n_hashes)
    )
    return f"""
    WITH st AS (
        SELECT DISTINCT source,
               unnest({_DK_TOKENS.format(c='text')}) AS token
        FROM documents
    ), xs AS (
        SELECT source,
               ('0x' || substr(md5(token), 1, 8))::BIGINT % {p} AS x
        FROM st
    ), sigs AS (
        SELECT source,
               {mins}
        FROM xs GROUP BY source
    ), sizes AS (
        SELECT source, COUNT(*) AS n_tok FROM st GROUP BY source
    ), inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_inter
        FROM st a JOIN st b USING (token)
        WHERE a.source < b.source GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           FLOOR(({match_sum})::DOUBLE / {n_hashes}
                 * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard,
           FLOOR(i.n_inter::DOUBLE
                 / (za.n_tok + zb.n_tok - i.n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 AS exact_jaccard
    FROM inter i
    JOIN sigs sa ON sa.source = i.source_a
    JOIN sigs sb ON sb.source = i.source_b
    JOIN sizes za ON za.source = i.source_a
    JOIN sizes zb ON zb.source = i.source_b
    """


@register("text_source_similarity", oracle=_source_sim_oracle())
def text_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level vocabulary similarity, sketch vs truth in one
    relation: per-source MinHash signatures over the DISTINCT token
    set (group-level sketch — signatures min-aggregate straight off
    the (source, token) relation, demonstrating the same mergeability
    as dedup_minhash_merge at GROUP granularity) next to the exact
    token-set Jaccard from the inverted-index join.  est vs exact in
    the same row is the sketch-accuracy report a pipeline prints
    before trusting banded LSH on a new corpus.  Sources with a
    shared token pair via that token — at 20 sources the pair
    relation is tiny; the signature self-join is vocabulary-free."""
    from .functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(_tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    x = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10)
        .cast("long") % dd.MINHASH_PRIME
    )
    xs = st.select("source", x.alias("x"))
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % dd.MINHASH_PRIME)
        .alias(f"h{i}")
        for i, (a, b) in enumerate(dd.perm_params(16))
    ]
    sigs = xs.groupBy("source").agg(*aggs)
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    inter = (
        st.alias("a").join(st.alias("b"), "token")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    matches = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(16)
    )
    return (
        inter
        .join(F.broadcast(sigs.alias("sa")),
              F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sigs.alias("sb")),
              F.col("source_b") == F.col("sb.source"))
        .join(F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                       F.col("n_tok").alias("n_a"))),
              "source_a")
        .join(F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                       F.col("n_tok").alias("n_b"))),
              "source_b")
        .select(
            "source_a", "source_b",
            round_fixed(matches.cast("double") / F.lit(16.0), 6)
                .alias("est_jaccard"),
            round_fixed(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("exact_jaccard"),
        )
    )


@register(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id AS id, {_DK_TOKENS.format(c='text')} AS ws
        FROM documents
    ), sh AS (
        SELECT id, u.s AS start,
               ('0x' || substr(md5(array_to_string(ws[u.s:u.s+2], ' ')),
                               1, 8))::BIGINT AS hv
        FROM tk, LATERAL unnest(range(1, len(ws) - 1)) AS u(s)
        WHERE len(ws) >= 3
    ), wm AS (
        SELECT id, start,
               COUNT(*) OVER (PARTITION BY id) AS n_sp,
               MIN(hv) OVER (PARTITION BY id ORDER BY start
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS fp
        FROM sh
    ), fps AS (
        SELECT DISTINCT id, fp FROM wm WHERE start <= n_sp - 3
    )
    SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
    FROM fps a JOIN fps b USING (fp) WHERE a.id < b.id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    """,
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step: document pairs sharing >= 2 winnowing
    fingerprints via an inverted index on the fingerprint value —
    recall-safe for any shared run of >= w+k-1 tokens at ~2/(w+1) the
    index size of the full shingle index (operators/dedup.py
    winnow_pairs)."""
    return dd.winnow_pairs(load_table(spark, sf_dir, "documents"))


def _ivf_recall_oracle(k: int = 10, n_probe: int = 2) -> str:
    # both sub-oracles run against a zero-norm- and NaN-excluded view
    # of the corpus (cosine undefined; matches the query's explicit
    # pre-filter — the NaN leg is needed because NaN > 0 is TRUE in
    # both engines).  Since the r8 rotation the composed
    # sim_cosine_topk / sim_ivf_topk oracles ALSO carry their own
    # self-dot WHERE guards — redundant against the excluded view,
    # kept so each oracle is safe standalone.
    dot_vv = _DK_DOT.format(a="vv", b="vv")
    excl = (
        "(SELECT vec_id, embedding, label FROM "
        "(SELECT *, embedding::DOUBLE[] AS vv FROM embeddings) "
        f"WHERE {dot_vv} > 0 AND NOT isnan({dot_vv}))"
    )
    ivf = _ivf_oracle(n_probe=n_probe, k=k).replace("embeddings", excl)
    brute = _cosine_oracle_topk().replace("embeddings", excl)
    return f"""
    WITH ivf AS (
        {ivf}
    ), brute AS (
        {brute}
    )
    SELECT {k} AS k, COUNT(*) AS n_overlap,
           FLOOR(COUNT(*) * 1.0 / {k} * 1000000.0 + 0.5) / 1000000.0
               AS recall_at_k
    FROM ivf JOIN brute USING (vec_id)
    """


@register("sim_ivf_recall", oracle=_ivf_recall_oracle())
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation as ONE relational plan: recall@10
    of the IVF probe (2 of the label clusters) against the exhaustive
    cosine baseline for the same query vector — the measurement every
    ANN deployment runs before trusting an index, expressed as the
    inner join of the two top-k sets.  Both sides are deterministic
    (centroid rounding + vec_id tie-breaks), so even the EVALUATION
    is oracle-checked, not just eyeballed.  At 100 TB the brute side
    is the expensive half — run it on a sampled query set; the IVF
    side reuses the standing centroid table.  Zero-norm AND
    NaN-component vectors are excluded up front (cosine undefined;
    under ANSI the zero division is a runtime error, and NaN > 0 is
    TRUE in both engines so a bare positivity filter would admit a
    NaN norm — this query found the zero-norm hazard latent in the
    pinned top-k operators in r7; the NaN leg landed with their r10
    rotation)."""
    from .functions.vectors import norm

    nrm = norm(F.col("embedding"))
    emb = load_table(spark, sf_dir, "embeddings").filter(
        (nrm > 0) & ~F.isnan(nrm)
    )
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    ivf = sim.ivf_topk(emb, qv, k=10, n_probe=2).select("vec_id")
    brute = sim.brute_force_topk(emb, qv, k=10).select("vec_id")
    return (
        ivf.join(brute, "vec_id")
        .agg(
            F.lit(10).alias("k"),
            F.count(F.lit(1)).alias("n_overlap"),
            round_fixed(
                F.count(F.lit(1)) * F.lit(1.0) / F.lit(10), 6
            ).alias("recall_at_k"),
        )
    )


def _ewma_oracle() -> str:
    from .queries_analytics import EWMA_LAST8_ORACLE

    return EWMA_LAST8_ORACLE


@register("streaming_ewma", oracle=_ewma_oracle())
def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA (applyInPandasWithState): the bounded-tail fold
    of ts_ewma_last8 with the state contract made explicit — the fold
    only ever needs the last 8 values, so that tail IS the per-user
    state (fixed width, unbounded-stream safe; streaming/ewma.py).
    The pandas fold runs the identical IEEE op sequence as the batch
    operator and the DuckDB oracle, so with the bounded single-file
    source the final update per user is bit-equal to the batch
    query's answer — a streaming operator with a full value-level
    oracle, not a rows-only check."""
    import itertools

    from .streaming.ewma import run_available_now as run_ewma

    if not hasattr(streaming_ewma, "_seq"):
        streaming_ewma._seq = itertools.count()
    out = run_ewma(
        spark, sf_dir, name=f"ewma_stream_{next(streaming_ewma._seq)}"
    )
    return out.select(
        "user_id",
        "n_events",
        round_fixed(F.col("ewma_last"), 6).alias("ewma_last"),
    )


@register(
    "curation_dsir_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket
        FROM (
            SELECT doc_id, source,
                   unnest({_DK_TOKENS.format(c='text')}) AS tok
            FROM documents
        )
    ), stats AS (
        SELECT bucket,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS t_c,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS r_c
        FROM toks GROUP BY 1
    ), tot AS (
        SELECT SUM(t_c) AS t_n, SUM(r_c) AS r_n FROM stats
    ), docb AS (
        SELECT doc_id, bucket, COUNT(*) AS cnt
        FROM toks GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
           FLOOR(SUM(d.cnt * (LN((s.t_c + 1)::DOUBLE / (tot.t_n + 64))
                              - LN((s.r_c + 1)::DOUBLE
                                   / (tot.r_n + 64))))
                 * 1000000.0 + 0.5) / 1000000.0 AS dsir_logweight
    FROM docb d JOIN stats s USING (bucket) CROSS JOIN tot
    GROUP BY 1
    """,
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public literature):
    per-document log importance weight log p_target(x)/q_raw(x) under
    hashed-unigram bag-of-words models (md5 bucket mod 64, Laplace
    +1), target = the 'src0' source, raw = everything else.  Feed the
    weights to sample_weighted_topk / sample_weighted_k_per_group for
    the resampling step.

    Shape: the corpus tokenizes ONCE; bucket statistics are a 64-row
    aggregate enriched with the two global totals by a 1-row
    broadcast product (declared) and then BROADCAST to the per-doc
    join — the corpus-sized (doc, bucket) frame never shuffles except
    for its own count and the final per-doc sum.  All model counts
    are integer-exact; the only doubles are the LN terms, computed by
    the identical formula both engines and rounded 6dp (the
    KL/PSI-drift convention)."""
    from .functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(_tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id", "source",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
            .cast("long") % 64
        ).alias("bucket"),
    )
    # ONE tokenize + ONE (doc, bucket) shuffle: source is functionally
    # dependent on doc_id, so carrying it through the groupBy adds no
    # cardinality, and the 64-row bucket model derives from the same
    # aggregated frame instead of re-scanning the corpus.  docb is
    # referenced from three branches (model stats, totals, final sum)
    # and two of them sit under EAGER broadcast exchanges where AQE's
    # runtime exchange reuse cannot help — so persist it (the
    # curation_pipeline treatment; corpus-sized but strictly smaller
    # than the token explosion it replaces).
    dd.release_persisted()
    docb = dd._maybe_persist(
        toks.groupBy("doc_id", "source", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        persist=True,
    )
    stats = docb.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("source") == "src0", F.col("cnt")).otherwise(0)
        ).alias("t_c"),
        F.sum(
            F.when(F.col("source") != "src0", F.col("cnt")).otherwise(0)
        ).alias("r_c"),
    )
    tot = stats.agg(
        F.sum("t_c").alias("t_n"), F.sum("r_c").alias("r_n")
    )
    enriched = stats.crossJoin(F.broadcast(tot))
    contrib = F.col("cnt") * (
        F.log(
            (F.col("t_c") + 1).cast("double") / (F.col("t_n") + 64)
        )
        - F.log(
            (F.col("r_c") + 1).cast("double") / (F.col("r_n") + 64)
        )
    )
    return (
        docb.join(F.broadcast(enriched), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            round_fixed(F.sum(contrib), 6).alias("dsir_logweight"),
        )
    )


def _bpe_oracle(n_merges: int = 8) -> str:
    """Unrolled BPE training oracle: each merge iteration is a CTE
    trio (pair counts -> 1-row argmax -> fold rewrite), generated the
    way the simhash chunk oracles are.  The rewrite fold's accumulator
    is a single list (no struct fields), so DuckDB's in-place
    list_reduce aliasing cannot bite; elements are lifted to
    single-element lists because list_reduce re-casts the accumulator
    to the element type."""
    ctes = [f"""w0 AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
               string_split(word, '') AS s
        FROM (
            SELECT unnest({_DK_TOKENS.format(c='text')}) AS word
            FROM documents
        )
        GROUP BY word
    )"""]
    finals = []
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS (
        SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM w{k - 1}, LATERAL unnest(range(1, len(s))) AS u(i)
        WHERE len(s) >= 2
        GROUP BY 1, 2
    )""")
        ctes.append(f"""m{k} AS (
        SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1
    )""")
        ctes.append(f"""w{k} AS (
        SELECT w.word, w.freq,
               list_reduce(
                   list_transform(w.s, x -> [x]),
                   (acc, e) -> CASE
                       WHEN len(acc) > 0 AND acc[-1] = m.a
                            AND e[1] = m.b
                       THEN list_append(acc[1:len(acc) - 1], m.a || m.b)
                       ELSE list_append(acc, e[1]) END
               ) AS s
        FROM w{k - 1} w CROSS JOIN m{k} m
    )""")
        finals.append(
            f"SELECT {k} AS rank, a AS left, b AS right,"
            f" a || b AS merged, cnt AS support FROM m{k}"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(finals)
    )


def _bpe_encode_oracle(n_merges: int = 8) -> str:
    """Encode oracle: the training CTE chain's FINAL symbol table is
    the per-word encoding; docs join their exploded tokens against
    it."""
    train = _bpe_oracle(n_merges)
    ctes = train[: train.rindex("SELECT 1 AS rank")].rstrip()
    return (
        ctes
        + f""",
    toks AS (
        SELECT doc_id, unnest({_DK_TOKENS.format(c='text')}) AS word
        FROM documents
    )
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(len(w.s)) AS BIGINT) AS n_subwords,
           FLOOR(SUM(len(w.s))::DOUBLE / COUNT(*)
                 * 1000000.0 + 0.5) / 1000000.0 AS subwords_per_token
    FROM toks t JOIN w{n_merges} w USING (word)
    GROUP BY 1
    """
    )


@register("text_bpe_train", oracle=_bpe_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training (Sennrich et al. 2016), 8 merges over
    the corpus word-frequency table: operators/bpe.bpe_train.  The
    corpus-sized work is ONE tokenize + distinct-word count; every
    iteration then runs against the compact (word, freq, symbols)
    relation — pair-count aggregation, deterministic 1-row argmax
    (count DESC then lexicographic), and a narrow per-word array fold
    applying the merge left-to-right non-overlapping.  The oracle
    unrolls the identical 8 iterations as CTE trios — an iterative
    training algorithm with a full value-level oracle."""
    from .operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train(spark, docs, "text", n_merges=8)


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding stats per document under the 8 merges learned by
    text_bpe_train: operators/bpe.bpe_train_encode — the final
    training iteration's symbol table IS the per-word encoding, so
    encode costs one more join, not a re-tokenize: each document's
    exploded tokens join the (word, symbols) table and aggregate to
    (n_tokens, n_subwords, subwords_per_token).  At 100 TB the word
    table shuffles once against the exploded corpus (or broadcasts
    when the vocabulary fits); nothing re-iterates."""
    from .functions.text import tokens as _tokens
    from .operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    _, encoded = bpe.bpe_train_encode(spark, docs, "text", n_merges=8)
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("word")
    )
    return (
        toks.join(encoded.select("word", F.size("s").alias("n_sub")),
                  "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_sub").alias("n_subwords"),
            round_fixed(
                F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
            ).alias("subwords_per_token"),
        )
    )


@register(
    "text_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DK_TOKENS.format(c='lower(text)')}) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS dfc FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS N FROM documents),
    w AS (
        SELECT t.doc_id, t.term,
               FLOOR((t.tf * (ln((1.0 + N) / (1.0 + dfc)) + 1.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS w
        FROM tf t JOIN dfreq USING (term) CROSS JOIN nd
        WHERE dfc <= 25 OR dfc * 20 <= N
    ),
    norms AS (
        SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1
    ),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               SUM(a.w * b.w) AS dot
        FROM w a JOIN w b USING (term)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5)
               / 1000000.0 AS cos_sim
    FROM dots
    JOIN norms na ON id_a = na.doc_id
    JOIN norms nb ON id_b = nb.doc_id
    WHERE FLOOR(dot / (na.nrm * nb.nrm) * 1000000.0 + 0.5)
          / 1000000.0 >= 0.3
    """,
)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity join over TF-IDF vectors (the
    real-valued sibling of the shingle-Jaccard inverted index):
    document pairs with cosine >= 0.3 in the df<=5%-of-N pruned term
    space (prune df <= max(25, 5% of N), integer-exact as
    dfc <= 25 OR dfc*20 <= N: a purely absolute cap silently empties
    the result when duplicate families inflate df past it — measured
    at sf0.1 — and a purely relative one empties tiny corpora)
    — the classic sparse all-pairs-similarity shape (Bayardo et al.
    WWW'07): dot products accumulate TERM-WISE through the inverted
    index (join on term, partial products, one (id_a, id_b) sum), so
    no document vector ever materializes densely and no pair outside
    a shared rare term is ever considered.  The integer max_df prune
    both bounds the per-term bucket (<= 25²/2 pairs) and drops the
    stopword mass that contributes least weight; weights are rounded
    BEFORE pairing so both engines pair identical components.  Scale:
    term-keyed shuffles only; the threshold filter runs on the
    engine-stable rounded cosine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    nd = docs.agg(F.count(F.lit(1)).alias("N"))
    idf = F.log(
        (F.lit(1.0) + F.col("N")) / (F.lit(1.0) + F.col("dfc"))
    ) + F.lit(1.0)
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .filter((F.col("dfc") <= 25) | (F.col("dfc") * 20 <= F.col("N")))
        .select(
            "doc_id", "term",
            round_fixed(F.col("tf") * idf, 6).alias("w"),
        )
    )
    dd.release_persisted()
    w = dd._maybe_persist(w, persist=True)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"),
                      F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"),
                      F.col("nrm").alias("nrm_b"))
    cos = round_fixed(
        F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.3)
    )


def _cusum_oracle() -> str:
    from .queries_analytics import CUSUM_ORACLE

    return CUSUM_ORACLE


@register("streaming_cusum", oracle=_cusum_oracle())
def streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM change detection (applyInPandasWithState):
    the recurrence is Markov in (s, alarm_count), so the ENTIRE
    per-user state is two numbers at any history length — the
    canonical monitor-every-entity stream operator
    (streaming/cusum.py).  Identical IEEE fold to the batch operator
    and the recursive-CTE oracle; bounded single-file run is
    value-level checked."""
    import itertools

    from .streaming.cusum import run_available_now as run_cusum

    if not hasattr(streaming_cusum, "_seq"):
        streaming_cusum._seq = itertools.count()
    out = run_cusum(
        spark, sf_dir, name=f"cusum_stream_{next(streaming_cusum._seq)}"
    )
    return out.select(
        "user_id", "n_events", "n_alarms",
        round_fixed(F.col("final_s"), 6).alias("final_s"),
    )


@register(
    "emb_standardize",
    oracle="""
    WITH ex AS (
        SELECT vec_id, unnest(embedding::DOUBLE[]) AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ), fit AS (
        SELECT pos,
               FLOOR(AVG(v) * 1000000.0 + 0.5) / 1000000.0 AS mu,
               FLOOR(AVG(v * v) * 1000000.0 + 0.5) / 1000000.0 AS m2
        FROM ex GROUP BY 1
    ), model AS (
        SELECT pos, mu, sqrt(m2 - mu * mu) AS sigma FROM fit
    ), z AS (
        SELECT e.pos, (e.v - m.mu) / m.sigma AS z
        FROM ex e JOIN model m USING (pos)
    )
    SELECT m.pos,
           m.mu AS mean,
           FLOOR(m.sigma * 1000000.0 + 0.5) / 1000000.0 AS std,
           FLOOR(AVG(z.z) * 1000000.0 + 0.5) / 1000000.0
               AS post_mean,
           FLOOR(AVG(z.z * z.z) * 1000000.0 + 0.5) / 1000000.0
               AS post_m2
    FROM z JOIN model m USING (pos)
    GROUP BY 1, 2, 3
    """,
)
def emb_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature standardization fit + transform verification in ONE
    relation: per-dimension mean and population std fitted over the
    corpus (the moments are ROUNDED 6dp before sigma = sqrt(m2-mu²),
    so both engines derive sigma from identical inputs — the
    emb_centroid_drift convention), then every element re-scaled
    z = (v-mu)/sigma and the POST-moments emitted per dimension:
    post_mean ≡ 0 and post_m2 ≡ 1 up to rounding, which is the
    transform's contract and what this query proves.  Scale: one
    posexplode + (pos) aggregation fits the 64-row model, which
    BROADCASTS back onto the exploded corpus for the transform —
    vectors never shuffle; the z re-aggregation rides the same
    (pos) partitioning."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "vf")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"),
        F.col("vf").cast("double").alias("v"),
    )
    fit = ex.groupBy("pos").agg(
        round_fixed(F.avg("v"), 6).alias("mu"),
        round_fixed(F.avg(F.col("v") * F.col("v")), 6).alias("m2"),
    )
    model = fit.select(
        "pos", "mu",
        F.sqrt(F.col("m2") - F.col("mu") * F.col("mu")).alias("sigma"),
    )
    z = (
        ex.join(F.broadcast(model), "pos")
        .select(
            "pos", "mu", "sigma",
            ((F.col("v") - F.col("mu")) / F.col("sigma")).alias("z"),
        )
    )
    return z.groupBy("pos", "mu", "sigma").agg(
        round_fixed(F.avg("z"), 6).alias("post_mean"),
        round_fixed(F.avg(F.col("z") * F.col("z")), 6).alias("post_m2"),
    ).select(
        "pos",
        F.col("mu").alias("mean"),
        round_fixed(F.col("sigma"), 6).alias("std"),
        "post_mean", "post_m2",
    )


def _hard_negatives_oracle(k: int = 4, n_tables: int = 4,
                           planes_per_table: int = 4,
                           dim: int = 64) -> str:
    """Directed variant of the near-dup blocking oracle: anchors keep
    both directions, candidates must differ in label, and ranking
    runs per anchor on the rounded cosine."""
    from .operators.similarity import _hyperplane

    table_buckets = []
    for t in range(n_tables):
        bits = []
        for j in range(planes_per_table):
            comps = _hyperplane(t * planes_per_table + j, dim)
            lit = "[" + ",".join(repr(c) for c in comps) + "]::DOUBLE[]"
            dotp = _DK_DOT.format(a="v", b=f"({lit})")
            bits.append(f"(CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END)")
        table_buckets.append(
            f"SELECT {t} AS t, vec_id, label, {' || '.join(bits)} AS b"
            f" FROM e"
        )
    sigs = " UNION ALL ".join(table_buckets)
    dot_ab = _DK_DOT.format(a="a.v", b="b.v")
    dot_aa = _DK_DOT.format(a="a.v", b="a.v")
    dot_bb = _DK_DOT.format(a="b.v", b="b.v")
    dot_vv = _DK_DOT.format(a="v", b="v")
    return f"""
    WITH e AS (
        SELECT * FROM (
            SELECT vec_id, label, embedding::DOUBLE[] AS v
            FROM embeddings
        ) WHERE {dot_vv} > 0
    ), sigs AS (
        {sigs}
    ), cand AS (
        SELECT DISTINCT x.vec_id AS anchor_id, y.vec_id AS neg_id,
               x.label AS label_a, y.label AS label_b
        FROM sigs x JOIN sigs y ON x.t = y.t AND x.b = y.b
        WHERE x.label <> y.label
    ), scored AS (
        SELECT c.anchor_id, c.neg_id, c.label_a, c.label_b,
               FLOOR({dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb}))
                     * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
        FROM cand c
        JOIN e a ON c.anchor_id = a.vec_id
        JOIN e b ON c.neg_id = b.vec_id
    )
    SELECT anchor_id, neg_id, label_a, label_b, cos_sim,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY anchor_id
            ORDER BY cos_sim DESC, neg_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


@register("sim_hard_negatives", oracle=_hard_negatives_oracle())
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/similarity.hard_negatives): per anchor, the top-4 most
    cosine-similar vectors with a DIFFERENT label, candidates from
    the same deterministic banded-LSH blocking as
    sim_cosine_near_dup but DIRECTED — random negatives are trivially
    separable, these sit just across the boundary.  Ranked on the
    rounded cosine, ties to the lower neg id; exactly oracle-checked
    despite being approximate, because the hyperplanes are
    md5-derived constants."""
    return sim.hard_negatives(
        load_table(spark, sf_dir, "embeddings"), k=4, dim=64,
    )


def _knn_accuracy_oracle(k: int = 5, n_tables: int = 4,
                         planes_per_table: int = 4,
                         dim: int = 64) -> str:
    from .operators.similarity import _hyperplane

    table_buckets = []
    for t in range(n_tables):
        bits = []
        for j in range(planes_per_table):
            comps = _hyperplane(t * planes_per_table + j, dim)
            lit = "[" + ",".join(repr(c) for c in comps) + "]::DOUBLE[]"
            dotp = _DK_DOT.format(a="v", b=f"({lit})")
            bits.append(f"(CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END)")
        table_buckets.append(
            f"SELECT {t} AS t, vec_id, label, {' || '.join(bits)} AS b"
            f" FROM e"
        )
    sigs = " UNION ALL ".join(table_buckets)
    dot_ab = _DK_DOT.format(a="a.v", b="b.v")
    dot_aa = _DK_DOT.format(a="a.v", b="a.v")
    dot_bb = _DK_DOT.format(a="b.v", b="b.v")
    dot_vv = _DK_DOT.format(a="v", b="v")
    return f"""
    WITH e AS (
        SELECT * FROM (
            SELECT vec_id, label, embedding::DOUBLE[] AS v
            FROM embeddings
        ) WHERE {dot_vv} > 0
    ), sigs AS (
        {sigs}
    ), cand AS (
        SELECT DISTINCT x.vec_id AS anchor_id, y.vec_id AS neg_id,
               x.label AS label_a, y.label AS label_b
        FROM sigs x JOIN sigs y ON x.t = y.t AND x.b = y.b
        WHERE x.vec_id <> y.vec_id
    ), scored AS (
        SELECT c.anchor_id, c.neg_id, c.label_a, c.label_b,
               FLOOR({dot_ab} / (sqrt({dot_aa}) * sqrt({dot_bb}))
                     * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
        FROM cand c
        JOIN e a ON c.anchor_id = a.vec_id
        JOIN e b ON c.neg_id = b.vec_id
    ), topk AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY anchor_id
                ORDER BY cos_sim DESC, neg_id) AS rank
            FROM scored
        ) WHERE rank <= {k}
    ), votes AS (
        SELECT anchor_id, label_a, label_b, COUNT(*) AS n_votes
        FROM topk GROUP BY 1, 2, 3
    ), pred AS (
        SELECT anchor_id, label_a, label_b FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY anchor_id
                ORDER BY n_votes DESC, label_b) AS vrank
            FROM votes
        ) WHERE vrank = 1
    )
    SELECT COUNT(*) AS n_anchors,
           CAST(SUM(CASE WHEN label_b = label_a THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           FLOOR(SUM(CASE WHEN label_b = label_a THEN 1 ELSE 0 END)
                 ::DOUBLE / COUNT(*) * 1000000.0 + 0.5) / 1000000.0
               AS accuracy
    FROM pred
    """


@register("sim_knn_accuracy", oracle=_knn_accuracy_oracle())
def sim_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label-vote accuracy over the embedding
    corpus (operators/similarity.knn_label_accuracy) — the standard
    "do the labels cluster?" encoder probe as one relational plan on
    the directed LSH blocking; fully deterministic (rounded-cosine
    rank ties to neighbor id, vote ties to the smaller label), so
    the evaluation itself is oracle-checked, like sim_ivf_recall."""
    return sim.knn_label_accuracy(
        load_table(spark, sf_dir, "embeddings"), k=5, dim=64,
    )


# --------------------------------------------------------------------------
# r8-candidate debuts, wave 10 (ext side): corpus mixture report
# --------------------------------------------------------------------------


@register(
    "curation_mixture_report",
    oracle=f"""
    WITH per_doc AS (
        SELECT source, lang,
               len({_DK_TOKENS.format(c='text')}) AS n_toks
        FROM documents
    ), agg AS (
        SELECT source, lang, COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM per_doc GROUP BY 1, 2
    )
    SELECT source, lang, n_docs, n_tokens,
           FLOOR(100.0 * n_docs / SUM(n_docs) OVER ()
                 * 1000000.0 + 0.5) / 1000000.0 AS doc_share_pct,
           FLOOR(100.0 * n_tokens / SUM(n_tokens) OVER ()
                 * 1000000.0 + 0.5) / 1000000.0 AS token_share_pct,
           FLOOR(CAST(n_tokens AS DOUBLE) / n_docs
                 * 1000000.0 + 0.5) / 1000000.0 AS mean_doc_tokens
    FROM agg
    """,
)
def curation_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix composition report: per (source, lang) document
    and token counts with corpus shares and mean document length —
    the first table anyone asks of a 100 TB corpus before setting
    mixture weights (the descriptive input to temperature/DSIR
    reweighting).  One scan computes per-doc token counts narrowly
    (whitespace tokenizer, no explode — F.size avoids materializing
    the token array rows), one groupBy shuffles |sources x langs|
    keys, and the share percentages are empty-frame windows over that
    TINY aggregated relation (the a6 pattern — never a second scan of
    the corpus).  All counts integer-exact; shares divide identical
    doubles, 6dp floor-rounded."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select(
            "source", "lang", tx.token_count(F.col("text")).alias("n_toks")
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        round_fixed(
            F.lit(100.0) * F.col("n_docs") / F.sum("n_docs").over(w), 6
        ).alias("doc_share_pct"),
        round_fixed(
            F.lit(100.0) * F.col("n_tokens") / F.sum("n_tokens").over(w), 6
        ).alias("token_share_pct"),
        round_fixed(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("mean_doc_tokens"),
    )


def _mmr_oracle(k: int = 5, pool: int = 20, lam: float = 0.7) -> str:
    """Unrolled MMR greedy selection in DuckDB: the pool cut is the
    brute-force top-``pool`` (cosine 6dp, id tie-break), then one CTE
    pair per pick — argmax of lam*rel - (1.0-lam)*red, red folded as
    GREATEST over the growing selected set.  The redundancy weight is
    spelled ``(1.0 - 0.7)``, NOT 0.3: the Spark operator computes
    ``1.0 - lam`` in IEEE doubles (= 0.30000000000000004) and the
    oracle must run the bit-identical multiplier."""
    cos = (
        "FLOOR({d} / (sqrt({na}) * sqrt({nb})) * 1000000.0 + 0.5) "
        "/ 1000000.0"
    )

    def c(a: str, b: str) -> str:
        return cos.format(
            d=_DK_DOT.format(a=a, b=b),
            na=_DK_DOT.format(a=a, b=a),
            nb=_DK_DOT.format(a=b, b=b),
        )

    ctes = [
        """q AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        FROM (SELECT vec_id, embedding, embedding::DOUBLE[] AS ev
              FROM embeddings) t
        WHERE list_sum(list_transform(
                  range(1, len(ev) + 1), i -> ev[i] * ev[i])) > 0
          AND NOT isnan(list_sum(list_transform(
                  range(1, len(ev) + 1), i -> ev[i] * ev[i])))
        ORDER BY vec_id LIMIT 1
    )""",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""rel AS (
        SELECT e.vec_id, e.v, {c('e.v', 'q.qv')} AS rel
        FROM e, q
        WHERE e.vec_id <> q.qid
          AND {_DK_DOT.format(a='e.v', b='e.v')} > 0
          AND NOT isnan({_DK_DOT.format(a='e.v', b='e.v')})
    )""",
        f"""pool AS (
        SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {pool}
    )""",
        """s0 AS (
        SELECT vec_id, v, rel, rel AS score
        FROM pool ORDER BY rel DESC, vec_id LIMIT 1
    )""",
        f"""r0 AS (
        SELECT p.vec_id, p.v, p.rel, {c('p.v', 's.v')} AS red
        FROM pool p, s0 s WHERE p.vec_id <> s.vec_id
    )""",
    ]
    for t in range(1, k):
        prev_r = f"r{t - 1}"
        ctes.append(
            f"""s{t} AS (
        SELECT vec_id, v, rel,
               FLOOR(({lam} * rel - (1.0 - {lam}) * red)
                     * 1000000.0 + 0.5) / 1000000.0 AS score
        FROM {prev_r}
        ORDER BY {lam} * rel - (1.0 - {lam}) * red DESC, vec_id LIMIT 1
    )"""
        )
        if t < k - 1:
            ctes.append(
                f"""r{t} AS (
        SELECT r.vec_id, r.v, r.rel,
               GREATEST(r.red, {c('r.v', 's.v')}) AS red
        FROM {prev_r} r, s{t} s WHERE r.vec_id <> s.vec_id
    )"""
            )
    sel = " UNION ALL ".join(
        f"SELECT {t} AS sel_step, vec_id, rel, score AS mmr_score FROM s{t}"
        for t in range(k)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {sel}"


@register("sim_mmr_rerank", oracle=_mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware top-k: MMR re-ranking of the brute-force
    cosine top-20 for the lowest-id query vector
    (operators/similarity.mmr_rerank — corpus scoring distributed,
    greedy selection on the bounded pool, every score the same IEEE
    fold + 6dp floor both engines run).  The RAG-serving counterpart
    of sample_kcenter_diversity's corpus-level spread selection."""
    return sim.mmr_rerank(load_table(spark, sf_dir, "embeddings"), k=5)


@register(
    "dedup_cluster_size_profile",
    oracle=f"""
    WITH RECURSIVE {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
        WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= 0.1
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        SELECT a AS id, a AS r FROM edges
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
    ), comp AS (
        SELECT id, MIN(r) AS component FROM reach GROUP BY id
    ), csz AS (
        SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM csz GROUP BY 1
    """,
)
def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the curation report that
    says HOW a corpus duplicates (a fat tail of 2-copies vs a few
    thousand-copy boilerplate families demand different dedup
    budgets).  Re-aggregates the same near-dup components as
    dedup_components (shared shingle_pairs_jaccard +
    connected_components callees — reuse, not reimplementation) into
    (cluster_size, n_clusters, n_docs); singleton documents carry no
    edge and are deliberately absent on both sides.  The two extra
    groupBys run over the tiny component relation — corpus-sized work
    is unchanged from the components operator."""
    pairs = dd.shingle_pairs_jaccard(
        load_table(spark, sf_dir, "documents"), threshold=0.1
    )
    comp = dd.connected_components(pairs, release=False)
    csz = comp.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return csz.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*"))
        .cast("bigint")
        .alias("n_docs"),
    )


def _lsh_recall_oracle(threshold: float = 0.5) -> str:
    """Composes the exact shingle-Jaccard truth (the dedup_components
    pair SQL at the eval threshold) with the minhash oracle's banded
    candidate CTEs and FULL OUTER joins the two pair sets — one
    aggregation yields truth/candidate/hit counts and the recall."""
    mh = _minhash_oracle()
    # reuse the minhash oracle's CTE block (everything between its
    # WITH and the final SELECT), dropping its own _DK_EX prefix so
    # the composed query declares ex/exf once
    body = mh.split("WITH ", 1)[1].rsplit("SELECT id_a", 1)[0].rstrip()
    body = body.split(", xs AS", 1)[1]
    return f"""
    WITH {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), truth AS (
        SELECT id_a, id_b
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
        WHERE FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                 * 1000000.0 + 0.5) / 1000000.0 >= {threshold}
    ), xs AS {body}, m AS (
        SELECT t.id_a AS ta, c.id_a AS ca
        FROM truth t FULL OUTER JOIN cand c
          ON t.id_a = c.id_a AND t.id_b = c.id_b
    )
    SELECT CAST(COUNT(ta) AS BIGINT) AS n_truth,
           CAST(COUNT(ca) AS BIGINT) AS n_candidates,
           CAST(COUNT(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL
                      THEN 1 END) AS BIGINT) AS n_hit,
           CASE WHEN COUNT(ta) > 0 THEN
               FLOOR(COUNT(CASE WHEN ta IS NOT NULL AND ca IS NOT NULL
                           THEN 1 END)::DOUBLE / COUNT(ta)
                     * 1000000.0 + 0.5) / 1000000.0
           END AS recall
    FROM m
    """


@register("dedup_lsh_recall", oracle=_lsh_recall_oracle())
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation recall of MinHash-LSH against exact
    shingle-Jaccard ground truth at the curation threshold (0.5) —
    the dedup counterpart of sim_ivf_recall: the measurement a
    pipeline owner runs before trusting banded LSH to replace the
    exact inverted index at 100 TB (16 hashes x 4 bands SHOULD catch
    >=0.5-Jaccard pairs with prob ~1-(1-0.5^4)^4 ~ 0.23 per band
    family — the observed recall makes that trade explicit).  Truth
    and candidates FULL OUTER join on the pair key, so all three
    counts and the recall come from ONE aggregation — no scalar
    cross joins; both sides reuse the verified production operators
    (shared callees untouched)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dd.shingle_pairs_jaccard(docs, threshold=0.5).select(
        "id_a", "id_b"
    )
    cand = dd.minhash_lsh_pairs(docs, n_hashes=16, bands=4).select(
        F.col("id_a").alias("ca"), F.col("id_b").alias("cb")
    )
    m = truth.withColumn("t", F.lit(1)).join(
        cand.withColumn("c", F.lit(1)),
        (F.col("id_a") == F.col("ca")) & (F.col("id_b") == F.col("cb")),
        "full_outer",
    )
    hit = F.count(
        F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
    )
    # recall of an EMPTY truth set is undefined: the division lives in
    # a when-guard (NULL, not an ANSI DIVIDE_BY_ZERO — found by the r8
    # empty-documents pass; same lazy-branch rule as cosine_guarded)
    return m.agg(
        F.count("t").alias("n_truth"),
        F.count("c").alias("n_candidates"),
        hit.alias("n_hit"),
        F.when(
            F.count("t") > 0,
            round_fixed(hit.cast("double") / F.count("t"), 6),
        ).alias("recall"),
    )


def _ndcg_oracle(terms: list[str], k: int = 10) -> str:
    """Oracle twin of text_retrieval_ndcg: BM25 top-k ranking (the
    verified _bm25_oracle), GRADED gains (total query-term
    occurrences, capped at 32), and DCG/IDCG folded over
    position-sorted lists with PYTHON-precomputed discount literals
    spliced into both engines — no runtime ln anywhere near the
    metric."""
    import math

    disc_case = " ".join(
        f"WHEN pos = {p} THEN {repr(1.0 / math.log2(p + 1))}"
        for p in range(1, k + 1)
    )
    tf_sum = " + ".join(
        f"len(list_filter(ws, x -> x = '{t}'))" for t in terms
    )
    top = _bm25_oracle(terms, k=k).strip()
    return f"""
    WITH topk AS ({top}),
    rels AS (
        SELECT doc_id, LEAST({tf_sum}, 32) AS gain
        FROM (SELECT doc_id,
                     CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                          ELSE regexp_split_to_array(trim(lower(text)),
                                                     '\\s+') END AS ws
              FROM documents)
    ), ranked AS (
        SELECT t.doc_id, r.gain,
               ROW_NUMBER() OVER (ORDER BY t.bm25 DESC, t.doc_id) AS pos
        FROM topk t JOIN rels r ON t.doc_id = r.doc_id
    ), ideal AS (
        SELECT gain,
               ROW_NUMBER() OVER (ORDER BY gain DESC, doc_id) AS pos
        FROM rels ORDER BY gain DESC, doc_id LIMIT {k}
    ), dcg AS (
        SELECT CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hit_topk,
               list_reduce(
                   list(gain * (CASE {disc_case} END) ORDER BY pos),
                   (acc, x) -> acc + x) AS dcg
        FROM ranked
    ), idcg AS (
        SELECT list_reduce(
                   list(gain * (CASE {disc_case} END) ORDER BY pos),
                   (acc, x) -> acc + x) AS idcg
        FROM ideal
    )
    SELECT dcg.n_hit_topk,
           FLOOR(dcg.dcg * 1000000.0 + 0.5) / 1000000.0 AS dcg_at_10,
           CASE WHEN idcg.idcg > 0 THEN
               FLOOR(dcg.dcg / idcg.idcg * 1000000.0 + 0.5) / 1000000.0
           END AS ndcg_at_10
    FROM dcg, idcg
    """


@register(
    "text_retrieval_ndcg",
    oracle=_ndcg_oracle(["hash", "join", "scan", "vector"]),
)
def text_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@10 of the BM25 ranking under
    GRADED relevance (a document's gain = its total query-term
    occurrences, capped at 32) — the ranking-metric probe beside
    sim_knn_accuracy and dedup_lsh_recall.  Discriminative by
    construction: BM25 length-normalizes while raw gain does not, so
    the two orderings genuinely differ and NDCG < 1 measures that
    gap.  Discounts 1/log2(pos+1) are Python-precomputed literals on
    BOTH engines; DCG and the data-dependent IDCG (the corpus's own
    ideal top-10 gain profile) each fold over a position-sorted
    bounded list; the two 1-row aggregates meet in a declared
    broadcast product.  Corpus-sized work: the BM25 scoring scan +
    one gain scan + one TakeOrdered."""
    import math

    from .operators.relevance import bm25_topk
    from pyspark.sql import Window

    terms = ["hash", "join", "scan", "vector"]
    k = 10
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.lower(F.col("text")))
    def _eq(term):
        # factory, not a default-arg closure: a 2-arg lambda would
        # receive the ARRAY INDEX as its second argument (SKILL gotcha)
        return lambda x: x == F.lit(term)

    tf_total = None
    for t in terms:
        tf = F.size(F.filter(toks, _eq(t)))
        tf_total = tf if tf_total is None else tf_total + tf
    rels = docs.select(
        "doc_id", F.least(tf_total, F.lit(32)).alias("gain")
    )
    disc = {p: 1.0 / math.log2(p + 1) for p in range(1, k + 1)}
    disc_map = F.create_map(
        *[x for p, d in disc.items() for x in (F.lit(p), F.lit(d))]
    )

    def fold_dcg(frame):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "gain"))),
            F.lit(0.0),
            lambda a, x: a + x["gain"] * F.element_at(disc_map, x["pos"]),
        )

    topk = bm25_topk(docs, terms, k=k)
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    ranked = topk.withColumn("pos", F.row_number().over(w)).join(
        rels, "doc_id"
    )
    dcg_df = ranked.agg(
        F.sum(F.when(F.col("gain") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hit_topk"),
        fold_dcg(ranked).alias("dcg"),
    )
    wi = Window.orderBy(F.col("gain").desc(), "doc_id")
    ideal = (
        rels.orderBy(F.col("gain").desc(), "doc_id")
        .limit(k)
        .withColumn("pos", F.row_number().over(wi))
    )
    idcg_df = ideal.agg(fold_dcg(ideal).alias("idcg"))
    return dcg_df.crossJoin(F.broadcast(idcg_df)).select(
        "n_hit_topk",
        round_fixed(F.col("dcg"), 6).alias("dcg_at_10"),
        F.when(
            F.col("idcg") > 0,
            round_fixed(F.col("dcg") / F.col("idcg"), 6),
        ).alias("ndcg_at_10"),
    )


# NOTE: frozen copy of a31_cms_point_estimates' oracle text (the
# deliberate-duplication convention, see the _DK_QUALITY note): the
# bounded stream's final sketch state equals the batch sketch, so the
# same batch SQL is the value-level oracle for the STREAMING operator.
_CMS_ORACLE = """
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
    """


@register("streaming_cms_estimates", oracle=_CMS_ORACLE)
def streaming_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch maintenance (streaming/cms.py): the
    sketch IS the aggregation state — at most depth x width counters
    regardless of stream length or key cardinality, which is why a
    CMS (not an exact histogram) is the unbounded-stream frequency
    monitor.  The batch operator count_min_profile runs UNCHANGED as
    an incremental streaming aggregation in complete mode; with the
    bounded source the final state equals the batch sketch row for
    row, so a31's batch oracle value-checks the streaming path.
    Point estimates for users 1-10 read the final sketch — the fact
    stream is never rescanned."""
    from .streaming.cms import run_cms_estimates

    return run_cms_estimates(spark, sf_dir)


def _attrition_oracle() -> str:
    """Stage counts re-derived from the frozen curation CTE chain (the
    deliberate-duplication convention) + the a11 attrition arithmetic:
    each stage's share of raw and of the previous stage."""
    base = _curation_oracle()
    # reuse everything up to the final per-source SELECT
    ctes = base.rsplit("SELECT source,", 1)[0].rstrip().rstrip(")")
    return f"""{ctes})
    , stages AS (
        SELECT 0 AS stage_idx, 'raw' AS stage,
               (SELECT COUNT(*) FROM documents) AS n_docs
        UNION ALL
        SELECT 1, 'lang_en',
               (SELECT COUNT(*) FROM scored WHERE lang_pred = 'en')
        UNION ALL
        SELECT 2, 'quality', (SELECT COUNT(*) FROM kept)
        UNION ALL
        SELECT 3, 'exact_dedup', (SELECT COUNT(*) FROM kd)
        UNION ALL
        SELECT 4, 'near_dup',
               (SELECT COUNT(*) FROM kd
                WHERE doc_id NOT IN (SELECT doc_id FROM near_dup))
    )
    SELECT stage_idx, stage, CAST(n_docs AS BIGINT) AS n_docs,
           CASE WHEN MAX(CASE WHEN stage_idx = 0 THEN n_docs END)
                     OVER () > 0 THEN
               FLOOR(n_docs::DOUBLE
                     / MAX(CASE WHEN stage_idx = 0 THEN n_docs END) OVER ()
                     * 1000000.0 + 0.5) / 1000000.0
           END AS pct_of_raw,
           CASE WHEN LAG(n_docs) OVER (ORDER BY stage_idx) > 0 THEN
               FLOOR(n_docs::DOUBLE
                     / LAG(n_docs) OVER (ORDER BY stage_idx)
                     * 1000000.0 + 0.5) / 1000000.0
           END AS pct_of_prev
    FROM stages
    """


@register("curation_attrition_funnel", oracle=_attrition_oracle())
def curation_attrition_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline's attrition table — the reference's own
    reporting idiom (a11's stage percentages,
    2_data_importing_cleaning.R:403-405) applied to the training-data
    funnel: raw -> language filter -> quality threshold -> exact
    dedup -> near-dup removal, each with its share of raw and of the
    previous stage.  Stages 0-2 come from ONE conditional aggregation
    of the scored scan; stages 3-4 count the same persisted dedup
    relations curation_pipeline builds (shared callees untouched);
    the percentage windows run over the 5-row funnel frame.  Both
    ratios are WHEN-guarded (the dedup_lsh_recall treatment) so a
    zero denominator — an empty corpus, or a stage that kills every
    document — yields NULL instead of an ANSI DIVIDE_BY_ZERO; the
    oracle carries the matching CASE guards.

    Scoring runs over barrier-pinned token arrays (the
    curation_pipeline treatment, r13: the inline form re-tokenized
    the document per CASE-branch reference and was additionally
    substituted into the pushed-down filter — 147 split( nodes in
    the executed plan vs 4), and the scored frame is persisted: the
    funnel is the one consumer that scans the scored corpus from TWO
    branches (the stage-count aggregation and the dedup feed), so
    one materialization replaces two full scoring passes."""
    from pyspark.sql import Window

    from .functions.expressions import materialize_barrier, round_fixed

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        "text",
        "source",
        materialize_barrier(tx.tokens(F.col("text"))).alias("_toks"),
        materialize_barrier(
            tx.tokens(F.lower(F.col("text")))
        ).alias("_ltoks"),
    )
    dd.release_persisted()
    scored = dd._maybe_persist(
        toked.select(
            "doc_id",
            "text",
            "source",
            tx.lang_id_from(F.col("_ltoks")).alias("lang_pred"),
            tx.quality_score_from(
                F.col("_toks"), F.col("_ltoks"), F.col("text")
            ).alias("quality"),
        ),
        True,
    )
    en = F.col("lang_pred") == "en"
    qual = en & (F.col("quality") >= 0.5)
    s012 = scored.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.count(F.when(en, 1)).alias("n_lang"),
        F.count(F.when(qual, 1)).alias("n_qual"),
    ).select(
        F.expr(
            "stack(3, 0, 'raw', n_raw, 1, 'lang_en', n_lang, "
            "2, 'quality', n_qual) AS (stage_idx, stage, n_docs)"
        )
    )
    kept = scored.filter(qual)
    kd = dd._maybe_persist(
        dd.exact_dedup(kept, "text", "doc_id", single_pass=True), True
    )
    near = (
        dd.shingle_pairs_jaccard(kd, threshold=0.5, release=False)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s3 = kd.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(3).alias("stage_idx"),
        F.lit("exact_dedup").alias("stage"),
        F.col("n").alias("n_docs"),
    )
    s4 = (
        kd.join(near, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(4).alias("stage_idx"),
            F.lit("near_dup").alias("stage"),
            F.col("n").alias("n_docs"),
        )
    )
    funnel = s012.unionByName(s3).unionByName(s4)
    w_all = Window.partitionBy()
    w_ord = Window.orderBy("stage_idx")
    raw_n = F.max(
        F.when(F.col("stage_idx") == 0, F.col("n_docs"))
    ).over(w_all)
    prev_n = F.lag("n_docs").over(w_ord)
    return funnel.select(
        "stage_idx",
        "stage",
        "n_docs",
        F.when(
            raw_n > 0,
            round_fixed(F.col("n_docs").cast("double") / raw_n, 6),
        ).alias("pct_of_raw"),
        F.when(
            prev_n > 0,
            round_fixed(F.col("n_docs").cast("double") / prev_n, 6),
        ).alias("pct_of_prev"),
    )


@register(
    "streaming_hll_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
           1 AS within_bounds
    FROM events GROUP BY event_type
    """,
)
def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL distinct-count maintenance (streaming/cms.py
    run_hll_distinct) — a17's mergeable-sketch profile with the
    per-(type, day) sketches built INCREMENTALLY by the stream:
    per-key state is one fixed-size HLL register set, while the exact
    COUNT DISTINCT the sketch replaces is precisely what a stream
    cannot maintain with bounded state.  Register union is
    commutative/associative (max), so microbatch boundaries are
    invisible; the oracle (frozen copy of a17's) checks the exact
    counts and the within-5%% flag."""
    from .streaming.cms import run_hll_distinct

    return run_hll_distinct(spark, sf_dir)


@register(
    "curation_budget_select",
    oracle=f"""
    WITH {_DK_QUALITY}, scored AS (
        SELECT d.doc_id, d.lang,
               len({_DK_TOKENS.format(c='d.text')}) AS n_toks,
               q.quality
        FROM documents d JOIN q ON d.doc_id = q.doc_id
    ), ranked AS (
        SELECT *,
               SUM(n_toks) OVER (PARTITION BY lang
                                 ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_toks
        FROM scored
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_selected,
           MIN(quality) AS min_quality
    FROM ranked WHERE cum_toks <= 2000
    GROUP BY lang
    """,
)
def curation_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: per language, greedily keep the
    highest-quality documents until a 2,000-token budget is exhausted
    — the budgeted sampling step between mixture weights and training
    export (greedy-by-quality under a knapsack-relaxed budget).  The
    greedy order is a running token sum over (quality DESC, doc_id)
    — ONE window per language partition, no iteration; counts are
    integer-exact and the quality cut point (min selected quality)
    comes out as the per-language price of the budget."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        tx.token_count(F.col("text")).alias("n_toks"),
        tx.quality_score("text").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn("cum_toks", F.sum("n_toks").over(w))
    return (
        ranked.filter(F.col("cum_toks") <= 2000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_toks").cast("bigint").alias("tokens_selected"),
            F.min("quality").alias("min_quality"),
        )
    )


@register(
    "streaming_kll_quantiles",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS quantile, 1 AS within_bounds
    UNION ALL SELECT CAST(0.9 AS DOUBLE), 1
    UNION ALL SELECT CAST(0.99 AS DOUBLE), 1
    """,
)
def streaming_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KLL quantile maintenance (streaming/cms.py
    run_kll_quantiles): per-day sketches built incrementally by the
    stream (kll_sketch_agg_double IS the aggregation state), folded
    and probed at read time — a16's store-sketches-not-values
    pattern with the build half running on an unbounded stream.  All
    three mergeable sketches (CMS frequencies, HLL distincts, KLL
    quantiles) now maintain under Structured Streaming.  Oracle
    contract as a16: within-bounds flags vs exact percentiles at
    rank q +/- 0.05 (KLL compaction is randomized; the approximate
    values themselves are pinned in tests)."""
    from .streaming.cms import run_kll_quantiles

    return run_kll_quantiles(spark, sf_dir)


def _dot_topk_oracle(k: int = 10) -> str:
    dot_vq = _DK_DOT.format(a="e.v", b="q.qv")
    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id <> 0
    )
    SELECT e.vec_id,
           FLOOR({dot_vq} * 1000000.0 + 0.5) / 1000000.0 AS dot_score
    FROM e, q
    ORDER BY dot_score DESC, e.vec_id
    LIMIT {k}
    """


@register("sim_mips_topk", oracle=_dot_topk_oracle())
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k (MIPS) against the vec_id=0 query:
    raw dot product, NOT cosine — the scoring a recommender's
    user·item factor model runs, where vector NORM carries signal
    (popular items have longer vectors) and cosine's normalization
    would erase it.  One scan + TakeOrdered, the exact baseline; at
    index scale MIPS reduces to cosine-ANN by the norm-augmentation
    transform (append sqrt(M^2 - ||x||^2) so inner-product order
    becomes angular order — Bachrach et al., RecSys'14), which slots
    into the existing banded-LSH machinery unchanged.  Zero-norm
    vectors are legitimate here (dot 0, never a division)."""
    from .functions import vectors as vx

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    qlit = F.array(*[F.lit(c) for c in qv])
    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            round_fixed(
                vx.dot(vx.as_double_array("embedding"), qlit), 6
            ).alias("dot_score"),
        )
        .orderBy(F.col("dot_score").desc(), "vec_id")
        .limit(10)
    )


def _dsir_sample_oracle(k: int = 50) -> str:
    """Frozen-copy composition: the DSIR weight SQL (verbatim the
    curation_dsir_weights oracle) feeds a Gumbel top-k — score =
    rounded logweight - ln(-ln u) with u the same md5-derived
    uniform as operators/sampling.hash_uniform — and the winners
    aggregate per source."""
    from .registry import ORACLES

    dsir = ORACLES["curation_dsir_weights"].strip()
    u = ("(('0x' || substr(md5(w.doc_id::VARCHAR), 1, 8))::BIGINT"
         f" + 1.0) / {float(16**8 + 1)!r}")
    return f"""
    WITH w AS ({dsir}),
    scored AS (
        SELECT w.doc_id, w.n_tokens, w.dsir_logweight,
               w.dsir_logweight - ln(-ln({u})) AS score
        FROM w
    ), top AS (
        SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT {k}
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens
    FROM top t JOIN documents d ON t.doc_id = d.doc_id
    GROUP BY d.source
    """


@register("curation_dsir_sample", oracle=_dsir_sample_oracle())
def curation_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR resampling step END TO END: importance log-weights
    (curation_dsir_weights, reused verbatim — shared callee
    untouched) drive a deterministic Gumbel top-k (score =
    logweight - ln(-ln u), u the content-hash uniform — sampling
    without replacement proportional to e^logweight, the log-space
    twin of sample_weighted_topk's E-S keys, no exp() ever
    evaluated so extreme weights cannot overflow), and the 50
    winners aggregate per source — the "what did importance
    resampling actually select" table.  One narrow map + TakeOrdered
    on top of the weight relation; the corpus never re-shuffles."""
    from .operators.sampling import hash_uniform

    lw = curation_dsir_weights(spark, sf_dir)
    score = F.col("dsir_logweight") - F.log(
        -F.log(hash_uniform(F.col("doc_id")))
    )
    top = (
        lw.withColumn("score", score)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(50)
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source"
    )
    return (
        top.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "emb_norm_profile",
    oracle=f"""
    WITH n AS (
        SELECT vec_id,
               FLOOR(sqrt({_DK_DOT.format(a='v', b='v')})
                     * 1000000.0 + 0.5) / 1000000.0 AS nrm
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_norm,
           MIN(nrm) AS min_norm,
           quantile_cont(nrm, 0.5) AS p50_norm,
           quantile_cont(nrm, 0.9) AS p90_norm,
           MAX(nrm) AS max_norm
    FROM n
    """,
)
def emb_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm distribution — the index-health read that
    decides between cosine and MIPS scoring (uniform norms: cosine
    loses nothing; spread norms: magnitude carries signal,
    sim_mips_topk's regime) and surfaces zero-norm rows BEFORE they
    hit a cosine operator's exclusion contract.  One narrow scan
    computes each norm with the deterministic IEEE fold, rounded 6dp
    so the exact percentile interpolation (F.percentile ==
    quantile_cont, the a13 pairing) runs on identical doubles; min/
    max/counts are order-free."""
    from .functions import vectors as vx

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        round_fixed(vx.norm(vx.as_double_array("embedding")), 6).alias(
            "nrm"
        )
    )
    return n.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.when(F.col("nrm") == 0.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
        F.min("nrm").alias("min_norm"),
        F.percentile("nrm", F.lit(0.5)).alias("p50_norm"),
        F.percentile("nrm", F.lit(0.9)).alias("p90_norm"),
        F.max("nrm").alias("max_norm"),
    )


def _range_search_oracle(threshold: float = 0.2) -> str:
    dot_vq = _DK_DOT.format(a="e.v", b="q.qv")
    dot_vv = _DK_DOT.format(a="e.v", b="e.v")
    dot_qq = _DK_DOT.format(a="q.qv", b="q.qv")
    return f"""
    WITH q AS (
        SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id <> 0
    ), scored AS (
        SELECT e.vec_id,
               FLOOR({dot_vq} / (sqrt({dot_vv}) * sqrt({dot_qq}))
                     * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
        FROM e, q
        WHERE {dot_vv} > 0
    )
    SELECT vec_id, cos_sim FROM scored WHERE cos_sim >= {threshold}
    """


@register("sim_range_search", oracle=_range_search_oracle())
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (radius query): EVERY vector with cosine >= 0.2
    to the vec_id=0 query — the other ANN API beside top-k (top-k
    answers "best k whatever their quality"; range search answers
    "everything above a similarity bar", the dedup/recall-style
    contract where result size is data-dependent).  One scan, the
    threshold filter on the engine-stable rounded cosine; at index
    scale the same banded-LSH blocking serves it (a radius maps to a
    band-collision probability).

    Zero-norm handling is the WHEN-GUARD form, not a separate filter:
    Catalyst's CombineFilters merges a norm>0 pre-filter with the
    threshold filter into one predicate, and codegen's subexpression
    elimination then evaluates the division BEFORE the AND can
    short-circuit — ANSI DIVIDE_BY_ZERO on the zero vector (found by
    this query's adversarial run; the same mechanism behind the
    pinned topk operators' r8 rotation, registry.py LATENT-BUG
    ROTATION).  A conditional branch stays lazy where a conjunct does
    not; the guarded NULL then drops at the threshold compare."""
    import math

    from .functions import vectors as vx

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()["embedding"]
    ]
    qlit = F.array(*[F.lit(c) for c in qv])
    qq = 0.0
    for x in qv:
        qq += x * x
    qn = math.sqrt(qq)  # identical fold + correctly-rounded sqrt
    v = vx.as_double_array("embedding")
    dvv = vx.dot(v, v)
    cos = F.when(
        dvv > 0,
        round_fixed(vx.dot(v, qlit) / (F.sqrt(dvv) * F.lit(qn)), 6),
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
    )


def _minhash_calibration_oracle() -> str:
    """Composes the minhash oracle's candidate+estimate CTEs with the
    exact-Jaccard SQL on the SAME pairs: per error bucket
    floor(|est - exact| * 10), candidate-pair counts plus the maximum
    absolute error (order-free aggregates only — no float MAE sum)."""
    mh = _minhash_oracle()
    body = mh.split("WITH ", 1)[1].rsplit("SELECT id_a", 1)[0].rstrip()
    body = body.split(", xs AS", 1)[1]
    match_sum = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(16)
    )
    return f"""
    WITH {_DK_EX}, {_dk_max_df()}, sizes AS (
        SELECT id, COUNT(*) AS n_sh FROM exf GROUP BY id
    ), inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
        FROM exf a JOIN exf b USING (shingle) WHERE a.id < b.id
        GROUP BY 1, 2
    ), exact AS (
        SELECT id_a, id_b,
               FLOOR(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter)
                     * 1000000.0 + 0.5) / 1000000.0 AS jac
        FROM inter JOIN sizes sa ON inter.id_a = sa.id
                   JOIN sizes sb ON inter.id_b = sb.id
    ), xs AS {body}, est AS (
        SELECT cand.id_a, cand.id_b,
               ({match_sum})::DOUBLE / 16 AS est_jac
        FROM cand JOIN sigs sa ON cand.id_a = sa.id
                  JOIN sigs sb ON cand.id_b = sb.id
    ), joined AS (
        SELECT e.id_a, e.id_b, e.est_jac,
               COALESCE(x.jac, 0.0) AS exact_jac
        FROM est e LEFT JOIN exact x
          ON e.id_a = x.id_a AND e.id_b = x.id_b
    )
    SELECT CAST(LEAST(FLOOR(ABS(est_jac - exact_jac) * 10.0), 9)
                AS INT) AS err_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(MAX(ABS(est_jac - exact_jac)) * 1000000.0 + 0.5)
               / 1000000.0 AS max_abs_err
    FROM joined GROUP BY 1
    """


@register("dedup_minhash_calibration", oracle=_minhash_calibration_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    |estimated - exact| Jaccard bucketed to 0.1 error bands (with the
    band's max error) — the ACCURACY complement of dedup_lsh_recall's
    coverage number: recall says which pairs the bands surface,
    calibration says whether 16 hashes are enough to THRESHOLD on the
    estimate.  Candidates missing from the exact relation (sub-
    threshold survivors of the band collision) score against exact 0
    via the max_df-filtered shingle space both operators share; all
    aggregates are order-free (counts + max), no float MAE
    accumulation."""
    docs = load_table(spark, sf_dir, "documents")
    est = dd.minhash_lsh_pairs(docs, n_hashes=16, bands=4).select(
        "id_a", "id_b", F.col("est_jaccard").alias("est_jac")
    )
    exact = dd.shingle_pairs_jaccard(docs, threshold=0.0).select(
        F.col("id_a").alias("xa"),
        F.col("id_b").alias("xb"),
        F.col("jaccard").alias("exact_jac"),
    )
    joined = est.join(
        exact,
        (F.col("id_a") == F.col("xa")) & (F.col("id_b") == F.col("xb")),
        "left",
    ).select(
        "est_jac",
        F.coalesce(F.col("exact_jac"), F.lit(0.0)).alias("exact_jac"),
    )
    err = F.abs(F.col("est_jac") - F.col("exact_jac"))
    return (
        joined.groupBy(
            F.least(F.floor(err * 10.0), F.lit(9))
            .cast("int")
            .alias("err_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            round_fixed(F.max(err), 6).alias("max_abs_err"),
        )
    )


# --------------------------------------------------------------------------
# r8 debuts: sketch-based corpus overlap, packing efficiency, robust
# per-dimension embedding clip
# --------------------------------------------------------------------------


@register(
    "dedup_corpus_overlap_hll",
    oracle=f"""
    WITH {_DK_EX}, ds AS (
        SELECT DISTINCT d.source, e.shingle
        FROM ex e JOIN documents d ON e.id = d.doc_id
    ), ov AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_overlap
        FROM ds a JOIN ds b ON a.shingle = b.shingle
                           AND a.source < b.source
        GROUP BY 1, 2
    ), srcs AS (SELECT DISTINCT source FROM ds),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    )
    SELECT p.source_a, p.source_b,
           CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_exact_overlap,
           1 AS within_bounds
    FROM pairs p LEFT JOIN ov o
        ON p.source_a = o.source_a AND p.source_b = o.source_b
    """,
)
def dedup_corpus_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-set overlap estimated by HLL
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with one
    Datasketches HLL per source and pairwise register-max unions —
    the sketch-based contamination/overlap screen a 100 TB curation
    run uses to decide WHICH source pairs deserve the exact
    (shuffle-heavy) dedup pass: per-source sketches are a few KB, the
    pairwise stage touches no row data at all, and the sketches are
    the same ones an ingest pipeline already maintains per partition
    (a17's mergeable-profile pattern, lifted from counts to set
    intersections).

    HLL union is deterministic (register max, no randomness), so the
    estimate is reproducible; like the a16/a17 sketch family, the
    externally-checked columns are the EXACT overlap (computed here
    by a shingle-keyed self-join over the distinct source-shingle
    relation — the expensive path the sketch screen avoids at scale)
    plus a within-bounds flag.  Tolerance 0.06·(|A|+|B|): measured
    max inclusion-exclusion error across 570 pairs at three SFs is
    0.0302 (2× margin; lgK=12 rsd ≈ 1.6%, and I-E compounds three
    estimates)."""
    docs = load_table(spark, sf_dir, "documents")
    ex = dd.exploded_shingles(docs, "doc_id", "text", 3)
    ss = ex.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    ).select("source", "shingle")
    sk = ss.groupBy("source").agg(
        F.hll_sketch_agg("shingle").alias("sk"),
        F.countDistinct("shingle").alias("n_ex"),
        F.hll_sketch_estimate(F.hll_sketch_agg("shingle")).alias("est"),
    )
    a = sk.select(
        F.col("source").alias("source_a"), F.col("sk").alias("ska"),
        F.col("n_ex").alias("nxa"), F.col("est").alias("esta"),
    )
    b = sk.select(
        F.col("source").alias("source_b"), F.col("sk").alias("skb"),
        F.col("n_ex").alias("nxb"), F.col("est").alias("estb"),
    )
    # broadcast product, not CartesianProduct: the sketch relation is
    # |sources| rows of KB-sized state — the declared tiny-side shape
    pairs = a.crossJoin(F.broadcast(b)).filter(
        F.col("source_a") < F.col("source_b")
    )
    est = pairs.select(
        "source_a", "source_b", "nxa", "nxb",
        (
            F.col("esta") + F.col("estb")
            - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
        ).alias("est_overlap"),
    )
    d = ss.distinct()
    ov = (
        d.alias("x")
        .join(d.alias("y"), "shingle")
        .filter(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        est.join(ov, ["source_a", "source_b"], "left")
        .fillna({"n_overlap": 0})
        .select(
            "source_a",
            "source_b",
            F.col("n_overlap").cast("bigint").alias("n_exact_overlap"),
            (
                F.abs(F.col("est_overlap") - F.col("n_overlap"))
                <= F.lit(0.06) * (F.col("nxa") + F.col("nxb"))
            ).cast("int").alias("within_bounds"),
        )
    )


@register(
    "curation_pack_efficiency",
    oracle=f"""
    WITH t AS (
        SELECT source, doc_id,
               len({_DK_TOKENS.format(c='text')}) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT source, n_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER w - n_tokens) / 512.0)
                    AS BIGINT) AS chunk_id
        FROM t
        WINDOW w AS (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(chunk_id) + 1 AS BIGINT) AS n_bins,
           CAST(CEIL(SUM(n_tokens) / 512.0) AS BIGINT) AS ideal_bins,
           FLOOR(CAST(SUM(n_tokens) AS DOUBLE)
                 / ((MAX(chunk_id) + 1) * 512.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS fill_ratio
    FROM packed GROUP BY source
    """,
)
def curation_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report: per source, the bins produced by the
    512-token running-total packer (pack_token_budget's exact plan)
    vs the information-theoretic floor ceil(total/512) and the
    resulting fill ratio — the evaluation layer for sequence packing
    (the dedup_lsh_recall treatment applied to the packer: an index/
    layout operator plus the measurement that says whether its
    output is any good).  Composes the SAME windowed packing stage,
    then one hash aggregation per source; every output is exact
    integer arithmetic except the final fill ratio, one double
    division rounded 6dp."""
    from .operators.packing import pack_by_token_budget

    pk = pack_by_token_budget(
        load_table(spark, sf_dir, "documents"), "source", "doc_id"
    )
    return pk.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.max("chunk_id") + 1).cast("bigint").alias("n_bins"),
        F.ceil(F.sum("n_tokens") / F.lit(512.0)).cast("bigint").alias(
            "ideal_bins"
        ),
        round_fixed(
            F.sum("n_tokens").cast("double")
            / ((F.max("chunk_id") + 1) * F.lit(512.0)),
            6,
        ).alias("fill_ratio"),
    )


@register(
    "emb_quantile_clip",
    oracle="""
    WITH c AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
               unnest(embedding::DOUBLE[]) AS v
        FROM embeddings
    ), q AS (
        -- quantiles over FINITE components only: a failed-encoder NaN
        -- must not define the clip band (and the engines disagree on
        -- where NaN sorts inside a percentile) — mirrored Spark-side
        SELECT pos, quantile_cont(v, 0.05) AS lo,
               quantile_cont(v, 0.95) AS hi
        FROM c WHERE NOT isnan(v) GROUP BY pos
    )
    SELECT c.vec_id, c.pos,
           CASE WHEN isnan(c.v) THEN c.v
                ELSE FLOOR(LEAST(GREATEST(c.v, q.lo), q.hi)
                           * 1000000.0 + 0.5) / 1000000.0
           END AS v_clipped
    FROM c JOIN q USING (pos)
    """,
)
def emb_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile winsorization of the embedding corpus
    (clip each component to its dimension's [p5, p95]) — the
    outlier-robust normalization applied before similarity indexing
    when a failed encoder emits extreme components (the scalar
    a25_winsorized_stats lifted to vector columns).  posexplode +
    one per-dimension exact-percentile aggregation (64 groups —
    F.percentile ↔ quantile_cont, the a13 pairing) broadcast back
    onto the component stream; clip is LEAST/GREATEST on identical
    doubles, rounded 6dp for presentation.  The percentiles are
    computed over FINITE components only — a failed-encoder NaN is
    exactly what this operator defends against, so it must not define
    the clip band (and the engines disagree on where NaN sorts inside
    a percentile); NaN components pass through unclipped as NaN on
    both sides.  At 100 TB the stats side is 64 rows of state and the
    clip pass is a narrow map."""
    from .functions.vectors import as_double_array

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(as_double_array("embedding")).alias("p", "v"),
    ).select("vec_id", (F.col("p") + 1).alias("pos"), "v")
    q = comp.filter(~F.isnan("v")).groupBy("pos").agg(
        F.percentile("v", F.lit(0.05)).alias("lo"),
        F.percentile("v", F.lit(0.95)).alias("hi"),
    )
    return comp.join(F.broadcast(q), "pos").select(
        "vec_id",
        "pos",
        F.when(F.isnan("v"), F.col("v"))
        .otherwise(
            round_fixed(
                F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")), 6
            )
        )
        .alias("v_clipped"),
    )


def _holt_oracle() -> str:
    from .queries_analytics import HOLT_LINEAR_ORACLE

    return HOLT_LINEAR_ORACLE


@register("streaming_holt", oracle=_holt_oracle())
def streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt linear-trend smoothing (applyInPandasWithState):
    ts_holt_linear's bounded-tail fold with the state contract made
    explicit — the fold only ever needs the last 12 values, so that
    tail IS the per-user state (fixed width, unbounded-stream safe;
    streaming/holt.py).  The Python fold runs the identical IEEE op
    sequence as the batch struct fold and the recursive-CTE oracle
    (α, β are exact binary fractions), so the bounded single-file
    run's final update per user is bit-equal to the batch answer —
    a two-component-state streaming operator with a full value-level
    oracle; cross-microbatch state carry is pinned separately in
    tests/test_r8_debut_ops.py."""
    import itertools

    from .streaming.holt import run_available_now as run_holt

    if not hasattr(streaming_holt, "_seq"):
        streaming_holt._seq = itertools.count()
    out = run_holt(
        spark, sf_dir, name=f"holt_stream_{next(streaming_holt._seq)}"
    )
    return out.select(
        "user_id",
        "n_events",
        round_fixed(F.col("level"), 6).alias("level"),
        round_fixed(F.col("trend"), 6).alias("trend"),
        round_fixed(F.col("level") + F.col("trend"), 6).alias("forecast_1"),
    )


def _cluster_purity_oracle() -> str:
    """Reuses the unrolled-Lloyd CTE chain of the pinned kmeans oracle
    (same iterations, same tie-breaks) and replaces its final
    aggregate with a per-cluster majority-label purity."""
    from .queries_analytics import _kmeans_oracle

    body = _kmeans_oracle().rsplit("SELECT cid AS cluster", 1)[0]
    return (
        body
        + """, lab AS (
        SELECT f.cid, e2.label FROM fin f
        JOIN embeddings e2 ON f.vec_id = e2.vec_id
    ), cl AS (
        SELECT cid, label, COUNT(*) AS c FROM lab GROUP BY 1, 2
    ), tops AS (
        SELECT cid, label, c,
               ROW_NUMBER() OVER (PARTITION BY cid
                                  ORDER BY c DESC, label) AS rn,
               SUM(c) OVER (PARTITION BY cid) AS n_members
        FROM cl
    )
    SELECT cid AS cluster,
           CAST(n_members AS BIGINT) AS n_members,
           label AS top_label,
           CAST(c AS BIGINT) AS n_top,
           FLOOR(CAST(c AS DOUBLE) / n_members * 1000000.0 + 0.5)
               / 1000000.0 AS purity
    FROM tops WHERE rn = 1
    """
    )


@register("sim_cluster_purity", oracle=_cluster_purity_oracle())
def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation by majority-label purity: for the
    SAME deterministic Lloyd training emb_kmeans_lloyd runs, each
    cluster's share of its most common ground-truth label (ties to
    the smaller label) — the "do the clusters mean anything?" probe
    that completes the evaluation suite alongside dedup_lsh_recall /
    sim_ivf_recall / sim_knn_accuracy / text_retrieval_ndcg: index
    recall, neighbor quality, ranking quality, and now partition
    quality, each an oracle-checked measurement rather than an
    eyeballed score.  The expensive half is the k-means training
    already paid (k x dim driver state); purity itself is one
    labels join + two tiny aggregations.

    Oracle: the pinned unrolled-Lloyd CTE chain with the final
    aggregate swapped for the majority vote — the assignment relation
    is byte-identical to emb_kmeans_lloyd's, so rotate the two
    together if the kmeans family ever drifts."""
    from pyspark.sql.window import Window

    from .operators.analytics import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(emb, k=4, iterations=2, dim=64)
    per = (
        assigned.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), "label")
    wn = Window.partitionBy("cluster")
    return (
        per.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.sum("c").over(wn))
        .filter(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("label").alias("top_label"),
            F.col("c").cast("bigint").alias("n_top"),
            round_fixed(
                F.col("c").cast("double") / F.col("n_members"), 6
            ).alias("purity"),
        )
    )
