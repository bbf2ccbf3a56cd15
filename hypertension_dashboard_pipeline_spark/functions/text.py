"""Text-analysis expressions (beyond-reference extension surface).

Large-scale training-data pipeline primitives over a ``text`` column —
language ID, quality scoring, token counting, fingerprinting, shingling.
All are built-in-function compositions (split/regexp/transform/
aggregate) that stay JVM-side inside whole-stage codegen; no Python
UDFs, so they scale like any other projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty array for blank)."""
    t = F.trim(_col(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(c: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """Rough subword-token estimate: count of word/number/punct chunks
    via a BPE-ish regex (letters runs, digit runs, single punct)."""
    col = _col(c)
    # regexp_count of chunk pattern: letter runs, digit runs, other non-space singles
    return F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"))


def char_count(c: Column | str) -> Column:
    return F.length(_col(c))


def punct_ratio_raw(c: Column | str) -> Column:
    """Punctuation chars / total chars (unrounded); 0 for empty text."""
    col = _col(c)
    n = F.length(col)
    p = F.regexp_count(col, F.lit(r"[^\w\s]"))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


STOPWORDS_EN = (
    "the a an and or of to in is are was for on with as at by it this that",
)


def stopword_ratio_raw_from(ltoks: Column,
                            stopwords: str | None = None) -> Column:
    """Fraction of (English) stopwords in a PRE-TOKENIZED lowercased
    token array — callers that materialize the array once per row (a prior
    projection) pay ONE regex split instead of one per reference:
    the scoring expressions sit inside conditional branches
    (CASE WHEN), where codegen's subexpression elimination does not
    apply, so the inline form re-splits the document per branch
    (r13 optimization — measured 1.31 s → 0.81 s for the combined
    lang+quality scan at sf0.1)."""
    words = (stopwords or STOPWORDS_EN[0]).split()
    n = F.size(ltoks)
    hits = F.size(F.filter(ltoks, lambda t: t.isin(words)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score_from(toks: Column, ltoks: Column, c: Column | str,
                       scale: int = 6) -> Column:
    """``quality_score`` over PRE-TOKENIZED arrays (``toks`` =
    tokens(text), ``ltoks`` = tokens(lower(text))); the punctuation
    signal still reads the raw text.  Same expression tree as the
    inline form with the two token subtrees swapped for column
    references — values bit-identical (see ``stopword_ratio_raw_from``
    for why callers materialize)."""
    from .expressions import round_fixed

    col = _col(c)
    n_tok = F.size(toks).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio_raw_from(ltoks) * 4, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio_raw(col) * 5)
    return round_fixed((len_score + stop_score + punct_pen) / 3, scale)


def quality_score(c: Column | str, scale: int = 6) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length docs and
    stopword presence, penalizes punctuation soup. Deterministic
    arithmetic, rounded once at the end with the engine-safe floor form
    (``functions.expressions.round_fixed``) — oracles pair with
    ``FLOOR(score * 10^scale + 0.5) / 10^scale``, never engine
    ROUND."""
    col = _col(c)
    return quality_score_from(tokens(col), tokens(F.lower(col)), col, scale)


# language-ID marker words per language (synthetic-friendly: common
# function words; ties broken by fixed language order)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def _marker_isin(words: list[str]):
    # factory, not a closure-default lambda: a 2-arg lambda would
    # receive the array INDEX as its second argument
    return lambda t: t.isin(words)


def lang_marker_hits_from(ltoks: Column, lang: str) -> Column:
    """Marker-word hits over a PRE-TOKENIZED lowercased token array
    (see ``stopword_ratio_raw_from`` for the materialization
    rationale)."""
    return F.size(F.filter(ltoks, _marker_isin(list(LANG_MARKERS[lang]))))


def lang_id_from(ltoks: Column) -> Column:
    """``lang_id`` over a PRE-TOKENIZED lowercased token array: the
    argmax CASE references the hit counts ~3× each, and conditional
    branches are outside codegen subexpression elimination, so the
    inline form re-splits the document per reference (see
    ``stopword_ratio_raw_from``)."""
    hits = {lang: lang_marker_hits_from(ltoks, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:  # first max wins (insertion order)
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr


def lang_id(c: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-word hits, 'und' when no
    marker matches. Fixed evaluation order makes ties deterministic."""
    return lang_id_from(tokens(F.lower(_col(c))))


def fingerprint(c: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the normalized text
    (lowercase, alphanumerics+single spaces). md5 rather than xxhash so
    independent engines agree."""
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(_col(c)), r"[^a-z0-9]+", " ")), r" +", " "
    )
    return F.md5(norm)


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def scrub_pii(c: Column | str) -> Column:
    """Redact emails and URLs with typed placeholders — the minimal PII
    pass a training corpus gets before anything else. Pure
    regexp_replace (global by default in Spark; the oracle needs the
    'g' flag in DuckDB), so it runs JVM-side at full scan speed."""
    col = _col(c)
    return F.regexp_replace(
        F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )


def word_shingles(c: Column | str, k: int = 3) -> Column:
    """k-word shingles (with positional duplicates) → array<string>;
    empty array when the document has fewer than k tokens.

    Deliberately NOT per-row-distinct: array_distinct is O(n²) per row
    and dominates runtime on long documents. Callers that need set
    semantics dedup after exploding (distributed hash distinct) or
    aggregate with duplicate-insensitive functions (MIN for MinHash).
    """
    toks = tokens(_col(c))
    n = F.size(toks)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))
