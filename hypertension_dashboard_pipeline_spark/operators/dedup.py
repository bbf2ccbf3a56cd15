"""Deduplication operators (beyond-reference extension surface).

Large-scale training-data dedup over the ``documents`` table:

* exact         — md5-hash groupBy; one shuffle on the digest.
* n-gram Jaccard— inverted-index candidate join on shared shingles;
                  |A∩B| comes from the join's per-pair match count and
                  |A∪B| from per-doc shingle counts, so no arrays are
                  carried through the shuffle and no cross join exists.
* MinHash + LSH — one md5 per shingle → 32-bit base hash → 16 linear
                  permutations min-aggregated in a single groupBy
                  (map-side partial agg), then banded bucket self-join.
                  All arithmetic is exact BIGINT mod a 31-bit prime, so
                  an independent SQL engine reproduces signatures
                  bit-for-bit.

Scale notes: every step is explode → hash-aggregate → equi-join; the
only quadratic surface is per-bucket candidate pairs, which banding
(MinHash) / shared-shingle blocking (Jaccard) keeps near-linear. For
web-scale corpora add a document-frequency cut on shingles before the
self-join (``max_df``) to bound hot-bucket fan-out, and key the
inverted-index join on ``xxhash64(shingle)`` instead of the string
(8-byte shuffle keys; collision odds are ~n²/2⁶⁴ — kept off here so
the oracle's string-equality semantics hold exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.expressions import round_fixed


# Live persisted intermediates from the last near-dup call.  Persisted
# subplans can't be unpersisted before the (lazy) consumer acts, so each
# persisting operator instead releases the PREVIOUS call's blocks on
# entry (``release=True`` default) — across an 88-query driver or bench
# session at most one operator's intermediates occupy executor storage
# at a time, with no call-site discipline required.  Composed pipelines
# pass ``release=False`` to inner calls whose input plan still
# references an earlier call's persisted subplan (unpersisting would
# stay CORRECT — Spark recomputes — but forfeits the reuse the persist
# exists for).  Queries in the registry run sequentially; concurrent
# direct users should pass ``persist=False`` instead.
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every intermediate persisted by a prior near-dup call.
    Idempotent; also safe mid-plan (consumers recompute)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def _maybe_persist(df: DataFrame, persist: bool) -> DataFrame:
    """Persist a subplan that the near-dup operators reference from
    multiple join branches. Spark plans each branch independently (no
    automatic CTE/subplan reuse across differing projections), so
    without this the tokenize→explode→aggregate chain runs once per
    branch — 4× for the self-join + size/signature re-joins. MEMORY_AND_DISK
    spills instead of OOMing; on a cluster-scale corpus the equivalent
    move is a Parquet checkpoint of the same intermediate."""
    if not persist:
        return df
    handle = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(handle)
    return handle

# 31-bit Mersenne prime: (a*x+b) % P stays < 2^62 — no BIGINT overflow
# in any engine.
MINHASH_PRIME = 2147483647


def perm_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (a, b) pairs for the minhash
    permutations h_i(x) = (a_i*x + b_i) mod P. Fixed constants — not an
    RNG — so signatures are reproducible across engines and runs."""
    params = []
    for i in range(n_hashes):
        a = (1103515245 * (i + 1) + 12345) % MINHASH_PRIME
        b = (1103515245 * (i + 17) + 54321) % MINHASH_PRIME
        params.append((a or 1, b))
    return params


def exploded_shingles(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      distinct: bool = True) -> DataFrame:
    """(id, shingle) rows — the shared first stage of the near-dup
    operators. ``distinct=True`` dedups positional repeats with a
    distributed hash distinct (cheap) rather than per-row
    array_distinct (O(n²) per document); pass False for consumers
    whose aggregation is duplicate-insensitive (e.g. MIN)."""
    # tokens materialize as their own projection: expressions captured
    # inside higher-order-function lambdas are re-evaluated per array
    # element, so tokenizing inline would re-split the document once
    # per shingle. As a materialized column it binds as an attribute
    # (evaluated once per row); multiple non-cheap references also stop
    # CollapseProject from inlining it back.
    from ..functions.text import tokens

    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= k)
    ex = toked.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, k)),
            )
        ).alias("shingle"),
    )
    return ex.distinct() if distinct else ex


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: one row per distinct content digest with
    the surviving (min) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                single_pass: bool = False) -> DataFrame:
    """Keep exactly one row per distinct text (deterministic min-id
    survivor).

    Two plan shapes, same rows:

    * default (groupBy + semi-join): the survivor-id side prunes to
      (text, id) — when ``df`` is a cheap scan, the id aggregation is
      narrow and AQE can broadcast it into the semi-join, leaving the
      big side unshuffled.  BUT ``df``'s plan executes in BOTH join
      branches, so an expensive upstream (a scoring scan with filters)
      runs twice.
    * ``single_pass=True`` (row_number window over md5(text), keep
      rank 1 — rank orders by id, so the survivor is the same min-id
      row): ONE evaluation of ``df`` and one digest-keyed exchange —
      the right shape when the input plan is expensive or when the
      distinct-digest set is corpus-sized anyway (100 TB posture: a
      corpus-scale survivor set can't broadcast, so the default's
      semi-join degrades to two exchanges + sort where the window
      pays one).  r13 optimization; equality of both forms is pinned
      in tests/test_property_dedup.py.
    """
    if single_pass:
        from pyspark.sql.window import Window

        w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


DEFAULT_MAX_DF = 256


def shingle_pairs_jaccard(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 3,
                          threshold: float = 0.5, scale: int = 6,
                          max_df: int | None = DEFAULT_MAX_DF,
                          persist: bool = True,
                          release: bool = True) -> DataFrame:
    """Near-duplicate pairs by exact k-word-shingle Jaccard.

    |A∩B| = per-pair row count of the inverted-index self-join;
    |A∪B| = |A| + |B| − |A∩B| from per-doc shingle counts. Only
    (id, shingle) and small count rows ever move through shuffles.

    ``max_df`` drops shingles appearing in more than that many
    documents before the self-join — the hot-shingle guard that keeps
    the inverted index near-linear.  A shingle in D docs contributes
    ~D²/2 candidate pairs: at web scale one boilerplate shingle in 10⁶
    docs is a 10¹²-pair bucket, while carrying near-zero information
    about any single pair.  Default 256 caps any one shingle at ~32k
    pairs; sizes are computed AFTER the cut so Jaccard stays a true
    ratio over the filtered shingle space.  ``max_df=None`` disables
    the guard (exhaustive semantics — small corpora only).
    """
    if release:
        release_persisted()
    scored = _pair_intersections(df, id_col, text_col, k, max_df, persist)
    scored = scored.withColumn(
        "jaccard",
        round_fixed(
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
            scale,
        ),
    )
    return scored.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def _pair_intersections(df: DataFrame, id_col: str, text_col: str,
                        k: int, max_df: int | None,
                        persist: bool) -> DataFrame:
    """Shared candidate stage of the set-overlap family
    (``shingle_pairs_jaccard`` / ``containment_pairs``): inverted-index
    self-join on shared shingles, returning one row per candidate pair
    with ``(id_a, id_b, n_inter, n_a, n_b)``.  The caller applies its
    own overlap measure — the candidate set (docs sharing >= 1
    surviving shingle) is measure-independent."""
    if max_df is not None:
        # ONE shingle-keyed exchange carries dedup + df-cut + self-join
        # (r13 optimization, guide §2.4 "remove shuffles outright"):
        # the raw positional explode repartitions by shingle once;
        # hash(shingle) satisfies the (shingle, id) clustering the
        # row_number dedup needs AND the (shingle) clustering the
        # df-count window and the self-join need, and both windows ride
        # one (shingle, id) sort — so the old distinct's full
        # (id, shingle) exchange disappears (measured 3.27 s → 2.28 s
        # for pairs at sf0.1; row sets identical, oracle-checked).
        # The df-cut itself stays a count-over-window, NOT a groupBy +
        # semi-join back — that form cost two extra full shuffles
        # (r7 profile).  Scale trade, documented: the explode ships
        # positional repeats (no map-side partial dedup), bounded per
        # document by its length; in exchange the corpus-sized
        # (id, shingle) stream crosses the network once, not twice.
        # Hot-shingle skew exposure is unchanged in kind — the same
        # shingle-keyed exchange existed before; max_df bounds its
        # downstream fan-out either way.
        from pyspark.sql.window import Window

        ex_raw = exploded_shingles(df, id_col, text_col, k, distinct=False)
        by_sh_id = Window.partitionBy("shingle", "id").orderBy("id")
        by_sh = Window.partitionBy("shingle")
        ex = (
            ex_raw.repartition("shingle")
            .withColumn("rn", F.row_number().over(by_sh_id))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .withColumn("df", F.count(F.lit(1)).over(by_sh))
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
    else:
        # exhaustive semantics (small corpora only): plain hash distinct
        ex = exploded_shingles(df, id_col, text_col, k)

    # ex feeds both sides of the self-join plus the two size lookups;
    # persisted it is computed once instead of four times (and the
    # cache preserves the shingle partitioning for the self-join).
    ex = _maybe_persist(ex, persist)
    sizes = ex.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    inter = (
        ex.alias("a")
        .join(ex.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    return (
        inter.join(sizes.select(F.col("id").alias("id_a"),
                                F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
    )


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      threshold: float = 0.8, scale: int = 6,
                      max_df: int | None = DEFAULT_MAX_DF,
                      persist: bool = True,
                      release: bool = True) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT of the smaller set in
    the larger, ``|A∩B| / min(|A|, |B|)`` — the quote/subset detector
    Jaccard structurally misses.  A short document fully embedded in a
    long one has Jaccard ≈ |A|/|B| (arbitrarily small) but containment
    exactly 1.0, so threshold-on-Jaccard keeps every excerpt/expansion
    pair while threshold-on-containment catches them (Broder '97
    resemblance-vs-containment distinction — public literature).

    Same candidate machinery as ``shingle_pairs_jaccard``
    (inverted-index self-join + windowed ``max_df`` hot-shingle guard;
    containment is measured over the filtered shingle space), so the
    100 TB shape is identical: only (id, shingle) and count rows move,
    no cross join, fan-out bounded per shingle.

    Output: (id_a, id_b, n_a, n_b, containment) for pairs at or above
    ``threshold``.
    """
    if release:
        release_persisted()
    scored = _pair_intersections(df, id_col, text_col, k, max_df, persist)
    scored = scored.withColumn(
        "containment",
        round_fixed(
            F.col("n_inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")),
            scale,
        ),
    )
    return scored.filter(F.col("containment") >= threshold).select(
        "id_a", "id_b", "n_a", "n_b", "containment"
    )


def exploded_tokens(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, token) rows, distinct per doc — the SimHash feature set."""
    from ..functions.text import tokens

    return (
        df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") > 0)
        .select("id", F.explode("toks").alias("token"))
        .distinct()
    )


# 64-bit signatures (r2 verdict): 32-bit SimHash over a homogeneous
# corpus produced near-quadratic candidate output — 8-bit chunk pieces
# collide constantly when documents share a template.  Doubling the
# width cuts per-chunk collision probability by ~2^8 per chunk and,
# with chunks=8 > max_hamming=6, makes the blocking LOSSLESS by
# pigeonhole (6 differing bits cannot touch all 8 chunks).
SIMHASH_BITS = 64


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       n_bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash: each distinct token votes ±1 on every bit
    of its 64-bit md5-derived hash; bit b of the signature is 1 when
    the vote sum is ≥ 0.

    Same scalable shape as MinHash: one explode, one hash per token,
    n_bits SUM aggregates in a single groupBy (map-side combinable).
    Engine-agnostic (md5 + integer shifts), so a SQL oracle reproduces
    signatures exactly.

    The token hash is the first 16 md5 hex digits read as a big-endian
    64-bit value, carried as two 32-bit halves (``x_hi`` = digits 1-8,
    ``x_lo`` = digits 9-16) so neither engine ever parses an unsigned
    64-bit literal: bits 0-31 come from the low half, 32-63 from the
    high.  The signature itself is assembled with ``shiftleft`` on
    LONG — bit 63 lands as the sign bit (two's complement), which both
    engines treat identically under xor/bit_count.
    """
    md5 = F.md5(F.col("token"))
    ex = exploded_tokens(df, id_col, text_col).select(
        "id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("x_hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("x_lo"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("x_lo") if b < 32 else F.col("x_hi"), b % 32
                ).bitwiseAND(1)
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    sums = ex.groupBy("id").agg(*votes)
    sig = None
    for b in range(n_bits):
        # shiftleft(1L, 63) = Long.MIN_VALUE: adding disjoint bit terms
        # is bitwise OR, so the sum stays in signed-64 range throughout.
        bit = F.when(
            F.col(f"s{b}") >= 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return sums.select("id", sig.alias("simhash"))


def near_signature_pairs(usig: DataFrame, max_hamming: int = 6,
                         n_bits: int = SIMHASH_BITS,
                         chunks: int = 8) -> DataFrame:
    """(sa, sb, hamming) pairs of DISTINCT signature values within
    Hamming ``max_hamming``, via lossless chunk-pair blocking (see
    ``simhash_pairs`` for why the blocking is exact). Input is one
    column ``simhash`` of distinct values; the self-join runs on the
    distinct-signature set, so signature multiplicity (template
    families) never inflates the candidate shuffle."""
    width = n_bits // chunks
    mask = (1 << width) - 1

    def piece(c: int) -> F.Column:
        return F.shiftright(F.col("simhash"), c * width).bitwiseAND(mask)

    combo_structs = [
        F.struct(
            F.lit(i * chunks + j).alias("combo"),
            piece(i).alias("p1"),
            piece(j).alias("p2"),
        )
        for i in range(chunks)
        for j in range(i + 1, chunks)
    ]
    keyed = usig.select(
        "simhash", F.explode(F.array(*combo_structs)).alias("k")
    ).select("simhash", "k.combo", "k.p1", "k.p2")

    return (
        keyed.alias("a")
        .join(keyed.alias("b"), on=["combo", "p1", "p2"])
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("sa"), F.col("b.simhash").alias("sb")
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 6,
                  n_bits: int = SIMHASH_BITS, chunks: int = 8,
                  persist: bool = True, release: bool = True) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking is LOSSLESS (recall exactly 1) and double-pruned for the
    100 TB posture:

    * **Chunk-pair keys.** max_hamming=6 differing bits can touch at
      most 6 of the 8 signature chunks, so every qualifying pair agrees
      on some C(8,2)=28 pair of 8-bit chunks — a 16-bit equality key.
      Single-chunk keys collide for random signatures with p≈8/256
      (3% of all pairs — quadratic at corpus scale); chunk-pair keys
      collide at ≈28/65536 (0.04%), 70× fewer false candidates for
      ~3.5× more index rows.  (Manku et al.'s permuted-block scheme,
      WWW'07, expressed as a join.)
    * **Distinct-signature candidates.** Template-heavy corpora put
      hundreds of documents on ONE signature; the candidate join runs
      on distinct signature values only, so a 10⁶-doc boilerplate
      family costs one row in the join, not 10⁶.  Identical-signature
      pairs (hamming 0) are expanded by a separate signature-equality
      self-join — that expansion is the semantic output itself (every
      pair must be emitted), not candidate overhead.

    Because blocking is lossless, the emitted set equals the plain
    all-pairs hamming filter — which is what the DuckDB oracle and the
    brute-force property test check, independent of this blocking.
    """
    if release:
        release_persisted()
    # per-doc (id, simhash) rows: read by the same-sig expansion join
    # and both sides of the cross-sig expansion
    sigs = _maybe_persist(
        simhash_signatures(df, id_col, text_col, n_bits), persist
    )
    near_sigs = near_signature_pairs(
        sigs.select("simhash").distinct(), max_hamming, n_bits, chunks
    )

    cross = (
        near_sigs.join(
            sigs.select(F.col("simhash").alias("sa"), F.col("id").alias("ia")),
            "sa",
        )
        .join(
            sigs.select(F.col("simhash").alias("sb"), F.col("id").alias("ib")),
            "sb",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    same = (
        sigs.alias("a")
        .join(sigs.alias("b"), "simhash")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(same)


def simhash_groups(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", max_hamming: int = 6,
                   n_bits: int = SIMHASH_BITS, chunks: int = 8,
                   max_iterations: int = 20, persist: bool = True,
                   release: bool = True) -> DataFrame:
    """Group-output SimHash near-dup: (id, group_id) for EVERY document,
    where group_id is the min doc id over the transitive closure of
    signature-level near-duplicate edges — the scale-safe alternative
    to ``simhash_pairs`` when the consumer wants survivors, not pairs.

    ``simhash_pairs``'s output contract is *all pairs*: a template
    family of F identical-signature documents inherently emits F²/2
    rows — at 100 TB with a 10⁶-doc boilerplate family the output
    itself is the scale-killer, regardless of how candidates are
    blocked.  This operator never materializes that expansion:

    * nodes are DISTINCT signature values (a 10⁶-doc family is ONE
      node), edges come from the same lossless chunk-pair blocking;
    * ``connected_components`` runs on the signature graph (tiny:
      |distinct sigs| nodes, near-linear edges);
    * documents join their signature's component once, and the min doc
      id per component becomes the group label — output is exactly n
      rows.

    Singleton signatures (no near neighbor) keep themselves as their
    component, so every document lands in a group; hamming-0 duplicates
    collapse via signature equality with no pair ever emitted.
    """
    if release:
        release_persisted()
    sigs = _maybe_persist(
        simhash_signatures(df, id_col, text_col, n_bits), persist
    )
    near = near_signature_pairs(
        sigs.select("simhash").distinct(), max_hamming, n_bits, chunks
    )
    # signature-level components; release=False — sigs is persisted and
    # still referenced below
    comp = connected_components(
        near, "sa", "sb", max_iterations=max_iterations, release=False
    ).select(F.col("id").alias("simhash"), F.col("component").alias("__comp"))
    with_comp = sigs.join(comp, "simhash", "left").select(
        "id", F.coalesce(F.col("__comp"), F.col("simhash")).alias("__comp")
    )
    gid = with_comp.groupBy("__comp").agg(F.min("id").alias("group_id"))
    return with_comp.join(gid, "__comp").select("id", "group_id")


def _base_hash() -> F.Column:
    """32-bit base hash of a shingle: first 8 hex digits of md5, mod P.
    Engine-agnostic (DuckDB: ('0x'||substr(md5(s),1,8))::BIGINT)."""
    return (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
        % MINHASH_PRIME
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """Wide MinHash signature (columns h0..h{n-1}) via a single
    explode → groupBy with n min-aggregates. One md5 per shingle total;
    partial aggregation keeps the shuffle at one row per doc per map
    partition. Positional duplicate shingles are harmless under MIN, so
    the distinct shuffle is skipped entirely."""
    ex = exploded_shingles(df, id_col, text_col, k, distinct=False).withColumn(
        "x", _base_hash()
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MINHASH_PRIME).alias(f"h{i}")
        for i, (a, b) in enumerate(perm_params(n_hashes))
    ]
    return ex.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = 3,
                      n_hashes: int = 16, bands: int = 4,
                      scale: int = 6, persist: bool = True,
                      release: bool = True) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard.

    The signature is banded (``bands`` bands of n_hashes/bands rows);
    docs colliding in any band become candidates via a bucket
    equi-join carrying only (id, band, bucket). Signatures are joined
    back onto the surviving pairs, so the wide rows never enter the
    candidate shuffle. Estimate = fraction of agreeing positions.
    """
    if release:
        release_persisted()
    rows = n_hashes // bands
    # per-doc signature rows are tiny relative to the corpus (n_docs ×
    # n_hashes ints) and feed four branches: both banded sides + both
    # signature re-joins.
    sigs = _maybe_persist(
        minhash_signatures(df, id_col, text_col, k, n_hashes), persist
    )

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows + r}") for r in range(rows)]
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")

    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    sig_a = sigs.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sig_b = sigs.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    )
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            round_fixed(matches.cast("double") / F.lit(float(n_hashes)), scale).alias(
                "est_jaccard"
            ),
        )
    )


def _components_local(edges: DataFrame, stats: dict | None = None,
                      pdf=None) -> DataFrame:
    """Driver-side union-find over a collected symmetric edge list (the
    ``connected_components`` small-graph fast path).  Union-by-min with
    path compression keeps every root the minimum id of its set, so the
    output frame (id, component = min reachable id) is identical to the
    converged iterative propagation.  Arrow both ways (toPandas /
    createDataFrame-from-pandas) — no per-row Python serialization.
    ``pdf`` lets the caller hand over an already-collected edge frame
    (the size gate collects it anyway — see ``connected_components``)."""
    from pyspark.sql import types as T

    id_type = edges.schema["a"].dataType
    if pdf is None:
        pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller root wins → root stays the min

    import pandas as pd

    out = pd.DataFrame(
        {"id": list(parent), "component": [find(n) for n in parent]}
    )
    schema = T.StructType(
        [T.StructField("id", id_type, False),
         T.StructField("component", id_type, False)]
    )
    if stats is not None:
        stats.update(
            {"iterations": 0, "converged": True, "mode": "local-union-find"}
        )
    return edges.sparkSession.createDataFrame(out, schema=schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iterations: int = 20,
                         release: bool = True,
                         halving_after: int = 8,
                         require_convergence: bool = False,
                         small_graph_threshold: int = 1_000_000,
                         stats: dict | None = None) -> DataFrame:
    """Resolve near-dup *pairs* into transitive duplicate *groups*:
    (id, component) where component is the minimum id reachable through
    any chain of pairs — the step every dedup pipeline needs between
    pairwise candidates and keep-one-per-group.

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(graph diameter) rounds (near-dup families are shallow — a few
    rounds in practice). Each round is one groupBy shuffle;
    localCheckpoint truncates the growing lineage. Driver involvement
    is one small convergence count every SECOND round (the count is a
    full job over the labels; checking half as often halves that
    overhead at the price of at most one extra propagation round),
    never row data.

    **Deep-graph fallback**: plain propagation needs diameter rounds —
    pathological for chain-shaped graphs.  From round ``halving_after``
    on, each round appends a pointer-halving step (component ←
    label(component), one extra self-join shuffle), which roughly
    doubles the distance a label travels per round → O(log diameter)
    total.  It stays OFF for the first rounds because on the shallow
    diameters near-dup graphs actually have the extra shuffle costs
    more than it saves (measured — see commit f8522d2); a graph still
    unconverged after ``halving_after`` rounds is exactly the deep case
    the step exists for.

    **Small-graph fast path**: near-dup edge sets are usually tiny
    relative to the corpus (candidates are already blocked/filtered).
    When the symmetric edge list has at most ``small_graph_threshold``
    rows, it is collected and resolved with a driver-side union-find —
    one job instead of diameter-many shuffle rounds, the same
    short-circuit distributed graph libraries apply below their
    broadcast threshold.  The output contract (id, min reachable id)
    is IDENTICAL to the iterative path.

    Default = 1M edges, sized by DRIVER MEMORY, worst case: the Arrow
    transfer is 2 int64 columns (16 MB/M edges — cheap); the union-find
    dict is the cost.  Up to 2 nodes/edge, a CPython dict entry with
    boxed-int key+value runs ~110 B (28 B int x2 + 8 B slot pointers x2
    + ~1/0.66 load-factor overhead), plus the transient ``tolist``
    (~72 B/edge) → ≈ 300 MB/M edges worst-case peak, well inside a
    4 GB driver next to Spark's own allocations.  The old 4M default
    risked a >1 GB dict on a driver that has no say in the matter.
    Graphs above the threshold take the distributed loop automatically
    (identical contract — ``test_components_local_fast_path_matches_
    distributed``); real near-dup graphs also have nodes << 2x edges,
    so the bound is conservative.  Set ``small_graph_threshold=0`` to
    force the distributed loop (tests do, to exercise the propagation
    machinery).

    Non-convergence within ``max_iterations`` warns (or raises with
    ``require_convergence=True``) — partial labelings must never be
    consumed silently.  Pass ``stats={}`` to receive
    ``{"iterations": n, "converged": bool, "mode": ...}``.
    """
    import warnings

    if release:
        release_persisted()
    # persist the NARROW pair list before symmetrizing: both union
    # branches reference the pairs plan, so without this the whole
    # candidate-generation pipeline upstream (shingle join + Jaccard /
    # Hamming scoring) executes TWICE to build the edge list —
    # measured 4.6s -> 3.2s on dedup_components at sf0.1, same-shaped
    # wins for quality_survivor and simhash_groups
    pairs_n = _maybe_persist(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")), True
    )
    edges = (
        pairs_n.unionByName(
            pairs_n.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
    )
    edges = _maybe_persist(edges, True)

    if small_graph_threshold > 0:
        # ONE bounded job instead of count-then-collect (r13): a limit
        # of threshold+1 rows caps the driver transfer regardless of
        # graph size — getting back <= threshold rows means the limit
        # never truncated, i.e. the frame IS the complete edge list,
        # ready for the union-find; threshold+1 rows means too big,
        # and the distributed loop below reuses the persisted edges.
        probe = edges.limit(small_graph_threshold + 1).toPandas()
        if len(probe) <= small_graph_threshold:
            return _components_local(edges, stats=stats, pdf=probe)

    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    converged = False
    rounds = 0
    for it in range(max_iterations):
        rounds = it + 1
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_min"), F.col("component")),
            ).alias("component"),
        )
        if it >= halving_after:
            # pointer-halving: adopt my label's own label. Labels are
            # node ids, so the lookup is a self-join on the label set.
            parent = updated.select(
                F.col("id").alias("component"),
                F.col("component").alias("__root"),
            )
            updated = updated.join(parent, "component", "left").select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("__root"), F.col("component")),
                ).alias("component"),
            )
        updated = updated.localCheckpoint(eager=True)
        check_now = it % 2 == 1 or it == max_iterations - 1
        if check_now:
            changed = (
                updated.alias("u")
                .join(labels.alias("l"), "id")
                .filter(F.col("u.component") != F.col("l.component"))
                .count()
            )
            if changed == 0:
                labels = updated
                converged = True
                break
        labels = updated
    if stats is not None:
        stats.update(
            {"iterations": rounds, "converged": converged,
             "mode": "distributed"}
        )
    if not converged:
        msg = (
            f"connected_components did not converge within "
            f"{max_iterations} iterations — labels may be partial "
            f"(graph diameter too deep; raise max_iterations)"
        )
        if require_convergence:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def _bloom_probe(col_name: str, i: int, m_bits: int):
    """Probe i for a Bloom filter over ``col_name``: bit position
    ``pmod(xxhash64(col, i), m)`` expressed as (word, mask) against an
    int64-word bitmap.  xxhash64 with the probe index as an extra
    hashed column gives k independent deterministic hash functions."""
    h = f"pmod(xxhash64({col_name}, {i}), {m_bits}L)"
    return F.expr(
        f"named_struct('word', {h} DIV 64, "
        f"'mask', shiftleft(1L, CAST({h} % 64 AS INT)))"
    )


def bloom_bitmap(digests: DataFrame, digest_col: str,
                 m_bits: int = 1 << 23, k: int = 5) -> DataFrame:
    """Build a Bloom filter over a digest column as a (word, bits)
    bitmap DataFrame — Spark exposes no reusable Bloom builder to
    Python, so the filter is composed from relational primitives:
    explode k probes per row, one bit_or aggregation.

    The aggregation output is at most ``m_bits/64`` rows (128 MiB of
    bitmap = 2M rows) regardless of corpus size, with map-side partial
    combine doing almost all the OR-ing — the corpus is scanned once
    and never shuffled (only probe words move, pre-combined per task).
    """
    probes = digests.select(
        F.explode(
            F.array(*[_bloom_probe(digest_col, i, m_bits) for i in range(k)])
        ).alias("p")
    )
    return probes.groupBy(F.col("p.word").alias("word")).agg(
        F.bit_or(F.col("p.mask")).alias("bits")
    )


def bloom_maybe_contains(bitmap: DataFrame, df: DataFrame, digest_col: str,
                         m_bits: int = 1 << 23, k: int = 5,
                         out_col: str = "maybe_in_corpus") -> DataFrame:
    """Per-distinct-digest Bloom decision: ``out_col`` is false only if
    the digest is DEFINITELY absent from the corpus the bitmap was
    built over (no false negatives — the Bloom guarantee); true means
    "present or false positive".

    The bitmap is broadcast (bounded by construction), so probing is a
    narrow pass over ``df``'s distinct digests — nothing corpus-sized
    shuffles.
    """
    probes = (
        df.select(digest_col).distinct()
        .select(
            digest_col,
            F.explode(
                F.array(
                    *[_bloom_probe(digest_col, i, m_bits) for i in range(k)]
                )
            ).alias("p"),
        )
    )
    joined = probes.join(
        F.broadcast(bitmap), probes["p.word"] == bitmap["word"], "left"
    )
    hit = (
        bitmap["bits"].isNotNull()
        & (bitmap["bits"].bitwiseAND(probes["p.mask"]) != 0)
    ).cast("int")
    return (
        joined.groupBy(digest_col)
        .agg((F.min(hit) == 1).alias(out_col))
    )


def incremental_ingest_bloom(existing: DataFrame, incoming: DataFrame,
                             text_col: str = "text", id_col: str = "doc_id",
                             m_bits: int = 1 << 23, k: int = 5) -> DataFrame:
    """``incremental_ingest`` with a Bloom pre-filter: rows whose
    fingerprint is definitely-new skip the exact anti-join entirely;
    only Bloom-positive digests (corpus hits + the ~fp% false
    positives) reach it.

    Same output as ``incremental_ingest`` by construction (the Bloom
    filter never produces false negatives, and positives fall through
    to the exact check) — the oracle is the exact path's SQL.  The win
    at scale: a small append against a huge corpus costs one corpus
    scan that reduces to a broadcastable bitmap, instead of shuffling
    corpus-side digests into an anti-join; with the bitmap persisted
    between appends the corpus isn't even scanned.
    """
    from ..functions.text import fingerprint

    inc = incoming.withColumn("__fp", fingerprint(text_col))
    corpus_fp = existing.select(fingerprint(text_col).alias("__fp"))
    bitmap = bloom_bitmap(corpus_fp, "__fp", m_bits, k)
    # null fingerprints never equi-join: route them around the Bloom
    # machinery as always-fresh, exactly as the anti-join path keeps
    # them (null keys match nothing)
    inc_null = inc.filter(F.col("__fp").isNull())
    inc_nn = inc.filter(F.col("__fp").isNotNull())
    decision = bloom_maybe_contains(bitmap, inc_nn, "__fp", m_bits, k)
    certain_new = inc_nn.join(
        decision.filter(~F.col("maybe_in_corpus")).select("__fp"), "__fp"
    )
    candidates = inc_nn.join(
        decision.filter(F.col("maybe_in_corpus")).select("__fp"), "__fp"
    )
    confirmed_new = candidates.join(corpus_fp, "__fp", "left_anti")
    fresh = certain_new.unionByName(confirmed_new).unionByName(inc_null)
    survivors = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return fresh.join(survivors, ["__fp", id_col], "left_semi").drop("__fp")


def incremental_ingest(existing: DataFrame, incoming: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Dedup-on-append for a continuously growing corpus: keep only
    incoming rows whose content fingerprint is absent from the existing
    corpus AND unique within the batch (min-id survivor).

    Both checks are fingerprint-keyed: the anti-join against existing
    touches only the (small) digest column — with the existing side
    stored as a bucketed digest table the ingest never reshuffles the
    corpus — and the within-batch dedup is one groupBy on the digest.
    """
    from ..functions.text import fingerprint

    inc = incoming.withColumn("__fp", fingerprint(text_col))
    seen = existing.select(fingerprint(text_col).alias("__fp"))
    fresh = inc.join(seen, "__fp", "left_anti")
    survivors = fresh.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(survivors, ["__fp", id_col], "left_semi").drop("__fp")
    )


def prefix_filter_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        t_num: int = 3, t_den: int = 5, scale: int = 6,
                        persist: bool = True,
                        release: bool = True) -> DataFrame:
    """All-pairs k-shingle Jaccard >= t_num/t_den — EXACT result with a
    bounded candidate set, via prefix filtering (the AllPairs/PPJoin
    family: Bayardo et al. WWW'07, Xiao et al. TODS'11 — public
    literature, no reference-repo counterpart; extension surface).

    ``shingle_pairs_jaccard`` bounds its inverted-index fan-out with a
    ``max_df`` cut, which *changes the metric* (Jaccard over the
    filtered shingle space).  Prefix filtering keeps exact semantics:

    * order each document's shingles by a single global total order —
      ascending document frequency, ties by shingle string (rare
      first);
    * index only the PREFIX of each list: p = n - ceil(t*n) + 1
      entries.  If J(A,B) >= t, the smallest common shingle (in the
      global order) must sit inside BOTH prefixes — if it sat past A's
      prefix, all of A∩B would fit in A's suffix of ceil(t*n_a) - 1
      entries, forcing |A∩B| < t*n_a <= t*|A∪B|, a contradiction — so
      the prefix self-join misses no qualifying pair;
    * a frequent shingle sits at the END of the order, so it enters
      prefixes only for documents almost entirely made of frequent
      shingles: the hot-bucket fan-out max_df exists to cap never
      materializes, and no threshold needs tuning;
    * candidates then pass the size filter t*max(n_a,n_b) <=
      min(n_a,n_b) and are verified with an intersection count joined
      over candidate pairs only.

    The threshold is a RATIONAL (t_num/t_den): prefix length, size
    filter, and the final Jaccard test are all exact integer
    arithmetic — no float threshold comparison anywhere; the float
    ``jaccard`` column is presentation only (floor form, ``scale`` dp).

    Scale shape: explode → hash-agg (shingle df) → one window pass per
    doc (rank + size share one exchange) → self-join on PREFIX shingles
    only → per-pair counting join.  At 100 TB the prefix join's keys
    are by construction the rarest ~(1-t) fraction of each document's
    shingles, so bucket sizes stay small without any semantic cut.
    """
    if release:
        release_persisted()
    from pyspark.sql.window import Window

    from ..functions.expressions import round_fixed

    ex = exploded_shingles(df, id_col, text_col, k)
    # feeds the df-count, the ranked prefix, and both verify sides
    ex = _maybe_persist(ex, persist)

    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("sh_df"))

    by_doc = Window.partitionBy("id")
    order = by_doc.orderBy("sh_df", "shingle")
    ranked = ex.join(dfreq, "shingle").select(
        "id",
        "shingle",
        F.row_number().over(order).alias("rnk"),
        F.count(F.lit(1)).over(by_doc).alias("n_sh"),
    )
    # p = n - ceil(t*n) + 1; ceil(t_num*n/t_den) in exact integer math
    ceil_tn = F.floor(
        (F.lit(t_num) * F.col("n_sh") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    prefix = ranked.filter(F.col("rnk") <= F.col("n_sh") - ceil_tn + 1)

    cand = (
        prefix.select(F.col("id").alias("id_a"), "shingle",
                      F.col("n_sh").alias("n_a"))
        .join(
            prefix.select(F.col("id").alias("id_b"), "shingle",
                          F.col("n_sh").alias("n_b")),
            "shingle",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        # J >= t forces the sizes within ratio t of each other
        .filter(
            (F.lit(t_num) * F.col("n_a") <= F.lit(t_den) * F.col("n_b"))
            & (F.lit(t_num) * F.col("n_b") <= F.lit(t_den) * F.col("n_a"))
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )

    # verify candidates only: fan each pair out to A's shingles, keep
    # those also in B (inner join = set intersection), count per pair
    inter = (
        cand.select("id_a", "id_b")
        .join(ex.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(ex.select(F.col("id").alias("id_b"), "shingle"),
              ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )

    union_sz = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        cand.join(inter, ["id_a", "id_b"])
        .filter(F.lit(t_den) * F.col("n_inter") >= F.lit(t_num) * union_sz)
        .select(
            "id_a",
            "id_b",
            round_fixed(
                F.col("n_inter").cast("double") / union_sz, scale
            ).alias("jaccard"),
        )
    )


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Span-level exact-substring duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    literature; the granularity between doc-level exact dedup and
    near-dup): every k-token sliding window, grouped by content hash,
    reporting spans that recur across >= ``min_docs`` distinct
    documents.

    The suffix-array machinery of the paper doesn't distribute; the
    equivalent relational shape does: a narrow explode (one span per
    token position) followed by ONE hash aggregation keyed on
    md5(span) — grouping on the 128-bit digest, not the span text, so
    the shuffle key is a fixed 32 chars regardless of k and the span
    strings themselves never need to be co-located.  Map-side partial
    aggregation absorbs within-partition repeats (boilerplate repeated
    on every page of a crawl), so a span duplicated a million times
    costs one counter per task, not a million shuffled rows.  The
    distinct-doc count rides the same exchange as a two-phase partial
    distinct.

    Downstream span REMOVAL is a semi-join of the flagged hashes back
    against the exploded positions — same candidate shape as
    ``incremental_ingest``; ``duplicate_span_coverage`` is the
    per-document application; this operator is the profile/report
    half.
    """
    ex = _span_starts(df, id_col, text_col, k)
    return (
        ex.groupBy(F.md5(F.col("span")).alias("span_hash"))
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _span_starts(df: DataFrame, id_col: str, text_col: str,
                 k: int) -> DataFrame:
    """(id, start, span): every k-token sliding window with its
    1-based start position — the shared explode for the span-dedup
    family.  Narrow (no shuffle); docs shorter than k yield no rows."""
    from ..functions.text import tokens

    toks = tokens(F.col(text_col))
    spans = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"), F.posexplode(spans).alias("p0", "span")
    ).select("id", (F.col("p0") + 1).alias("start"), "span")


def duplicate_span_coverage(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 8,
                            min_docs: int = 2, scale: int = 6,
                            persist: bool = True,
                            release: bool = True) -> DataFrame:
    """Per-document duplicated-span coverage (the actionable half of
    Lee et al. 2022's span dedup): for every document, the fraction of
    its token positions lying inside at least one k-token span that
    also occurs in >= ``min_docs`` distinct documents — the number a
    curation pipeline thresholds on ("drop docs more than X%
    copied"), where ``duplicate_spans`` is the corpus-level report.

    Plan: the shared span explode feeds the same digest aggregation as
    the profile; flagged hashes come back as a SEMI-join against the
    span occurrences (ids only, no counts shipped), each surviving
    occurrence fans out to its k covered positions (bounded k×
    explode), and a distinct count per document yields covered-token
    totals — interval union as distinct-position counting, no
    per-document sort, no window.  Docs with no flagged span (or
    shorter than k) keep coverage 0.0 via the left join + coalesce.
    """
    if release:
        release_persisted()
    from ..functions.expressions import round_fixed
    from ..functions.text import tokens

    # feeds both the flag aggregation and the occurrence semi-join
    ex = _span_starts(df, id_col, text_col, k)
    ex = _maybe_persist(ex, persist)

    flagged = (
        ex.groupBy(F.md5(F.col("span")).alias("h"))
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    hits = ex.withColumn("h", F.md5(F.col("span"))).join(
        flagged, "h", "left_semi"
    )
    covered = (
        hits.select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .groupBy("id")
        .agg(F.countDistinct("cpos").alias("n_covered"))
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).alias("n_tokens"),
    )
    return (
        base.join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_covered"), F.lit(0)).alias("n_covered"),
            F.when(F.col("n_tokens") > 0, round_fixed(
                F.coalesce(F.col("n_covered"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                scale,
            )).otherwise(F.lit(0.0)).alias("dup_coverage"),
        )
    )


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD '03 "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS algorithm; public literature): hash
    every k-token shingle, slide a window of ``w`` consecutive shingle
    hashes over the document, and keep the MINIMUM hash of each
    window.  The selected set is position-robust — any shared
    substring of at least w+k-1 tokens between two documents is
    guaranteed to contribute at least one common fingerprint — at
    ~2/(w+1) the density of the full shingle set.

    Relational shape: the positional shingle explode is narrow; the
    per-window minimum is ONE window function partitioned by document
    (bounded by document length, never by corpus size — no global
    sort), and the output is the per-document DISTINCT fingerprint
    set.  The shingle hash is the first 8 md5 hex digits as a BIGINT,
    the same engine-reproducible construction MinHash uses
    (``minhash_signatures``), so an independent SQL engine rebuilds
    identical fingerprints.

    Output: (id, fp) — one row per distinct selected fingerprint per
    document; documents with fewer than k+w-1 tokens (no full window)
    yield no rows.
    """
    from pyspark.sql.window import Window

    ex = _span_starts(df, id_col, text_col, k)
    h = F.conv(F.substring(F.md5(F.col("span")), 1, 8), 16, 10).cast("long")
    hashed = ex.select("id", "start", h.alias("h"))

    by_doc = Window.partitionBy("id")
    win = (
        Window.partitionBy("id")
        .orderBy("start")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        hashed.withColumn("n_sp", F.count(F.lit(1)).over(by_doc))
        .withColumn("fp", F.min("h").over(win))
        # only full windows: starts 1 .. n_spans - w + 1
        .filter(F.col("start") <= F.col("n_sp") - F.lit(w - 1))
        .select("id", "fp")
        .distinct()
    )


def contaminated_spans(corpus: DataFrame, bench: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       k: int = 8) -> DataFrame:
    """Positional benchmark decontamination (the span-level complement
    of ``decontam.contamination_scores``): flag every k-token sliding
    window of a corpus document that appears VERBATIM anywhere in the
    benchmark set, and report per contaminated document where the hits
    sit — total hit spans, first/last hit position, and the longest
    run of consecutive hit starts (a long run = a long verbatim quote;
    scattered singletons = boilerplate collisions).  This is the
    exact-substring protocol (the GPT-3 appendix-C 13-gram form) at
    the position granularity a REMOVAL pass needs, where
    ``text_decontaminate`` only scores whole documents.

    Plan: both sides go through the shared narrow span explode; the
    benchmark side collapses to DISTINCT span digests (tiny — ids
    never leave the benchmark), corpus hits are a digest semi-join
    (broadcast at scale), and the run structure is the classic
    gaps-and-islands grouping ``start - row_number()`` — one window
    partitioned by document, bounded by document length.
    """
    from pyspark.sql.window import Window

    bench_spans = (
        _span_starts(bench, id_col, text_col, k)
        .select(F.md5(F.col("span")).alias("h"))
        .distinct()
    )
    hits = (
        _span_starts(corpus, id_col, text_col, k)
        .withColumn("h", F.md5(F.col("span")))
        .join(bench_spans, "h", "left_semi")
    )
    seq = Window.partitionBy("id").orderBy("start")
    runs = hits.withColumn(
        "island", F.col("start") - F.row_number().over(seq)
    )
    per_island = runs.groupBy("id", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_spans"),
            F.min("start").alias("first_hit"),
            F.max("start").alias("last_hit"),
        )
        .join(
            per_island.groupBy("id").agg(F.max("run_len").alias("max_run")),
            "id",
        )
        .select(
            F.col("id").alias(id_col),
            "n_hit_spans", "max_run", "first_hit", "last_hit",
        )
    )


def merge_minhash_signatures(parts: DataFrame,
                             n_hashes: int = 16) -> DataFrame:
    """Merge per-part MinHash signatures into whole-document
    signatures: elementwise MIN per permutation — exact because
    ``min over (A ∪ B) = min(min A, min B)`` holds per hash, so the
    merged signature is BIT-IDENTICAL to recomputing over the union of
    the parts' shingle sets.  This mergeability is what makes a
    minhash dedup index maintainable incrementally at 100 TB: stored
    per-document signatures absorb a new chunk/revision batch with ONE
    n_hashes-column min aggregation — the corpus text is never
    re-read, only the delta is shingled (cf. ``incremental_ingest``
    for the exact-dedup analog).  Input: signature frames from
    ``minhash_signatures`` (columns id, h0..h{n-1}), any number of
    parts unioned; parts shorter than the shingle width simply
    contribute no row."""
    return parts.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def winnow_pairs(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3, w: int = 4,
                 min_shared: int = 2) -> DataFrame:
    """The MOSS match step over winnowing fingerprints: candidate
    document pairs sharing >= ``min_shared`` selected fingerprints,
    via an inverted index on the fingerprint value — the guarantee of
    ``winnow_fingerprints`` (every shared >= w+k-1-token run leaves a
    common fingerprint) makes this a RECALL-SAFE candidate generator
    for long verbatim overlaps at ~2/(w+1) the index size of the full
    shingle inverted index.  Same bounded-bucket shape as the shingle
    index: a fingerprint selected by D docs contributes ~D²/2 pairs,
    and winnowing's min-hash selection has no boilerplate
    concentration pathology (a corpus-frequent run selects the same
    few fingerprints, one bucket each).

    Output: (id_a, id_b, n_shared) — downstream exact scoring (e.g.
    ``shingle_pairs_jaccard`` restricted to candidates) confirms."""
    fp = winnow_fingerprints(df, id_col, text_col, k, w)
    return (
        fp.alias("a")
        .join(fp.alias("b"), on="fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
