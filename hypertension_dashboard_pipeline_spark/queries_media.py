"""Registered queries for the REAL media decode surface
(``operators/media.py``): PNG/BMP image decode, nearest-neighbor
resample, and WAV PCM decode, each over a synthetic binary corpus
derived from the ``documents`` table.

Oracle design — the point of these queries: the Spark side goes
``generation formula -> numpy pixels/samples -> REAL encoder -> binary
column -> REAL decoder (bytes only) -> integer stats``; the DuckDB
oracle never sees a byte and instead recomputes the same statistics
from the generation formula in closed form (constant ``range()``
lattice + a bound filter).  The two engines meet at the same int64
numbers by INDEPENDENT routes, so what the parity check actually
verifies is the codec path: chunk framing, zlib inflate, the five PNG
row filters, BMP row padding and bottom-up order, RIFF chunk walk.
All crossing values are exact integers — zero float-parity surface.

At scale: each query is scan -> mapInPandas (encode) -> mapInPandas
(decode+stats); no shuffle, no collect, partitioning preserved — the
embarrassingly-parallel shape media decode should have at 100 TB.

Beyond-reference surface: the reference pipeline has no media path
(SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .operators import media
from .registry import register

# The generation formulas, restated for the SQL side (keep in sync with
# operators/media.py constants — the oracle recomputes the closed form).
# ``k`` is the pmod-normalized key (media.KEY_MOD): Python % floors,
# SQL % truncates, so both sides run the formulas on the same
# guaranteed-non-negative value even for a hostile negative doc_id.
_KEYED_DOCS = (
    "(SELECT doc_id, ((doc_id % 2147483648) + 2147483648) % 2147483648 AS k"
    " FROM documents) d"
)
_W = "(d.k % 29 + 4)"
_H = "(d.k % 17 + 3)"
_N = "(d.k % 97 + 16)"


@register(
    "media_image_decode_stats",
    oracle=f"""
    SELECT d.doc_id,
           CASE WHEN d.k % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST({_W} * {_H} AS BIGINT) AS n_px,
           CAST(SUM((x * 7 + y * 11 + d.k) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((x * 3 + y * 5 + 2 * d.k) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((x + y + 3 * d.k) % 256) AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format image corpus (PNG for even doc ids, BMP for odd)
    decoded by the REAL codecs, magic-byte dispatch, integer channel
    sums out.  The oracle recomputes the sums from the pixel formula —
    it never decodes a byte — so a parity match certifies the decode
    path itself."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_image_corpus(docs)
    return media.image_stats(corpus)


@register(
    "media_image_resize_nn",
    oracle=f"""
    SELECT d.doc_id,
           CAST(SUM((((xo * {_W}) // 8) * 7
                     + ((yo * {_H}) // 6) * 11 + d.k) % 256)
                AS BIGINT) AS rs_r,
           CAST(SUM((((xo * {_W}) // 8) * 3
                     + ((yo * {_H}) // 6) * 5 + 2 * d.k) % 256)
                AS BIGINT) AS rs_g,
           CAST(SUM((((xo * {_W}) // 8)
                     + ((yo * {_H}) // 6) + 3 * d.k) % 256)
                AS BIGINT) AS rs_b
    FROM {_KEYED_DOCS}, range(0, 8) t(xo), range(0, 6) s(yo)
    GROUP BY d.doc_id, d.k
    """,
)
def media_image_resize_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + REAL nearest-neighbor resample to 8x6 (floor index map
    ``src = (dst * src_dim) // dst_dim``), resized channel sums out.
    The oracle maps each output pixel back to its source coordinate
    with the same integer geometry and applies the pixel formula
    there — verifying the actual resample, not just the decode."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_image_corpus(docs)
    return media.resize_stats(corpus, out_w=8, out_h=6)


@register(
    "media_png_interlaced_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * ((x * 7 + y * 11 + d.k) % 256)) AS BIGINT) AS sum_xr,
           CAST(SUM(y * ((x * 3 + y * 5 + 2 * d.k) % 256)) AS BIGINT)
               AS sum_yg,
           CAST(SUM((x + y + 3 * d.k) % 256) AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_interlaced_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-interlaced PNG corpus decoded through the REAL seven-pass
    reconstruction (operators/media.py:_png_decode_inner), emitting
    POSITION-WEIGHTED channel sums — sum(x·r) / sum(y·g) are sensitive
    to WHERE each pass lands on the output lattice, so a wrong Adam7
    table or scatter stride fails parity even when every byte
    survives.  The geometry range (4..32 × 3..19) includes images too
    small for some passes (spec: empty passes are entirely absent from
    the stream).  Same exchange-free decode shape as the other media
    queries."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_interlaced_image_corpus(docs)
    return media.image_position_stats(corpus)


@register(
    "media_png_palette_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * ((((x * 3 + y * 5 + d.k) % 16) * 37 + d.k) % 256))
                AS BIGINT) AS sum_xr,
           CAST(SUM(y * ((((x * 3 + y * 5 + d.k) % 16) * 59 + 2 * d.k)
                         % 256)) AS BIGINT) AS sum_yg,
           CAST(SUM((((x * 3 + y * 5 + d.k) % 16) * 83 + 3 * d.k) % 256)
                AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-type-3 (paletted) PNG decode at bit depth 4: sub-byte
    MSB-first unpacking with scanline tail padding, PLTE lookup, and
    (for even keys) the Adam7 seven-pass path COMPOSED with the
    palette path — position-weighted sums of the EXPANDED RGB verify
    both the index geometry and the palette mapping.  The oracle
    substitutes the index formula into the palette formulas and never
    builds a palette at all."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_palette_image_corpus(docs)
    return media.image_position_stats(corpus)


@register(
    "media_png_16bit_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * (CASE WHEN d.k % 2 = 0
                         THEN (x * 257 + y * 1031 + d.k * 3) % 65536
                         ELSE (x * 521 + y * 769 + d.k * 11) % 65536 END))
                AS BIGINT) AS sum_xr,
           CAST(SUM(y * (CASE WHEN d.k % 2 = 0
                         THEN (x * 101 + y * 577 + d.k * 5) % 65536
                         ELSE (x * 521 + y * 769 + d.k * 11) % 65536 END))
                AS BIGINT) AS sum_yg,
           CAST(SUM(CASE WHEN d.k % 2 = 0
                    THEN (x * 29 + y * 47 + d.k * 7) % 65536
                    ELSE (x * 521 + y * 769 + d.k * 11) % 65536 END)
                AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_16bit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-depth-16 PNG decode (big-endian sample pairs, byte-level
    filtering, uint16 reconstruction) over a mixed 16-bit RGB/greyscale
    corpus, Adam7-composed for every third key — position-weighted
    sums over the FULL 0..65535 sample range, so an 8-bit truncation,
    a byte-swap, or a hi/lo recombination error anywhere in the path
    fails parity.  Greyscale rows exercise the replicate convention of
    image_position_stats (oracle: the grey formula appears in all
    three sums)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_16bit_image_corpus(docs)
    return media.image_position_stats(corpus)


@register(
    "media_png_trns_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * (CASE WHEN d.k % 2 = 0 THEN
                    CASE WHEN ((x * 3 + y * 5 + d.k) % 16) < d.k % 16 + 1
                         THEN (((x * 3 + y * 5 + d.k) % 16) * 19 + 5 * d.k)
                              % 256
                         ELSE 255 END
               ELSE CASE WHEN x = 0 AND y = 0 THEN 0 ELSE 255 END END))
                AS BIGINT) AS sum_xa,
           CAST(SUM(y * (CASE WHEN d.k % 2 = 0 THEN
                    CASE WHEN ((x * 3 + y * 5 + d.k) % 16) < d.k % 16 + 1
                         THEN (((x * 3 + y * 5 + d.k) % 16) * 19 + 5 * d.k)
                              % 256
                         ELSE 255 END
               ELSE CASE WHEN x = 0 AND y = 0 THEN 0 ELSE 255 END END))
                AS BIGINT) AS sum_ya,
           CAST(SUM(CASE WHEN (CASE WHEN d.k % 2 = 0 THEN
                    CASE WHEN ((x * 3 + y * 5 + d.k) % 16) < d.k % 16 + 1
                         THEN (((x * 3 + y * 5 + d.k) % 16) * 19 + 5 * d.k)
                              % 256
                         ELSE 255 END
               ELSE CASE WHEN x = 0 AND y = 0 THEN 0 ELSE 255 END END) = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_transparent
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_trns_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tRNS transparency decode over both spec forms of the chunk:
    even keys are paletted images whose alpha table is SHORTER than
    the palette (trailing entries must default to opaque), composed
    with Adam7 for every third key; odd keys are RGB images with a
    color-key tRNS matching exactly one lattice pixel.  Alpha sums are
    position-weighted (operators/media.py:image_alpha_stats) so the
    alpha must land on the right pixels, and the oracle substitutes
    the index formula into the alpha-table formula without ever
    building a palette."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_trns_image_corpus(docs)
    return media.image_alpha_stats(corpus)


@register(
    "media_png_graya_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * ((x * 13 + y * 29 + 11 * d.k)
                         % (CASE WHEN d.k % 2 = 0 THEN 65536 ELSE 256 END)))
                AS BIGINT) AS sum_xa,
           CAST(SUM(y * ((x * 13 + y * 29 + 11 * d.k)
                         % (CASE WHEN d.k % 2 = 0 THEN 65536 ELSE 256 END)))
                AS BIGINT) AS sum_ya,
           CAST(SUM(CASE WHEN (x * 13 + y * 29 + 11 * d.k)
                         % (CASE WHEN d.k % 2 = 0 THEN 65536 ELSE 256 END)
                         = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_transparent
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_graya_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-type-4 (grey+alpha) PNG decode over a mixed 8/16-bit
    corpus, Adam7-composed for every third key — the alpha plane's
    position-weighted sums verify the 2-channel sample interleave
    (a grey/alpha swap or a stride error moves alpha to the wrong
    pixels and fails parity).  Completes the IHDR color-type matrix
    alongside the grey/RGB/RGBA/palette queries."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_graya_image_corpus(docs)
    return media.image_alpha_stats(corpus)


@register(
    "media_png_subbyte_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * ((x * 3 + y * 5 + d.k)
                         % (CASE d.k % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                            ELSE 16 END))
                      * (CASE d.k % 3 WHEN 0 THEN 255 WHEN 1 THEN 85
                         ELSE 17 END)) AS BIGINT) AS sum_xr,
           CAST(SUM(y * ((x * 3 + y * 5 + d.k)
                         % (CASE d.k % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                            ELSE 16 END))
                      * (CASE d.k % 3 WHEN 0 THEN 255 WHEN 1 THEN 85
                         ELSE 17 END)) AS BIGINT) AS sum_yg,
           CAST(SUM(((x * 3 + y * 5 + d.k)
                     % (CASE d.k % 3 WHEN 0 THEN 2 WHEN 1 THEN 4
                        ELSE 16 END))
                    * (CASE d.k % 3 WHEN 0 THEN 255 WHEN 1 THEN 85
                       ELSE 17 END)) AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_png_subbyte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-byte GREYSCALE decode (bit depths 1/2/4, color type 0):
    MSB-first unpacking with scanline tail padding — the same packing
    machinery as the palette path but through the sample-scaling
    branch (255/85/17, exact) instead of a PLTE lookup, Adam7-composed
    for even keys.  Position-weighted sums catch a bit-order or
    padding error at any depth; the oracle restates the scale factors
    in closed form."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_subbyte_image_corpus(docs)
    return media.image_position_stats(corpus)


@register(
    "media_audio_decode_stats",
    oracle=f"""
    WITH pcm AS (
        SELECT d.doc_id,
               d.k,
               i,
               (i * i * 37 + i * 1009 + d.k * 31) % 65536 - 32768 AS s
        FROM {_KEYED_DOCS}, range(0, 113) t(i)
        WHERE i < {_N}
    )
    SELECT doc_id,
           CAST(8000 + (k % 3) * 4000 AS INT) AS sample_rate,
           CAST(k % 97 + 16 AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sum_sample,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN i > 0 AND ((lag_s >= 0) != (s >= 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sign_flips
    FROM (
        SELECT doc_id, k, i, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS lag_s
        FROM pcm
    )
    GROUP BY doc_id, k
    """,
)
def media_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV corpus encoded by the stdlib ``wave`` module, decoded by the
    engine's manual RIFF parser (two independent codec
    implementations), exact int64 PCM statistics out: sum, absolute
    sum, energy, and consecutive sign flips.  The oracle recomputes
    all four from the sample formula via a LAG window — no bytes."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_audio_corpus(docs)
    return media.audio_stats(corpus)


@register(
    "media_bmp_variant_stats",
    oracle=f"""
    SELECT d.doc_id,
           CAST({_W} AS INT) AS width,
           CAST({_H} AS INT) AS height,
           CAST(SUM(x * (CASE WHEN d.k % 4 IN (0, 1)
                         THEN (((x * 3 + y * 5 + d.k) % 16) * 37 + d.k) % 256
                         ELSE (x * 7 + y * 11 + d.k) % 256 END))
                AS BIGINT) AS sum_xr,
           CAST(SUM(y * (CASE WHEN d.k % 4 IN (0, 1)
                         THEN (((x * 3 + y * 5 + d.k) % 16) * 59 + 2 * d.k)
                              % 256
                         ELSE (x * 3 + y * 5 + 2 * d.k) % 256 END))
                AS BIGINT) AS sum_yg,
           CAST(SUM(CASE WHEN d.k % 4 IN (0, 1)
                    THEN (((x * 3 + y * 5 + d.k) % 16) * 83 + 3 * d.k) % 256
                    ELSE (x + y + 3 * d.k) % 256 END)
                AS BIGINT) AS sum_b
    FROM {_KEYED_DOCS}, range(0, 32) t(x), range(0, 19) s(y)
    WHERE x < {_W} AND y < {_H}
    GROUP BY d.doc_id, d.k
    """,
)
def media_bmp_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP decode across the real-world variant matrix — 8-bit
    paletted, 4-bit paletted top-down, 32-bit BGRX (the pad byte
    carries a deliberate non-pixel formula the decoder must DROP), and
    24-bit top-down.  The y-weighted sums catch a bottom-up/top-down
    mix-up at any depth; the x-weighted sums catch sub-byte bit order
    and the BGR(X) channel order.  Same exchange-free decode shape;
    the oracle substitutes the index formula into the color-table
    formulas for the paletted forms."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_bmp_variant_corpus(docs)
    return media.image_position_stats(corpus)


@register(
    "media_audio_depth_stats",
    oracle=f"""
    WITH pcm AS (
        SELECT d.doc_id,
               d.k,
               i,
               CASE d.k % 4
                 WHEN 0 THEN ((i * i * 37 + i * 1009 + d.k * 31) % 256 - 128)
                             * 256
                 WHEN 1 THEN (i * i * 37 + i * 1009 + d.k * 31) % 65536
                             - 32768
                 ELSE (i * i * 37 + i * 1009 + d.k * 31) % 16777216
                      - 8388608
               END AS s
        FROM {_KEYED_DOCS}, range(0, 113) t(i)
        WHERE i < {_N}
    )
    SELECT doc_id,
           CAST(8000 + (k % 3) * 4000 AS INT) AS sample_rate,
           CAST(k % 97 + 16 AS BIGINT) AS n_samples,
           CAST(SUM(s) AS BIGINT) AS sum_sample,
           CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN i > 0 AND ((lag_s >= 0) != (s >= 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sign_flips
    FROM (
        SELECT doc_id, k, i, s,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS lag_s
        FROM pcm
    )
    GROUP BY doc_id, k
    """,
)
def media_audio_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV decode across ALL FOUR integer PCM widths (8-bit unsigned
    widened ``(v-128)*256``, 16-bit, 24-bit sign-extended 3-byte, and
    32-bit), cycling by key — the exact-integer energy/sign-flip
    statistics catch a sign-extension error (bit 23), a width
    misparse, or the wrong 8-bit midpoint, none of which the 16-bit
    query can see.  Same exchange-free decode shape."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_audio_depth_corpus(docs)
    return media.audio_stats(corpus)


@register(
    "media_audio_stereo_stats",
    oracle=f"""
    WITH pcm AS (
        SELECT d.doc_id, d.k, i, ch,
               CASE WHEN ch = 0
                    THEN (i * i * 37 + i * 1009 + d.k * 31) % 65536 - 32768
                    ELSE (i * i * 41 + i * 787 + d.k * 17) % 65536 - 32768
               END AS s
        FROM {_KEYED_DOCS}, range(0, 113) t(i), range(0, 2) c(ch)
        WHERE i < {_N}
    )
    SELECT doc_id,
           CAST(8000 + (k % 3) * 4000 AS INT) AS sample_rate,
           CAST(ch AS INT) AS channel,
           CAST(k % 97 + 16 AS BIGINT) AS n_frames,
           CAST(SUM(s) AS BIGINT) AS sum_sample,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq
    FROM pcm
    GROUP BY doc_id, k, ch
    """,
)
def media_audio_stereo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO WAV decode with per-channel fan-out: left and right
    carry different closed-form signals, so the per-channel sums and
    energies verify the interleaved frame layout exactly — a channel
    swap or stride error fails parity even though whole-stream totals
    would still match.  Same exchange-free decode shape."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = media.synth_stereo_audio_corpus(docs)
    return media.audio_channel_stats(corpus)
