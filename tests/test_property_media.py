"""Property tests for the media codec primitives (operators/media.py):
hypothesis drives the encode/decode round-trips with arbitrary
inputs — shapes the synthetic corpora never produce."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from hypertension_dashboard_pipeline_spark.operators import media as m


def _arr(data: list[int], h: int, w: int, ch: int) -> np.ndarray:
    return np.array(data, dtype=np.uint8).reshape(h, w, ch)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_roundtrip_arbitrary_rgb(data):
    h = data.draw(st.integers(1, 12))
    w = data.draw(st.integers(1, 12))
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3)
    )
    arr = _arr(px, h, w, 3)
    assert (m.png_decode(m.png_encode(arr)) == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_16bit_roundtrip_arbitrary(data):
    """Depth-16 encode/decode is the identity on arbitrary uint16
    pixels, grey and RGB, sequential and Adam7."""
    h = data.draw(st.integers(1, 10))
    w = data.draw(st.integers(1, 10))
    ch = data.draw(st.sampled_from([1, 2, 3, 4]))
    il = data.draw(st.booleans())
    px = data.draw(
        st.lists(st.integers(0, 65535),
                 min_size=h * w * ch, max_size=h * w * ch)
    )
    arr = np.array(px, dtype=np.uint16).reshape(h, w, ch)
    src = arr[:, :, 0] if ch == 1 else arr
    out = m.png_decode(m.png_encode(src, interlace=il))
    assert out.dtype == np.uint16
    assert (out == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_subbyte_grey_roundtrip_arbitrary(data):
    """Depth-1/2/4 greyscale encode/decode is the exact ×255/85/17
    scaling of arbitrary sub-byte samples, sequential and Adam7."""
    h = data.draw(st.integers(1, 10))
    w = data.draw(st.integers(1, 10))
    d = data.draw(st.sampled_from([1, 2, 4]))
    il = data.draw(st.booleans())
    px = data.draw(
        st.lists(st.integers(0, (1 << d) - 1),
                 min_size=h * w, max_size=h * w)
    )
    arr = np.array(px, dtype=np.uint8).reshape(h, w)
    out = m.png_decode(m.png_encode(arr, interlace=il, depth=d))
    assert (out[:, :, 0] == arr * (255 // ((1 << d) - 1))).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_trns_colorkey_marks_exactly_matching_pixels(data):
    """tRNS color-key decode: alpha is 0 on precisely the pixels equal
    to the key and fully opaque elsewhere, for grey and RGB at both
    depths."""
    h = data.draw(st.integers(1, 8))
    w = data.draw(st.integers(1, 8))
    ch = data.draw(st.sampled_from([1, 3]))
    depth16 = data.draw(st.booleans())
    hi = 65535 if depth16 else 255
    dt_ = np.uint16 if depth16 else np.uint8
    px = data.draw(
        st.lists(st.integers(0, hi), min_size=h * w * ch,
                 max_size=h * w * ch)
    )
    arr = np.array(px, dtype=dt_).reshape(h, w, ch)
    key = tuple(int(v) for v in arr[data.draw(st.integers(0, h - 1)),
                                    data.draw(st.integers(0, w - 1))])
    src = arr[:, :, 0] if ch == 1 else arr
    out = m.png_decode(m.png_encode(src, trns=key if ch == 3 else key[0]))
    assert out.shape == (h, w, ch + 1)
    expect_trans = (arr == np.array(key, dtype=dt_)).all(axis=2)
    assert ((out[:, :, -1] == 0) == expect_trans).all()
    assert (out[:, :, -1][~expect_trans] == hi).all()
    assert (out[:, :, :ch] == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_png_interlaced_roundtrip_arbitrary_rgb(data):
    """Adam7 seven-pass encode/decode is the identity on arbitrary
    pixels and geometries — small dims exercise absent passes."""
    h = data.draw(st.integers(1, 12))
    w = data.draw(st.integers(1, 12))
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3)
    )
    arr = _arr(px, h, w, 3)
    assert (m.png_decode(m.png_encode(arr, interlace=True)) == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_bmp_roundtrip_arbitrary_rgb(data):
    h = data.draw(st.integers(1, 12))
    w = data.draw(st.integers(1, 12))  # every padding class hit over runs
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3)
    )
    arr = _arr(px, h, w, 3)
    assert (m.bmp_decode(m.bmp_encode(arr)) == arr).all()


@settings(max_examples=25, deadline=None)
@given(
    rate=st.sampled_from([8000, 12000, 16000, 44100]),
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=200),
)
def test_wav_roundtrip_arbitrary_pcm(rate, samples):
    arr = np.array(samples, dtype=np.int16)
    got_rate, got = m.wav_decode(m.wav_encode(rate, arr))
    assert got_rate == rate
    assert (got == arr).all()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_wav_depth_roundtrip_arbitrary_pcm(data):
    """8/24/32-bit PCM wire forms roundtrip through the independent
    stdlib-wave encoder: 8-bit widens (v-128)*256, 24-bit sign-extends
    bit 23, 32-bit is the identity."""
    bits = data.draw(st.sampled_from([8, 24, 32]))
    n = data.draw(st.integers(1, 40))
    lo, hi = {8: (0, 255), 24: (-(2**23), 2**23 - 1),
              32: (-(2**31), 2**31 - 1)}[bits]
    vals = np.array(
        data.draw(st.lists(st.integers(lo, hi), min_size=n, max_size=n)),
        dtype=np.int64,
    )
    rate, got = m.wav_decode(m.wav_encode(16000, vals, bits=bits))
    exp = (vals - 128) * 256 if bits == 8 else vals
    assert got.tolist() == exp.tolist()


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_corrupted_payloads_raise_only_valueerror(data):
    """Typed-error contract: ANY truncation or byte flip of a valid
    payload either still decodes or raises ValueError — never a leaked
    struct.error / IndexError / KeyError from parse internals."""
    kind = data.draw(
        st.sampled_from(
            ["png", "png_ilace", "png_pal", "png_16", "png_trns",
             "png_pal_trns", "png_graya", "png_subbyte", "bmp",
             "bmp_pal", "bmp_32", "wav", "wav_8", "wav_24"]
        )
    )
    if kind == "png":
        blob = m.png_encode(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
        decode = m.png_decode
    elif kind == "png_16":
        blob = m.png_encode(
            ((np.arange(5 * 7 * 3, dtype=np.int64) * 9973) % 65536)
            .astype(np.uint16).reshape(5, 7, 3),
            interlace=True,
        )
        decode = m.png_decode
    elif kind == "png_trns":
        blob = m.png_encode(
            (np.arange(36, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(3, 4, 3),
            trns=(0, 1, 2),
        )
        decode = m.png_decode
    elif kind == "png_pal_trns":
        blob = m.png_encode_palette(
            (np.arange(6 * 5, dtype=np.int64) % 4)
            .astype(np.uint8).reshape(6, 5),
            (np.arange(12, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(4, 3),
            depth=2, trns=np.array([7, 0], dtype=np.uint8),
        )
        decode = m.png_decode
    elif kind == "png_ilace":
        blob = m.png_encode(
            (np.arange(10 * 12 * 3, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(10, 12, 3),
            interlace=True,
        )
        decode = m.png_decode
    elif kind == "png_pal":
        blob = m.png_encode_palette(
            (np.arange(9 * 11, dtype=np.int64) % 16)
            .astype(np.uint8).reshape(9, 11),
            (np.arange(48, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(16, 3),
            depth=4, interlace=True,
        )
        decode = m.png_decode
    elif kind == "png_graya":
        blob = m.png_encode(
            ((np.arange(4 * 6 * 2, dtype=np.int64) * 7717) % 65536)
            .astype(np.uint16).reshape(4, 6, 2),
            interlace=True,
        )
        decode = m.png_decode
    elif kind == "png_subbyte":
        blob = m.png_encode(
            (np.arange(9 * 7, dtype=np.int64) % 4)
            .astype(np.uint8).reshape(9, 7),
            depth=2, interlace=True,
        )
        decode = m.png_decode
    elif kind == "bmp":
        blob = m.bmp_encode(np.arange(45, dtype=np.uint8).reshape(3, 5, 3))
        decode = m.bmp_decode
    elif kind == "bmp_pal":
        blob = m.bmp_encode_palette(
            (np.arange(6 * 7, dtype=np.int64) % 16)
            .astype(np.uint8).reshape(6, 7),
            (np.arange(48, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(16, 3),
            depth=4, topdown=True,
        )
        decode = m.bmp_decode
    elif kind == "bmp_32":
        blob = m.bmp_encode(
            (np.arange(3 * 4 * 4, dtype=np.int64) % 256)
            .astype(np.uint8).reshape(3, 4, 4)
        )
        decode = m.bmp_decode
    elif kind == "wav":
        blob = m.wav_encode(8000, np.arange(-8, 9, dtype=np.int16))
        decode = m.wav_decode
    elif kind == "wav_8":
        blob = m.wav_encode(8000, np.arange(0, 250, 10), bits=8)
        decode = m.wav_decode
    else:
        blob = m.wav_encode(8000, np.arange(-9, 9) * 100000, bits=24)
        decode = m.wav_decode
    mode = data.draw(st.sampled_from(["truncate", "flip", "both"]))
    mutated = bytearray(blob)
    if mode in ("truncate", "both"):
        mutated = mutated[: data.draw(st.integers(0, len(mutated)))]
    if mode in ("flip", "both") and mutated:
        for _ in range(data.draw(st.integers(1, 6))):
            i = data.draw(st.integers(0, len(mutated) - 1))
            mutated[i] ^= data.draw(st.integers(1, 255))
    try:
        decode(bytes(mutated))
    except ValueError:
        pass  # the contract: any other exception type FAILS this test
