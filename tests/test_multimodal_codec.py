"""Real PNG/WAV codec tests — the pure stdlib+numpy decode path behind
``decode_media`` (operators/multimodal.py), and that kernel's three
magic-byte arms.

The PNG decoder must survive all five scanline filter types, not just
the filter-0 stream our own encoder writes, so one test hand-builds a
PNG whose five rows each use a different filter. The WAV writer is
cross-checked against the stdlib ``wave`` reader (an independent RIFF
implementation)."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

from map_reduce_implementation_spark.operators.multimodal import (
    PNG_MAGIC,
    decode_media,
    png_decode,
    png_encode_gray,
    wav_decode,
    wav_encode_pcm16,
)


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def test_png_encode_decode_roundtrip():
    img = ((np.arange(40)[None, :] + np.arange(23)[:, None] + 7) % 256).astype(
        np.uint8
    )
    w, h, ch, mean = png_decode(png_encode_gray(img))
    assert (w, h, ch) == (40, 23, 1)
    assert abs(mean - img.mean()) < 1e-12


def test_png_decode_all_filter_types():
    rng = np.random.default_rng(42)
    ref = rng.integers(0, 256, size=(5, 8), dtype=np.uint8)
    out = b""
    prev = np.zeros(8, dtype=np.int32)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = ref[y].astype(np.int32)
        enc = cur.copy()
        if f == 1:
            for i in range(7, 0, -1):
                enc[i] = (enc[i] - cur[i - 1]) & 0xFF
        elif f == 2:
            enc = (cur - prev) & 0xFF
        elif f == 3:
            for i in range(8):
                left = cur[i - 1] if i else 0
                enc[i] = (enc[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(8):
                a = cur[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        out += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 8, 5, 8, 0, 0, 0, 0)
    png = (
        PNG_MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(out))
        + _chunk(b"IEND", b"")
    )
    w, h, ch, mean = png_decode(png)
    assert (w, h, ch) == (8, 5, 1)
    assert abs(mean - ref.mean()) < 1e-12


def test_png_decode_rejects_non_png():
    try:
        png_decode(b"not a png at all")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_decode_media_three_arms(spark):
    """One frame holding a PNG, a WAV, a plain-text and a non-WAVE RIFF
    payload: each row takes its own arm. The fake arm's dims come from the
    byte length n (width 16 + n % 64, height 16 + (n // 64) % 64, 3
    channels) and its ``stat`` is the mean of the first 256 bytes."""
    png = png_encode_gray(np.arange(15, dtype=np.uint8).reshape(3, 5))
    wav = wav_encode_pcm16(np.array([3, -4], dtype=np.int16), 8000)
    text = b"plain text payload " * 20
    webp = b"RIFF" + struct.pack("<I", 4) + b"WEBP"
    assert len(text) == 380
    df = spark.createDataFrame(
        [(i + 1, bytearray(p)) for i, p in enumerate([png, wav, text, webp])],
        "doc_id long, payload binary",
    )
    rows = [tuple(r) for r in decode_media(df).orderBy("doc_id").collect()]
    assert rows == [
        (1, "png", 5, 3, 1, None, None, 7.0),
        (2, "wav", None, None, 1, 2, 8000, 12.5**0.5),
        (3, "unknown", 16 + 60, 16 + 5, 3, None, None, sum(text[:256]) / 256),
        (4, "unknown", 16 + 12, 16, 3, None, None, sum(webp) / 12),
    ]


def test_wav_roundtrip_and_stdlib_crosscheck():
    s = ((np.arange(1234, dtype=np.int64) * 13) % 201 - 100).astype(np.int16)
    b = wav_encode_pcm16(s, 16000)
    rate, nch, n, rms = wav_decode(b)
    assert (rate, nch, n) == (16000, 1, 1234)
    assert abs(rms - np.sqrt((s.astype(np.float64) ** 2).mean())) < 1e-12
    wf = wave.open(io.BytesIO(b))
    assert (
        wf.getframerate(),
        wf.getnchannels(),
        wf.getnframes(),
        wf.getsampwidth(),
    ) == (16000, 1, 1234, 2)
    assert np.array_equal(np.frombuffer(wf.readframes(1234), dtype="<i2"), s)


def test_wav_decode_odd_chunk_alignment():
    # RIFF chunks are 2-byte aligned; an odd-length auxiliary chunk must
    # not desync the walker.
    s = np.array([1, -2, 3], dtype=np.int16)
    b = wav_encode_pcm16(s, 8000)
    fmt_start = b.index(b"fmt ")
    aux = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # padded odd chunk
    patched = b[:fmt_start] + aux + b[fmt_start:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    rate, nch, n, _ = wav_decode(patched)
    assert (rate, nch, n) == (8000, 1, 3)


def test_resize_png_roundtrip_pixels():
    """resize_png's kernel math: decode(re-encoded resized PNG) must equal
    the stride-2 sample of the original pixels, dims = ceil(orig/2), and
    the emitted mean must match the resampled pixels exactly."""
    from map_reduce_implementation_spark.operators.multimodal import (
        png_decode_pixels,
    )

    img = ((np.arange(33)[None, :] + np.arange(21)[:, None] + 7) % 256).astype(
        np.uint8
    )
    b = png_encode_gray(img)
    px, w, h, ch = png_decode_pixels(b)
    assert (w, h, ch) == (33, 21, 1)
    small = px[::2, ::2, 0]
    assert small.shape == (11, 17)
    re = png_encode_gray(small)
    px2, w2, h2, ch2 = png_decode_pixels(re)
    assert (w2, h2, ch2) == (17, 11, 1)
    assert np.array_equal(px2[:, :, 0], small)
    assert np.array_equal(small, img[::2, ::2])


def test_resize_png_roundtrip_property():
    """Property: for random dims/content and any stride, decode ∘ encode
    of the strided sample is the identity (hypothesis-driven — the fixed
    test pattern can't exercise all five PNG filter heuristics)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_implementation_spark.operators.multimodal import (
        png_decode_pixels,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 60),
        h=st.integers(1, 60),
        seed=st.integers(0, 2**31 - 1),
        den=st.integers(1, 4),
    )
    def check(w, h, seed, den):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        px, dw, dh, ch = png_decode_pixels(png_encode_gray(img))
        assert (dw, dh, ch) == (w, h, 1)
        assert np.array_equal(px[:, :, 0], img)
        small = px[::den, ::den, 0]
        px2, _, _, _ = png_decode_pixels(png_encode_gray(small))
        assert np.array_equal(px2[:, :, 0], small)
        assert np.array_equal(small, img[::den, ::den])

    check()
