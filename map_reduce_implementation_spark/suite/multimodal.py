"""Multimodal columns: binary payload plumbing, typed metadata, PNG and
WAV round trips, decode dispatch, frame sampling, resizing and feature
extraction (see ``operators/multimodal.py`` for the scale notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import feature_extract_stub, frame_sample_stub, with_binary_payload
from ..sources import table
from .base import Query


def q_multimodal_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payload + typed metadata (byte length, content sha256) —
    all JVM-side; the binary column itself is excluded from the result
    so the oracle can hash it."""
    d = with_binary_payload(table(spark, sf, "documents"))
    return d.select("doc_id", "byte_len", "content_sha256")


SQL_MULTIMODAL_METADATA = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
  sha256(text) AS content_sha256
FROM documents
"""


def q_multimodal_decode_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """Generic decode over a MIXED media lake: image docs (doc_id%3=0)
    get REAL PNG payloads, audio docs (doc_id%3=1) REAL WAV payloads,
    video docs (doc_id%3=2) keep raw text bytes (no mp4 codec in the
    container) — then ONE magic-byte dispatch kernel decodes all three.
    PNG dims/mean and WAV rate/samples/RMS are recomputed closed-form
    by the oracle, so the real codec arms are driver-hash-graded inside
    the generic dispatch path (not just in the dedicated round-trip
    entries). The fake arm's ``stat`` is masked to NULL in this graded
    projection (its value is a stand-in, pinned in tests instead)."""
    from ..operators.multimodal import (
        decode_media,
        with_png_payload,
        with_wav_payload,
    )

    d = with_binary_payload(table(spark, sf, "documents"))
    img = with_png_payload(d.filter(F.col("doc_id") % 3 == 0))
    aud = with_wav_payload(d.filter(F.col("doc_id") % 3 == 1))
    vid = d.filter(F.col("doc_id") % 3 == 2).select("doc_id", "payload")
    mixed = img.unionByName(aud).unionByName(vid)
    out = decode_media(mixed)
    return out.select(
        "doc_id",
        "kind",
        "width",
        "height",
        "n_channels",
        "n_samples",
        "sample_rate",
        F.when(F.col("kind") != "unknown", F.round("stat", 6)).alias("stat"),
    )


SQL_MULTIMODAL_DECODE_DISPATCH = """
WITH p AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bl FROM documents
),
img AS (
  SELECT doc_id, CAST(16 + bl % 64 AS INTEGER) AS w,
         CAST(16 + (bl // 64) % 64 AS INTEGER) AS h
  FROM p WHERE doc_id % 3 = 0
),
img_px AS (
  SELECT doc_id, w, h, (x.i + y.i + doc_id) % 256 AS v
  FROM img, range(0, 80) x(i), range(0, 80) y(i)
  WHERE x.i < w AND y.i < h
),
img_out AS (
  SELECT doc_id, 'png' AS kind, MAX(w) AS width, MAX(h) AS height,
         1 AS n_channels, CAST(NULL AS BIGINT) AS n_samples,
         CAST(NULL AS INTEGER) AS sample_rate,
         ROUND(AVG(v), 6) AS stat
  FROM img_px GROUP BY doc_id
),
aud_s AS (
  SELECT doc_id, (r.i * (doc_id % 97 + 1)) % 201 - 100 AS v
  FROM p, range(0, 1500) r(i)
  WHERE doc_id % 3 = 1 AND r.i < 1000 + doc_id % 500
),
aud_out AS (
  SELECT doc_id, 'wav' AS kind, CAST(NULL AS INTEGER) AS width,
         CAST(NULL AS INTEGER) AS height, 1 AS n_channels,
         COUNT(*) AS n_samples, 16000 AS sample_rate,
         ROUND(sqrt(AVG(CAST(v * v AS DOUBLE))), 6) AS stat
  FROM aud_s GROUP BY doc_id
),
vid_out AS (
  SELECT doc_id, 'unknown' AS kind, CAST(16 + bl % 64 AS INTEGER) AS width,
         CAST(16 + (bl // 64) % 64 AS INTEGER) AS height, 3 AS n_channels,
         CAST(NULL AS BIGINT) AS n_samples, CAST(NULL AS INTEGER) AS sample_rate,
         CAST(NULL AS DOUBLE) AS stat
  FROM p WHERE doc_id % 3 = 2
)
SELECT * FROM img_out UNION ALL SELECT * FROM aud_out UNION ALL SELECT * FROM vid_out
"""


def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-offset sampling (video-style) — posexplode of byte offsets."""
    return frame_sample_stub(with_binary_payload(table(spark, sf, "documents")), 64)


SQL_MULTIMODAL_FRAME_SAMPLE = """
WITH f AS (
  SELECT doc_id,
    unnest(range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT))) AS idx
  FROM documents
)
SELECT doc_id, CAST(idx AS INTEGER) AS frame_idx, CAST(idx * 64 AS INTEGER) AS byte_offset
FROM f
"""


def q_multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    """REAL resize through the full codec path (graded, was a
    rows-only stub): real PNG payload → real decode (inflate+unfilter) →
    nearest-neighbor ÷2 downsample → real re-encode. Output dims and the
    resized image's mean intensity are recomputed closed-form by the
    oracle (resized pixel (x,y) = pattern(2x, 2y)), so a bug anywhere in
    decode, stride sampling, or pixel math fails the hash. The re-encoded
    bytes themselves are zlib-dependent → verified by round-trip decode
    in tests, excluded from the hashed projection."""
    from ..operators.multimodal import resize_png, with_png_payload

    d = table(spark, sf, "documents").select(
        "doc_id", F.octet_length("text").alias("byte_len")
    )
    out = resize_png(with_png_payload(d), den=2)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_intensity", 6).alias("mean_intensity"),
    )


SQL_MULTIMODAL_RESIZE = """
WITH p AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bl FROM documents
),
dims AS (
  SELECT doc_id, CAST(16 + bl % 64 AS INTEGER) AS w,
         CAST(16 + (bl // 64) % 64 AS INTEGER) AS h
  FROM p
),
px AS (
  SELECT doc_id, (w + 1) // 2 AS rw, (h + 1) // 2 AS rh,
         (2 * x.i + 2 * y.i + doc_id) % 256 AS v
  FROM dims, range(0, 40) x(i), range(0, 40) y(i)
  WHERE x.i < (w + 1) // 2 AND y.i < (h + 1) // 2
)
SELECT doc_id, CAST(MAX(rw) AS INTEGER) AS width, CAST(MAX(rh) AS INTEGER) AS height,
       ROUND(AVG(v), 6) AS mean_intensity
FROM px GROUP BY doc_id
"""


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Feature-extraction kernel (byte-histogram mod 16, L2-normed,
    float32 — the deterministic stand-in for an ONNX/torch embedding
    model) with a REAL value oracle: counts are integers (exact in
    float64, any summation order), the norm is the sqrt of an exact
    integer, and the float32 cast is replicated in SQL as CAST(..AS
    REAL) — so three probed components compare BIT-EXACT, no rounding.
    Valid because the corpus is pure ASCII (byte == ord(char), asserted
    by the oracle's own arithmetic)."""
    out = feature_extract_stub(with_binary_payload(table(spark, sf, "documents")))
    return out.select(
        "doc_id",
        F.size("feature").alias("dim"),
        F.col("feature")[0].cast("double").alias("f0"),
        F.col("feature")[5].cast("double").alias("f5"),
        F.col("feature")[10].cast("double").alias("f10"),
    )


SQL_MULTIMODAL_FEATURES = """
WITH pos AS (
  SELECT doc_id, ord(substr(text, CAST(i AS INTEGER), 1)) % 16 AS b
  FROM documents, range(1, 100000) r(i)
  WHERE i <= length(text)
),
hist AS (
  SELECT doc_id,
    {sums},
    sqrt({sq}) AS nrm
  FROM pos GROUP BY doc_id
)
SELECT doc_id, 16 AS dim,
  CAST(CAST(c0 / nrm AS REAL) AS DOUBLE) AS f0,
  CAST(CAST(c5 / nrm AS REAL) AS DOUBLE) AS f5,
  CAST(CAST(c10 / nrm AS REAL) AS DOUBLE) AS f10
FROM hist
""".format(
    sums=",\n    ".join(
        f"CAST(SUM(CASE WHEN b = {k} THEN 1 ELSE 0 END) AS DOUBLE) AS c{k}"
        for k in range(16)
    ),
    sq=" + ".join(
        f"SUM(CASE WHEN b = {k} THEN 1 ELSE 0 END)"
        f" * SUM(CASE WHEN b = {k} THEN 1 ELSE 0 END)"
        for k in range(16)
    ),
)


def q_multimodal_typed_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical media struct (modality/mime/dims/duration/sample_rate),
    flattened for the oracle compare. All JVM CASE/arithmetic — the
    production shape has the decode kernel fill the same struct."""
    from ..operators.multimodal import with_media_metadata

    d = with_media_metadata(with_binary_payload(table(spark, sf, "documents")))
    return d.select(
        "doc_id",
        F.col("media.modality").alias("modality"),
        F.col("media.mime").alias("mime"),
        F.col("media.width").alias("width"),
        F.col("media.height").alias("height"),
        F.col("media.duration_ms").alias("duration_ms"),
        F.col("media.sample_rate").alias("sample_rate"),
    )


SQL_MULTIMODAL_TYPED_METADATA = """
WITH p AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bl,
    CAST(doc_id % 3 AS INTEGER) AS m
  FROM documents
)
SELECT doc_id,
  CASE m WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
  CASE m WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
  CASE WHEN m <> 1 THEN CAST(16 + bl % 64 AS INTEGER) END AS width,
  CASE WHEN m <> 1 THEN CAST(16 + (bl // 64) % 64 AS INTEGER) END AS height,
  CASE WHEN m <> 0 THEN bl * 10 END AS duration_ms,
  CASE WHEN m = 1 THEN 16000 END AS sample_rate
FROM p
"""


def q_multimodal_png_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """REAL codec round trip: per-doc grayscale PNG built by the pure
    stdlib encoder (test pattern (x+y+doc_id) % 256), then decoded by
    the real PNG decoder (zlib inflate + scanline unfilter). The oracle
    recomputes width/height/mean closed-form in SQL, so a bug anywhere
    in chunk layout, compression, filtering, or pixel math fails the
    hash — this is ``decode_media``'s PNG arm under driver grading."""
    from ..operators.multimodal import decode_media, with_png_payload

    d = table(spark, sf, "documents").select(
        "doc_id", F.octet_length("text").alias("byte_len")
    )
    dec = decode_media(with_png_payload(d))
    return dec.select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        F.round("stat", 6).alias("mean_intensity"),
    )


SQL_MULTIMODAL_PNG_ROUNDTRIP = """
WITH p AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bl FROM documents
),
dims AS (
  SELECT doc_id, CAST(16 + bl % 64 AS INTEGER) AS w,
         CAST(16 + (bl // 64) % 64 AS INTEGER) AS h
  FROM p
),
px AS (
  SELECT doc_id, w, h, (x.i + y.i + doc_id) % 256 AS v
  FROM dims, range(0, 80) x(i), range(0, 80) y(i)
  WHERE x.i < w AND y.i < h
)
SELECT doc_id, MAX(w) AS width, MAX(h) AS height, 1 AS n_channels,
       ROUND(AVG(v), 6) AS mean_intensity
FROM px GROUP BY doc_id
"""


def q_multimodal_wav_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio round trip: mono int16 PCM WAV written by the RIFF
    encoder (deterministic sample pattern), parsed back by the real
    RIFF/fmt/data walker; RMS recomputed closed-form by the oracle."""
    from ..operators.multimodal import decode_media, with_wav_payload

    d = table(spark, sf, "documents").select("doc_id")
    dec = decode_media(with_wav_payload(d))
    return dec.select(
        "doc_id", "sample_rate", "n_samples", F.round("stat", 6).alias("rms")
    )


SQL_MULTIMODAL_WAV_ROUNDTRIP = """
WITH s AS (
  SELECT doc_id, (r.i * (doc_id % 97 + 1)) % 201 - 100 AS v
  FROM documents, range(0, 1500) r(i)
  WHERE r.i < 1000 + doc_id % 500
)
SELECT doc_id, 16000 AS sample_rate, COUNT(*) AS n_samples,
       ROUND(sqrt(AVG(CAST(v * v AS DOUBLE))), 6) AS rms
FROM s GROUP BY doc_id
"""


def q_multimodal_audio_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Audio decode over the audio-modality slice (graded,
    was rows-only): the modality filter happens BEFORE any Python
    kernel, so only the audio third of the lake is synthesized/decoded;
    payloads are REAL RIFF/WAVE (deterministic PCM pattern) parsed by
    the real chunk walker, and rate/sample-count/RMS are recomputed
    closed-form by the oracle. The decode is ``decode_media``'s RIFF
    arm."""
    from ..operators.multimodal import (
        decode_media,
        with_media_metadata,
        with_wav_payload,
    )

    d = with_media_metadata(with_binary_payload(table(spark, sf, "documents")))
    aud = d.filter(F.col("media.modality") == "audio").select("doc_id")
    out = decode_media(with_wav_payload(aud))
    return out.select("doc_id", "sample_rate", "n_samples", F.round("stat", 6).alias("rms"))


SQL_MULTIMODAL_AUDIO_DECODE = """
WITH s AS (
  SELECT doc_id, (r.i * (doc_id % 97 + 1)) % 201 - 100 AS v
  FROM documents, range(0, 1500) r(i)
  WHERE doc_id % 3 = 1 AND r.i < 1000 + doc_id % 500
)
SELECT doc_id, 16000 AS sample_rate, COUNT(*) AS n_samples,
       ROUND(sqrt(AVG(CAST(v * v AS DOUBLE))), 6) AS rms
FROM s GROUP BY doc_id
"""


QUERIES: dict[str, Query] = {
    "multimodal_metadata": Query(q_multimodal_metadata, SQL_MULTIMODAL_METADATA),
    "multimodal_typed_metadata": Query(
        q_multimodal_typed_metadata, SQL_MULTIMODAL_TYPED_METADATA
    ),
    "multimodal_png_roundtrip": Query(
        q_multimodal_png_roundtrip, SQL_MULTIMODAL_PNG_ROUNDTRIP
    ),
    "multimodal_wav_roundtrip": Query(
        q_multimodal_wav_roundtrip, SQL_MULTIMODAL_WAV_ROUNDTRIP
    ),
    "multimodal_audio_decode": Query(
        q_multimodal_audio_decode, SQL_MULTIMODAL_AUDIO_DECODE
    ),
    "multimodal_decode_dispatch": Query(
        q_multimodal_decode_dispatch, SQL_MULTIMODAL_DECODE_DISPATCH
    ),
    "multimodal_frame_sample": Query(q_multimodal_frame_sample, SQL_MULTIMODAL_FRAME_SAMPLE),
    "multimodal_resize": Query(q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_features": Query(q_multimodal_features, SQL_MULTIMODAL_FEATURES),
}
