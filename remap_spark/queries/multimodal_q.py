"""Multimodal query entries: exercise the binary-column plumbing
(operators/multimodal.py) end-to-end with a DuckDB oracle.

The container has no codec libraries, so media blobs are synthesized
deterministically from the documents fixture: an ASCII-safe payload
(non-printables replaced) UTF-8-encoded into a real ``binary`` column.
ASCII-safety makes byte offsets == char offsets, which lets the oracle
mirror the byte-slicing / md5-hash work in plain SQL while the Spark
side runs the production mapInPandas path over genuine binary data.

Feature values come from the md5-based deterministic fakes in
``_decode_image_impl`` / ``_decode_audio_impl``; the oracle unrolls the
same arithmetic ((h + i*37) % 256 etc.) per feature index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table
from ..functions import ordered
from ..operators import multimodal as mm

# payload = first N chars of the doc, non-printable-ASCII replaced;
# MUST match the SQL fragment in the oracles below exactly.
_PAYLOAD_CHARS_IMG = 64
_PAYLOAD_CHARS_VID = 200


def _media_df(spark: SparkSession, sf_dir: str, n_chars: int) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = F.regexp_replace(
        F.substring("text", 1, n_chars), "[^ -~]", "_"
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(payload, "UTF-8").alias("media"),
    )


def _payload_sql(n_chars: int) -> str:
    return (
        f"regexp_replace(substr(text, 1, {n_chars}), '[^ -~]', '_', 'g')"
    )


def ext_mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode plumbing: binary column -> mapInPandas (Arrow
    batches) -> (width, height, feature vector), features exploded for
    stable cross-engine hashing."""
    media = _media_df(spark, sf_dir, _PAYLOAD_CHARS_IMG)
    feats = mm.image_features(media, fake=True)
    return (
        feats.select(
            "media_id",
            "width",
            "height",
            F.posexplode("features").alias("feat_idx", "feat"),
        )
        .select(
            "media_id",
            F.col("width").cast("bigint").alias("width"),
            F.col("height").cast("bigint").alias("height"),
            F.col("feat_idx").cast("bigint").alias("feat_idx"),
            F.round(F.col("feat").cast("double"), 5).alias("feat"),
        )
        .transform(ordered, "media_id", "feat_idx")
    )


def _mm_image_oracle() -> str:
    # h = md5-derived int in [0, 251); feat_i = ((h + i*37) % 256) / 255
    # integer literals must be BIGINT or DuckDB emits int32 and the
    # driver's typed hash diverges from Spark's bigint (dq15_json lesson)
    per_idx = " UNION ALL ".join(
        f"SELECT media_id, width, height, CAST({i} AS BIGINT) AS feat_idx, "
        f"ROUND(((h + {i * 37}) % 256) / 255.0, 5) AS feat FROM hashed"
        for i in range(8)
    )
    return f"""
    WITH p AS (
      SELECT doc_id AS media_id, {_payload_sql(_PAYLOAD_CHARS_IMG)} AS payload
      FROM documents
    ),
    hashed AS (
      SELECT media_id, CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
             CAST('0x' || substr(md5(payload), 1, 8) AS BIGINT) % 251 AS h
      FROM p
    )
    SELECT media_id, width, height, feat_idx, feat FROM ({per_idx})
    ORDER BY media_id, feat_idx
"""


def ext_mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode plumbing: same shape, audio fake features."""
    media = _media_df(spark, sf_dir, _PAYLOAD_CHARS_IMG)
    feats = mm.audio_features(media, fake=True)
    return (
        feats.select(
            "media_id",
            F.col("n_samples").cast("bigint").alias("n_samples"),
            F.posexplode("features").alias("feat_idx", "feat"),
        )
        .select(
            "media_id",
            "n_samples",
            F.col("feat_idx").cast("bigint").alias("feat_idx"),
            F.round(F.col("feat").cast("double"), 5).alias("feat"),
        )
        .transform(ordered, "media_id", "feat_idx")
    )


def _mm_audio_oracle() -> str:
    # n = byte length; feat_i = ((h*31 + i*17) % 128) / 128
    per_idx = " UNION ALL ".join(
        f"SELECT media_id, n_samples, CAST({i} AS BIGINT) AS feat_idx, "
        f"ROUND(((h * 31 + {i * 17}) % 128) / 128.0, 5) AS feat FROM hashed"
        for i in range(8)
    )
    return f"""
    WITH p AS (
      SELECT doc_id AS media_id, {_payload_sql(_PAYLOAD_CHARS_IMG)} AS payload
      FROM documents
    ),
    hashed AS (
      SELECT media_id, CAST(length(payload) AS BIGINT) AS n_samples,
             CAST('0x' || substr(md5(payload), 1, 8) AS BIGINT) % 251 AS h
      FROM p
    )
    SELECT media_id, n_samples, feat_idx, feat FROM ({per_idx})
    ORDER BY media_id, feat_idx
"""


def ext_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: 1 row -> k frame rows via
    mapInPandas; frames reported as (byte length, md5) so the oracle
    can hash-match without binary canonicalization."""
    media = _media_df(spark, sf_dir, _PAYLOAD_CHARS_VID)
    frames = mm.sample_frames(media, every_n_bytes=64)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.length("frame").cast("bigint").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    ).transform(ordered, "media_id", "frame_idx")


_MM_FRAMES_SQL = f"""
    WITH p AS (
      SELECT doc_id AS media_id, {_payload_sql(_PAYLOAD_CHARS_VID)} AS payload
      FROM documents
    ),
    offs AS (
      SELECT media_id, payload,
             unnest(generate_series(0, length(payload) - 1, 64)) AS off
      FROM p WHERE length(payload) > 0
    )
    SELECT media_id,
           CAST(off / 64 AS BIGINT) AS frame_idx,
           CAST(length(substr(payload, off + 1, 64)) AS BIGINT) AS frame_bytes,
           md5(substr(payload, off + 1, 64)) AS frame_md5
    FROM offs ORDER BY media_id, frame_idx
"""


MM_QUERIES = {
    "ext_mm_image_features": ext_mm_image_features,
    "ext_mm_audio_features": ext_mm_audio_features,
    "ext_mm_frame_sample": ext_mm_frame_sample,
}

MM_ORACLES = {
    "ext_mm_image_features": _mm_image_oracle(),
    "ext_mm_audio_features": _mm_audio_oracle(),
    "ext_mm_frame_sample": _MM_FRAMES_SQL,
}
