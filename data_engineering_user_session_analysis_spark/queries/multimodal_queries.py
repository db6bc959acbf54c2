"""Registry entries for the multimodal pipeline.  The payloads are
the documents' utf-8 bytes (fixture path), so even the fake-decode
features are exactly reproducible in DuckDB SQL — the oracle checks
the whole mapInPandas plumbing end-to-end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_engineering_user_session_analysis_spark.operators.multimodal import (
    attach_payload,
    extract_media_features,
    sample_frames,
)
from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table


@register(
    "media_features",
    """
SELECT doc_id, lang,
  CAST(length(text) AS BIGINT) AS n_bytes,
  CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS checksum,
  CAST(16 + CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 1024 AS INT) AS fake_width,
  CAST(16 + CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 1024 AS INT) AS fake_height
FROM documents
""",
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → Arrow-batched mapInPandas feature extraction
    (byte length, checksum, fake-decoded dimensions) with the typed
    metadata (``lang``) riding the Arrow batch — the metadata-next-
    to-features shape.  Zero shuffle: metadata
    passes THROUGH the extractor instead of being joined back on
    doc_id afterwards — the 100 TB discipline for multimodal tables
    (plan pinned shuffle-free in tests/test_plans.py)."""
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_media_features(
        attach_payload(docs), passthrough=("modality", "lang")
    )
    return feats.select(
        "doc_id", "lang", "n_bytes", "checksum", "fake_width", "fake_height"
    )


@register(
    "media_frame_sample",
    """
WITH frames AS (
  SELECT doc_id, i AS frame_index,
    md5(substr(text, i * 256 + 1, 256)) AS frame_md5
  FROM documents,
    LATERAL (SELECT unnest(range(0, CAST(floor(length(text) / 256) AS BIGINT), 4)) AS i)
)
SELECT doc_id, CAST(frame_index AS INT) AS frame_index, frame_md5 FROM frames
""",
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style fan-out: every 4th 256-byte frame per payload,
    fingerprinted — rows-out > rows-in mapInPandas shape."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_payload(docs))
