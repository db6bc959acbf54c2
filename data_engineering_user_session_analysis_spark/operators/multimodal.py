"""Multimodal column support: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

Design for 100 TB: media bytes live in an opaque ``binary`` column
(or object-store URIs resolved inside the batch iterator), metadata
in plain typed columns so Catalyst can prune/filter without touching
payloads.  Per-batch Python work happens once per Arrow batch, not
per row; batch size is governed by
``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FRAME_SCHEMA = "doc_id long, frame_index int, frame_md5 string"


def attach_payload(
    df: DataFrame, text_col: str = "text", modality: str = "image"
) -> DataFrame:
    """Fixture path: materialize an opaque binary payload column (the
    utf-8 bytes of `text_col`) + modality metadata.  The production
    path reads real bytes (``spark.read.format('binaryFile')`` or an
    object-store resolver) into the same shape."""
    return df.withColumns(
        {
            "payload": F.encode(F.col(text_col), "utf-8"),
            "modality": F.lit(modality),
        }
    )


def _fake_dims(digest_hex: str) -> tuple[int, int]:
    """Deterministic pseudo width/height from the payload digest —
    stands in for the decoded image header."""
    w = 16 + int(digest_hex[:8], 16) % 1024
    h = 16 + int(digest_hex[8:16], 16) % 1024
    return w, h


def extract_media_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    passthrough: tuple[str, ...] = ("modality",),
) -> DataFrame:
    """Per-payload features via mapInPandas (one Python hop per Arrow
    batch): byte length, 32-bit md5 checksum, fake-decoded dims.

    ``passthrough`` metadata columns ride the Arrow batch unchanged —
    the zero-shuffle way to keep typed metadata (lang, source, …) next
    to the extracted features; joining it back after extraction would
    shuffle both sides on doc_id for nothing."""

    from data_engineering_user_session_analysis_spark.runtime import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)

    out_schema = ", ".join(
        [f"{id_col} long"]
        + [f"{c} {df.schema[c].dataType.simpleString()}" for c in passthrough]
        + ["n_bytes long", "checksum long", "fake_width int", "fake_height int"]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = pdf[payload_col].map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()
            )
            dims = digests.map(_fake_dims)
            cols = {id_col: pdf[id_col]}
            for c in passthrough:
                cols[c] = pdf[c]
            cols.update(
                {
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "checksum": digests.map(lambda d: int(d[:8], 16)).astype(
                        "int64"
                    ),
                    "fake_width": dims.map(lambda t: t[0]).astype("int32"),
                    "fake_height": dims.map(lambda t: t[1]).astype("int32"),
                }
            )
            yield pd.DataFrame(cols)

    return df.select(id_col, *passthrough, payload_col).mapInPandas(
        feats, schema=out_schema
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_bytes: int = 256,
    every: int = 4,
) -> DataFrame:
    """Video-style frame sampling: treat the payload as a sequence of
    fixed-size frames, keep every k-th full frame, fingerprint each.
    Emits (doc_id, frame_index, frame_md5) — a fan-out mapInPandas
    (rows out > rows in), the shape a real frame extractor has."""

    from data_engineering_user_session_analysis_spark.runtime import ensure_worker_imports

    ensure_worker_imports(df.sparkSession)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_md5 = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                n_frames = len(data) // frame_bytes
                for i in range(0, n_frames, every):
                    chunk = data[i * frame_bytes : (i + 1) * frame_bytes]
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_md5.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="int64"),
                    "frame_index": pd.Series(out_idx, dtype="int32"),
                    "frame_md5": pd.Series(out_md5, dtype="object"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(frames, schema=FRAME_SCHEMA)
