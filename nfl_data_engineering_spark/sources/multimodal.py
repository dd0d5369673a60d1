"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with typed metadata columns
(see ``synthesize_multimodal``). Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` pipelines — the Spark-side
plumbing (schema, batch shape, partitioning) is the tested part. Each
transform has one deterministic body in place of a media codec: a feature,
plane or frame hash derived from the payload bytes, so every output cell
is re-derivable by a SQL oracle and no result depends on which image or
video libraries happen to be installed.

At 100 TB: payloads dominate row size, so feature extraction and frame
sampling emit ONLY narrow columns (never re-emit payload bytes) and the
shuffle after them carries kilobytes per row, not megabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

FEATURE_SCHEMA = ("doc_id long, modality string, payload_bytes long, "
                  "content_hash string, feat_mean double, feat_dim int")

RESIZE_SCHEMA = "doc_id long, width int, height int, payload binary"


def decode_features(docs: DataFrame) -> DataFrame:
    """Extract cheap deterministic features per payload: the md5 of the
    bytes and their mean byte value (no media decode), so the pipeline
    shape — Arrow batches in, narrow feature rows out, payload dropped
    before any shuffle — is exercised end-to-end.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            feat_mean = []
            content_hash = []
            for b in payloads:
                data = bytes(b) if b is not None else b""
                content_hash.append(hashlib.md5(data).hexdigest())
                feat_mean.append(sum(data) / len(data) if data else 0.0)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "payload_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                "content_hash": content_hash,
                "feat_mean": feat_mean,
                "feat_dim": 1,
            })

    return docs.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(docs: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize pipeline: one output payload of exactly width*height
    bytes per input (this transform legitimately EMITS payloads — the one
    exception to the narrow-rows rule, so keep it last before the sink).

    The plane is deterministic: the payload's md5 hex digest cycled to
    width*height bytes. The digest (not the raw bytes) is cycled so the
    plane is pure ASCII: byte and character indexing coincide, which keeps
    the plane re-derivable by a SQL oracle on any text (multi-byte or
    empty) even where the SQL engine's string functions are
    character-based."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        need = width * height
        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                data = bytes(b) if b is not None else b""
                seed = hashlib.md5(data).hexdigest().encode()  # 32 ASCII
                out.append((seed * (need // len(seed) + 1))[:need])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "width": width,
                                "height": height, "payload": out})

    return docs.mapInPandas(run, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_ts_ms long, frame_hash string"


def sample_frames(docs: DataFrame, every_ms: int = 250) -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp, payload
    DROPPED before the rows leave the task (the narrow-rows-after-decode
    rule from the module docstring — at 100 TB the per-frame fan-out must
    not multiply megabyte payloads through a shuffle).

    The frame grid is metadata-driven: timestamps 0, every_ms, ... up to
    (exclusive) duration_ms. Each frame's hash is deterministic —
    md5(payload || '#' || ts) — so the whole pipeline (Arrow batches in,
    per-frame fan-out, narrow rows out) is oracle-checkable."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, tss, hashes = [], [], []
            for doc_id, payload, duration in zip(
                    pdf["doc_id"], pdf["payload"], pdf["duration_ms"]):
                if duration is None or pd.isna(duration):
                    continue        # no duration metadata -> no frame grid
                data = bytes(payload) if payload is not None else b""
                ts = 0
                while ts < int(duration):
                    ids.append(doc_id)
                    tss.append(ts)
                    hashes.append(hashlib.md5(
                        data + b"#" + str(ts).encode()).hexdigest())
                    ts += every_ms
            yield pd.DataFrame({"doc_id": ids, "frame_ts_ms": tss,
                                "frame_hash": hashes})

    return docs.mapInPandas(run, schema=FRAME_SCHEMA)


def synthesize_multimodal(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Deterministic multimodal fixture from the documents table: payload =
    utf8 bytes, modality round-robins image/audio/video, typed metadata
    (mime_type, width, height, duration_ms, source)."""
    modal = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                         (F.col(id_col) % 3 + 1).cast("int"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        modal.alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.lit(64).alias("width"), F.lit(64).alias("height"),
        F.lit(1000).cast("long").alias("duration_ms"),
        F.lit("synthetic").alias("source"))
