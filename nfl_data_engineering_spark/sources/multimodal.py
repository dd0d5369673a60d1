"""Multimodal columns: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with typed metadata columns
(see ``synthesize_multimodal``). Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` pipelines — the Spark-side
plumbing (schema, batch shape, partitioning) is real and tested; the actual
codec calls are stubbed behind import guards because the image/audio libraries
are not in this container (container constraint, not a design one).

At 100 TB: payloads dominate row size, so these pipelines repartition by a
size budget rather than row count, and feature extraction emits ONLY the
feature columns (never re-emits payload bytes) so the shuffle after
extraction carries kilobytes per row, not megabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

FEATURE_SCHEMA = ("doc_id long, modality string, payload_bytes long, "
                  "content_hash string, feat_mean double, feat_dim int")

RESIZE_SCHEMA = "doc_id long, width int, height int, payload binary"


def _have_pillow() -> bool:
    try:
        import PIL  # noqa: F401
        return True
    except ImportError:
        return False


def decode_features(docs: DataFrame, batch_budget_rows: int = 1024) -> DataFrame:
    """Extract cheap deterministic features per payload.

    Real decode (PIL / torchaudio / pyav) is gated on import; without the
    libs we emit a deterministic fake feature (mean byte value) so the
    pipeline shape — Arrow batches in, narrow feature rows out, payload
    dropped before any shuffle — is exercised end-to-end.
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


def resize_images(docs: DataFrame, width: int, height: int,
                  codec: str = "auto") -> DataFrame:
    """Image resize pipeline: one output payload of exactly width*height
    bytes per input (this transform legitimately EMITS payloads — the one
    exception to the narrow-rows rule, so keep it last before the sink).

    ``codec``: 'real' = Pillow decode/resize/re-encode (raises ImportError
    when the lib is absent); 'fake' = deterministic byte-plane — the
    payload's md5 hex digest cycled to width*height bytes. The digest (not
    the raw bytes) is cycled so the plane is pure ASCII: byte and
    character indexing coincide, which keeps the plane re-derivable by a
    SQL oracle on any text (multi-byte or empty) even where the SQL
    engine's string functions are character-based. 'auto' = real when
    Pillow imports, else fake; unknown values raise."""
    if codec not in ("fake", "real", "auto"):
        raise ValueError(f"unknown codec {codec!r}")
    use_real = codec == "real" or (codec == "auto" and _have_pillow())

    def run_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io

        from PIL import Image
        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                img = Image.open(_io.BytesIO(bytes(b))).resize((width, height))
                buf = _io.BytesIO()
                img.save(buf, format="PNG")
                out.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "width": width,
                                "height": height, "payload": out})

    def run_fake(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        need = width * height
        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                data = bytes(b) if b is not None else b""
                seed = hashlib.md5(data).hexdigest().encode()  # 32 ASCII
                out.append((seed * (need // len(seed) + 1))[:need])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "width": width,
                                "height": height, "payload": out})

    return docs.mapInPandas(run_real if use_real else run_fake,
                            schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_ts_ms long, frame_hash string"


def _have_av() -> bool:
    try:
        import av  # noqa: F401
        return True
    except ImportError:
        return False


def sample_frames(docs: DataFrame, every_ms: int = 250,
                  codec: str = "fake") -> DataFrame:
    """Video frame sampling: one output row per sampled timestamp, payload
    DROPPED before the rows leave the task (the narrow-rows-after-decode
    rule from the module docstring — at 100 TB the per-frame fan-out must
    not multiply megabyte payloads through a shuffle).

    The frame grid is metadata-driven: timestamps 0, every_ms, ... up to
    (exclusive) duration_ms.

    ``codec`` mirrors resize_images: 'fake' (default) = deterministic
    per-frame hash — md5(payload || '#' || ts) — so the whole pipeline
    (Arrow batches in, per-frame fan-out, narrow rows out) is exercised
    and oracle-checkable in any environment, with or without pyav
    installed; 'real' = decode via pyav (ImportError when the lib is
    absent; the decoder body itself is not wired in this container —
    NotImplementedError); 'auto' = real when pyav imports, else fake.
    Unknown codec values raise (same contract as weather convert_units —
    a typo must not silently produce fake hashes labeled as decoded
    frames). The catalog entry pins codec='fake' so installing the
    optional dependency can never change or break the checked result."""
    if codec not in ("fake", "real", "auto"):
        raise ValueError(f"unknown codec {codec!r}")
    use_real = codec == "real" or (codec == "auto" and _have_av())
    if use_real:  # pragma: no cover - codec not in this container
        if not _have_av():
            raise ImportError("codec='real' requires the pyav package")
        raise NotImplementedError(
            "real frame decoder not wired in this container (pyav): same "
            "fan-out, frame_hash = md5 of decoded frame bytes)")

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
