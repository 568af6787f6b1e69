"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque
``BinaryType`` column (or a (path, offset, length) pointer into an object
store); metadata (modality, codec, dims, duration) is typed columns that
Catalyst can filter/prune WITHOUT touching bytes. Heavy per-item work
(decode, resize, feature-extract, frame-sample) runs as Arrow-batched
``mapInPandas`` — one Python worker per partition, zero-copy Arrow
transfer, output schema declared up front.

The decode kernels themselves are STUBS here (no image/audio libs in this
container — the real kernel drops into ``_decode_payload``); everything
Spark-side is real and tested: schema, UDF signatures, batch iteration,
and the deterministic fake feature extractor used to validate the
plumbing end-to-end.

Scale notes:
- mapInPandas streams batches (spark.sql.execution.arrow.maxRecordsPerBatch);
  a partition never has to fit in one pandas frame.
- Feature extraction emits fixed-width arrays -> downstream similarity
  search (operators/similarity.py) runs unchanged on the result.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

#: Output schema of featurize_binary — declared up front (mapInPandas contract).
FEATURE_SCHEMA = (
    "item_id long, modality string, n_bytes int, sha256 string, "
    "feature array<float>"
)

FRAME_SCHEMA = "item_id long, frame_idx int, frame_sha256 string"


def attach_binary_metadata(
    df: DataFrame, payload_col: str = "payload", modality_col: str = "modality"
) -> DataFrame:
    """Typed metadata columns computed JVM-side (no Python, no decode):
    byte length + content hash. These are what query predicates should
    touch — filters on them prune before any Python worker spins up."""
    p = F.col(payload_col)
    return df.withColumns(
        {
            "n_bytes": F.length(p).cast("int"),
            "sha256": F.sha2(p, 256),
        }
    )


def _decode_payload(payload: bytes, modality: str) -> "object":
    """The real decode kernel goes here (PIL/librosa/ffmpeg). Not available
    in this environment — the plumbing is exercised with deterministic
    fakes; see ``_fake_feature``."""
    raise NotImplementedError(
        "binary decode requires image/audio libraries not present in this "
        "container; use deterministic_fake=True for plumbing tests"
    )


def _portable_feature(payload: bytes, dim: int) -> list[float]:
    """Oracle-replicable fake feature: the payload is hashed ONCE (seed =
    md5 hex digest — large payloads aren't re-hashed per component), then
    component j derives from md5(seed || '|' || j) — 60-bit hex head scaled
    to [-1, 1).

    DuckDB twin per component:
    ``CAST('0x' || substr(md5(md5(payload_str) || '|' || j), 1, 15) AS
    BIGINT) / 576460752303423488.0 - 1.0`` (2^59), cast to FLOAT. Both
    engines do the identical IEEE divide/subtract then the identical
    double->float32 rounding, so feature VALUES (not just dims) are
    value-checked.
    """
    seed = hashlib.md5(payload).hexdigest()
    out: list[float] = []
    for j in range(dim):
        h = hashlib.md5(f"{seed}|{j}".encode()).hexdigest()
        u = int(h[:15], 16)
        out.append(u / 2**59 - 1.0)
    return out


def _fake_feature(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in feature: sha256-seeded floats in [-1, 1).
    Stable across processes/partitions -> testable end-to-end."""
    out: list[float] = []
    counter = 0
    seed = hashlib.sha256(payload).digest()
    while len(out) < dim:
        h = hashlib.sha256(seed + counter.to_bytes(4, "little")).digest()
        for i in range(0, 32, 4):
            if len(out) >= dim:
                break
            u = int.from_bytes(h[i : i + 4], "little")
            out.append((u / 2**31) - 1.0)
        counter += 1
    return out


def featurize_binary(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    modality_col: str = "modality",
    dim: int = 16,
    kernel: str = "fake",
) -> DataFrame:
    """Arrow-batched feature extraction over a binary column.

    Returns (item_id, modality, n_bytes, sha256, feature array<float>).
    ``kernel``: 'fake' (sha256-seeded deterministic stand-in), 'portable'
    (md5-based, bit-replicable by a SQL oracle — see ``_portable_feature``),
    or 'decode' — the real decoder (stubbed, raises NotImplementedError
    until decode libs exist).
    """
    if kernel not in ("fake", "portable", "decode"):
        raise ValueError(f"unknown kernel {kernel!r}")

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            feats, hashes, sizes = [], [], []
            for payload, modality in zip(pdf[payload_col], pdf[modality_col]):
                raw = bytes(payload) if payload is not None else b""
                if kernel == "fake":
                    feats.append(_fake_feature(raw, dim))
                elif kernel == "portable":
                    feats.append(_portable_feature(raw, dim))
                else:
                    feats.append(_decode_payload(raw, modality))
                hashes.append(hashlib.sha256(raw).hexdigest())
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "item_id": pdf[id_col],
                    "modality": pdf[modality_col],
                    "n_bytes": pd.array(sizes, dtype="int32"),
                    "sha256": hashes,
                    "feature": feats,
                }
            )

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def sample_frames(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing: emit up to ``max_frames`` "frames" per item
    (1:N mapInPandas fan-out — the shape a video frame sampler has). The
    stub "frame" is a hash of a byte slice; a real decoder would emit
    decoded frame tensors on the same schema pattern."""

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for item_id, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else b""
                n = min(max_frames, max(1, len(raw) // every_n_bytes))
                for i in range(n):
                    chunk = raw[i * every_n_bytes : (i + 1) * every_n_bytes]
                    ids.append(item_id)
                    idxs.append(i)
                    hashes.append(hashlib.sha256(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "item_id": pd.array(ids, dtype="int64"),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_sha256": hashes,
                }
            )

    return df.mapInPandas(frames, schema=FRAME_SCHEMA)


#: Output schema of resize_binary — declared up front (mapInPandas contract).
RESIZE_SCHEMA = (
    "item_id long, modality string, src_bytes int, out_w int, out_h int, "
    "resized_md5 string"
)


def resize_binary(
    df: DataFrame,
    *,
    id_col: str = "item_id",
    payload_col: str = "payload",
    modality_col: str = "modality",
    width: int = 16,
    height: int = 16,
    kernel: str = "portable",
) -> DataFrame:
    """Resize plumbing (corpus-scale thumbnailing): decode -> resize ->
    re-encode per item as Arrow-batched ``mapInPandas``, emitting
    (item_id, modality, src_bytes, out_w, out_h, resized_md5) — the
    checksum stands in for the re-encoded payload so the full path is
    value-checkable without shipping image bytes through the test oracle.

    ``kernel='decode'`` is the real PIL path (stubbed — raises until
    image libs exist; see ``_decode_payload``). ``kernel='portable'`` is
    the deterministic stand-in the oracle replays: the "resized image" is
    the first ``width*height`` hex chars of the md5 seed repeated —
    DuckDB twin ``md5(substr(repeat(md5(payload), k), 1, w*h))``. Same
    batch-iteration discipline as ``featurize_binary``; a real kernel
    drops in without touching the Spark side.
    """
    if kernel not in ("portable", "decode"):
        raise ValueError(f"unknown kernel {kernel!r}")
    n_out = width * height
    reps = -(-n_out // 32)  # md5 hex is 32 chars

    def do(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, mods, sizes, md5s = [], [], [], []
            for item_id, payload, modality in zip(
                pdf[id_col], pdf[payload_col], pdf[modality_col]
            ):
                raw = bytes(payload) if payload is not None else b""
                if kernel == "decode":
                    _decode_payload(raw, modality)  # raises (stub)
                seed = hashlib.md5(raw).hexdigest()
                resized = (seed * reps)[:n_out]
                ids.append(item_id)
                mods.append(modality)
                sizes.append(len(raw))
                md5s.append(hashlib.md5(resized.encode()).hexdigest())
            yield pd.DataFrame(
                {
                    "item_id": pd.array(ids, dtype="int64"),
                    "modality": mods,
                    "src_bytes": pd.array(sizes, dtype="int32"),
                    "out_w": pd.array([width] * len(ids), dtype="int32"),
                    "out_h": pd.array([height] * len(ids), dtype="int32"),
                    "resized_md5": md5s,
                }
            )

    return df.mapInPandas(do, schema=RESIZE_SCHEMA)


def synthesize_binary_items(docs: DataFrame, payload_repeat: int = 64) -> DataFrame:
    """Build a multimodal-shaped table from the documents test table:
    payload = repeated utf-8 text bytes (deterministic), modality cycled.
    This is the fixture generator for plumbing tests and the registered
    rows-only query."""
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("item_id"),
        modality.alias("modality"),
        F.repeat(F.col("text"), payload_repeat).cast("binary").alias("payload"),
    )
