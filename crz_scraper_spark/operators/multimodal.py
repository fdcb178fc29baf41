"""Multimodal binary-column plumbing: opaque payload bytes + typed metadata,
decode/feature-extract as Arrow-batched pandas UDFs over `mapInPandas`.

BASELINE.json:6 extension; the reference's analog is the PDF/OCR subprocess
stage (X1–X5, `04_convert_contracts_to_text.py:251-338`,
`06_extract_tables.py:140-220`) — per-file black-box extraction, which in
Spark is a per-partition batched map with no shuffle.

The actual image/audio decode libraries are NOT in this container, so the
decode step is a clearly-marked deterministic FAKE (`_fake_decode`): it
derives metadata purely from the payload bytes, which keeps the Spark-side
contract — schema, Arrow batch shape, partition-parallel UDF signature —
fully real and testable. Swap `_fake_decode` for PIL/ffmpeg in a real
deployment; everything else stands.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, n_bytes bigint, fake_width bigint, fake_height bigint, "
    "fmt string, payload_md5 string"
)


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """STUB decode: deterministic metadata from byte length only.

    A real implementation would be e.g. `PIL.Image.open(io.BytesIO(payload))`
    — unavailable in this container. Raising NotImplementedError here would
    kill the plumbing test, so the stub is a pure function of the bytes.
    """
    n = len(payload)
    return (n % 1024, (n * 7) % 768, "fake/raw")


def decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id, payload) → decoded metadata rows.

    Arrow delivers columnar batches; hashing/metadata stays vectorized where
    possible. One output row per input row (1:1 map; X5's 0..n flat-map shape
    is the same mechanism with multi-row emission).
    """
    import hashlib

    for pdf in it:
        payloads = pdf["payload"]
        meta = [_fake_decode(p if p is not None else b"") for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": [len(p) if p is not None else 0 for p in payloads],
                "fake_width": [m[0] for m in meta],
                "fake_height": [m[1] for m in meta],
                "fmt": [m[2] for m in meta],
                "payload_md5": [
                    hashlib.md5(p if p is not None else b"").hexdigest()
                    for p in payloads
                ],
            }
        )


def decode_documents(docs: DataFrame) -> DataFrame:
    """Treat each document's UTF-8 bytes as an opaque binary payload and run
    the decode UDF — the full multimodal column path on available data."""
    binary = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return binary.mapInPandas(decode_batches, DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# resize / frame-sample / feature-extract — the remaining multimodal verbs a
# training-data pipeline needs. Same posture as decode: the media libraries
# (PIL/ffmpeg) are absent, so the pixel/codec work is a clearly-marked
# deterministic FAKE, while the Spark plumbing — schemas, binary columns,
# 1:1 vs flat-map shape, Arrow batch handling — is real and tested.
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = "doc_id bigint, width int, height int, thumb binary"
# Thumbnail size of `resize_images` and its stub's byte count.
_RESIZE_W = 64
_RESIZE_H = 64
_RESIZE_TARGET = _RESIZE_W * _RESIZE_H // 8


def resize_images(binary: DataFrame) -> DataFrame:
    """1:1 binary→binary map: (doc_id, payload) → fixed-size
    ``_RESIZE_W`` x ``_RESIZE_H`` thumbnail.

    STUB resize: the "thumbnail" is the payload truncated/cycled to
    width*height//8 bytes — a deterministic stand-in for
    `PIL.Image.resize((w, h))`. The contract a real swap-in keeps: binary in,
    binary out, no shuffle, size bounded by the target dims not the input.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            thumbs = []
            for p in pdf["payload"]:
                p = p if p else b"\0"
                reps = (_RESIZE_TARGET + len(p) - 1) // len(p)
                thumbs.append((p * reps)[:_RESIZE_TARGET])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": _RESIZE_W,
                    "height": _RESIZE_H,
                    "thumb": thumbs,
                }
            )

    return binary.mapInPandas(batches, RESIZED_SCHEMA)


FRAMES_SCHEMA = "doc_id bigint, frame_no int, ts_ms bigint, frame binary"


def sample_frames(binary: DataFrame) -> DataFrame:
    """Flat-map (UDTF shape): one video payload → 0..n sampled frame rows.

    STUB sampling: frame count = payload_length % 7 (a deterministic stand-in
    for ffmpeg's keyframe walk); each "frame" is a 16-byte slice, 10 s
    apart. The shape is
    the load-bearing part — one input row emitting a variable number of
    output rows through `mapInPandas`, exactly the X5 table-detection pattern
    (`06_extract_tables.py:197-220`).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {"doc_id": [], "frame_no": [], "ts_ms": [], "frame": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = p if p is not None else b""
                for i, frame in enumerate(_frame_slices(p)):
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(i)
                    out["ts_ms"].append(i * 10_000)
                    out["frame"].append(frame)
            yield pd.DataFrame(out)

    return binary.mapInPandas(batches, FRAMES_SCHEMA)


FEATURES_SCHEMA = "doc_id bigint, frame_no int, feature array<float>"


def _frame_slices(p: bytes) -> list[bytes]:
    """The stub frame sampler's slice arithmetic, shared by `sample_frames`
    and the fused `frame_features`: n_frames = len(p) % 7 16-byte slices."""
    n_frames = len(p) % 7
    return [
        p[(i * len(p)) // max(n_frames, 1) :][:16] for i in range(n_frames)
    ]


def _featurize_bytes(frame: bytes, dim: int, np, zero):
    """The stub featurizer's strided byte-window sum (`frame_features`)."""
    arr = np.frombuffer(frame or b"", dtype=np.uint8)
    if arr.size == 0:
        return zero
    pad = (-arr.size) % dim
    windows = np.pad(arr, (0, pad)).reshape(-1, dim)
    return windows.sum(axis=0, dtype="int64").astype("float32")


# Length of a `frame_features` vector.
_FEATURE_DIM = 16


def frame_features(binary: DataFrame) -> DataFrame:
    """Fused sample_frames ∘ featurize in ONE mapInPandas pass.

    Chaining the two verbs ships every frame's bytes across the JVM↔Python
    boundary twice (payload → Python → frame rows → JVM → Python →
    features → JVM); consumers that never need the raw frame rows (the
    per-doc feature rollup) fuse the sampler and featurizer so the payload
    crosses ONCE and only _FEATURE_DIM floats per frame cross back
    (optimization guide §4: the boundary cost is columns × crossings —
    control both).
    Slice arithmetic and window sums are the SAME helpers the standalone
    verbs use, so output parity is structural (pinned by
    tests/test_multimodal.py::test_frame_features_fused_parity).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        dim = _FEATURE_DIM
        zero = np.zeros(dim, dtype="float32")
        for pdf in it:
            out: dict[str, list] = {"doc_id": [], "frame_no": [], "feature": []}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = p if p is not None else b""
                for i, frame in enumerate(_frame_slices(p)):
                    out["doc_id"].append(doc_id)
                    out["frame_no"].append(i)
                    out["feature"].append(
                        _featurize_bytes(frame, dim, np, zero)
                    )
            # object dtype: a zero-frame batch would otherwise yield an
            # empty float64 column, which Arrow cannot cast to
            # array<float> (NumPyConverter lacks list<float>).
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "frame_no": out["frame_no"],
                    "feature": pd.Series(out["feature"], dtype=object),
                }
            )

    return binary.mapInPandas(batches, FEATURES_SCHEMA)
