"""Multimodal operator plumbing: schema, batch shape, flat-map cardinality,
and determinism of the stubbed decode/resize/frame-sample/feature steps
(operators/multimodal.py). The stubs fake the pixels, not the Spark contract."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crz_scraper_spark.operators.multimodal import (
    FEATURES_SCHEMA,
    _featurize_bytes,
    decode_documents,
    frame_features,
    resize_images,
    sample_frames,
)


_P1 = b"hello world, this is a payload"


# The per-frame featurizer over already-sampled frame rows: the two-step form
# the fused `frame_features` is checked against.
def extract_features(frames: DataFrame, dim: int = 16) -> DataFrame:
    """Per-frame embedding: binary → array<float>[dim], numpy-vectorized.

    STUB featurizer (a stand-in for a vision encoder), but a DETERMINISTIC
    INTEGER one: feature[j] is the strided byte-window sum — the sum of
    byte values at positions j, j+dim, j+2*dim, ... of the frame (zero
    padded). Integer-valued float32 (frames are bounded, so sums stay far
    below 2^24) ⇒ every downstream aggregate is exact and the whole chain
    is byte-arithmetic oracleable in ANSI SQL — unlike the earlier
    hash-seeded Gaussian stub, which had no SQL analog and forced the
    registry query onto the weaker rows-only check. Output still feeds the
    similarity-search operators (operators/similarity.py) unchanged —
    binary column in, embedding column out is the whole multimodal→ANN
    bridge.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        zero = np.zeros(dim, dtype="float32")
        for pdf in it:
            feats = [
                _featurize_bytes(p, dim, np, zero) for p in pdf["frame"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "frame_no": pdf["frame_no"],
                    "feature": feats,
                }
            )

    return frames.mapInPandas(batches, FEATURES_SCHEMA)


def _binary(spark):
    rows = [(1, _P1), (2, b"x" * 100), (3, b"")]
    return spark.createDataFrame(rows, "doc_id bigint, payload binary")


def test_decode_schema_and_determinism(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    out = decode_documents(docs)
    assert out.columns == [
        "doc_id", "n_bytes", "fake_width", "fake_height", "fmt", "payload_md5",
    ]
    a = {r.doc_id: r.payload_md5 for r in out.collect()}
    b = {r.doc_id: r.payload_md5 for r in decode_documents(docs).collect()}
    assert a == b and len(a) == 10


def test_resize_bounds_output_size(spark, monkeypatch):
    from crz_scraper_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "_RESIZE_W", 32)
    monkeypatch.setattr(multimodal, "_RESIZE_H", 16)
    monkeypatch.setattr(multimodal, "_RESIZE_TARGET", 32 * 16 // 8)
    out = resize_images(_binary(spark)).collect()
    target = 32 * 16 // 8
    assert all(len(r.thumb) == target for r in out)
    assert all((r.width, r.height) == (32, 16) for r in out)


def test_sample_frames_flatmap_cardinality(spark):
    out = sample_frames(_binary(spark)).groupBy("doc_id").count().collect()
    counts = {r.doc_id: r["count"] for r in out}
    # n_frames = len(payload) % 7; doc 3 (empty) emits zero rows.
    assert counts == {1: len(_P1) % 7, 2: 100 % 7}


def test_extract_features_byte_window_sums(spark):
    # The integer featurizer contract the SQL oracle relies on:
    # feature[j] = sum of byte values at positions j, j+dim, j+2*dim, ...
    # (zero padded). With dim >= len(frame) it degrades to plain padded
    # byte values — which is why MULTIMODAL_FRAME_FEATURES_SQL can reduce
    # the rollup to per-frame byte sums (16-byte slices, dim=16).
    frames = spark.createDataFrame(
        [(1, 0, 0, bytes([1, 2, 3, 250, 4]))],
        "doc_id bigint, frame_no int, ts_ms bigint, frame binary",
    )
    (row,) = extract_features(frames, dim=3).collect()
    # windows: [1,2,3] + [250,4,0] -> [251, 6, 3]
    assert [int(x) for x in row.feature] == [251, 6, 3]
    (row16,) = extract_features(frames, dim=16).collect()
    assert [int(x) for x in row16.feature[:5]] == [1, 2, 3, 250, 4]
    assert all(x == 0.0 for x in row16.feature[5:])


def test_frame_features_fused_parity(spark, monkeypatch):
    # The fused sampler+featurizer (one mapInPandas pass, r10 guide §4)
    # must emit exactly the rows the chained verbs emit — same frame
    # count, same frame_no, same feature vectors — across payloads that
    # exercise the empty-doc, short-frame and multi-frame branches.
    from crz_scraper_spark.operators import multimodal

    binary = _binary(spark)
    for dim in (3, 16):
        monkeypatch.setattr(multimodal, "_FEATURE_DIM", dim)
        fused = sorted(
            (r.doc_id, r.frame_no, tuple(r.feature))
            for r in frame_features(binary).collect()
        )
        chained = sorted(
            (r.doc_id, r.frame_no, tuple(r.feature))
            for r in extract_features(
                sample_frames(binary), dim=dim
            ).collect()
        )
        assert fused == chained and fused


def test_extract_features_dim_and_determinism(spark):
    frames = sample_frames(_binary(spark))
    f1 = extract_features(frames, dim=8)
    assert dict(f1.dtypes)["feature"] == "array<float>"
    rows = f1.select(F.size("feature").alias("d")).distinct().collect()
    assert [r.d for r in rows] == [8]
    a = sorted(
        (r.doc_id, r.frame_no, tuple(r.feature))
        for r in f1.collect()
    )
    b = sorted(
        (r.doc_id, r.frame_no, tuple(r.feature))
        for r in extract_features(frames, dim=8).collect()
    )
    assert a == b
