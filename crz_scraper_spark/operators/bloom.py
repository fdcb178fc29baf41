"""Broadcast Bloom-filter membership — the shuffle-free prefilter tier for
membership-style joins whose small side fits a bitset but not a hash set
per task (benchmark decontamination, URL blocklists, id blacklists).

Why this exists: the exact decontamination join (`eval_contamination`)
shuffles the full training-corpus n-gram stream on the gram key. At 100 TB
that shuffle is the pipeline's dominant cost even though the eval side is
benchmark-sized (MBs). A Bloom filter of the eval grams broadcast to every
task turns the corpus side into a MAP-ONLY scan: candidate rows (true
matches + fp-rate false positives) are the only rows that reach the exact
verification join, which then runs against the broadcast eval set — the
corpus never shuffles at all. Because the filter build and probe use the
same deterministic hash family, there are NO false negatives: prefilter +
exact verify ≡ the exact join, so the composed operator stays fully
oracle-checkable.

Keys are PRE-HASHED 64-bit longs (`build_bloom_from_hashes` /
`might_contain_hash_udf`): a string item is hashed Spark-side
(`xxhash64`), and the long is split into the h1/h2 halves of one
Kirsch-Mitzenmacher probe core (`_probe_positions` — build and probe share
it, so the no-false-negative invariant is structural). The JVM hashes in
codegen and the UDF ships 8-byte longs instead of strings (measured: the
sf0.1 decontamination probe dropped ~10× in UDF cost against crc32 halves
of the strings in Python).

The hash choice is FREE of cross-engine concerns: correctness never
depends on which items the filter passes (exactness comes from the verify
join), only on build/probe using the same family. Spark's built-in
`DataFrame.stat.bloomFilter` is the JVM alternative when the probe can
stay in Scala; the pure-numpy form here keeps the bit layout explicit and
testable.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType


def _probe_positions(
    h1: np.ndarray, h2: np.ndarray, n_bits: int
) -> Iterable[np.ndarray]:
    """The ONE probe sequence (Kirsch-Mitzenmacher: pos_i = h1 + i*h2 mod
    n_bits, i < 5) shared by the build and the probe below — edits here
    keep both sides bit-identical by construction."""
    h2 = h2 | np.uint64(1)  # odd stride: never degenerates on 2^k n_bits
    for i in range(5):
        yield (h1 + np.uint64(i) * h2) % np.uint64(n_bits)


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    return (
        bits[(pos >> np.uint64(3)).astype(np.int64)]
        >> (pos & np.uint64(7)).astype(np.uint8)
    ) & np.uint8(1)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(
        bits,
        (pos >> np.uint64(3)).astype(np.int64),
        np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
    )


def _hash_halves(h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return h, h >> np.uint64(32)


# Filter size in bits (a multiple of 8: the probe reads it back as
# 8 * len(bits)).
_N_BITS = 1 << 20


def build_bloom_from_hashes(hashes: Iterable[int]) -> np.ndarray:
    """Bitset of ``_N_BITS`` bits over PRE-HASHED 64-bit keys (e.g.
    Spark-side `xxhash64` of the item): h1/h2 are the key's low/high
    halves, so no further hashing happens at probe time."""
    h = np.asarray(list(hashes), dtype=np.int64).view(np.uint64)
    bits = np.zeros(_N_BITS // 8, dtype=np.uint8)
    for pos in _probe_positions(*_hash_halves(h), _N_BITS):
        _set_bits(bits, pos)
    return bits


def might_contain_hash_udf(spark: SparkSession, bits: np.ndarray):
    """Probe for `build_bloom_from_hashes`: input is the 64-bit hash column
    (LongType), whole-batch numpy — zero per-row Python, zero string
    traffic. The filter size is the bitset's own, ``8 * len(bits)``.

    The hash column must be NON-NULLABLE (`F.coalesce(xxhash64(x), lit(0))`
    at the call site): a nullable long batch crosses Arrow→pandas as
    float64, which silently rounds |hash| > 2^53 and would turn inserted
    keys into false negatives — the probe REFUSES float input rather than
    corrupt the guarantee."""
    bc = spark.sparkContext.broadcast(bits)
    n_bits = 8 * len(bits)

    @pandas_udf(BooleanType())
    def might_contain(s: pd.Series) -> pd.Series:
        if s.dtype.kind == "f":
            raise TypeError(
                "bloom hash probe received float64 input (nullable hash "
                "column?) — 64-bit precision is lost above 2^53; coalesce "
                "the hash to a non-nullable long before probing"
            )
        b = bc.value
        h = s.to_numpy(dtype=np.int64).view(np.uint64)
        ok = np.ones(len(s), dtype=bool)
        for pos in _probe_positions(*_hash_halves(h), n_bits):
            ok &= _test_bits(b, pos).astype(bool)
        return pd.Series(ok)

    return might_contain
