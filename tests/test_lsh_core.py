"""The bucket-grouped LSH core (`operators/dedup.py::_lsh_pairs`) against a
brute-force reference, its no-persist contract, and the numpy SimHash
against the scalar FNV-1a definition it replaced."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from crz_scraper_spark.operators.dedup import (
    _simhash64_batch,
    minhash_dedup,
    minhash_signatures,
    simhash,
    simhash_md5,
    simhash_near_pairs,
)

# 6 copies of one template (a mega-bucket in every band), a near pair, a
# doc_id used by two different texts, a NULL doc_id copying the near pair,
# two empty texts, and one unique doc.
_TEMPLATE = "the quick brown fox jumps over the lazy dog again " * 6
_PAIR = "completely different content about spark physical plans " * 6
_ROWS = (
    [(i, _TEMPLATE) for i in range(6)]
    + [(10, _PAIR), (11, _PAIR + "tail")]
    + [(20, _PAIR + "other tail"), (20, "unique text about a duplicated id " * 5)]
    + [(None, _PAIR)]
    + [(30, ""), (31, "")]
    + [(40, "nothing in common with anything else here " * 4)]
)


def _corpus(spark):
    return spark.createDataFrame(_ROWS, "doc_id bigint, text string")


def _bucket_pairs(rows, keys_of, score_of, cap):
    """Brute force: every pair of rows (a, b), a.id < b.id, that share a
    bucket holding at most `cap` rows, scored from the two rows."""
    rows = [r for r in rows if r[0] is not None]
    occupancy: dict = {}
    for r in rows:
        for k in keys_of(r):
            occupancy[k] = occupancy.get(k, 0) + 1
    out = set()
    for a, b in itertools.permutations(rows, 2):
        if a[0] >= b[0]:
            continue
        shared = set(keys_of(a)) & set(keys_of(b))
        if any(cap is None or occupancy[k] <= cap for k in shared):
            out.add((a[0], b[0], score_of(a, b)))
    return out


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
@pytest.mark.parametrize("cap", [None, 4])
def test_minhash_core_matches_brute_force(spark, family, cap):
    docs = _corpus(spark)
    nh, bands = 16, 4
    rows_per = nh // bands
    sigs = [
        (r["doc_id"], tuple(r["sig"]))
        for r in minhash_signatures(docs, "doc_id", "text", nh, 5, family).collect()
    ]

    def keys_of(r):
        # Band-key equality is signature-slice equality.
        return [(b, r[1][b * rows_per : (b + 1) * rows_per]) for b in range(bands)]

    def score_of(a, b):
        frac = sum(x == y for x, y in zip(a[1], b[1])) / nh
        return frac if family == "xxhash64" else round(frac, 6)

    want = {
        p for p in _bucket_pairs(sigs, keys_of, score_of, cap) if p[2] >= 0.5
    }
    got = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_dedup(
            docs, "doc_id", "text", nh, bands, 5, threshold=0.5,
            max_bucket_occupancy=cap, family=family,
        ).collect()
    }
    assert got == want
    ids = {(a, b) for a, b, _ in got}
    # The cases the corpus plants: the mega-bucket's 15 pairs only without
    # the cap, the empty texts pair, a duplicated id never pairs with
    # itself, and the NULL id never appears.
    assert ((0, 5) in ids) == (cap is None)
    assert (10, 11) in ids and (30, 31) in ids
    assert all(a != b and a is not None for a, b in ids)


@pytest.mark.parametrize("family", ["fnv", "md5"])
def test_simhash_core_matches_brute_force(spark, family):
    docs = _corpus(spark)
    build, block = (simhash, 16) if family == "fnv" else (simhash_md5, 15)
    hashes = [
        (r["doc_id"], r["simhash"]) for r in build(docs, "doc_id", "text").collect()
    ]
    mask = (1 << block) - 1

    def keys_of(r):
        return [(q, (r[1] >> (q * block)) & mask) for q in range(4)]

    def score_of(a, b):
        return bin((a[1] ^ b[1]) & 0xFFFFFFFFFFFFFFFF).count("1")

    want = {p for p in _bucket_pairs(hashes, keys_of, score_of, None) if p[2] <= 3}
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(docs, "doc_id", "text", 3, family).collect()
    }
    assert got == want
    assert (0, 5, 0) in got


def _persisted_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize(
    "query",
    ["minhash_near_dup", "minhash_near_dup_md5", "simhash_near_dup", "simhash_near_dup_md5"],
)
def test_lsh_queries_persist_nothing(spark, sf_dir, query):
    """The LSH queries hold no cache: every pair carries its own signature,
    so nothing is persisted for the pairs to join back to. (Compared with
    the ids persisted before the query, not with zero: earlier tests in
    the shared session may still hold their own blocks.)"""
    from crz_scraper_spark.plans.registry import REGISTRY

    spark.catalog.clearCache()
    before = _persisted_rdd_ids(spark)
    REGISTRY[query][0](spark, sf_dir).collect()
    assert _persisted_rdd_ids(spark) - before == set()


def _simhash64_scalar(toks) -> int:
    """The per-character FNV-1a SimHash `_simhash64_batch` replaced."""
    if toks is None or len(toks) == 0:
        return 0
    hs = np.zeros(len(toks), dtype=np.uint64)
    for j, t in enumerate(toks):
        h = 0xCBF29CE484222325
        for ch in t.encode("utf-8"):
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        hs[j] = h
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    v = bits.sum(axis=0) * 2 >= len(toks)
    out = sum(1 << b for b in range(64) if v[b])
    return out - (1 << 64) if out >= 1 << 63 else out


def test_simhash_batch_matches_scalar_definition():
    cases = [
        ["zmluva", "o", "dielo", "príloha", "ľudovít", "štúr", "ďakujem", "ô"],
        [],
        ["jediný"],
        None,
        ["a", "bb", "a", "dlhšie-slovo-s-diakritikou-áäčďéíľĺňóôŕšťúýž"],
    ]
    got = _simhash64_batch(pd.Series(cases, dtype=object)).tolist()
    assert got == [_simhash64_scalar(c) for c in cases]
    assert got[1] == got[3] == 0


def test_simhash_udf_null_and_empty_texts(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "Žltý kôň")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert got[1] == 0 and got[2] == 0
    assert got[3] == _simhash64_scalar(["žltý", "kôň"])
