"""Deduplication operators: exact, order-preserving first-wins, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup.

Reference parity: the reference dedups by accumulating a Python control list
and keeping the FIRST occurrence in file order (`02_filter_by_CIN.py:254-268`,
`03_download_contracts.py:713,799-818`, `04_convert_contracts_to_text.py:147-155`
— operators A6/A7/J5). `dropDuplicates` alone is nondeterministic about which
row survives, so the engine's first-wins form is a `row_number()` window over
an explicit tie-break ordering (SURVEY.md §7 Hard-1).

Scale extensions (no reference counterpart; BASELINE.json:6): MinHash-LSH /
SimHash / n-gram-Jaccard near-dup for a 100 TB document corpus. All are
pure-DataFrame compositions — no MLlib dependency, no Python in the shuffle
path. MinHash and SimHash share one LSH core (`_lsh_pairs`) parameterized
by hash family: signatures are MAP-ONLY (array_min over per-row shingle
hashes; a per-doc min needs no shuffle), band keys come from one builder
per family, and candidate pairs are emitted INSIDE each (band, bucket)
group carrying both members' signatures — one aggregation, no band
self-join, no verify join, no persisted signature table. SimHash's 60-bit
md5 majority vote deliberately KEEPS the explode + two hash aggregations:
the same vote as a nested higher-order aggregate is shuffle-free but
evaluates interpreted (measured 13 s vs 1.4 s at sf0.1) — whole-stage-
codegen'd hash aggregates beat interpreted HOFs when the per-row expansion
is large. The production SimHash computes the FNV vote in numpy over each
Arrow batch, a narrow per-row map with no shuffle.

Scale notes:
- LSH bucket keys are uniformly distributed hashes, so the bucket
  aggregation has no skew beyond true duplicate clusters; pairs are only
  ever enumerated within a bucket (LSH's whole point: no O(n²) pair
  enumeration). A bucket is one row in one task, so an uncapped bucket
  must fit in one task's heap; at corpus scale set
  `max_bucket_occupancy` (see `_lsh_pairs`).
- Exact dedup on a hash of the payload (not the payload itself) keeps shuffle
  rows narrow: 16-byte digest instead of multi-KB documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crz_scraper_spark.catalog import pin
from crz_scraper_spark.functions.text import tokens_nonempty


def first_wins_dedup(
    df: DataFrame, keys: list[str], order_by: list[Column]
) -> DataFrame:
    """Keep the first row per key under an explicit deterministic ordering.

    ≈ the reference's control-list dedup (`02_filter_by_CIN.py:259-268`) where
    "first" = file order; here the caller names the ordering column(s)
    (ingest index / primary key), making the pick reproducible across runs
    and partitionings — `dropDuplicates` does not guarantee that.

    Tier note (optimization round 10): a `min_by`-aggregation twin
    (`first_wins_dedup_agg`) exists for DUPLICATE-HEAVY keyings — it
    reduces survivors map-side before the exchange, which is the 100 TB
    shuffle-byte win when most rows are duplicates (web-corpus exact
    dedup runs 30–80% dup rate). It was A/B-measured as the WRONG default
    here: on near-unique keys (dedup_orders_first_wins, 2 rows/group)
    struct-payload min_by plans as SortAggregate — sorts on BOTH sides of
    the exchange with no row reduction — and read 0.421 → 0.542 s
    interleaved min-of-6 at sf0.1, while the window form sorts once
    post-shuffle. Pick by expected duplication, not universally.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn("__rn", F.row_number().over(w))
    return out.filter(F.col("__rn") == 1).drop("__rn")


def first_wins_dedup_agg(
    df: DataFrame, keys: list[str], order_by: list[Column]
) -> DataFrame:
    """`first_wins_dedup` as a `min_by` AGGREGATION — the tier for
    duplicate-HEAVY keyings (guide §2.3 "aggregate before you shuffle"):
    partial_min_by reduces each map task's rows to one candidate per key
    BEFORE the exchange, so the shuffle carries ≤ (map tasks × distinct
    keys) rows instead of every input row. On a corpus-scale exact-dedup
    (30–80% duplicate rate) that is the dominant shuffle-byte cut; the
    curation pipeline's exact stage uses this tier. On near-unique keys
    prefer the window form: struct-payload min_by plans as SortAggregate
    (sorts both sides, no row reduction — measured 1.3× slower on
    dedup_orders_first_wins at sf0.1).

    `order_by`: plain ASCENDING ordering columns (not `F.asc()`-wrapped —
    a SortOrder expression fails analysis loudly), non-null, unique per
    group (or tied rows identical) for a deterministic pick — the same
    determinism condition the window form needs. Multi-column orderings
    compare lexicographically via a struct, exactly like a multi-key
    sort. Output rows, column order and types are those of
    `first_wins_dedup` plus a trailing ``__grp_n``: the SIZE of each kept
    row's duplicate group, from the same aggregation, so a caller that
    needs "how many rows did dedup see" aggregates the deduped output
    instead of re-scanning the input (curation_pipeline's audit ledger;
    r10, guide §1.2 step 1). Pinned by
    tests/test_functions.py::test_first_wins_dedup_agg_matches_window_form
    and the curation-audit oracle hash-match.
    """
    ord_key = F.struct(*order_by) if len(order_by) > 1 else order_by[0]
    payload = F.struct(*[F.col(c) for c in df.columns])
    grouped = df.groupBy(*keys).agg(
        F.min_by(payload, ord_key).alias("__first"),
        F.count(F.lit(1)).alias("__grp_n"),
    )
    cols = [F.col("__first").getField(c).alias(c) for c in df.columns]
    return grouped.select(*cols, "__grp_n")


def _md5_bigint_sql(x: str, n_hex: int) -> str:
    """Engine-portable hash as SQL text: the first `n_hex` hex chars of
    md5(x) as a bigint. DuckDB reproduces it bit for bit with
    `('0x' || substr(md5(x), 1, n_hex))::BIGINT`; 15 chars (60 bits) is
    the widest prefix that stays a non-negative signed bigint."""
    return f"CAST(conv(substring(md5({x}), 1, {n_hex}), 16, 10) AS BIGINT)"


def char_shingles(text_col: str, n: int = 5) -> Column:
    """Array of lowercase character n-gram shingles (distinct).

    `sequence(1, len-n+1)` + `transform(substring)` stays fully JVM-side; the
    distinct set is what MinHash needs. A text shorter than n is one
    shingle (itself), an empty text one empty shingle.
    """
    t = f"lower(`{text_col}`)"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({t}) - {n - 1}, 1)),"
        f" i -> substring({t}, i, {n})))"
    )


# ---------------------------------------------------------------------------
# LSH near-dup: one bucket-grouped core, parameterized by hash family.
#
# signature -> band keys -> bucket -> pairs -> score. Every family supplies
# three SQL fragments (signature, band keys, score); `_lsh_pairs` does the
# rest. Each projection is ONE selectExpr string — one py4j call and one
# parse, instead of a Column tree whose every lambda and operator is a
# separate JVM round trip (~4.5k of them for the md5 MinHash pair plan).
#
# The core groups each (band, bucket) into one sorted member list and emits
# the pairs inside it, each pair carrying both members' signatures, so the
# score needs no join back to a signature table: no persisted signatures,
# no band self-join, no verify joins.
# ---------------------------------------------------------------------------

MINHASH_FAMILIES = ("xxhash64", "md5")
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime for the Carter-Wegman family


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a_i, c_i) pairs for h_i(x) = (a_i*x + c_i) mod p, generated by
    a tiny deterministic LCG (seed 7) so BOTH the Spark plan and the SQL
    oracle embed the identical literals. a_i ∈ [1, p), c_i ∈ [0, p); with
    x < 2^32 and a_i < 2^31, a_i*x + c_i < 2^63 — exact in signed-64 on
    every engine."""
    state = 7
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (MINHASH_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        c = state % MINHASH_PRIME
        out.append((a, c))
    return out


def _check_family(family: str) -> None:
    if family not in MINHASH_FAMILIES:
        # A typo must not silently pick the other family's hashes.
        raise ValueError(
            f"MinHash family must be one of {MINHASH_FAMILIES}, got {family!r}"
        )


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_n: int = 5,
    family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) MinHash signature per document.

    Map-only: `array_min` over the row's own shingle array per seed (a
    per-doc min never needs a shuffle). Hash families:
    - "xxhash64" (production): seed i hashes a shingle as `xxhash64(s, i)`;
    - "md5" (engine-portable): ONE md5 per shingle gives a 32-bit base x,
      and seed i is the Carter-Wegman hash (a_i*x + c_i) mod p with fixed
      coefficients. The multiply wraps the modulus many times (an additive
      family's components would correlate and inflate the Jaccard
      estimate), every step is exact in signed-64 on any engine, and the
      corpus pass runs one digest per shingle instead of num_hashes.
    """
    _check_family(family)
    shingled = docs.select(
        F.col(id_col), char_shingles(text_col, shingle_n).alias("__shs")
    )
    if family == "xxhash64":
        mins = [
            f"array_min(transform(__shs, s -> xxhash64(s, {i})))"
            for i in range(num_hashes)
        ]
    else:
        shingled = shingled.selectExpr(
            f"`{id_col}`", f"transform(__shs, s -> {_md5_bigint_sql('s', 8)}) AS __xs"
        )
        mins = [
            f"array_min(transform(__xs, x -> ({a} * x + {c}) % {MINHASH_PRIME}))"
            for a, c in _minhash_coeffs(num_hashes)
        ]
    return shingled.selectExpr(f"`{id_col}`", f"array({', '.join(mins)}) AS sig")


def minhash_bands(
    sig: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    family: str = "xxhash64",
) -> DataFrame:
    """(id, sig, band, bh) band-bucket keys for a signature table — the ONE
    band-key construction every LSH consumer (pairs, occupancy report,
    incremental store, fuzzy-name blocking) shares, so bucket parity across
    consumers is structural. Band b hashes signature slice
    [b*rows, (b+1)*rows): `xxhash64(slice, b)` for "xxhash64", the 60-bit
    md5 of the comma-joined values for "md5"."""
    _check_family(family)
    sl = f"slice(sig, b * {rows_per_band} + 1, {rows_per_band})"
    if family == "xxhash64":
        bh = f"xxhash64({sl}, b)"
    else:
        bh = _md5_bigint_sql(f"concat_ws(',', CAST({sl} AS ARRAY<STRING>))", 15)
    keys = (
        f"inline(transform(sequence(0, {bands - 1}),"
        f" b -> named_struct('band', b, 'bh', {bh})))"
    )
    return sig.selectExpr(f"`{id_col}`", "sig", keys)


def _minhash_score_sql(family: str, a: str, b: str) -> str:
    """Estimated Jaccard = fraction of agreeing signature components (the
    standard unbiased estimator). The md5 tier rounds to 6 dp so the score
    hash-matches its SQL oracle."""
    frac = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x = y AS INT)), 0,"
        f" (acc, v) -> acc + v) / size({a})"
    )
    return frac if family == "xxhash64" else f"round({frac}, 6)"


def _lsh_pairs(
    keyed: DataFrame,
    id_col: str,
    payload: str,
    score_sql: str,
    max_bucket_occupancy: int | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b, score) for every pair of rows sharing a
    (band, bh) bucket, id_a < id_b.

    `keyed` holds (id, band, bh, payload). One aggregation collects each
    bucket's (id, payload) members into a sorted list; the pairs m[i], m[j]
    (i < j) are emitted inside the bucket, each carrying both payloads, and
    `score_sql` scores them from `a.p` and `b.p`. Rows with a NULL id are
    dropped first, and rows sharing an id never pair. The pairs are
    generated one member at a time (posexplode, then the members after it),
    so a bucket's pairs stream instead of materializing as one array.

    Cost model. Pairs never cross buckets, so the corpus never enumerates
    O(n²) pairs, but a bucket of c members emits c·(c−1)/2 of them, and
    bucket occupancy grows with the size of true duplicate clusters:
    measured on the synthetic corpus, 10× docs ⇒ ~10× max occupancy ⇒ ~96×
    implied pairs (`lsh_bucket_occupancy` is the audit).

    Memory limit. A bucket is ONE row, built and held by one task:
    c × (id + payload), about 264 B per member for a 32-hash signature
    (16 B for SimHash). The collect buffers are JVM objects the memory
    manager does not track, and the aggregation cannot spill part of a
    bucket, so an uncapped bucket must fit in one task's heap. Measured on
    sf0.1 replicated 10× (exact copies, max occupancy 4,380), the uncapped
    query ran out of a 2 GB local heap where a band self-join on narrow id
    rows finishes. Uncapped is therefore for corpora whose largest
    duplicate cluster is known to be small (every oracled query).

    `max_bucket_occupancy` is the production guardrail: a window count
    drops the members of buckets holding more than the cap BEFORE the
    aggregation (the window's buffer spills, and it shares the
    aggregation's (band, bh) exchange), so no bucket row exceeds cap
    members and no bucket emits more than cap·(cap−1)/2 pairs. At web
    scale the over-cap buckets are boilerplate/template mega-clusters,
    better handled by exact dedup on a normalized form; the pair report
    loses only pairs whose EVERY agreeing band landed in a mega-bucket.
    """
    keyed = keyed.where(f"`{id_col}` IS NOT NULL")
    if max_bucket_occupancy is not None:
        keyed = keyed.withColumn(
            "__c", F.expr("count(1) OVER (PARTITION BY band, bh)")
        ).where(f"__c <= {int(max_bucket_occupancy)}")
    return (
        keyed.groupBy("band", "bh")
        .agg(
            F.expr(
                f"sort_array(collect_list(named_struct('id', `{id_col}`,"
                f" 'p', `{payload}`))) AS m"
            )
        )
        .where("size(m) > 1")
        .selectExpr("m", "posexplode(m) AS (i, a)")
        .selectExpr("a", "explode(slice(m, i + 2, size(m))) AS b")
        .where("a.id < b.id")
        .selectExpr("a.id AS id_a", "b.id AS id_b", score_sql)
        .distinct()
    )


def lsh_bucket_occupancy(keys: DataFrame) -> DataFrame:
    """Band-bucket occupancy report — the scale-health metric behind the
    LSH cost model: a bucket of c members emits c·(c−1)/2 pairs inside its
    group, so if max occupancy or implied pairs grow super-linearly with
    the corpus the "near-linear" claim is failing (watch whether a slope
    is shuffle constants or creeping bucket occupancy).

    Two aggregations over band keys from the shared `minhash_bands`
    (identical to the pair path's). Returns one row per band:
    (band, n_buckets, max_occupancy, implied_pairs) — implied_pairs is the
    exact number of within-bucket pairs that band emits before the
    distinct/threshold steps.
    """
    return (
        keys.groupBy("band", "bh")
        .agg(F.expr("count(1) AS c"))
        .groupBy("band")
        .agg(
            F.expr("count(1) AS n_buckets"),
            F.expr("max(c) AS max_occupancy"),
            F.expr("sum(c * (c - 1) div 2) AS implied_pairs"),
        )
        .orderBy("band")
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    max_bucket_occupancy: int | None = None,
    family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, est_jaccard) with estimated Jaccard ≥
    threshold: shingle → signature → band buckets → within-bucket pairs →
    agreement score, on either hash family ("md5" is the fully-oracled
    tier: signatures, band keys, candidates and scores all reproduce in
    ANSI SQL). Each signature is cut into `bands` bands of
    num_hashes // bands hashes; a pair is a candidate iff some band hashes
    identically. `max_bucket_occupancy` is the mega-bucket guardrail; set
    it on any corpus whose duplicate-cluster sizes are not known to be
    small (see `_lsh_pairs` for the cost and memory model).
    """
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n, family)
    return _lsh_pairs(
        minhash_bands(sig, id_col, bands, num_hashes // bands, family),
        id_col,
        "sig",
        _minhash_score_sql(family, "a.p", "b.p") + " AS est_jaccard",
        max_bucket_occupancy,
    ).where(f"est_jaccard >= {float(threshold)!r}D")


def _simhash64_batch(tokens: pd.Series) -> pd.Series:
    """64-bit FNV-1a SimHash of each token array in an Arrow batch, in numpy
    over the whole batch (no per-character Python loop).

    All tokens of the batch are UTF-8 encoded into one byte buffer and
    sorted by length, longest first, so the tokens still hashing at byte
    column k are a prefix of that order: FNV-1a runs column by column over
    that prefix in wrapping uint64 arithmetic. Each bit is then voted per
    document with one bincount over the token→doc index, and a bit is set
    where at least half of the doc's tokens have it. NULL and empty token
    arrays hash to 0. Memory is linear in the batch's bytes (no padded
    token × max-length matrix).
    """
    import numpy as np

    n_docs = len(tokens)
    n_tok = np.fromiter(
        (0 if t is None else len(t) for t in tokens), dtype=np.int64, count=n_docs
    )
    words = [w.encode("utf-8") for t in tokens if t is not None for w in t]
    out = np.zeros(n_docs, dtype=np.uint64)
    if words:
        blen = np.fromiter(map(len, words), dtype=np.int64, count=len(words))
        buf = np.frombuffer(b"".join(words), dtype=np.uint8)
        start = np.concatenate(([0], np.cumsum(blen)[:-1]))
        order = np.argsort(-blen, kind="stable")
        live = np.searchsorted(-blen[order], -np.arange(blen.max()), side="left")
        h = np.full(len(words), 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x100000001B3)
        for k, n_live in enumerate(live):
            idx = order[:n_live]
            h[idx] = (h[idx] ^ buf[start[idx] + k]) * prime
        doc = np.repeat(np.arange(n_docs), n_tok)
        for bit in range(64):
            ones = np.bincount(
                doc, weights=(h >> np.uint64(bit)) & np.uint64(1), minlength=n_docs
            )
            out |= ((ones * 2 >= n_tok) & (n_tok > 0)).astype(np.uint64) << np.uint64(
                bit
            )
    return pd.Series(out.view(np.int64))


_simhash64 = F.pandas_udf(_simhash64_batch, T.LongType())


def simhash(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint) per document — FNV-1a token hashes, one
    Arrow-batched pandas UDF (a narrow per-row map, no shuffle)."""
    return docs.select(
        F.col(id_col), _simhash64(tokens_nonempty(text_col)).alias("simhash")
    )


SIMHASH_MD5_BITS = 60  # fits the signed-bigint-safe 15-hex-char md5 hash


def simhash_md5(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) on the engine-portable md5 token hash — every step a
    built-in JVM expression (no UDF), so the hash is reproducible in any
    engine: per token take the 60-bit md5 prefix, per bit position count
    +1/-1 over tokens, set the bit where the count is ≥ 0.

    Distributed form: explode (token → 60 bit rows) then two hash
    aggregations — both partial/final map-side combinable, so the 60×
    intermediate never leaves the executor unaggregated. `simhash`
    (FNV/numpy) stays the production path; this is the correctness witness.
    Docs with zero tokens produce no row (the oracle's unnest does the
    same)."""
    bits = (
        docs.select(F.col(id_col), F.explode(tokens_nonempty(text_col)).alias("t"))
        .selectExpr(f"`{id_col}`", f"{_md5_bigint_sql('t', 15)} AS h")
        .selectExpr(
            f"`{id_col}`", "h", f"explode(sequence(0, {SIMHASH_MD5_BITS - 1})) AS b"
        )
    )
    counts = bits.groupBy(id_col, "b").agg(
        F.expr("sum(CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END) AS c")
    )
    return counts.groupBy(id_col).agg(
        F.expr("sum(CASE WHEN c >= 0 THEN shiftleft(1L, b) ELSE 0L END) AS simhash")
    )


# SimHash families: (signature builder, block width in bits). Candidate
# generation blocks on 4 blocks of the hash (pigeonhole: any pair within
# Hamming ≤ 3 agrees on at least one of the 4), 16-bit quarters of the
# 64-bit FNV hash or 15-bit blocks of the 60-bit md5 hash.
SIMHASH_FAMILIES = {"fnv": (simhash, 16), "md5": (simhash_md5, 15)}


def simhash_blocks(sh: DataFrame, id_col: str, block_bits: int) -> DataFrame:
    """(id, simhash, band, bh): the 4 pigeonhole block keys of each simhash —
    shared by the pair path and the incremental store."""
    mask = (1 << block_bits) - 1
    blocks = ", ".join(
        f"named_struct('band', {q},"
        f" 'bh', shiftright(simhash, {q * block_bits}) & {mask})"
        for q in range(4)
    )
    return sh.selectExpr(f"`{id_col}`", "simhash", f"inline(array({blocks}))")


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    family: str = "fnv",
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) whose SimHashes differ in ≤
    max_hamming bits: pigeonhole block keys → within-bucket pairs → exact
    Hamming via bit_count(xor). "fnv" is the production hash; "md5" is the
    fully-oracled tier (DuckDB reproduces every intermediate)."""
    if family not in SIMHASH_FAMILIES:
        raise ValueError(
            f"SimHash family must be one of {tuple(SIMHASH_FAMILIES)}, got {family!r}"
        )
    build, block_bits = SIMHASH_FAMILIES[family]
    keyed = simhash_blocks(build(docs, id_col, text_col), id_col, block_bits)
    return _lsh_pairs(
        keyed, id_col, "simhash", "bit_count(a.p ^ b.p) AS hamming"
    ).where(f"hamming <= {int(max_hamming)}")


def _parse_byte_size(s: str, default_unit: int = 1) -> int:
    """Parse a Spark size string ('1g', '512m', '2048'). Bare numbers
    scale by `default_unit` (Spark reads bare spark.driver.memory as MiB
    but bare spark.driver.maxResultSize as bytes — pass the right one)."""
    s = s.strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] == "b" and len(s) > 1 and s[-2] in units:
        s = s[:-1]
    if s and s[-1] in units:
        return int(float(s[:-1]) * units[s[-1]])
    return int(s) * default_unit


# Driver-side cost of one collected edge, measured (CPython 3.12,
# sys.getsizeof over the live structures at 1M edges): the collect()'d
# Row pair ~120 B amortized + up to two union-find dict entries with
# boxed-int keys/values ~170 B — call it 300 B/edge of Python heap. The
# JVM relay cost (~50 B/edge serialized) is limited separately by
# spark.driver.maxResultSize; with the Spark defaults (1g driver / 1g
# maxResultSize) the Python-heap constraint is the binding one.
#
# Worked examples of the resulting ceiling (VERDICT r10 item 7 — the
# default is load-bearing, so its math lives here, not in a round doc):
#   1g driver / 1g maxResultSize  -> min(1g/4/300,  1g/2/50) ≈ 0.9M edges
#     (heap-bound: 0.9M × 300 B ≈ 256 MiB of Python heap, 1/4 of the JVM
#     figure — the Python process is sized alongside the JVM here)
#   48g driver / 1g maxResultSize -> min(48g/4/300, 1g/2/50) = 10.7M edges
#     (RELAY-bound: 10.7M × 300 B ≈ 3 GiB of Python heap — safe because
#     the 48 GiB figure says the box provisions tens of GiB for the
#     driver; the binding constraint is the 1 GiB collect relay at
#     10.7M × 50 B ≈ 512 MiB, half the configured maxResultSize)
# Both guards bind: a ceiling above (driver heap)/4/300 or
# (maxResultSize)/2/50 would let the collect either OOM the driver's Python
# process or trip Spark's "serialized results bigger than maxResultSize"
# error at 100 TB pair volumes.
_BYTES_PER_EDGE_DRIVER = 300
_DRIVER_HEAP_FRACTION = 4  # use at most 1/4 of the driver heap for edges

# Observability side-channel for bench attribution (VERDICT r8: the driver's
# bench run read near_dup_clusters at 13.8 s min-of-3 vs 2.4 s on the
# builder's run of the SAME tree, and whether the memory-derived cutover had
# picked driver union-find or the ~20-join-round iterative path was not
# recoverable from the artifact). Every connected_components call APPENDS
# its path decision here; bench.py clears the list before each query and
# copies whatever accumulated into BENCH_RESULT under "query_notes" — a
# query that invokes CC twice is fully attributed (ADVICE r9; the former
# LAST_CC_DECISION scalar kept only the final call). Module-global, not
# thread-local, BY DESIGN: the bench harness and the driver's correctness
# runner are single-threaded, and the list is a diagnostics channel — a
# concurrent caller would interleave entries, never corrupt results.
CC_DECISIONS: list[dict] = []


def _default_driver_max_edges(spark) -> int:
    """Memory-derived ceiling for the driver union-find path: a quarter of
    spark.driver.memory at 300 B/edge, additionally capped by half of
    spark.driver.maxResultSize at 50 B/edge (the collect relay), floored
    at 100k edges so tiny test configs still take the fast path. With
    Spark's 1g/1g defaults this lands at ~895k edges — the former
    hard-coded 2M constant assumed a ≥8 GiB driver without saying so."""
    mem = _parse_byte_size(
        spark.conf.get("spark.driver.memory", "1g"), default_unit=1 << 20
    )
    result_cap = _parse_byte_size(
        spark.conf.get("spark.driver.maxResultSize", "1g"), default_unit=1
    )
    by_heap = mem // _DRIVER_HEAP_FRACTION // _BYTES_PER_EDGE_DRIVER
    by_relay = result_cap // 2 // 50 if result_cap > 0 else by_heap
    return max(100_000, min(by_heap, by_relay))


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every node in the ``(id_a, id_b)`` near-dup
    pair graph — cluster_id = the minimum node id reachable through pair
    edges. This is the step that turns pairwise near-dup evidence into a
    deduplicated corpus (keep one representative per cluster).

    Implementation: iterative min-label propagation with pointer jumping
    (the dataframe core of the large-star/small-star CC algorithm): each
    round (1) joins labels across edges and takes the per-node min, then
    (2) replaces every label by *its* label (path compression), so label
    information hops 2^round edges per round instead of 1 — O(log diameter)
    rounds instead of O(diameter). A chain-heavy LSH pair graph at sf0.1
    converges in 5 rounds where plain propagation took 19. Fixpoint is
    detected with a filter-count on the carried old_label (no extra join),
    and `localCheckpoint` truncates the growing lineage each round (the
    loop is driver-side control flow, the data never leaves executors).

    Scale strategy (the broadcast-join analog for graphs): a near-dup pair
    graph is usually TINY relative to the corpus — LSH emits edges only
    for actual near-duplicates. Below a driver edge ceiling the edge set is
    collected and solved with driver-side union-find (microseconds; ONE
    action — a limit-bounded collect — both decides the path and fetches
    the edges); the iterative loop is the path for genuinely large
    pair graphs, where each round's joins are worth their scheduling cost.
    Both paths produce identical (doc_id, min-reachable-id) labels. The
    ceiling is MEMORY-DERIVED (`_default_driver_max_edges`: ¼ of
    spark.driver.memory at a measured 300 B/edge, capped by the
    maxResultSize relay) so the cutover scales with the deployment instead
    of assuming one driver size.
    """
    spark = pairs.sparkSession
    driver_max_edges = _default_driver_max_edges(spark)
    # ONE action decides the path AND fetches the edges (optimization
    # round 10, guide §1.2 step 1): the former count()-then-collect()
    # shape materialized the whole upstream pair pipeline for the count,
    # wrote it to cache, then re-read the cache — a cache write plus a
    # second pass that existed only to learn n_pairs before collecting.
    # limit(cap + 1) bounds the collect at the SAME driver-memory ceiling
    # by construction (at most cap + 1 rows can arrive, whatever the pair
    # graph holds), and len(head) ≤ cap proves head IS the complete edge
    # set. cap = driver_max_edges // 2 keeps the old 2·n_pairs ≤ ceiling
    # cutover bit-exactly (floor is the conservative side on odd values).
    cap = driver_max_edges // 2
    head = pairs.select("id_a", "id_b").limit(cap + 1).collect()
    take_driver = len(head) <= cap
    if take_driver:
        CC_DECISIONS.append({
            "path": "driver_union_find",
            "n_pairs": len(head),
            "driver_max_edges": driver_max_edges,
            "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
            "max_result_size": spark.conf.get(
                "spark.driver.maxResultSize", "1g"
            ),
        })
        # Driver path works on the RAW pair list — union-find neither needs
        # the symmetrized edge set nor a distinct (duplicate edges are
        # no-op unions), so skipping the union+distinct shuffle saves a
        # full stage; no persist either — head already holds every pair.
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            a, b = r[0], r[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        members: dict = {}
        for node in parent:
            members.setdefault(find(node), []).append(node)
        # Hoist min(group) OUT of the per-node loop: evaluating it inside
        # the row comprehension recomputed the cluster minimum for EVERY
        # member, turning the readout O(sum |cluster|^2) — invisible at
        # sf0.1 (largest cluster ~10) but 786 s of redundant min() calls
        # at sf10, where the 430k-pair graph carries a giant component
        # (measured round 10: the whole 660 s near_dup_clusters sf10
        # reading was this line; pairs build 54 s, union-find 1.1 s).
        rows = []
        for group in members.values():
            rep = min(group)
            rows.extend((node, rep) for node in group)
        out_schema = (
            pairs.select(
                F.col("id_a").alias("doc_id"), F.col("id_a").alias("cluster_id")
            ).schema
        )
        return spark.createDataFrame(rows, out_schema)
    # Iterative fallback for genuinely large pair graphs: NOW persist —
    # `edges` reads pairs twice (both orientations) per build, and the
    # exact n_pairs count doubles as the path-decision attribution the
    # bench artifact records (the limit probe above only proved > cap).
    pairs = pairs.persist()
    CC_DECISIONS.append({
        "path": "iterative_label_prop",
        "n_pairs": pairs.count(),
        "driver_max_edges": driver_max_edges,
        "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
        "max_result_size": spark.conf.get("spark.driver.maxResultSize", "1g"),
    })
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(20):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        jump = stepped.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        new_labels = (
            stepped.join(jump, stepped.label == jump.p_node, "left")
            .select(
                "node",
                "old_label",
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    # labels is localCheckpoint-materialized, so the cached pair/edge blocks
    # are dead weight after convergence — release them before returning.
    edges.unpersist()
    pairs.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def fixed_centroids(dim: int, n_cells: int, seed: int = 99) -> list[list[float]]:
    """Deterministic random centroids (numpy PCG64, fixed seed) for the
    oracleable semantic-dedup variant. Production replaces these with the
    IVF coarse-quantizer's trained centroids (`similarity.ivf_topk`) — the
    operator below is indifferent to where the matrix comes from."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_cells, dim)).tolist()


# Rows per block of the SemDeDup pair phase: a cell of c rows is split
# into ceil(c / _CELL_BLOCK_ROWS) blocks, so one task's gram matrix is at
# most (2 × _CELL_BLOCK_ROWS)² whatever the cell size.
_CELL_BLOCK_ROWS = 1024


# SemDeDup's drop threshold: a vector goes when its cosine similarity
# (rounded to 4 dp) to a lower-id vector of its cell reaches it.
_SEMDEDUP_TAU = 0.35


def semantic_dedup(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    embedding space, then drop any vector whose cosine similarity to a
    LOWER-id vector in the SAME cluster reaches `_SEMDEDUP_TAU`
    (keep-lowest-id, fully deterministic). Input: (vec_id, embedding).
    Output: one row per input vector —
    (vec_id, cell, kept 0/1, rep_id = the lowest-id vector that triggered
    the drop, itself when kept). NOTE: rep_id is the direct trigger, not a
    transitively-resolved root — in a similarity chain 1~2, 2~3 (but 1≁3),
    vector 3's rep_id is 2, which is itself dropped; a consumer that needs
    a KEPT representative per dropped vector resolves chains with the
    connected-components pass (`near_dup_clusters`) over the same pairs.
    The id column must be integral (the gram groups compare and min ids
    in numpy).

    Plan shape / 100 TB posture: cell assignment is a scalar argmax over the
    centroid matrix as ONE 2-D array literal (pure codegen scan, no UDF, no
    shuffle — the `bucket_signature` trick). The pair phase is a BLOCKED
    BLAS gram: each cell's rows are hashed into
    ceil(cell rows / _CELL_BLOCK_ROWS) blocks, and each unordered block
    pair is one applyInPandas group that computes its cosines as
    (X @ X.T) / outer(norms). Pairs never leave their cell, so the
    quadratic work is bounded per cluster (SemDeDup's whole point — n_cells
    grows with the corpus so cluster sizes stay bounded), and the blocks
    bound each task's memory when a cell is oversized anyway; intra-cluster
    pairs are the semantics, so a giant cluster is split into blocks, never
    salted away.

    Cross-engine determinism: per-centroid similarities are rounded to 6 dp
    BEFORE the argmax and pair similarities to 4 dp before the
    threshold cut, so a last-ulp summation difference (BLAS pairwise vs a
    SQL engine's sequential sum) cannot flip a cell assignment or the
    keep/drop decision; argmax ties break to the lowest centroid index on
    both engines.

    Cache lifetime: the per-vector base (vectors, cell, norm) is persisted
    because it feeds the cell counts, the pair phase and the result join;
    the narrow verdict is `catalog.pin`ned and the base released before
    returning, so no cache outlives the call.
    """
    result, base = _semantic_dedup_plan(emb, centroids)
    out = pin(result)
    base.unpersist()
    return out


def _semantic_dedup_plan(
    emb: DataFrame, centroids: list[list[float]]
) -> tuple[DataFrame, DataFrame]:
    """`semantic_dedup`'s lazy verdict plus the persisted base it reads —
    the operator pins the first and releases the second; plan-shape tests
    inspect the lazy join here."""
    from crz_scraper_spark.operators.similarity import (
        _dot,
        _norm,
        matrix_lit,
    )

    v = F.col("__v")
    # Expression argmax costs O(n_cells) interpreted array ops per row —
    # right for the oracled fixed-cell query (n_cells=8, SQL-reproducible),
    # wrong once n_cells scales with the corpus: the BLAS path below does
    # ONE (batch × dim) @ (dim × n_cells) matrix multiply per Arrow batch.
    # Both round to 6 dp before the argmax with lowest-index tie-break;
    # assignment agreement is asserted empirically in tests (BLAS pairwise
    # summation can differ in the last ulp, absorbed by the round). The
    # sims tree is built only on the branch that uses it (r10: building
    # the centroid literal costs py4j calls proportional to n_cells × dim
    # — wasted work on the BLAS branch, and `matrix_lit` collapses it to
    # one parsed expression on the expression branch).
    if len(centroids) > 16:
        assign = _assign_cells_numpy_udf(centroids)
        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        ).withColumns({"cell": assign("__v"), "__nrm": _norm(v)})
    else:
        sims = F.transform(
            matrix_lit(centroids),
            lambda c: F.round(_dot(v, c) / (_norm(v) * _norm(c)), 6),
        )
        base = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        ).withColumns(
            {
                "cell": (
                    F.array_position(sims, F.array_max(sims)) - 1
                ).cast("int"),
                "__nrm": _norm(v),
            }
        )
    # The group output schema follows the id column's actual type; numpy
    # comparison and min need an integral id. Checked before the persist
    # below, so a rejected call leaves no cache behind.
    id_type = base.schema["vec_id"].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"semantic_dedup: id column 'vec_id' has type {id_type}; the "
            f"BLAS gram pair phase requires an integral id (numpy "
            f"comparison + min semantics). Map ids to integers first."
        )
    # base feeds the cell counts, the pair phase AND the final result
    # join — persist so the scan + cell assignment + norms compute once
    # (at scaled n_cells the assignment is the third of the cost).
    base = base.persist()
    # Blocked pair phase. One task per cell dies when a cell is oversized
    # (a genuine dense direction in embedding space — boilerplate docs, or
    # drifted replicas): a 50k-row cell means one task allocating a 20 GB
    # gram matrix. Instead, the rows of a cell of c rows are hashed into
    # nb = ceil(c / _CELL_BLOCK_ROWS) blocks and every UNORDERED block pair
    # (bi ≤ bj) becomes its own applyInPandas group: each row explodes
    # over the nb partner blocks (group key (cell, min(blk, other),
    # max(blk, other)), so a pair group receives each side's rows exactly
    # once), the group computes the gram (bi < bj: only cross pairs count
    # — within-block pairs belong to the (bi, bi) group), and memory is
    # bounded at O(_CELL_BLOCK_ROWS²) regardless of cell size. A healthy
    # cell has nb = 1 and is one group. Replication cost: each row is
    # shipped nb times (c²/_CELL_BLOCK_ROWS rows per mega cell — a factor
    # dim/_CELL_BLOCK_ROWS of the unavoidable flops).
    counts = base.groupBy("cell").agg(F.count(F.lit(1)).alias("__c"))
    nb_col = F.ceil(F.col("__c") / F.lit(_CELL_BLOCK_ROWS)).cast("int")
    tagged = (
        base.select("vec_id", "cell", "__v", "__nrm")
        .join(F.broadcast(counts.select("cell", nb_col.alias("__nb"))), "cell")
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col("vec_id")), F.col("__nb")).cast("int"),
        )
    )
    expanded = tagged.select(
        "vec_id",
        "cell",
        "__v",
        "__nrm",
        "__blk",
        F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__other"),
    ).select(
        "vec_id",
        "cell",
        "__v",
        "__nrm",
        "__blk",
        F.least(F.col("__blk"), F.col("__other")).alias("__bi"),
        F.greatest(F.col("__blk"), F.col("__other")).alias("__bj"),
    )

    def _block_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        # Same dot-first, divide-then-round form as the SQL oracle's
        # cosine; the round absorbs pairwise vs sequential summation ulp.
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["__v"].to_numpy())
        nrm = pdf["__nrm"].to_numpy()
        blk = pdf["__blk"].to_numpy()
        sims = np.round((x @ x.T) / np.outer(nrm, nrm), 4)
        mask = ids[:, None] < ids[None, :]
        if blk.min() != blk.max():
            # bi < bj group: within-block pairs are the (bi, bi)/(bj, bj)
            # groups' job — count cross only.
            mask &= blk[:, None] != blk[None, :]
        ai, bi = np.nonzero((sims >= _SEMDEDUP_TAU) & mask)
        if len(bi) == 0:
            return pd.DataFrame({"vec_id": [], "__rep": []}).astype(
                {"vec_id": "int64", "__rep": "int64"}
            )
        out = pd.DataFrame({"vec_id": ids[bi], "__rep": ids[ai]})
        return out.groupby("vec_id", as_index=False)["__rep"].min()

    drops = (
        expanded.groupBy("cell", "__bi", "__bj")
        .applyInPandas(
            lambda _key, pdf: _block_drops(pdf),
            f"vec_id {id_type}, __rep {id_type}",
        )
        .groupBy("vec_id")
        .agg(F.min("__rep").alias("__rep"))
    )
    result = base.join(drops, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.when(F.col("__rep").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("kept"),
        F.coalesce(F.col("__rep"), F.col("vec_id")).alias("rep_id"),
    )
    return result, base


def _assign_cells_numpy_udf(centroids: list[list[float]]):
    """Arrow-batched cell assignment: cosine argmax via one BLAS matrix
    multiply per batch. Mirrors the expression argmax's form — dot first,
    THEN divide by the norm product, 6-dp round before the argmax, lowest
    index on ties (np.argmax returns the first maximum). BLAS pairwise
    summation can differ from the expression's sequential sum in the last
    ulp, which the 6-dp round absorbs (assignment parity is asserted
    empirically in tests); deterministic run-to-run either way."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    cm_nrm = np.linalg.norm(cm, axis=1)  # (n_cells,)

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())  # (batch, dim)
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)  # (batch, 1)
        sims = np.round((mat @ cm.T) / (nrm * cm_nrm[None, :]), 6)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return assign


def minhash_incremental(
    spark,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    threshold: float = 0.8,
    family: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup maintenance — the daily-ingest form of
    `minhash_dedup`: signatures are computed for the NEW batch only
    (map-only scan over the increment), appended to the persisted
    signature store, and the batch is compared against store ∪ batch via
    the same band keys (`minhash_bands`). The corpus-wide shingling pass
    never re-runs: daily cost is O(increment); the store carries
    `num_hashes × 8` bytes/doc (GBs at 100 TB corpus scale — the
    incremental_daily_rollup discipline applied to dedup).

    Maintenance semantics (the append IS the operation; the returned pair
    DataFrame is the advisory report):
    - idempotent: ids already present in the store are never re-appended,
      so re-running a batch cannot duplicate store rows (duplicates would
      fan out every future pair join);
    - atomic commit: each batch is written to a dot-prefixed staging dir
      (invisible to parquet listings) and RENAMED into the store as
      `batch-<uuid>/` — one FS rename, so a crashed or partially-failed
      run leaves only an invisible staging dir, never half a batch that
      the anti-join would treat as committed;
    - single-writer: concurrent callers on the same store are not
      coordinated (two simultaneous runs can each commit the same ids) —
      serialize batches per store, the daily-ingest cadence this models;
    - store listing and snapshot pinning go through the Hadoop FileSystem
      API, so hdfs:///s3a:// stores work — a driver-local glob would
      silently see an empty store and skip the entire history;
    - the pair plan reads signatures back from the pinned store files
      (no .persist() leak; the data was just written, the read is local).

    Returns (id_new, id_other, est_jaccard): `id_new` from this batch,
    `id_other` any earlier-stored or same-batch lower-id document. Assumes
    ingest ids are monotonically increasing across batches (daily ingest's
    natural property) — the `other < new` direction filter relies on it.
    `family` picks the hash family ("md5" lets a SQL oracle reproduce the
    store and the pair report exactly).
    """
    rows = num_hashes // bands
    # One store = one hash family, forever: a store built with xxhash64
    # signatures later fed md5 signatures would pass the id anti-join
    # silently and report meaningless est_jaccard values from
    # cross-family signature comparisons. The first batch records the
    # family in a `_family` marker; every later batch must match. (The
    # marker names are the signature builders' names before the family
    # became a parameter, so existing stores keep opening.)
    _check_family(family)
    marker = "minhash_signatures" + ("_md5" if family == "md5" else "")
    _store_family_check(
        spark, store_path, f"{marker}:h{num_hashes}:n{shingle_n}"
    )
    sig_new = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, family
    )
    old_files = _store_list(spark, store_path)
    if old_files:
        sig_old = spark.read.parquet(*old_files)
        to_append = sig_new.join(
            sig_old.select(id_col), id_col, "left_anti"
        )
    else:
        to_append = sig_new
    _store_commit(spark, to_append, store_path)

    all_files = _store_list(spark, store_path)
    sig_all = spark.read.parquet(*all_files)
    sig_batch = sig_all.join(
        new_docs.select(id_col).distinct(), id_col, "left_semi"
    )
    # Each side carries its signature through the bucket join, so the
    # score needs no join back to the store.
    new = minhash_bands(sig_batch, id_col, bands, rows, family).selectExpr(
        f"`{id_col}` AS id_new", "band", "bh", "sig AS sig_new"
    )
    other = minhash_bands(sig_all, id_col, bands, rows, family).selectExpr(
        f"`{id_col}` AS id_other", "band", "bh", "sig AS sig_other"
    )
    return (
        new.join(other, ["band", "bh"])
        .where("id_other < id_new")
        .selectExpr(
            "id_new",
            "id_other",
            _minhash_score_sql(family, "sig_new", "sig_other") + " AS est_jaccard",
        )
        .distinct()
        .where(f"est_jaccard >= {float(threshold)!r}D")
    )


def _store_list(spark, store_path: str) -> list[str]:
    """Committed signature-store paths: batch-* subdirs (the atomic-commit
    layout) plus legacy top-level part files. Dot/underscore-prefixed
    entries (in-flight staging dirs, _SUCCESS) are invisible. Hadoop
    FileSystem API, so hdfs:///s3a:// stores work."""
    from crz_scraper_spark.operators.upsert import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, store_path)
    p = jvm.org.apache.hadoop.fs.Path(store_path)
    if not fs.exists(p):
        return []
    return sorted(
        f.getPath().toString()
        for f in fs.listStatus(p)
        if f.getPath().getName().startswith("batch-")
        or f.getPath().getName().endswith(".parquet")
    )


def _store_family_check(spark, store_path: str, family: str) -> None:
    """Hash-family guard for an incremental signature store. First call
    writes the family string (fn name + signature-shaping params) to a
    `_family` marker file (underscore prefix ⇒ invisible to listings and
    parquet reads); later calls assert it matches, so one store can never
    silently mix signature families or widths across batches."""
    from crz_scraper_spark.operators.upsert import _hadoop_fs

    fs, jvm = _hadoop_fs(spark, store_path)
    marker = jvm.org.apache.hadoop.fs.Path(store_path, "_family")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            existing = stream.readUTF()
        finally:
            stream.close()
        if existing != family:
            raise ValueError(
                f"signature store at {store_path} was built with family "
                f"{existing!r}; this batch supplies {family!r}. Mixing "
                f"families makes est_jaccard meaningless — use a new "
                f"store path or the original family/params."
            )
    else:
        out = fs.create(marker, True)
        try:
            out.writeUTF(family)
        finally:
            out.close()


def _store_commit(spark, df: DataFrame, store_path: str) -> None:
    """Two-phase batch commit: write under an invisible dot-prefixed
    staging name, then a single FS rename makes it visible. A failure
    before the rename leaves only the dot-dir, which no listing or
    parquet read sees. Single-writer per store (daily-ingest cadence)."""
    import uuid

    from crz_scraper_spark.operators.upsert import _hadoop_fs

    batch_id = uuid.uuid4().hex
    fs, jvm = _hadoop_fs(spark, store_path)
    staging = jvm.org.apache.hadoop.fs.Path(store_path, f".staging-{batch_id}")
    # REBALANCE before the write (r10, guide §6): a map-only signature
    # build inherits the input's partitioning, so every daily batch wrote
    # one near-empty file per input partition (32 KB-sized files per
    # commit locally; thousands/day at production increments) and every
    # store read paid the per-file listing + open cost for all of them.
    # The AQE rebalance sizes output files to advisoryPartitionSizeInBytes
    # — one file for KB-scale batches, properly split for GB-scale daily
    # increments — without a hand-tuned coalesce constant. Content is
    # unchanged; store reads union whatever files exist.
    df.hint("rebalance").write.mode("overwrite").parquet(staging.toString())
    committed = jvm.org.apache.hadoop.fs.Path(store_path, f"batch-{batch_id}")
    if not fs.rename(staging, committed):
        raise RuntimeError(
            f"signature store: commit rename failed for {committed}"
        )


# Hamming radius of `simhash_incremental`: its four 15-bit blocks cover
# every pair within 3 bits (pigeonhole).
_SHI_MAX_HAMMING = 3


def simhash_incremental(
    spark,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    store_path: str,
) -> DataFrame:
    """Incremental SimHash maintenance — `minhash_incremental`'s twin for
    the second hash family: the new batch's 60-bit portable-md5 simhashes
    are computed (map-only over the increment), committed to the persisted
    store atomically (same staging+rename protocol, same idempotent
    anti-join, same single-writer assumption), and the batch is compared
    against store ∪ batch via the 15-bit pigeonhole block equi-join
    (4 blocks cover Hamming ≤ 3) + exact bit_count verify. Daily cost is
    O(increment); the store carries 8 bytes/doc.

    Fully oracle-able: every step (token md5, bit votes, block keys,
    Hamming) is reproducible in ANSI SQL — `simhash_incremental_md5` in
    the registry pins it against DuckDB.

    Returns (id_new, id_other, hamming): `id_new` from this batch,
    `id_other` any earlier-stored or same-batch lower-id document.
    """
    _store_family_check(spark, store_path, "simhash_md5:60")
    sh_new = simhash_md5(new_docs, id_col, text_col)
    old_files = _store_list(spark, store_path)
    if old_files:
        sh_old = spark.read.parquet(*old_files)
        to_append = sh_new.join(sh_old.select(id_col), id_col, "left_anti")
    else:
        to_append = sh_new
    _store_commit(spark, to_append, store_path)

    sh_all = spark.read.parquet(*_store_list(spark, store_path))
    sh_batch = sh_all.join(
        new_docs.select(id_col).distinct(), id_col, "left_semi"
    )
    block_bits = SIMHASH_FAMILIES["md5"][1]
    new = simhash_blocks(sh_batch, id_col, block_bits).selectExpr(
        f"`{id_col}` AS id_new", "simhash AS sh_new", "band", "bh"
    )
    other = simhash_blocks(sh_all, id_col, block_bits).selectExpr(
        f"`{id_col}` AS id_other", "simhash AS sh_other", "band", "bh"
    )
    return (
        new.join(other, ["band", "bh"])
        .where("id_other < id_new")
        .selectExpr("id_new", "id_other", "bit_count(sh_new ^ sh_other) AS hamming")
        .distinct()
        .where(f"hamming <= {_SHI_MAX_HAMMING}")
    )


# ---------------------------------------------------------------------------
# Containment near-dup: rare-shingle blocking.
#
# Jaccard-based near-dup (MinHash above) systematically MISSES the
# asymmetric case a training-data pipeline cares about most: a short
# document embedded verbatim inside a much longer one has Jaccard
# |A∩B|/|A∪B| ≈ |A|/|B| → 0 even at containment |A∩B|/min(|A|,|B|) = 1
# (Broder 1997 defines both resemblance AND containment for exactly this
# reason). This operator detects high-containment pairs without all-pairs
# work via RARE-SHINGLE BLOCKING: a pair with containment >= c shares at
# least c·min_size shingles, so if the smaller doc has ANY globally-rare
# shared shingle, joining on each doc's K = 3 rarest shingles (document
# frequency capped at 20) surfaces the pair. Work bounds:
#   - one DF aggregation over the exploded shingle table (shuffle on
#     shingle — uniformly distributed keys);
#   - K rarest per doc = a per-doc row_number window (partition key = doc,
#     bounded partitions, deterministic (df, shingle) tie-break);
#   - the blocking join emits <= K · 20 candidates PER DOC — linear in
#     corpus size by construction, never O(n²);
#   - exact verification joins only candidate docs' shingles.
# Recall is bounded, not perfect: a contained doc whose every shingle has
# df > 20 (pure boilerplate) is missed — at that point the
# line/span-level dedup (`line_dedup_reconstruct`, `dup_span_detect`) is
# the right tool.
# ---------------------------------------------------------------------------


# Containment bar of `containment_pairs`, in parts per million.
_MIN_CONTAINMENT_PPM = 800_000


def containment_pairs(docs: DataFrame) -> DataFrame:
    """``(doc_id, text)`` pairs with word-3-shingle containment >=
    `_MIN_CONTAINMENT_PPM`, blocked on each doc's 3 rarest shingles of
    document frequency 2..20.

    Returns ``(id_a, id_b, inter_cnt, min_sz, containment_ppm)`` with
    ``id_a < id_b``, ppm = floor(|A∩B| · 1e6 / min(|A|, |B|)) — integer
    ranks plus ONE IEEE division, so the result hash-matches a DuckDB twin.
    """
    t = F.col("toks")
    shingle = F.when(
        F.size(t) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 2),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j) for j in range(3)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        docs.select("doc_id", tokens_nonempty("text").alias("toks"))
        .select(F.col("doc_id").alias("doc"), F.explode(shingle).alias("shingle"))
        .persist()
    )
    # Populate the cache eagerly: the shingle table feeds FIVE branches of
    # one plan (sizes, df, rare, candidate probe, two verify probes), and
    # AQE runs independent shuffle-map stages concurrently — without this
    # count the tokenize+shingle build runs once per concurrent branch
    # before any cache block exists (measured 19.4 s -> ~10 s at sf0.1).
    sh.count()
    try:
        # Per-doc shingle-set state for the VERIFICATION phase: the set of
        # 64-bit shingle hashes plus the exact (string-distinct) size. The
        # former exact-verify shape exploded every candidate pair by the
        # full shingle list of one side and shuffled ~300M (pair, shingle
        # STRING) rows at sf10 (~17 GB — past this box's page cache, hence
        # the 8.3x sf3->sf10 slope measured in round 10: the inter stage
        # alone read 26.7 s -> 224.9 s while candidates grew 3.67x).
        # Intersecting per-doc hash ARRAYS instead ships each doc's set
        # once (doc count rows, ~8 B/shingle), the wide pair x (two
        # arrays) intermediate is pipelined inside the join stage, and the
        # groupBy shuffle disappears — size(array_intersect(...)) IS the
        # intersection count. xxhash64 stands in for the shingle string on
        # the verify/candidate paths only; a 2^-64 collision could
        # overcount one shared shingle (the same accepted tradeoff as the
        # hash-seeded LSH tiers), while the string-based DuckDB oracle
        # hash-matches in practice because no collision has a realistic
        # chance of occurring at any tested scale.
        arrs = sh.groupBy("doc").agg(
            F.collect_set(F.xxhash64("shingle")).alias("sids"),
            F.count("*").alias("sz"),
        )
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        rk = F.row_number().over(
            Window.partitionBy("doc").orderBy("df", "shingle")
        )
        rare = (
            sh.join(dfreq, "shingle")
            .filter((F.col("df") >= 2) & (F.col("df") <= 20))
            .withColumn("rk", rk)
            .filter(F.col("rk") <= 3)
            .select("doc", F.xxhash64("shingle").alias("sid"))
        )
        # Seed from BOTH directions: every doc's K rarest shingles probe the
        # full shingle table, and the (seed, match) pair is normalized via
        # least/greatest before distinct. A one-directional join keyed on the
        # lower id would drop any pair where only the HIGHER-id doc's rare
        # shingles are shared — e.g. a contained doc with the higher id whose
        # host's K rarest df∈[2,20] shingles all come from OTHER overlaps.
        # The blocking join keys on the 8-byte sid, not the string (a
        # collision-spurious candidate is removed by exact verification).
        cand = (
            rare.select(F.col("doc").alias("d1"), "sid")
            .join(
                sh.select(
                    F.col("doc").alias("d2"), F.xxhash64("shingle").alias("sid")
                ),
                "sid",
            )
            .filter(F.col("d1") != F.col("d2"))
            .select(
                F.least("d1", "d2").alias("id_a"),
                F.greatest("d1", "d2").alias("id_b"),
            )
            .distinct()
        )
        ppm = F.floor(
            F.col("inter_cnt").cast("double")
            * F.lit(1000000.0)
            / F.least("a_sz", "b_sz").cast("double")
        ).cast("bigint")
        out = (
            cand.join(
                arrs.select(
                    F.col("doc").alias("id_a"),
                    F.col("sids").alias("a_sids"),
                    F.col("sz").alias("a_sz"),
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col("doc").alias("id_b"),
                    F.col("sids").alias("b_sids"),
                    F.col("sz").alias("b_sz"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("a_sids", "b_sids"))
                .cast("bigint")
                .alias("inter_cnt"),
                "a_sz",
                "b_sz",
            )
            .select(
                "id_a",
                "id_b",
                "inter_cnt",
                F.least("a_sz", "b_sz").alias("min_sz"),
                ppm.alias("containment_ppm"),
            )
            .filter(F.col("containment_ppm") >= _MIN_CONTAINMENT_PPM)
            .orderBy("id_a", "id_b")
        )
        out = out.localCheckpoint()
    finally:
        sh.unpersist()
    return out
