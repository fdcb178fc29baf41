"""Count-Min sketch: a fixed-size, mergeable frequency summary.

The reference counts word frequencies exactly with a full group-by
(`05_build_special_dictionary.py:99-141`). At 100 TB the exact table is
itself corpus-sized; a Count-Min sketch (Cormode & Muthukrishnan 2005)
bounds the summary at ``depth x width`` counters REGARDLESS of corpus
size, overestimates by at most ``e*N/width`` with probability
``1 - exp(-depth)``, and — because every counter is a plain SUM — merges
across partitions, days, or clusters by element-wise addition. That
mergeability is the scale story: each executor builds its partial sketch
map-side (the group-by below collapses to ``depth x width`` rows per
partition before the shuffle), and incremental daily builds just add
counter tables.

Hashing uses the engine-portable md5 scheme (`operators/dedup.py::
_md5_hash64`): row ``j``'s bucket for token ``t`` is
``conv(substr(md5(j || ':' || t), 1, 15), 16, 10) % width`` — reproducible
bit-for-bit in any engine with md5, so the DuckDB oracle can rebuild the
identical sketch and the driver hash-checks estimates exactly, not just
within the probabilistic bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Sketch shape: 4 hash rows of 512 counters (the DuckDB oracle rebuilds it).
_CMS_DEPTH, _CMS_WIDTH = 4, 512


def _bucket(col: Column, j: int) -> Column:
    """Portable bucket index for hash row ``j``: 60-bit md5 prefix mod width.

    The 15-hex-char prefix is non-negative in both engines, so ``%`` needs
    no pmod dance (DuckDB twin: ``('0x' || substr(md5(j || ':' || t), 1,
    15))::BIGINT % width``).
    """
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 15), 16, 10)
    return (h.cast("bigint") % F.lit(_CMS_WIDTH)).alias(f"b{j}")


def cms_build(counts: DataFrame, token_col: str) -> DataFrame:
    """Build the sketch from a (token, ``cnt``) count table: ``(j, bucket,
    c)`` — exactly ``depth*width`` rows.

    Counter (j, bucket) is the SUM of the counts of the tokens hashing
    there, which equals the occurrence count of the raw token stream
    bit-for-bit (the bucket depends only on the token), so the sketch is
    built from vocabulary-sized input instead of re-streaming the corpus
    (r10, guide §1.2 — fewer passes). The explode to ``depth`` rows per
    token is collapsed by map-side partial aggregation to at most
    ``depth*width`` rows per task before the (tiny, fixed-size) shuffle.
    """
    c = F.col(token_col)
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("j"), _bucket(c, j).alias("bucket"))
            for j in range(_CMS_DEPTH)
        ]
    )
    return (
        counts.select("cnt", F.explode(rows).alias("r"))
        .groupBy(F.col("r.j").alias("j"), F.col("r.bucket").alias("bucket"))
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, token_col: str) -> DataFrame:
    """Point-query the sketch: min over the ``depth`` counters per probe.

    The sketch is ``depth*width`` rows however large the corpus was, so the
    join side is always broadcastable; probe volume drives the cost. The
    estimate never undercounts (each counter is a superset sum), so
    ``est >= true`` is a hard invariant callers can assert in-query.
    """
    c = F.col(token_col)
    keyed = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _bucket(c, j).alias("bucket"),
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("k"),
    ).select("*", F.col("k.j").alias("j"), F.col("k.bucket").alias("bucket"))
    joined = keyed.join(F.broadcast(sketch), ["j", "bucket"], "inner")
    group_cols = [col for col in probes.columns]
    return joined.groupBy(*group_cols).agg(F.min("c").alias("est"))

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), engine-portable md5 edition.
#
# Spark ships HLL++ as `approx_count_distinct`, but its hash (xxhash64 of
# the internal binary layout) and bias tables are engine-private — the
# DuckDB oracle can never rebuild the same registers, which is why
# `approx_distinct_profile` is a rows-only check. This twin fixes the whole
# estimator to public arithmetic: bucket = first 8 md5 bits, rho = leading
# zeros of the next 52 bits + 1, register = max(rho), estimate =
# alpha_m * m^2 / sum(2^-register). Every step below is integer except ONE
# IEEE double division at the end, so the estimate is reproducible
# bit-for-bit in any engine with md5 — the sketch itself becomes
# hash-checkable, not just error-bounded.
#
# Scale story (same as the CMS above): registers are a per-group max, so
# map-side partial aggregation collapses each task's contribution to at most
# ``groups x 256`` rows before the shuffle, and register tables from
# different days/partitions/clusters merge by element-wise MAX. The raw
# estimator (no small-range linear-counting branch) is used on purpose:
# cross-engine `ln()` is not ulp-identical, while the raw path's single
# division is — callers needing the small-range regime get `zero_regs` to
# detect it (zero_regs > 0 with n < 2.5m ⇒ prefer linear counting).
# ---------------------------------------------------------------------------

_HLL_M = 256  # 2^8 registers: bucket = first 2 md5 hex chars
# alpha_256 * m^2 * 2^53, computed once in IEEE double in this exact
# operation order; the DuckDB oracle embeds repr() of this value so both
# engines divide the SAME numerator by the SAME integer register sum.
HLL_NUMERATOR = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0

_HEX13_ZEROS = "0" * 13


def _hll_rho() -> Column:
    """rho = 1 + leading zero bits of the 52-bit tail held in col `hex13`.

    Pure string arithmetic (no log2 — cross-engine libm is not
    ulp-identical): 4 zero bits per leading '0' hex char, plus the
    intra-digit zeros of the first non-zero char (1 -> 3, 2-3 -> 2,
    4-7 -> 1, 8-f -> 0). All-zero tail caps at 52 + 1.
    """
    stripped = F.expr("trim(LEADING '0' FROM hex13)")
    first = F.substring(stripped, 1, 1)
    intra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (
        F.when(F.col("hex13") == _HEX13_ZEROS, F.lit(53))
        .otherwise(4 * (13 - F.length(stripped)) + intra + 1)
        .cast("int")
    )


def _hll_sparse(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """SPARSE per-group register table ``group_cols + (bucket, mx)`` —
    only buckets some value actually hashed into. One max-aggregate, so
    map-side partials collapse each task to <= groups x 256 rows before
    the shuffle. This is the mergeable sketch state: sparse tables from
    different days/partitions/clusters combine by MAX on (group, bucket).
    """
    md = F.md5(F.col(value_col).cast("string"))
    hashed = df.select(
        *group_cols,
        F.conv(F.substring(md, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.substring(md, 3, 13).alias("hex13"),
    )
    return (
        hashed.select(*group_cols, "bucket", _hll_rho().alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("mx"))
    )


def hll_sparse_with_exact(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Sparse registers PLUS per-bucket exact distinct counts in ONE
    aggregation: ``group_cols + (bucket, mx, nd)``.

    The md5 bucket partitions the value space (it is a pure function of
    the value), so ``Σ_bucket nd`` per group ≡ ``count(DISTINCT value)``
    per group — a caller that reports estimate AND exact side by side
    (the sketch-accuracy queries) gets both from a single input scan
    instead of a register pass plus a separate countDistinct pass (r10,
    guide §1.2: fewer passes). Register values are untouched: max(rho)
    over duplicates equals max(rho) over distinct values.
    """
    md = F.md5(F.col(value_col).cast("string"))
    hashed = df.select(
        *group_cols,
        F.conv(F.substring(md, 1, 2), 16, 10).cast("bigint").alias("bucket"),
        F.substring(md, 3, 13).alias("hex13"),
        F.col(value_col).cast("string").alias("__v"),
    )
    return (
        hashed.select(*group_cols, "bucket", _hll_rho().alias("r"), "__v")
        .groupBy(*group_cols, "bucket")
        .agg(
            F.max("r").alias("mx"),
            F.countDistinct("__v").alias("nd"),
        )
    )


def hll_incremental(
    spark,
    delta: DataFrame,
    value_col: str,
    group_cols: list[str],
    store_path: str,
) -> DataFrame:
    """Incremental distinct-count maintenance — the daily-ingest form of
    the HLL register table: the NEW batch's sparse register table is
    computed (one map-side-combined aggregate over the increment only),
    committed to a persisted register store via the signature-store protocol
    (atomic dot-staging + rename, `_family` marker pinning the hash
    family/width), and the estimate is read from store ∪ batch merged by
    element-wise MAX. The corpus never re-scans: daily cost is
    O(increment) + O(store), and the store is register-table-sized —
    <= groups x 256 rows PER BATCH whatever the corpus row count (the
    minhash/simhash/ivf `*_incremental` discipline applied to counting).

    Maintenance semantics:
    - estimate-idempotent: re-running a batch appends duplicate register
      rows, but MAX-merge absorbs them — the estimate cannot drift. (No
      id anti-join as in `minhash_incremental`: registers carry no ids,
      and duplicates cost store bytes, not correctness.)
    - compaction = replace all batch dirs with the merged table (same
      shape), bounding store growth at daily cadence; not automated here.
    - single-writer per store, as with the signature stores.

    Fully oracle-able: registers are md5 arithmetic, the merge is MAX,
    and merge-over-batches ≡ one build over the unioned input — so a SQL
    oracle over the FULL corpus reproduces the post-ingest estimate
    bit-for-bit. `hll_incremental_md5` in the registry pins it vs DuckDB.

    Returns ``group_cols + (hll_est, zero_regs)`` for the merged state.
    """
    from crz_scraper_spark.operators.dedup import (
        _store_commit,
        _store_family_check,
        _store_list,
    )

    _store_family_check(spark, store_path, f"hll_md5:m{_HLL_M}")
    _store_commit(spark, _hll_sparse(delta, value_col, group_cols), store_path)
    merged = (
        spark.read.parquet(*_store_list(spark, store_path))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("mx").alias("mx"))
    )
    # Sparse-direct estimate (r10): store batches hold only present
    # registers (mx >= 1 by construction), so the absent-bucket arithmetic
    # replaces the densify explode + 256-way join with one aggregation.
    return hll_estimate_sparse(merged, group_cols)


def hll_estimate_sparse(
    sparse: DataFrame, group_cols: list[str]
) -> DataFrame:
    """The HLL estimate taken directly on a SPARSE register table — the
    ``m - n_present`` absent registers are pure arithmetic (each
    contributes ``2^53`` to the register sum and 1 to ``zero_regs``), so
    the densify explode + 256-way left join disappears and the estimate
    is ONE aggregation over ≤ groups × 256 rows (r10, guide §1.2).
    Requires every present register to have mx ≥ 1, which `_hll_sparse`
    guarantees (rho ≥ 1 by construction) and MAX-merging preserves —
    identical output to the estimate over the densified table, pinned by
    tests/test_graph_sketches.py."""
    n_absent = F.lit(_HLL_M) - F.count(F.lit(1))
    summed = sparse.groupBy(*group_cols).agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mx)"))
            + n_absent * F.lit(1 << 53)
        ).alias("s"),
        n_absent.cast("bigint").alias("zero_regs"),
    )
    est = F.floor(F.lit(HLL_NUMERATOR) / F.col("s").cast("double"))
    return summed.select(
        *group_cols, est.cast("bigint").alias("hll_est"), "zero_regs"
    )


# ---------------------------------------------------------------------------
# Fixed-boundary quantile histogram — the engine-portable twin of Spark's
# approx_percentile (KLL/GK-style sketches differ across engines by design,
# so approx_percentile_profile can only be rows-only checked). The recipe is
# hll_distinct_md5's applied to RANK sketches: replace the engine-private
# sketch with public integer arithmetic both engines execute bit-identically.
#
#   - bucket = floor(value * scale) — ONE IEEE multiply + floor, identical
#     in any IEEE-754 engine; with `scale` a power of two the inverse
#     mapping bucket -> bucket/scale is also exact.
#   - the histogram (group, bucket, cnt) is the sketch state: bounded by
#     value_range * scale buckets per group REGARDLESS of row count, built
#     by one map-side-combined count aggregate, and mergeable across
#     partitions/days/clusters by plain SUM on (group, bucket) — the same
#     mergeability story as the HLL register table.
#   - quantile readout is pure integer rank selection: target rank =
#     (n-1)*num DIV den + 1 (nearest-rank-lower), answer = the smallest
#     bucket whose running count reaches it. Deterministic error bound:
#     the true quantile lies in [bucket/scale, (bucket+1)/scale) — a
#     1/scale-wide certainty interval, not a probabilistic one.
# ---------------------------------------------------------------------------


# Buckets per unit of value: a power of two, so bucket/scale is IEEE-exact
# in both engines.
_QH_SCALE = 16


def quantile_histogram(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group fixed-boundary histogram: ``group_cols + (bucket, cnt)``.

    The sketch state for portable quantiles: one map-side-combined count
    per (group, floor(value*scale)) — shuffle payload is histogram-sized
    (bounded by the value DOMAIN, not the row count), mergeable by SUM.

    NULL values are excluded BEFORE bucketing (ADVICE r9): a NULL bucket
    would count toward n_rows yet sort NULLS FIRST under Spark's window
    and NULLS LAST under DuckDB's — a latent cross-engine rank skew.
    Quantiles over NULLs are undefined anyway; the filter makes both
    engines agree by never producing the bucket.
    """
    bucket = F.floor(F.col(value_col) * F.lit(float(_QH_SCALE))).cast("bigint")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bucket.alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


# (name, numerator, denominator) of each quantile `histogram_quantiles` reads.
_QUANTILES = (("p50", 1, 2), ("p95", 19, 20))


def histogram_quantiles(hist: DataFrame, group_cols: list[str]) -> DataFrame:
    """Nearest-rank-lower p50 and p95 from a `quantile_histogram` table.

    Returns ``group_cols + (n_rows, <p>_bucket bigint, <p>_est double)`` for
    p in (p50, p95). Everything up to the readout is integer (running count vs
    integer target rank); the only float op is bucket/scale with scale a
    power of two — exact in IEEE — so the output hash-matches a DuckDB
    twin. The cumulative window partitions on the GROUP and orders by
    bucket: partition width is bounded by the bucket domain (value_range *
    scale rows), never by input size, so the window never sees corpus-
    scale partitions.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("n_rows"))
    j = cum.join(tot, list(group_cols))
    aggs = [F.max("n_rows").cast("bigint").alias("n_rows")]
    for name, num, den in _QUANTILES:
        target = F.expr(f"((n_rows - 1) * {num}) DIV {den} + 1")
        aggs.append(
            F.min(F.when(F.col("cum") >= target, F.col("bucket"))).alias(
                f"{name}_bucket"
            )
        )
    out = j.groupBy(*group_cols).agg(*aggs)
    for name, _num, _den in _QUANTILES:
        out = out.withColumn(
            f"{name}_est",
            F.col(f"{name}_bucket").cast("double") / F.lit(float(_QH_SCALE)),
        )
    return out
