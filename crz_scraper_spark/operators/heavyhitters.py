"""Exact heavy hitters with bounded shuffle — two-pass Misra–Gries.

The frequent-token / frequent-value question ("which tokens exceed 1% of
a 100 TB corpus?") hits Spark's one weak spot when asked naively: a plain
`groupBy(token).count()` shuffles every distinct (token, partition)
partial — for web-scale token vocabularies that is the dominant cost, and
99.99% of the shuffled keys are then discarded by the HAVING threshold.

Misra–Gries (1982) bounds the candidate set instead:

- Pass 1 (shuffle-FREE, `mapInPandas`): every partition keeps at most
  `m` counters with the classic decrement rule, vectorized — per Arrow
  batch a C-speed `value_counts`, merged into the counter dict; when the
  dict exceeds `m`, subtract the (m+1)-th largest count from all and drop
  the non-positive (the batch form of the one-at-a-time decrement; total
  decrement mass per partition ≤ N_p/(m+1), the textbook bound). Any item
  with global frequency > N/(m+1) must exceed the local bound on at least
  one partition (pigeonhole over Σ N_p), so the UNION of per-partition
  survivor sets is a guaranteed superset of the true heavy hitters —
  at most m × n_partitions candidates leave the executors.
- Pass 2 (bounded shuffle): an exact recount restricted to the candidate
  set — broadcast hash semi-join (candidates are KBs), map-side partial
  aggregation, and a shuffle whose key space is the candidate set, not
  the vocabulary. The final `count*denominator > N` filter is integer
  arithmetic, so the result is EXACTLY the items with freq > N·phi —
  the approximation lives only in pass 1's pruning, which by the bound
  above never prunes a true heavy hitter.

Pass 1 pays one Arrow transfer of the column to Python (map-only, memory
O(m) per task) — the deliberate trade: at scale, shuffle volume is the
scarce resource, not executor CPU.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import collect_and_release


def _mg_fold(counters: dict, counts, m: int) -> dict:
    """One Misra–Gries merge step: add a batch's (item -> count) partials,
    then if over budget apply the batch decrement — subtract the (m+1)-th
    largest count from all and drop the non-positive (every removed unit
    of count is matched across ≥ m+1 items, preserving the MG bound)."""
    for item, c in counts.items():
        counters[item] = counters.get(item, 0) + int(c)
    if len(counters) > m:
        cut = sorted(counters.values(), reverse=True)[m]
        counters = {k: v - cut for k, v in counters.items() if v > cut}
    return counters


# Counters kept per partition by pass 1: every value above 1% frequency
# survives, and at most 100 values can be that frequent.
_COUNTERS = 100


def mg_candidates_arrays(df: DataFrame, arr_col: str, out_col: str) -> DataFrame:
    """Misra–Gries pass 1 over an ARRAY column — one Arrow row per document
    instead of one per element, so pass 1 transfers a fraction of the row
    overhead (measured ~2× end-to-end on the token stream at sf1). Array
    elements must be non-null (a null never survives the recount join
    anyway). Output: candidate rows (`out_col`, __pn NULL) plus ONE
    sentinel row (NULL, n_elements) per partition — the same pass that
    prunes candidates also measures N, so the caller needs no second
    corpus scan (and no corpus-sized persist) to learn the total."""
    eltype = df.schema[arr_col].dataType.elementType.simpleString()

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            flat = pdf[arr_col].explode().dropna()
            n_part += int(len(flat))
            counters = _mg_fold(counters, flat.value_counts(), _COUNTERS)
        # object dtype: a None appended to int64 keys would coerce the
        # column to float64 and corrupt values > 2^53 (e.g. xxhash64-derived
        # ids) before the Arrow cast back — object arrays of Python ints
        # convert to Arrow int64 losslessly.
        yield pd.DataFrame(
            {
                out_col: pd.Series(
                    list(counters.keys()) + [None], dtype=object
                ),
                "__pn": pd.Series(
                    [None] * len(counters) + [n_part], dtype=object
                ),
            }
        )

    return df.select(arr_col).mapInPandas(
        _mg, f"{out_col} {eltype}, __pn bigint"
    )


def _sorted_keys(keys) -> list:
    """Distinct non-null candidate keys, sorted. BinaryType columns
    collect as (unhashable) bytearray — normalize to bytes so the set
    works and createDataFrame round-trips losslessly."""
    return sorted(
        {
            bytes(k) if isinstance(k, bytearray) else k
            for k in keys
            if k is not None
        }
    )


def _hitter_report(recount: DataFrame, col: str, n_total: int) -> DataFrame:
    # freq_ppm via integer DIV on both engines (float division + bigint
    # cast TRUNCATES in Spark but ROUNDS in DuckDB — boundary hazard).
    return recount.select(
        col,
        "cnt",
        F.expr(f"(cnt * 1000000) DIV {n_total}").alias("freq_ppm"),
    ).orderBy(F.desc("cnt"), F.asc(col))


def heavy_hitters_arrays(df: DataFrame, arr_col: str, out_col: str) -> DataFrame:
    """Exact heavy hitters (frequency above 1%) over the ELEMENTS of an
    array column (the token-stream shape: one row per document, `arr_col`
    its token array) — identical result set, cheaper physique, and NO
    lingering state:

    - Pass 1 ships arrays (one Arrow row per document) through the MG
      pruner, which emits candidates AND per-partition element counts, so
      one bounded collect (≤ `_COUNTERS` + 1 rows per partition) yields
      both the candidate list and N — no separate count() scan.
    - The element projection is persisted so the recount explode reads
      the already-computed arrays instead of re-deriving them; because at
      most `_COUNTERS` values can exceed frequency 1%, the final report
      is PROVABLY bounded — it is collected and the cache released
      (`catalog.collect_and_release`), so no corpus-sized persist
      outlives the call.

    Array elements must be non-null; null/empty arrays contribute
    nothing."""
    eltype = df.schema[arr_col].dataType.elementType.simpleString()
    spark = df.sparkSession
    empty_schema = f"{out_col} {eltype}, cnt bigint, freq_ppm bigint"
    arr = df.select(arr_col).persist()
    raw = mg_candidates_arrays(arr, arr_col, out_col).collect()
    n_total = sum(r["__pn"] for r in raw if r["__pn"] is not None)
    cands = _sorted_keys(r[out_col] for r in raw)
    if not n_total or not cands:
        arr.unpersist()
        return spark.createDataFrame([], empty_schema)
    cand = spark.createDataFrame([(c,) for c in cands], f"{out_col} {eltype}")
    toks = arr.select(F.explode(F.col(arr_col)).alias(out_col))
    recount = (
        toks.join(F.broadcast(cand), out_col, "left_semi")
        .groupBy(out_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * _COUNTERS > F.lit(n_total))
    )
    return collect_and_release(_hitter_report(recount, out_col, n_total), arr)
