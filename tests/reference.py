"""Reference implementations that several test files compare the
engine's operators against. Each one is the direct form of a reached
operator: the tests check the operator against it, so it lives here and
not in the package.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import tokens_nonempty
from crz_scraper_spark.operators.heavyhitters import (
    _hitter_report,
    _mg_fold,
    _sorted_keys,
)
from crz_scraper_spark.operators.profiling import _morph_accepted_vocab


def _mg_candidates_with_n(df: DataFrame, col: str, m: int) -> DataFrame:
    """Pass 1 with the partition-size sentinel: candidate rows
    (`col`, __pn NULL) plus ONE (NULL, n_values) row per partition — the
    same scan that prunes candidates also measures N, so callers never
    need a separate count() pass over the corpus."""
    if m < 1:
        raise ValueError(f"mg_candidates: m must be >= 1, got {m}")
    dtype = df.schema[col].dataType.simpleString()

    def _mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n_part = 0
        for pdf in batches:
            vc = pdf[col].value_counts()
            n_part += int(vc.sum())
            counters = _mg_fold(counters, vc, m)
        # object dtype: appending None to an int64 list would otherwise
        # coerce the column to float64, corrupting keys above 2^53 (e.g.
        # xxhash64-derived ids) before the Arrow cast back to bigint —
        # object arrays of Python ints convert to Arrow int64 losslessly.
        yield pd.DataFrame(
            {
                col: pd.Series(
                    list(counters.keys()) + [None], dtype=object
                ),
                "__pn": pd.Series(
                    [None] * len(counters) + [n_part], dtype=object
                ),
            }
        )

    return df.select(col).mapInPandas(_mg, f"{col} {dtype}, __pn bigint")


def mg_candidates(df: DataFrame, col: str, m: int) -> DataFrame:
    """Per-partition Misra–Gries survivor items (≤ m per partition) as a
    one-column DataFrame; superset of every item with global frequency
    > N/(m+1)."""
    return (
        _mg_candidates_with_n(df, col, m)
        .filter(F.col(col).isNotNull())
        .select(col)
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    freq_num: int = 1,
    freq_den: int = 100,
    m: int | None = None,
) -> DataFrame:
    """EXACT set of values whose count exceeds N·freq_num/freq_den,
    computed with candidate pruning so the aggregation shuffle carries at
    most m·n_partitions keys. Returns (col, cnt, freq_ppm) ordered by
    cnt desc, col asc. The threshold compare is integer cross-multiplied
    (`cnt·freq_den > N·freq_num`) — no float boundary ambiguity.

    `m` defaults to freq_den/freq_num (the smallest counter budget whose
    MG undercount bound N/(m+1) < N·freq_num/freq_den still guarantees
    no true heavy hitter is pruned). NULLs — and, for float/double
    columns, NaNs — are excluded: neither is counted in N nor eligible
    as a hitter (pandas value_counts drops NaN in pass 1, so NaN is
    filtered out up front to keep N and the recount consistent)."""
    if m is None:
        m = freq_den // freq_num
    spark = df.sparkSession
    vals = df.filter(F.col(col).isNotNull())
    if df.schema[col].dataType.typeName() in ("float", "double"):
        vals = vals.filter(~F.isnan(F.col(col)))
    # ONE pass yields candidates AND N (bounded collect: ≤ m+1 rows per
    # partition) — the arrays-variant discipline, so the source is
    # scanned exactly twice total: this pass plus the lazy recount.
    raw = _mg_candidates_with_n(vals, col, m).collect()
    n_total = sum(r["__pn"] for r in raw if r["__pn"] is not None)
    cands = _sorted_keys(r[col] for r in raw)
    dtype = df.schema[col].dataType.simpleString()
    if not n_total or not cands:
        return spark.createDataFrame(
            [], f"{col} {dtype}, cnt bigint, freq_ppm bigint"
        )
    cand = spark.createDataFrame([(c,) for c in cands], f"{col} {dtype}")
    recount = (
        vals.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * freq_den > F.lit(n_total) * freq_num)
    )
    return _hitter_report(recount, col, n_total)


def morph_oov_profile(
    docs: DataFrame,
    dictionary: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gibberish_threshold: float = 0.75,
) -> DataFrame:
    """Two-pass reference for `morph_oov_profile_counts`: tokenize the
    documents, accept each vocabulary word through the same
    `_morph_accepted_vocab` stem set, and aggregate the token stream per
    document."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens_nonempty(text_col)).alias("word")
    )
    accepted = _morph_accepted_vocab(toks.select("word").distinct(), dictionary)
    joined = toks.join(F.broadcast(accepted), "word", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.count(F.when(F.col("__ok").isNull(), 1)).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
        .withColumn(
            "is_gibberish", (F.col("oov_ratio") > gibberish_threshold).cast("int")
        )
    )
