"""Stage-9 profiling/classification operators (SURVEY.md §2.4 A9/A10, §2.5
O4): dictionary-based gibberish detection, header detection, numeric/price
column classification over a long-format cells table, and weighted keyword
suggestion. Dictionary membership has two fidelity tiers, both sharing the
same broadcast-semi-join plan (J7): plain wordset (`oov_profile_counts`)
and suffix-strip morphology (`morph_oov_profile_counts`). Full Hunspell
affix expansion of a .dic/.aff pair has no tier here: no query, pipeline
or CLI command runs it.

Reference behavior (`09_clean_tables.py`):
- gibberish column: spellcheck each cell's words; drop column when
  wrong/(wrong+correct) > 0.75 (09:195-215).
- header row: first row is the header iff its cells hit > 2 keywords
  (09:222-241).
- price/position columns: digit-bearing-row ratio > 0.75 (09:288-301).
- suggested keywords: header words of accepted columns accumulate the
  column's hit ratio as a score (09:310-324).
- spellcheck handles: `05_build_special_dictionary.py:42-50`,
  `09_clean_tables.py:83-91` (Dicts/sk_SK + Dicts/en_US Hunspell pairs).

Spark design: everything is a groupBy over a long format (table_id, col,
row_no, cell) — the reference's per-file pandas loops become one shuffle per
profile; the dictionary is a broadcast semi-join (J7) instead of per-cell
Hunspell calls (the suffix-strip tier approximates Hunspell's affix
morphology — SURVEY §7 Hard-3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import tokens_nonempty


def oov_profile_counts(
    doc_word_counts: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """Per-document out-of-vocabulary ratio + gibberish flag (A9+J7) over a
    pre-aggregated per-(doc_id, word) count table with counts in `n`.

    `dictionary` is a (word) DataFrame (e.g. the corpus words with count > 5,
    the stage-5a special dictionary `05_build_special_dictionary.py:136-141`).
    Words left-join the broadcast dictionary; OOV ratio = unmatched /
    total tokens, gibberish iff ratio > 0.75 (`09:211`). Callers whose
    dictionary ALSO derives from the corpus (dictionary_oov) tokenize once
    into (id, word, n) and roll both the dictionary and the profile off
    that table — a shuffle of the far smaller count table instead of a
    second full tokenize+explode pass. Token counts are the sums
    Σ_word n and Σ_{OOV word} n."""
    dic = dictionary.select(
        F.col(dictionary.columns[0]).alias("word"), F.lit(1).alias("__in_dict")
    ).distinct()
    joined = doc_word_counts.join(F.broadcast(dic), "word", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("__in_dict").isNull(), F.col("n"))),
                F.lit(0),
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
        .withColumn(
            "is_gibberish", (F.col("oov_ratio") > 0.75).cast("int")
        )
    )


# Hunspell-style affix approximation (SURVEY §7 Hard-3): a token is
# in-vocabulary if it OR a suffix-stripped stem is in the dictionary. The
# suffix tier captures the common inflections with pure relational
# operators — and is therefore oracleable.
MORPH_SUFFIXES = ["s", "es", "ed", "ing"]
MORPH_MIN_STEM = 3


def _morph_accepted_vocab(vocab: DataFrame, dictionary: DataFrame) -> DataFrame:
    """The suffix tier's accepted-word set: each VOCABULARY word (not each
    occurrence — the vocab is corpus-log sized) explodes to
    ≤ len(MORPH_SUFFIXES)+1 stem candidates, semi-joins the broadcast
    dictionary, and the accepted words come back as a broadcastable
    (word, __ok=1) frame."""
    dic = dictionary.select(
        F.col(dictionary.columns[0]).alias("dword")
    ).distinct()
    stem_cols = [F.col("word")]
    for suf in MORPH_SUFFIXES:
        stem = F.expr(
            f"CASE WHEN word LIKE '%{suf}' AND"
            f" length(word) - {len(suf)} >= {MORPH_MIN_STEM}"
            f" THEN substring(word, 1, length(word) - {len(suf)}) END"
        )
        stem_cols.append(stem)
    cand = vocab.select(
        "word",
        F.explode(
            F.filter(F.array(*stem_cols), lambda s: s.isNotNull())
        ).alias("stem"),
    )
    return (
        cand.join(F.broadcast(dic), cand.stem == dic.dword, "left_semi")
        .select("word")
        .distinct()
        .withColumn("__ok", F.lit(1))
    )


def morph_oov_profile_counts(
    doc_word_counts: DataFrame, dictionary: DataFrame
) -> DataFrame:
    """oov_profile_counts with suffix-stripping morphology: the vocabulary,
    the stem candidates (`_morph_accepted_vocab`), and the per-doc profile
    all roll off one pre-aggregated per-(doc, word) count table — two
    broadcast joins and one shuffle of the count table. The stem/accept
    logic is generated from the MORPH_SUFFIXES arms."""
    accepted = _morph_accepted_vocab(
        doc_word_counts.select("word").distinct(), dictionary
    )
    joined = doc_word_counts.join(F.broadcast(accepted), "word", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.coalesce(
                F.sum(F.when(F.col("__ok").isNull(), F.col("n"))),
                F.lit(0),
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_ratio", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
        .withColumn(
            "is_gibberish", (F.col("oov_ratio") > 0.75).cast("int")
        )
    )


def classify_columns(
    cells: DataFrame,
    keywords: list[str],
    numeric_threshold: float = 0.75,
    header_threshold: int = 2,
) -> DataFrame:
    """Per (table_id, col): empty ratio, digit-row ratio, keyword hits in the
    header cell, and the resulting classification flags (09:180-301).

    `cells` is long-format (table_id, col, row_no, cell); row_no 0 is the
    candidate header row.
    """
    kws = F.array(*[F.lit(k.lower()) for k in keywords])
    body = F.col("row_no") > 0
    cell = F.col("cell")
    return (
        cells.groupBy("table_id", "col")
        .agg(
            F.count(F.when(body, 1)).alias("n_rows"),
            F.count(
                F.when(body & (F.coalesce(F.trim(cell), F.lit("")) == ""), 1)
            ).alias("n_empty"),
            F.count(F.when(body & cell.rlike(r"\d"), 1)).alias("n_digit"),
            F.sum(
                F.when(
                    F.col("row_no") == 0,
                    F.size(
                        F.filter(
                            kws, lambda k: F.lower(F.coalesce(cell, F.lit(""))).contains(k)
                        )
                    ),
                ).otherwise(0)
            ).alias("header_kw_hits"),
        )
        .withColumn(
            "empty_ratio",
            F.round(F.col("n_empty") / F.greatest(F.col("n_rows"), F.lit(1)), 6),
        )
        .withColumn(
            "digit_ratio",
            F.round(F.col("n_digit") / F.greatest(F.col("n_rows"), F.lit(1)), 6),
        )
        .withColumn("is_empty_col", (F.col("empty_ratio") >= 1.0).cast("int"))
        .withColumn(
            "is_numeric_col", (F.col("digit_ratio") > numeric_threshold).cast("int")
        )
        .withColumn(
            "is_header_match", (F.col("header_kw_hits") > header_threshold).cast("int")
        )
    )


def best_column_per_table(classified: DataFrame) -> DataFrame:
    """O4: top-1 column per table by digit ratio (09:263-264,309) —
    deterministic tie-break on column name."""
    w = Window.partitionBy("table_id").orderBy(F.desc("digit_ratio"), F.asc("col"))
    return (
        classified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def suggest_keywords(cells: DataFrame, classified: DataFrame) -> DataFrame:
    """A10: header words of qualifying columns accumulate the column's digit
    ratio as a score (09:310-324) — explode(header words) + groupBy(word)
    sum(weight)."""
    headers = cells.filter(F.col("row_no") == 0).select(
        "table_id", "col", F.col("cell").alias("header")
    )
    scored = headers.join(
        classified.select("table_id", "col", "digit_ratio"), ["table_id", "col"]
    )
    return (
        scored.select(
            F.explode(tokens_nonempty("header")).alias("word"),
            F.col("digit_ratio").alias("weight"),
        )
        .groupBy("word")
        .agg(F.round(F.sum("weight"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("word"))
    )
