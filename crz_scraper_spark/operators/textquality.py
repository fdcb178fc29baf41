"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, document fingerprinting.

BASELINE.json:6 scale extensions built on the reference's text machinery
(tokenizer F13 `05_build_special_dictionary.py:19-38`; per-doc char counts
A11 `04_tag_text_contracts.py:180-181`). Everything here is built-in column
expressions — one corpus scan, no shuffle, no Python — so at 100 TB these are
pure map stages that scale linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import tokens_nonempty

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
# Deliberately minimal + deterministic; real deployments swap in fastText.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wordset, t)))


def lang_guess_expr(text_col: str = "text", toks: Column | None = None) -> Column:
    """Argmax language guess as a single Column expression — the map-only
    form of `lang_id_scores` for pipelines that append the guess in place
    (zero joins, zero shuffles). Same tie-break: alphabetically-first
    language among the max scores; zero hits everywhere → 'und'.

    `toks`: pass a PRE-STAGED token-array column to share one tokenizer
    evaluation with sibling expressions (see `quality_score`'s staging
    note); default re-derives tokens from `text_col`."""
    if toks is None:
        toks = tokens_nonempty(text_col)
    scores = {
        lang: _stopword_hits(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        guess = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(guess)
    return guess


def _composite_score(
    n_tokens: Column, stop_ratio: Column, punct_ratio: Column
) -> Column:
    """THE quality-score formula (weights + clamps), over already-computed
    feature columns — single definition shared by the expression and the
    staged DataFrame forms so the two can never drift from each other (the
    same no-drift discipline the SQL oracle applies via
    text_plans.QUALITY_SCORE_EXPR_SQL)."""
    return F.round(
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))) * 0.3,
        6,
    )


def quality_score_expr(text_col: str = "text", toks: Column | None = None) -> Column:
    """Composite quality score as a single Column expression — the map-only
    form of `quality_score` (same weights, same 6-decimal rounding) for
    in-place appends. `toks` as in `lang_guess_expr`."""
    t = F.col(text_col)
    if toks is None:
        toks = tokens_nonempty(text_col)
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stopset = F.array(*[F.lit(w) for w in all_stop])
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct_ratio = F.when(
        n_chars > 0,
        (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("double") / n_chars,
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0,
        F.size(F.filter(toks, lambda w: F.array_contains(stopset, w))).cast("double")
        / n_tokens,
    ).otherwise(F.lit(0.0))
    return _composite_score(n_tokens, stop_ratio, punct_ratio)


def lang_id_scores(docs: DataFrame) -> DataFrame:
    """Per-language stopword-hit scores + argmax language guess per
    ``(doc_id, text)`` row.

    Ties resolve to the alphabetically-first language among the max scores
    (deterministic); zero hits everywhere → 'und' (undetermined).
    """
    toks = tokens_nonempty("text")
    out = docs.select(F.col("doc_id"), toks.alias("__toks"))
    for lang, words in LANG_STOPWORDS.items():
        out = out.withColumn(f"score_{lang}", _stopword_hits(F.col("__toks"), words))
    score_cols = [F.col(f"score_{lang}") for lang in LANG_STOPWORDS]
    best = F.greatest(*score_cols)
    guess = F.lit("und")
    # Build the argmax backwards so earlier (alphabetical) languages win ties.
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        guess = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(guess)
    return out.withColumn("lang_guess", guess).drop("__toks")


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features: char count, token count, mean token length, punctuation ratio,
    stopword ratio, uppercase ratio. Composite = weighted sum clamped to
    [0, 1]. All closed-form column math (one scan).

    Staging note (optimization round 10, guide §1.2 step 2): the features
    are computed through TWO chained projections — first the raw counts
    (one tokenizer evaluation, one regexp each), then the ratios/score
    over those count COLUMNS. Building every feature as an independent
    expression tree re-evaluated the tokenizer regex-split ~5× per row
    (n_tokens, mean_tok_len, stop_ratio, and twice more inside the score)
    because Spark's subexpression elimination does not reach into the
    interpreted higher-order array lambdas. CollapseProject deliberately
    keeps the stage split (the token array is non-cheap and multiply
    referenced), and whole-stage codegen fuses both projections into the
    same single pass — measured 1.195 → 0.550 s interleaved min-of-6 at
    sf0.1, identical rows and schema.
    """
    t = F.col("text")
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stopset = F.array(*[F.lit(w) for w in all_stop])
    counted = docs.select(
        F.col("doc_id"),
        F.length(t).alias("__nc"),
        tokens_nonempty("text").alias("__toks"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).alias(
            "__np"
        ),
        (F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))).alias(
            "__nu"
        ),
    ).select(
        "doc_id",
        "__nc",
        "__np",
        "__nu",
        F.size(F.col("__toks")).alias("__nt"),
        F.aggregate(
            F.col("__toks"), F.lit(0), lambda a, w: a + F.length(w)
        ).alias("__lt"),
        F.size(
            F.filter(F.col("__toks"), lambda w: F.array_contains(stopset, w))
        ).alias("__ns"),
    )
    nc, nt = F.col("__nc"), F.col("__nt")
    mean_tok_len = F.when(
        nt > 0, F.col("__lt").cast("double") / nt
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        nc > 0, F.col("__np").cast("double") / nc
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        nt > 0, F.col("__ns").cast("double") / nt
    ).otherwise(F.lit(0.0))
    upper_ratio = F.when(
        nc > 0, F.col("__nu").cast("double") / nc
    ).otherwise(F.lit(0.0))
    return counted.select(
        F.col("doc_id"),
        nc.alias("n_chars_calc"),
        nt.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        _composite_score(nt, stop_ratio, punct_ratio).alias("quality_score"),
    )


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish subword token estimate per document.

    `ws_tokens` = whitespace split count; `bpe_ish_tokens` = count of matches
    of a GPT-2-style pre-tokenizer regex approximation (word pieces, numbers,
    punctuation runs) via `regexp_count` — a deterministic, JVM-side stand-in
    for a real BPE vocab."""
    t = F.col("text")
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    bpe = F.regexp_count(t, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    return docs.select(
        F.col("doc_id"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
        (F.length(t) / F.lit(4.0)).alias("chars_div4_est"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprints: md5 of the whitespace-normalized
    lowercased text (content hash) + xxhash64 (cheap 64-bit shuffle key).

    The content hash dedups exact near-whitespace variants; downstream exact
    dedup groups by the 16-byte digest instead of multi-KB text (narrow
    shuffle rows at 100 TB)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("content_md5"),
        F.xxhash64(norm).alias("content_xxh64"),
    )
