"""Document/text plans: tokenizer, word counts, keyword tagging, subject
extraction, dictionary-style filters, text-quality analysis, fingerprints.

These re-express the reference's stages 4b/5a/8 (SURVEY.md §2.4 A1–A5, §2.5
O5, §2.7 F13) over the driver's `documents` table, plus the BASELINE.json
text-analysis extensions. Where the taxonomy/stopword lists drive BOTH the
Spark plan and the oracle SQL, the SQL is generated from the same Python
constant — the two sides cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import (
    collect_and_release,
    fan_out,
    load_table,
    pin,
)
from crz_scraper_spark.functions.text import (
    WORD_SEPARATOR_RE,
    subject_extract,
    tokens_nonempty,
)
from crz_scraper_spark.operators.sketches import _CMS_DEPTH, _CMS_WIDTH
from crz_scraper_spark.operators.tagging import DEFAULT_TAXONOMY, _safe, keyword_tag
from crz_scraper_spark.operators.textquality import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id_scores,
    quality_score,
    token_count,
)

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '"
    + WORD_SEPARATOR_RE
    + "'), w -> w <> '')"
)

# ---------------------------------------------------------------------------
# word_frequency — F13 tokenizer + A4 group-count + A5 HAVING floor
# (`05_build_special_dictionary.py:99-141`: tokenize corpus, count words,
# keep count > 5 — the special-dictionary builder).
# ---------------------------------------------------------------------------


def word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 5)
    )


WORD_FREQUENCY_SQL = f"""
SELECT word, count(*) AS cnt
FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents)
GROUP BY word
HAVING count(*) > 5
"""

# ---------------------------------------------------------------------------
# keyword_tagging — A1/A2/A3: per-doc non-overlapping substring counts for
# every keyword, category rollups, grand total — the stage-4b wide table
# (`04_tag_text_contracts.py:98-178`). SQL is generated from the same
# DEFAULT_TAXONOMY the Spark operator uses.
# ---------------------------------------------------------------------------


def keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return keyword_tag(docs, "doc_id", "text", DEFAULT_TAXONOMY)


def _keyword_tagging_sql() -> str:
    kw_exprs = []
    for cat, kws in DEFAULT_TAXONOMY.items():
        for kw in kws:
            k = kw.lower()
            kw_exprs.append(
                f"CAST((length(t) - length(replace(t, '{k}', ''))) / {len(k)} "
                f"AS BIGINT) AS kw_{_safe(kw)}"
            )
    cat_exprs = []
    for cat, kws in DEFAULT_TAXONOMY.items():
        cat_exprs.append(
            " + ".join(f"kw_{_safe(kw)}" for kw in kws) + f" AS cat_{_safe(cat)}"
        )
    total_expr = (
        " + ".join(
            f"kw_{_safe(kw)}" for kws in DEFAULT_TAXONOMY.values() for kw in kws
        )
        + " AS total_hits"
    )
    inner = ",\n       ".join(kw_exprs)
    outer = ",\n       ".join(["*"] + cat_exprs + [total_expr])
    return f"""
SELECT {outer}
FROM (
  SELECT doc_id,
       {inner}
  FROM (SELECT doc_id, lower(text) AS t FROM documents)
)
"""


# ---------------------------------------------------------------------------
# keyword_hits_unpivot — the wide→long inverse of the tagging pivot: melt
# the per-keyword hit columns back to (doc_id, keyword, hits) rows via the
# native unpivot operator (Spark `Expand` — each input row emits one row
# per keyword column with zero shuffle), keeping nonzero hits. The long
# form is what the profiling/suggestion operators consume (A10/X7).
# ---------------------------------------------------------------------------


def keyword_hits_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    wide = keyword_tag(docs, "doc_id", "text", DEFAULT_TAXONOMY)
    kw_cols = [
        f"kw_{_safe(kw)}" for kws in DEFAULT_TAXONOMY.values() for kw in kws
    ]
    return (
        wide.unpivot("doc_id", kw_cols, "keyword", "hits")
        .filter(F.col("hits") > 0)
    )


def _keyword_hits_unpivot_sql() -> str:
    arms = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, 'kw_{_safe(kw)}' AS keyword, kw_{_safe(kw)} AS hits"
        " FROM wide"
        for kws in DEFAULT_TAXONOMY.values()
        for kw in kws
    )
    return f"""
WITH wide AS (
{_keyword_tagging_sql().strip()}
)
SELECT doc_id, keyword, hits FROM (
{arms}
) WHERE hits > 0
"""


# ---------------------------------------------------------------------------
# subject_extract_600 — O5: first-anchor 600-char window
# (`08_extract_subject.py:42-57`), anchors adapted to the synthetic corpus
# vocabulary ('customer' primary, 'window' fallback).
# ---------------------------------------------------------------------------

_ANCHORS = ("customer", "window")


def subject_extract_600(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", subject_extract("text", _ANCHORS).alias("subject")
    )


SUBJECT_EXTRACT_600_SQL = f"""
SELECT doc_id,
       CASE WHEN pos IS NOT NULL THEN substr(t, pos, 600) END AS subject
FROM (
  SELECT doc_id, t,
         coalesce(nullif(strpos(t, '{_ANCHORS[0]}'), 0),
                  nullif(strpos(t, '{_ANCHORS[1]}'), 0)) AS pos
  FROM (SELECT doc_id, lower(text) AS t FROM documents)
)
"""

# ---------------------------------------------------------------------------
# contains_theta_join — P5/J2: substring-containment theta join against a
# small broadcast reference list (`02_filter_by_CIN.py:205-225`'s resort
# substring filter, generalized to emit the matching keyword).
# ---------------------------------------------------------------------------

_THETA_KEYWORDS = ("spark", "vector", "filter")


def contains_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    kws = spark.createDataFrame(
        [(k,) for k in _THETA_KEYWORDS], "keyword string"
    )
    return docs.join(
        F.broadcast(kws), F.contains(F.lower(F.col("text")), F.col("keyword")), "inner"
    ).select("doc_id", "keyword")


CONTAINS_THETA_JOIN_SQL = (
    "SELECT d.doc_id, k.keyword FROM documents d JOIN (VALUES "
    + ", ".join(f"('{k}')" for k in _THETA_KEYWORDS)
    + ") k(keyword) ON contains(lower(d.text), k.keyword)"
)

# ---------------------------------------------------------------------------
# doc_quality / token_count_stats / doc_fingerprint / lang_id — BASELINE.json
# text-analysis extensions (operators/textquality.py). SQL mirrors the exact
# formulas; stopword lists are generated from the same constants.
# ---------------------------------------------------------------------------


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(fan_out(load_table(spark, sf_dir, "documents")))


# Shared fragments of the doc_quality formula (mirrors
# textquality.quality_score_expr): composed by BOTH the doc_quality
# oracle below and the curation-chain oracle
# (fixture_plans._curation_audit_md5_sql), so a weight or ratio change
# can never update one oracle and silently leave the other asserting the
# stale formula.

_PUNCT_RATIO_SQL = """CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                   / length(text)
              ELSE 0.0 END"""

QUALITY_SCORE_EXPR_SQL = """round(least(n_tokens / 100.0, 1.0) * 0.4
             + least(stop_ratio * 5.0, 1.0) * 0.3
             + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.3, 6)"""


def _stop_ratio_sql() -> str:
    all_stop = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stoplist = "[" + ", ".join(f"'{w}'" for w in all_stop) + "]"
    return f"""CASE WHEN len(toks) > 0
              THEN len(list_filter(toks, w -> list_contains({stoplist}, w)))::DOUBLE
                   / len(toks)
              ELSE 0.0 END"""


def quality_score_sql(src: str) -> str:
    """The doc_quality score formula as a (doc_id, quality_score) SELECT
    over `src` (any table/CTE with doc_id + text) — the reusable form
    composed oracles re-head instead of copying the formula."""
    return f"""SELECT doc_id, {QUALITY_SCORE_EXPR_SQL} AS quality_score
  FROM (
    SELECT doc_id,
           len(toks) AS n_tokens,
           {_PUNCT_RATIO_SQL} AS punct_ratio,
           {_stop_ratio_sql()} AS stop_ratio
    FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM {src})
  )"""


def _doc_quality_sql() -> str:
    return f"""
SELECT doc_id,
       n_chars_calc,
       n_tokens,
       round(mean_tok_len, 6) AS mean_tok_len,
       round(punct_ratio, 6)  AS punct_ratio,
       round(stop_ratio, 6)   AS stop_ratio,
       round(upper_ratio, 6)  AS upper_ratio,
       {QUALITY_SCORE_EXPR_SQL} AS quality_score
FROM (
  SELECT doc_id,
         length(text) AS n_chars_calc,
         len(toks)    AS n_tokens,
         CASE WHEN len(toks) > 0
              THEN list_sum(list_transform(toks, w -> length(w)))::DOUBLE / len(toks)
              ELSE 0.0 END AS mean_tok_len,
         {_PUNCT_RATIO_SQL} AS punct_ratio,
         {_stop_ratio_sql()} AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE
                   / length(text)
              ELSE 0.0 END AS upper_ratio
  FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
)
"""


def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(fan_out(load_table(spark, sf_dir, "documents")))


TOKEN_COUNT_STATS_SQL = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))    AS bpe_ish_tokens,
       length(text) / 4.0 AS chars_div4_est
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # xxhash64 is Spark-specific — the oracle-checked surface is the md5
    # content hash; the 64-bit variant stays available on the operator.
    return fingerprint(fan_out(load_table(spark, sf_dir, "documents"))).select(
        "doc_id", "content_md5"
    )


DOC_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_md5
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_scores(fan_out(load_table(spark, sf_dir, "documents")))


def _lang_id_sql() -> str:
    score_exprs = []
    for lang, words in LANG_STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        score_exprs.append(
            f"len(list_filter(toks, w -> list_contains({lst}, w))) AS score_{lang}"
        )
    langs = list(LANG_STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    # Alphabetically-first language wins ties (matches the Spark operator's
    # outermost-when ordering in textquality.lang_id_scores).
    case = "CASE "
    for lang in sorted(langs):
        case += f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    case += "ELSE 'und' END AS lang_guess"
    inner = ",\n         ".join(score_exprs)
    return f"""
SELECT doc_id, {', '.join('score_' + l for l in langs)}, {case}
FROM (
  SELECT doc_id,
         {inner}
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
)
"""


# ---------------------------------------------------------------------------
# exact_dedup_groups — BASELINE.json exact dedup: group by the normalized
# content hash, keep the smallest doc_id (deterministic first-wins analog of
# A6/A7 at corpus scale; shuffle rows carry the 16-byte digest, not the text).
# ---------------------------------------------------------------------------


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select(F.col("doc_id"), F.md5(norm).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


EXACT_DEDUP_GROUPS_SQL = r"""
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_md5,
       min(doc_id) AS keeper_doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# tf_idf_top_terms — corpus-weighted term importance: term frequency per
# (doc, word) × ln(N/df), top-3 terms per document. The training-pipeline
# "what is this document about" primitive. Two shuffles total (tf group-by,
# df group-by — the df side is word-keyed and reused via broadcast), and
# the per-doc top-3 compiles to a WindowGroupLimit (map-side partial
# top-k). Ranking is on the ROUNDED score so engines differing in the last
# ulp of ln() cannot reorder the cut; word breaks exact ties.
# ---------------------------------------------------------------------------


def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(tokens_nonempty("text")).alias("word"))
    # The tf table feeds two consumers (the df rollup's broadcast side and
    # the scored join's probe side); without the eager checkpoint each
    # consumer planned its own full lineage — the tokenize+explode pass
    # over the corpus text and the (doc_id, word) exchange both ran TWICE
    # (AQE stage dedup does not fire across the broadcast boundary;
    # verified on the executed plan). One tokenize pass, one shuffle; the
    # checkpointed rows are the per-(doc, word) counts — the "index", far
    # smaller than the token stream.
    tf = pin(
        toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "tfidf", "rnk")
    )


TF_IDF_TOP_TERMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
),
df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, word, tf, tfidf, rnk
FROM (
  SELECT t.doc_id, t.word, t.tf,
         round(t.tf * ln(n.n_docs::DOUBLE / d.df), 6) AS tfidf,
         row_number() OVER (
             PARTITION BY t.doc_id
             ORDER BY round(t.tf * ln(n.n_docs::DOUBLE / d.df), 6) DESC,
                      t.word) AS rnk
  FROM tf t JOIN df d USING (word) CROSS JOIN n
)
WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# train_test_split — deterministic hash-based dataset split: bucket =
# md5(doc_id) mod 100, train iff bucket < 80. The curation primitive every
# training pipeline needs: stable under re-runs, insertion-order-free,
# join-free (any table derived from doc_id lands in the same split), and
# embarrassingly parallel — no shuffle at all, the split is a per-row
# expression. Oracled bit-for-bit via the same md5 arithmetic in DuckDB.
# ---------------------------------------------------------------------------


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    split = F.when(bucket < 80, F.lit("train")).otherwise(F.lit("test"))
    return (
        docs.select("doc_id", bucket.alias("bucket"), split.alias("split"))
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.min("bucket").alias("min_bucket"),
             F.max("bucket").alias("max_bucket"))
    )


TRAIN_TEST_SPLIT_SQL = """
SELECT split, count(*) AS n_docs, min(bucket) AS min_bucket,
       max(bucket) AS max_bucket
FROM (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 AS bucket,
         CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 100 < 80
              THEN 'train' ELSE 'test' END AS split
  FROM documents
)
GROUP BY split
"""

# ---------------------------------------------------------------------------
# sequence_packing — greedy sequential context packing: documents in a
# deterministic order are assigned to fixed-capacity bins by
# floor(exclusive-prefix-token-count / capacity) — the standard
# approximate packing for LLM training batches (a doc may straddle a
# boundary; the bin id is where it starts). One window pass, running sum
# over integral counts (exact in any order of partial evaluation since the
# frame order is total).
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 8192
# Docs per prefix-sum block: small here so sf0.001 already exercises the
# multi-block merge; at production scale use ~10^6 (one offsets row per M
# docs keeps the block table tiny at any corpus size).
_PACK_BLOCK = 128


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # Two-phase distributed prefix sum — NO global ordered window (a global
    # Window.orderBy funnels every row through one task; at 100 TB one task
    # would sort the world). Phase 1: rows get a deterministic block id
    # (doc_id div B — no sampling, so no repartitionByRange lineage
    # nondeterminism) and an intra-block prefix sum via a window PARTITIONED
    # by block (parallel across blocks). Phase 2: per-block totals (one tiny
    # row per block) get exclusive running offsets via a window over the
    # block table only — corpus-size/B rows, e.g. ~10^3 at 10^9 docs with
    # B=10^6 — then broadcast-join back. Global prefix = offset + intra.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.size(tokens_nonempty("text")).alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_BLOCK}").alias("blk"),
    )
    w_intra = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Both phases consume the tokenized projection — phase 1 through the
    # intra-block window, phase 2 through the per-block totals — and the
    # tokenizer (regex split over the full text) is the expensive pass.
    # Deriving phase 2 from `toks` directly ran that pass TWICE: its
    # partial aggregate planned BELOW a second exchange, so the two
    # exchange subtrees were never canonically equal and neither static
    # ReuseExchange nor AQE stage dedup could fire (verified on the
    # executed plan). The eager localCheckpoint pins exactly ONE
    # tokenize+shuffle+window pass — the same single-pass guarantee
    # perplexity_filter/bm25_search use — and the checkpointed rows are 4
    # integers/doc, corpus-bytes-free. Same sums over the same rows.
    intra = pin(toks.withColumn(
        "intra", F.coalesce(F.sum("n_tokens").over(w_intra), F.lit(0))
    ))
    w_blocks = Window.orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        intra.groupBy("blk")
        .agg(F.sum("n_tokens").alias("blk_tokens"))
        .withColumn(
            "offset", F.coalesce(F.sum("blk_tokens").over(w_blocks), F.lit(0))
        )
        .select("blk", "offset")
    )
    packed = intra.join(F.broadcast(offsets), "blk").select(
        "doc_id",
        "n_tokens",
        F.expr(f"(offset + intra) div {_PACK_CAPACITY}").alias("bin_id"),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SEQUENCE_PACKING_SQL = f"""
WITH toks AS (
  SELECT doc_id, len({_TOKS_SQL}) AS n_tokens FROM documents
),
packed AS (
  SELECT doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) // {_PACK_CAPACITY} AS bin_id
  FROM toks
)
SELECT bin_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY bin_id
"""


# ---------------------------------------------------------------------------
# bm25_search — ranked full-text retrieval over the corpus for a fixed
# term set (Okapi BM25, k1=1.2 b=0.75): tf from the exploded token table
# (filtered to the query terms BEFORE the shuffle — the posting-list
# subset, not the full index), df and avgdl as 1-row/row-per-term
# broadcasts, per-doc score as one small agg, top-10 on the rounded score
# (same ln()/round-6 cross-engine discipline as tf_idf_top_terms). The
# IR-ranking companion to the keyword-count tagging of stage 4b.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "filter"]
_BM25_K1, _BM25_B = 1.2, 0.75


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # dl = size(toks) and per-term tf = size(filter(toks, = term)) are both
    # array scalars — the full token stream is NEVER exploded or shuffled
    # (the original explode+groupBy formulation shuffled every token twice;
    # this one shuffles only per-(doc, matched-term) rows — the posting-list
    # subset). toks is a named column so each term scan reuses one split.
    def _term_tf(t: str) -> F.Column:
        # One-parameter lambda required: filter() treats a two-parameter
        # lambda as (element, index).
        return F.struct(
            F.lit(t).alias("word"),
            F.size(F.filter("toks", lambda w: w == F.lit(t))).alias("tf"),
        )

    per_doc = (
        docs.select("doc_id", tokens_nonempty("text").alias("toks"))
        # Match the oracle's document universe exactly: its dl CTE derives
        # from exploded tokens, so a whitespace-only document contributes
        # nothing there — excluding it here keeps n_docs/avgdl identical on
        # both sides if such a doc ever enters testdata.
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.array(*[_term_tf(t) for t in _BM25_TERMS]).alias("tf_arr"),
        )
        # per_doc feeds BOTH the corpus stats agg and the tf posting list;
        # without the persist the tokenize + per-term array scans (the
        # expensive part) run twice. The cached frame is (id, int, small
        # struct array) — tokens themselves are already projected away.
        .persist()
    )
    # Materialize the 1-row corpus stats EAGERLY: the same job warms the
    # per_doc cache (AQE submits the df and scored leaf stages
    # concurrently — without a materialized cache each recomputes the
    # tokenize + per-term scans, the containment-scan race fixed in
    # operators/dedup.py), and the two scalars then ride the plan as
    # literals instead of a broadcast cross-join (r10, guide §1.2/§5).
    # Same doubles bit-for-bit: the JVM computes sum(dl)/count either way.
    st = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    ).collect()[0]
    n_docs, avgdl = st["n_docs"], st["avgdl"]
    tf = (
        per_doc.select("doc_id", "dl", F.explode("tf_arr").alias("t"))
        .select("doc_id", "dl", "t.word", "t.tf")
        .filter(F.col("tf") > 0)
    )
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0
        + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = F.round(
        idf
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.lit(avgdl))
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(df), "word")
        .withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 4).alias("score"))
    )
    # Global top-10: an unpartitioned window moves ALL scored rows to one
    # task — fine at test scale, a straggler at 100 TB where every doc
    # matching any term gets a score. Pre-prune to the top 10 PER PARTITION
    # first (map-side, no shuffle); only <= 10 * n_partitions candidates
    # reach the single-partition ranking window. Same result: a global
    # top-10 row is necessarily a top-10 row of its partition.
    w_local = Window.partitionBy(F.spark_partition_id()).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    candidates = (
        scored.withColumn("lrnk", F.row_number().over(w_local))
        .filter(F.col("lrnk") <= 10)
        .drop("lrnk")
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    result = (
        candidates.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("doc_id", "score", "rnk")
    )
    return collect_and_release(result, per_doc)


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks
  WHERE word IN ({terms}) GROUP BY doc_id, word
),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
scored AS (
  SELECT t.doc_id,
         round(sum(round(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (t.tf * ({_BM25_K1} + 1))
           / (t.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl)), 6)), 4)
           AS score
  FROM tf t JOIN df d USING (word) JOIN dl l USING (doc_id) CROSS JOIN stats s
  GROUP BY t.doc_id
)
SELECT doc_id, score, rnk FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM scored
)
WHERE rnk <= 10
"""



# ---------------------------------------------------------------------------
# bpe_token_stats — REAL subword tokenization (Sennrich et al. 2016 BPE):
# merges learned driver-side on the deterministic doc_id<64 sample (the
# IVF-trainer rationale: vocabulary is index metadata), applied corpus-wide
# as one map-only Arrow-batched scan with the rank table broadcast and a
# per-batch distinct-word memo. Upgrades token_count_stats' regex estimate
# to an actual trained tokenizer; rows-only check (a BPE merge loop has no
# SQL analog) — unit tests pin merges/encodings against a hand reference.
# ---------------------------------------------------------------------------


def _bpe_invariant(stats: DataFrame) -> DataFrame:
    """Rows-only invariant for the BPE stats queries: BPE only ever SPLITS
    whitespace words, so n_bpe_tokens >= n_words for every document — a
    tokenizer regression that merges across words (or drops tokens) drops
    rows here, moving the driver's recorded count. Healthy output keeps
    every document row."""
    return stats.filter(F.col("n_bpe_tokens") >= F.col("n_words"))


def bpe_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.bpe import bpe_token_stats

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _bpe_invariant(bpe_token_stats(docs, spark))


_BPE_FIXED_SAMPLE = (
    "spark merge batch window filter stream vector customer column query "
    "table order small value join data line part sort group hash scan key "
    "row agg big slow fast dup the a spark merge batch window stream "
    "filter vector customer column query table order small value join"
)
_BPE_FIXED_N_MERGES = 16


def _bpe_fixed_merges() -> list[tuple[str, str]]:
    """The pinned merge table for the oracled BPE twin: learned at import
    from the embedded sample above (pure function of in-repo constants —
    NOT of the input corpus), so both engines consume the identical
    literal ranks."""
    from crz_scraper_spark.operators.bpe import learn_bpe

    return learn_bpe([_BPE_FIXED_SAMPLE], n_merges=_BPE_FIXED_N_MERGES)


def bpe_fixed_merges_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-verified twin of the BPE APPLY phase: the merge table is a
    pinned literal (learned from `_BPE_FIXED_SAMPLE`, not the corpus), so
    the greedy rank-priority encode loop — the part `bpe_token_stats` and
    `bpe_corpus_token_stats` run through the Arrow-batched UDF — has an
    exact SQL analog: a recursive CTE over the DISTINCT-word table (the
    memo, made declarative) that merges the best-ranked pair per step,
    leftmost on ties, exactly `encode_word`'s (rank, index) argmin. The
    LEARNING loops (sample-based and corpus-frequency-based) stay
    rows-only — iterative pair-count argmax over mutating state has no
    SQL analog — but their outputs are pinned by the hand-computed
    reference in tests/test_operators.py, and the apply phase is now
    driver-hash-verified end to end."""
    from crz_scraper_spark.operators.bpe import _apply_bpe_stats

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _bpe_invariant(
        _apply_bpe_stats(docs, spark, _bpe_fixed_merges())
    )


def _bpe_fixed_sql() -> str:
    """Recursive-CTE BPE apply from the same pinned merge literals:
    rank(a,b) = 1-based list_position in the rank table; best pair per
    step = min over rank*1e6+position (identical to encode_word's
    0-based (rank, index) tuple argmin — the transformation is
    monotone); per-word token count = terminal (shortest) state length;
    per-doc stats re-aggregate over word OCCURRENCES."""
    merges = _bpe_fixed_merges()
    rlist = "[" + ", ".join(f"['{a}', '{b}']" for a, b in merges) + "]"
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     w -> w <> '') AS ws
  FROM documents
),
words AS (SELECT DISTINCT unnest(ws) AS w FROM base),
enc(w, s) AS (
  SELECT w, list_append(list_transform(range(1, length(w) + 1),
                                       i -> substr(w, CAST(i AS INT), 1)),
                        '</w>')
  FROM words
  UNION ALL
  SELECT w,
         list_concat(list_concat(
           list_slice(s, 1, CAST(bk % 1000000 AS INT) - 1),
           [s[CAST(bk % 1000000 AS INT)] || s[CAST(bk % 1000000 AS INT) + 1]]),
           list_slice(s, CAST(bk % 1000000 AS INT) + 2, len(s)))
  FROM (
    SELECT w, s,
           list_min(list_filter(
             list_transform(range(1, len(s)),
               i -> coalesce(list_position({rlist}, [s[i], s[i+1]]), 0)
                    * 1000000 + i),
             k -> k >= 1000000)) AS bk
    FROM enc
  )
  WHERE bk IS NOT NULL
),
wtok AS (SELECT w, min(len(s)) AS n_tok FROM enc GROUP BY w),
docwords AS (SELECT doc_id, unnest(ws) AS w FROM base),
agg AS (
  SELECT d.doc_id, count(*) AS n_words, sum(t.n_tok) AS n_bpe_tokens
  FROM docwords d JOIN wtok t ON d.w = t.w
  GROUP BY d.doc_id
)
SELECT b.doc_id,
       CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(a.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       CAST(b.n_chars * 1000000
            // greatest(coalesce(a.n_bpe_tokens, 0), 1) AS BIGINT)
         AS chars_per_token_ppm
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
WHERE coalesce(a.n_bpe_tokens, 0) >= coalesce(a.n_words, 0)
"""


def bpe_corpus_token_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact-corpus vocabulary: merges learned from the FULL corpus's word
    # frequencies via one distributed word-count agg (top-_MAX_VOCAB rows
    # reach the driver — bounded at any corpus size), not from a document
    # sample. Rows-only check (merge learning has no SQL analog).
    from crz_scraper_spark.operators.bpe import bpe_corpus_token_stats

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return _bpe_invariant(bpe_corpus_token_stats(docs, spark))


# ---------------------------------------------------------------------------
# token_heavy_hitters — exact heavy hitters over the corpus token stream via
# two-pass Misra–Gries (operators/heavyhitters.py): shuffle-free per-
# partition candidate pruning (≤ m counters each), then an exact recount of
# the bounded candidate set. The driver's oracle is the plain GROUP BY /
# HAVING — pass 1's pruning provably never drops a true >1% hitter, so the
# hash must match EXACTLY, making the MG bound itself driver-verified.
# ---------------------------------------------------------------------------


def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.heavyhitters import heavy_hitters_arrays

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    arrs = docs.select(tokens_nonempty("text").alias("toks"))
    return heavy_hitters_arrays(arrs, "toks", "word")


TOKEN_HEAVY_HITTERS_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS word FROM documents
),
n AS (SELECT count(*) AS n_total FROM toks)
SELECT word,
       count(*) AS cnt,
       (count(*) * 1000000) // (SELECT n_total FROM n) AS freq_ppm
FROM toks
GROUP BY word
HAVING count(*) * 100 > (SELECT n_total FROM n)
ORDER BY cnt DESC, word ASC
"""


# ---------------------------------------------------------------------------
# cms_token_estimate — Count-Min sketch frequency estimates vs exact counts
# (operators/sketches.py). The sketch is depth*width counters whatever the
# corpus size (mergeable sums — the 100 TB summary structure); the portable
# md5 bucket hash lets the DuckDB oracle rebuild the identical sketch, so the
# estimates hash-match exactly AND the emitted `overcount = est - cnt` column
# makes the CMS never-undercount guarantee a driver-verified invariant.
# ---------------------------------------------------------------------------

def cms_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.sketches import cms_build, cms_estimate

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # ONE pass over the corpus token stream: the per-word exact counts.
    # Everything downstream — the sketch counters (bucket depends only on
    # the word, so SUM of per-word counts per (j, bucket) ≡ COUNT of
    # occurrences bit-for-bit), the corpus total (Σ cnt ≡ count of the
    # exploded stream), and the >1% probe set — derives from this
    # vocabulary-sized table. The previous shape persisted the EXPLODED
    # occurrence stream (corpus-sized cache, guide §5) and scanned it three
    # times (sketch build, count, probe groupBy — guide §1.2: fewer
    # passes); at 100 TB that is 3 corpus token streams vs 1.
    wc = (
        docs.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    sketch = cms_build(wc, "word")
    total = wc.agg(F.sum("cnt")).collect()[0][0]
    # Probe set = the exact >1% heavy hitters (bounded at <= 100 rows by
    # construction), so the output carries both truths side by side.
    probes = wc.filter(F.col("cnt") * 100 > F.lit(total))
    est = cms_estimate(sketch, probes, "word")
    out = est.select(
        "word",
        "cnt",
        "est",
        (F.col("est") - F.col("cnt")).alias("overcount"),
    ).orderBy(F.desc("cnt"), "word")
    return collect_and_release(out, wc)


def _cms_sql() -> str:
    js = ", ".join(str(j) for j in range(_CMS_DEPTH))
    return f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS word FROM documents
),
n AS (SELECT count(*) AS n_total FROM toks),
hashed AS (
  SELECT j,
         ('0x' || substr(md5(j::VARCHAR || ':' || word), 1, 15))::BIGINT
           % {_CMS_WIDTH} AS bucket
  FROM toks, (SELECT unnest([{js}]) AS j)
),
sketch AS (SELECT j, bucket, count(*) AS c FROM hashed GROUP BY j, bucket),
probes AS (
  SELECT word, count(*) AS cnt FROM toks GROUP BY word
  HAVING count(*) * 100 > (SELECT n_total FROM n)
),
keyed AS (
  SELECT p.word, p.cnt, j,
         ('0x' || substr(md5(j::VARCHAR || ':' || p.word), 1, 15))::BIGINT
           % {_CMS_WIDTH} AS bucket
  FROM probes p, (SELECT unnest([{js}]) AS j)
)
SELECT k.word, k.cnt, min(s.c) AS est, min(s.c) - k.cnt AS overcount
FROM keyed k JOIN sketch s USING (j, bucket)
GROUP BY k.word, k.cnt
ORDER BY k.cnt DESC, k.word
"""


QUERIES: dict = {
    "token_heavy_hitters": (token_heavy_hitters, TOKEN_HEAVY_HITTERS_SQL),
    "cms_token_estimate": (cms_token_estimate, _cms_sql()),
    "bpe_token_stats": (bpe_token_stats_q, None),
    "bpe_fixed_merges_stats": (bpe_fixed_merges_stats_q, _bpe_fixed_sql()),
    "bpe_corpus_token_stats": (bpe_corpus_token_stats_q, None),
    "word_frequency": (word_frequency, WORD_FREQUENCY_SQL),
    "bm25_search": (bm25_search, _bm25_sql()),
    "tf_idf_top_terms": (tf_idf_top_terms, TF_IDF_TOP_TERMS_SQL),
    "train_test_split": (train_test_split, TRAIN_TEST_SPLIT_SQL),
    "sequence_packing": (sequence_packing, SEQUENCE_PACKING_SQL),
    "keyword_tagging": (keyword_tagging, _keyword_tagging_sql()),
    "keyword_hits_unpivot": (keyword_hits_unpivot, _keyword_hits_unpivot_sql()),
    "subject_extract_600": (subject_extract_600, SUBJECT_EXTRACT_600_SQL),
    "contains_theta_join": (contains_theta_join, CONTAINS_THETA_JOIN_SQL),
    "doc_quality": (doc_quality, _doc_quality_sql()),
    "token_count_stats": (token_count_stats, TOKEN_COUNT_STATS_SQL),
    "doc_fingerprint": (doc_fingerprint, DOC_FINGERPRINT_SQL),
    "lang_id": (lang_id, _lang_id_sql()),
    "exact_dedup_groups": (exact_dedup_groups, EXACT_DEDUP_GROUPS_SQL),
}
