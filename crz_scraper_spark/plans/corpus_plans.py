"""Corpus-preparation plans: chunking, boilerplate n-gram filtering, n-gram
language-model count tables, and quantile-band quality filtering.

These extend the curation surface (curation_plans.py) with the remaining
operations a 100 TB pretraining pipeline runs between raw documents and
training shards. The reference's closest analogues are its fixed-window
substring extraction (`08_extract_subject.py:42-57` — a single anchored
window per document; `doc_chunking` generalizes to ALL strided windows) and
its corpus word-frequency dictionary (`05_build_special_dictionary.py:99-141`
— unigram counts; `ngram_lm_counts` generalizes to conditional bigram
statistics with Kneser-Ney-style continuation counts).

All four are fully oracle-checked. Chunk boundaries, gram sets, and
thresholds are integer/string-deterministic; the only floats are ratios of
integers rounded to 6 on both sides.
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

_TOKS_SQL = "list_filter(regexp_split_to_array(lower(text), ' +'), w -> w <> '')"
_TOKS_SPARK = "filter(split(lower(text), ' +'), w -> w <> '')"

# ---------------------------------------------------------------------------
# doc_chunking — strided fixed-size context windows. Every document becomes
# ceil(n_words / stride) chunks of up to CHUNK_WORDS words starting at
# 1, 1+stride, 2*stride+1, ...; consecutive chunks overlap by
# CHUNK_WORDS - stride words (the standard training-context overlap so no
# boundary token loses its left context). Map-side only: sequence +
# explode + slice never shuffles — at 100 TB this fuses into the scan and
# scales linearly with input bytes. The chunk text itself is carried as an
# md5 (the driver compare would otherwise ship megabytes of text); real
# pipelines write the chunk string to the training shard sink.
# ---------------------------------------------------------------------------

_CHUNK_WORDS = 64
_CHUNK_STRIDE = 48


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Empty docs drop via the explode of the empty CASE arm, not a filter:
    # Filter(size(toks) > 0) pushed below the tokenizer projection
    # re-evaluated the regex split per row (2 evaluations → 1). The guard
    # is also required for correctness — Spark's sequence(1, 0, step>0)
    # raises rather than returning [].
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) > 0 THEN"
                f" sequence(1, size(toks), {_CHUNK_STRIDE})"
                f" ELSE array() END"
            )
        ).alias("chunk_start"),
        F.col("toks"),
    ).select(
        "doc_id",
        ((F.col("chunk_start") - 1) / _CHUNK_STRIDE).cast("int").alias("chunk_id"),
        "chunk_start",
        F.size(F.expr(f"slice(toks, chunk_start, {_CHUNK_WORDS})")).alias(
            "chunk_words"
        ),
        F.md5(
            F.expr(f"concat_ws(' ', slice(toks, chunk_start, {_CHUNK_WORDS}))")
        ).alias("chunk_md5"),
    )


DOC_CHUNKING_SQL = f"""
SELECT doc_id,
       CAST((chunk_start - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
       chunk_start,
       len(t[chunk_start : chunk_start + {_CHUNK_WORDS - 1}]) AS chunk_words,
       md5(array_to_string(t[chunk_start : chunk_start + {_CHUNK_WORDS - 1}], ' '))
         AS chunk_md5
FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
     unnest(generate_series(1, len(t), {_CHUNK_STRIDE})) AS s(chunk_start)
WHERE len(t) > 0
"""

# ---------------------------------------------------------------------------
# boilerplate_ngram_filter — C4-style boilerplate suppression: a 5-gram that
# appears in many DISTINCT documents is boilerplate (headers, footers,
# licence blurbs); documents dominated by such grams are dropped. Pass 1
# computes per-gram document frequency from each doc's distinct gram set;
# the blacklist (grams in > BOILERPLATE_DOC_FRAC of docs) is tiny by
# construction — frequency-capped — so the join back to per-doc gram sets
# broadcasts at any scale. Per doc: boilerplate_ratio = |blacklisted grams|
# / |grams|, keep iff ratio <= 0.5. Two shuffles total (gram DF count, per-
# doc ratio agg), both on uniform hash keys.
# ---------------------------------------------------------------------------

_BP_N = 3
_BP_DOC_FRAC = 0.20  # gram is boilerplate if in > 20% of documents


def boilerplate_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _BP_N
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Per-doc distinct gram ARRAY, guarded by the empty CASE arm (short
    # docs yield [] and drop at the explode — a pushed-down size(toks)
    # filter would re-evaluate the regex split per row, the r10 finding).
    core = (
        f"array_distinct(transform(sequence(1, size(toks) - {n - 1}),"
        f" i -> concat_ws(' ', slice(toks, i, {n}))))"
    )
    gram_arr = f"CASE WHEN size(toks) >= {n} THEN {core} ELSE array() END"
    toked = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    grams = toked.select(
        "doc_id", F.explode(F.expr(gram_arr)).alias("gram")
    )
    # Scalar doc count for the blacklist threshold: count the RAW table
    # (parquet count pushdown, no shuffle), not the fanned frame — the
    # value is identical and the fanned count pays the full repartition
    # shuffle just to answer a metadata question (r10, guide §2.1).
    n_docs = load_table(spark, sf_dir, "documents").count()
    blacklist = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _BP_DOC_FRAC * n_docs)
        .select("gram")
    )
    # The blacklist is bounded BY CONSTRUCTION at avg_grams_per_doc /
    # _BP_DOC_FRAC entries (Σ df = n_docs · avg_grams and every member
    # has df > frac · n_docs), independent of corpus size — so it rides
    # the plan as ONE collected-array row on a broadcast nested-loop
    # join. The per-doc side then needs NO explode, NO join probe per
    # gram, and NO per-doc re-aggregation (optimization r11, guide §1.2
    # step 1): each doc's counts are per-row array arithmetic —
    # n_grams = size(grams), n_boilerplate = |grams ∩ blacklist| —
    # where the former explode + broadcast-hash-join + groupBy(doc_id)
    # shape multiplied every doc into ~|grams| rows, probed the hash
    # relation once per gram row, and paid a docs-sized exchange to
    # reassemble what was per-row information all along. Casts keep the
    # former count()/sum() BIGINT schema. The wrapping explode of the
    # 1-element array drops size<n docs exactly like the old pre-explode
    # filter (empty CASE arm), without a pushed-down size() filter.
    bp_row = blacklist.agg(F.collect_list("gram").alias("bp"))
    per_doc = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {n} THEN array({core})"
                f" ELSE array() END"
            )
        ).alias("gs"),
    )
    # Stage the counts once, then derive ratio/keep from the COLUMNS (the
    # r10 quality_score lesson: a flat projection re-evaluates a
    # multiply-referenced subexpression; CollapseProject keeps non-cheap
    # multiply-referenced aliases split and codegen fuses both projections
    # into one pass anyway).
    counts = per_doc.crossJoin(F.broadcast(bp_row)).select(
        "doc_id",
        F.size("gs").cast("bigint").alias("n_grams"),
        F.size(F.array_intersect("gs", "bp")).cast("bigint").alias(
            "n_boilerplate"
        ),
    )
    ratio = F.col("n_boilerplate") / F.col("n_grams")
    return counts.select(
        "doc_id",
        "n_grams",
        "n_boilerplate",
        F.round(ratio, 6).alias("boilerplate_ratio"),
        (ratio <= 0.5).alias("keep"),
    )


BOILERPLATE_NGRAM_FILTER_SQL = f"""
WITH grams AS (
  SELECT doc_id, g AS gram
  FROM (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(t) - {_BP_N - 1}),
               i -> array_to_string(t[i:i + {_BP_N - 1}], ' '))) AS gs
    FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    WHERE len(t) >= {_BP_N}
  ), unnest(gs) AS u(g)
),
blacklist AS (
  SELECT gram FROM grams GROUP BY gram
  HAVING count(*) > {_BP_DOC_FRAC} * (SELECT count(*) FROM documents)
)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 6) AS boilerplate_ratio,
       CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             / count(*) <= 0.5 AS keep
FROM grams g LEFT JOIN blacklist b USING (gram)
GROUP BY g.doc_id
"""

# ---------------------------------------------------------------------------
# ngram_lm_counts — corpus bigram statistics for n-gram LM estimation:
# raw count c(w1,w2) plus the Kneser-Ney continuation count N1+(*, w2) =
# |{w1 : c(w1,w2) > 0}| — "how many distinct left contexts does w2 appear
# in". One explode + one groupBy(w1,w2) count (map-side partial agg), then
# the continuation table derives FROM the bigram aggregate (already tiny —
# vocabulary-sized, not corpus-sized) and broadcasts back. The corpus-sized
# data shuffles exactly once.
# ---------------------------------------------------------------------------

_LM_MIN_COUNT = 5


def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # CASE guard instead of a filter: Filter(size(toks) >= 2) pushed below
    # the tokenizer projection re-evaluates the regex split per row (alias
    # substitution), and explode of the empty ELSE array drops short docs
    # exactly like the filter did. The eager checkpoint pins ONE tokenize
    # pass: the bigram count table feeds two consumers (the continuation
    # rollup's broadcast side and the main join) whose lineages are not
    # deduped across the broadcast boundary — without it the corpus
    # tokenized once per consumer. Same model-sized count table either
    # way (the perplexity_filter c12 pattern).
    bigrams = pin(
        docs.select(F.expr(_TOKS_SPARK).alias("toks"))
        .select(
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 2 THEN"
                    "  transform(sequence(1, size(toks) - 1),"
                    "   i -> struct(element_at(toks, i) AS w1,"
                    "               element_at(toks, i + 1) AS w2))"
                    " ELSE array() END"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    continuation = bigrams.groupBy("w2").agg(
        F.count("*").alias("w2_continuations")
    )
    return (
        bigrams.filter(F.col("cnt") >= _LM_MIN_COUNT)
        .join(F.broadcast(continuation), "w2")
        .select("w1", "w2", "cnt", "w2_continuations")
    )


NGRAM_LM_COUNTS_SQL = f"""
WITH bigrams AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS cnt
  FROM (SELECT {_TOKS_SQL} AS t FROM documents),
       unnest(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
  GROUP BY 1, 2
),
continuation AS (
  SELECT w2, count(*) AS w2_continuations FROM bigrams GROUP BY w2
)
SELECT b.w1, b.w2, b.cnt, c.w2_continuations
FROM bigrams b JOIN continuation c USING (w2)
WHERE b.cnt >= {_LM_MIN_COUNT}
"""

# ---------------------------------------------------------------------------
# quality_band_filter — quantile-band outlier trimming: drop the shortest 5%
# and longest 5% of documents (truncated/concatenated crawl artifacts).
# The band edges are ACTUAL data values (no interpolation — integer-exact
# on both engines, no float-comparison risk). The two scalars come from one
# tiny aggregate and broadcast into the scan filter.
# ---------------------------------------------------------------------------


def quality_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 5%/95% boundaries are the values at EXPLICIT integer ranks
    # ceil(0.05*n)/ceil(0.95*n) (1-based row_number over the sorted key) —
    # not percentile_disc/quantile_disc, whose tie/index conventions are
    # engine-version-sensitive at exact-integer ranks (round-1 driver hash
    # mismatch). The rank window only ever sees the single n_chars column.
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select("n_chars").select(
        "n_chars",
        F.row_number().over(Window.orderBy("n_chars")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    band = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("(5 * n + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(95 * n + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias("hi"),
    )
    return (
        docs.join(F.broadcast(band))
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars", "lo", "hi")
    )


QUALITY_BAND_FILTER_SQL = """
WITH ranked AS (
  SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
         count(*) OVER () AS n
  FROM documents
),
band AS (
  SELECT max(CASE WHEN rn = (5 * n + 99) // 100 THEN n_chars END) AS lo,
         max(CASE WHEN rn = (95 * n + 99) // 100 THEN n_chars END) AS hi
  FROM ranked
)
SELECT doc_id, n_chars, lo, hi
FROM documents, band
WHERE n_chars BETWEEN lo AND hi
"""


# ---------------------------------------------------------------------------
# perplexity_filter — CCNet-style LM quality scoring: each document's
# average negative log-probability under the corpus bigram model (the
# ngram_lm_counts table, consumed): score = -mean ln P(w2|w1) with add-k
# smoothing P = (c12 + k) / (c1 + k·V). Low score ⇒ fluent/common text,
# high ⇒ unusual — the standard "train a small LM, filter by perplexity"
# pipeline with the corpus itself as the LM. The LM tables are
# vocabulary(²)-sized — broadcast; the corpus shuffles once to build them
# and once for the per-doc aggregate. All probability inputs are exact
# integers, so the ln/divide doubles are bit-identical across engines.
# ---------------------------------------------------------------------------

_PPL_K = 0.5


def perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks")).filter(
        F.size("toks") >= 2
    )
    doc_bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS w1,"
                "             element_at(toks, i + 1) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    # Eager localCheckpoint: c12 feeds THREE consumers (the broadcast join
    # side, the c1 rollup, the vocab count) and Spark 4's planner does not
    # reuse the aggregation exchange across them (ReusedExchange: 0,
    # measured — per-consumer column pruning de-canonicalizes the
    # exchanges), so without the checkpoint the corpus explode+partial-agg
    # ran once per consumer; a LAZY checkpoint still races, because AQE
    # submits the three consumer stages concurrently and each recomputes
    # unmaterialized partitions. Eager pins exactly ONE corpus pass for
    # the LM table. State is LM-model-sized (distinct bigrams), the same
    # bound that already makes it broadcastable.
    c12 = pin(
        doc_bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    # c1 and the vocabulary size both derive EXACTLY from the c12 table —
    # c1(w1) = Σ_w2 c12(w1,w2), vocab = |{w1} ∪ {w2} of c12's keys| — so
    # they aggregate the vocabulary²-bounded bigram-count table instead of
    # the full corpus bigram stream (optimization round 10, guide §1.2
    # step 1 / §2.3 "aggregate before you shuffle"): the previous shape
    # re-aggregated the corpus stream for c1 (a second full-corpus
    # shuffle) and ran a THIRD full tokenize+explode pass at plan-build
    # time just to collect vocab as a Python literal. vocab now rides the
    # plan as a broadcast scalar, making the query fully lazy; the
    # smoothing term 0.5·V is a power-of-two multiple of an exact
    # integer either way, so every probability input is bit-identical.
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_df = (
        c12.select(F.col("w1").alias("w"))
        .union(c12.select(F.col("w2").alias("w")))
        .distinct()
        .agg(F.count("*").alias("__vocab"))
    )
    neg_logp = -F.log(
        (F.col("c12") + F.lit(_PPL_K))
        / (F.col("c1") + F.lit(_PPL_K) * F.col("__vocab"))
    )
    # Decimal-sum discipline: each ln term is an identical double on both
    # engines, but a float SUM is summation-order-dependent. Casting each
    # term to decimal(28,12) first makes the accumulation exact and
    # order-independent — same pattern as the decimal money sums.
    term = neg_logp.cast("decimal(28,12)")
    return (
        doc_bigrams.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(vocab_df))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                (F.sum(term) / F.count("*")).cast("double"), 6
            ).alias("avg_neg_logp"),
        )
    )


PERPLEXITY_FILTER_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
bigrams AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bigrams GROUP BY 1),
v AS (
  SELECT count(DISTINCT w) AS vocab
  FROM (SELECT w1 AS w FROM bigrams UNION SELECT w2 FROM bigrams)
)
SELECT b.doc_id, count(*) AS n_bigrams,
       round(CAST(sum(CAST(-ln((c12.c12 + {_PPL_K}) / (c1.c1 + {_PPL_K} * v.vocab))
                          AS DECIMAL(28,12))) / count(*) AS DOUBLE), 6)
         AS avg_neg_logp
FROM bigrams b
JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
JOIN c1 ON b.w1 = c1.w1
CROSS JOIN v
GROUP BY b.doc_id
"""



# ---------------------------------------------------------------------------
# dup_span_detect — substring-level exact duplication profile (the
# "Deduplicating Training Data Makes Language Models Better" ExactSubstr
# signal, Lee et al. 2022, approximated at window granularity): every
# W=8-token sliding window is fingerprinted (md5 of the joined slice); a
# window duplicated in ANOTHER document marks its span. Output per doc:
# window count, duplicated-window count, duplication ppm (integer — no
# float ratio to diverge), and the first duplicated position (the span
# trim point a cleaner would cut at).
#
# 100 TB posture: the window stream is W× the token stream but never
# carries text — only (16-B digest, doc_id, pos) rows enter the one
# fingerprint shuffle (at real scale the digest drops to xxhash64's 8 B
# and the stream pre-aggregates map-side by digest). This is the
# suffix-array-free formulation: O(total windows) with uniform hash
# shuffle keys instead of a global sort.
# ---------------------------------------------------------------------------

_SPAN_W = 8


def dup_span_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", F.expr(_TOKS_SPARK).alias("toks")
    ).withColumn(
        "n_windows",
        F.greatest(F.size("toks") - F.lit(_SPAN_W - 1), F.lit(0)).cast("bigint"),
    )
    # sequence(1, 0) would DESCEND in Spark — windowless docs are excluded
    # here and rejoined via the left join below, so the explode never sees
    # an inverted range.
    fps = base.filter(F.col("n_windows") >= 1).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, n_windows),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {_SPAN_W}))))"
            )
        ).alias("pos0", "fp"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "fp")
    dup = (
        fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp")
    )
    per_doc = (
        fps.join(dup, "fp", "left_semi")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.min("pos").cast("bigint").alias("first_dup_pos"),
        )
    )
    return (
        base.select("doc_id", "n_windows")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.expr(
                "CAST(coalesce(n_dup_windows, 0) * 1000000"
                " div greatest(n_windows, 1) AS BIGINT)"
            ).alias("dup_ppm"),
            # 0 = "no duplicated window" (real positions are >= 1): a nullable
            # BIGINT would degrade to float64 through the oracle's pandas
            # materialization and hash-mismatch the Spark integer.
            F.coalesce(F.col("first_dup_pos"), F.lit(0)).cast("bigint").alias(
                "first_dup_pos"
            ),
        )
    )


DUP_SPAN_DETECT_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
base AS (SELECT doc_id, greatest(len(t) - {_SPAN_W - 1}, 0) AS n_windows, t
         FROM toks),
wins AS (
  SELECT doc_id, s.pos, t
  FROM base, unnest(generate_series(1, n_windows)) AS s(pos)
  WHERE n_windows >= 1
),
fps AS (
  SELECT doc_id, pos,
         md5(array_to_string(t[pos:pos+{_SPAN_W - 1}], ' ')) AS fp
  FROM wins
),
dup AS (SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) > 1),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(min(pos) AS BIGINT) AS first_dup_pos
  FROM fps JOIN dup USING (fp) GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.n_windows AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(p.n_dup_windows, 0) * 1000000
            // greatest(CAST(b.n_windows AS BIGINT), 1) AS BIGINT) AS dup_ppm,
       CAST(coalesce(p.first_dup_pos, 0) AS BIGINT) AS first_dup_pos
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""



# ---------------------------------------------------------------------------
# line_dedup_reconstruct — C4-style line-level dedup with reassembly: the
# corpus is segmented into disjoint 10-token "lines" (the testdata carries
# no newlines/sentence marks, so segmentation is positional; swap the
# segmenter for split('\n') on real text — everything downstream is
# unchanged); every line keeps only its FIRST corpus occurrence (global
# first-wins by (doc_id, seg_idx) — C4 keeps one of each three-sentence
# span), and each document is rebuilt from its surviving lines in order.
# Output: per doc, segment/removed counts and the md5 of the rebuilt text
# (the driver compare would otherwise ship full documents).
#
# 100 TB posture: two shuffles, both on uniform keys — first-wins is a
# row_number window PARTITIONED BY the segment content (hash-uniform; at
# real scale key on xxhash64(seg) and carry the text alongside), and
# reassembly is one per-doc aggregate with an array_sort on the bounded
# per-doc segment list (no ordered global window anywhere).
# ---------------------------------------------------------------------------

_LINE_TOKS = 10


def line_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Empty docs drop via the posexplode of the empty CASE arm, not a
    # filter: Filter(size(toks) > 0) pushed below the tokenizer projection
    # re-evaluated the regex split per row (2 evaluations → 1); the guard
    # also keeps sequence() off the size=0 case, where (size−1) div N = −1
    # would make the bidirectional sequence(0, −1) emit bogus segments.
    segs = (
        docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(toks) > 0 THEN"
                    f" transform(sequence(0, (size(toks) - 1) div {_LINE_TOKS}),"
                    f" i -> concat_ws(' ', slice(toks, i * {_LINE_TOKS} + 1,"
                    f" {_LINE_TOKS})))"
                    f" ELSE array() END"
                )
            ).alias("seg_idx", "seg"),
        )
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    flagged = segs.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            (F.count("*") - F.sum("keep")).cast("bigint").alias("n_removed"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("keep") == 1,
                                    F.struct("seg_idx", "seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                )
            ).alias("kept_md5"),
        )
        .select("doc_id", "n_segs", "n_removed", "kept_md5")
    )


LINE_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE len({_TOKS_SQL}) > 0
),
segs AS (
  SELECT doc_id, s.seg_idx, t
  FROM toks,
       unnest(generate_series(0, (len(t) - 1) // {_LINE_TOKS})) AS s(seg_idx)
),
seg_txt AS (
  SELECT doc_id, seg_idx,
         array_to_string(
             t[seg_idx * {_LINE_TOKS} + 1 : seg_idx * {_LINE_TOKS} + {_LINE_TOKS}],
             ' ') AS seg
  FROM segs
),
flagged AS (
  SELECT doc_id, seg_idx, seg,
         CASE WHEN row_number() OVER (
             PARTITION BY seg ORDER BY doc_id, seg_idx) = 1
              THEN 1 ELSE 0 END AS keep
  FROM seg_txt
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
       CAST(count(*) - sum(keep) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(CASE WHEN keep = 1 THEN seg END, ' '
                      ORDER BY seg_idx), '')) AS kept_md5
FROM flagged
GROUP BY doc_id
"""



# ---------------------------------------------------------------------------
# gopher_rules_filter — the Gopher quality-rule bundle (Rae et al. 2021,
# §A1.1) as one verdict row per document: word-count bounds, mean-word-
# length bounds, alphabetic-token ratio, stopword presence, distinct-token
# ratio — each rule an explicit 0/1 flag plus the overall pass. The repo's
# doc_quality emits the continuous features; this is the thresholded
# rule-set form a curation pipeline actually branches on. ALL arithmetic
# is integer (ratios as ppm = x*1e6 div n) — nothing to diverge across
# engines. Map-only: array scalars over one scan, no shuffle.
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that"]
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MEANLEN_PPM, _GOPHER_MAX_MEANLEN_PPM = 3_000_000, 10_000_000
_GOPHER_MIN_ALPHA_PPM = 800_000
_GOPHER_MIN_DISTINCT_PPM = 300_000
_GOPHER_MIN_STOPWORDS = 2


def gopher_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    stop_lits = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    base = docs.select(
        "doc_id", F.expr(_TOKS_SPARK).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.expr(
            "CAST(aggregate(toks, 0L, (a, w) -> a + length(w)) AS BIGINT)"
        ).alias("sum_chars"),
        F.expr(
            "CAST(size(filter(toks, w -> w rlike '^[a-z]+$')) AS BIGINT)"
        ).alias("n_alpha"),
        F.expr("CAST(size(array_distinct(toks)) AS BIGINT)").alias(
            "n_distinct"
        ),
        F.expr(
            f"CAST(size(filter(toks, w -> array_contains(array({stop_lits}), w)))"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    # Integer `div` (not `/`): double division + cast truncates toward zero
    # and can drop ulps on large numerators; DuckDB's `//` floors exactly.
    feats = base.select(
        "doc_id",
        "n_words",
        F.expr(
            "CAST(sum_chars * 1000000 div greatest(n_words, 1) AS BIGINT)"
        ).alias("mean_len_ppm"),
        F.expr(
            "CAST(n_alpha * 1000000 div greatest(n_words, 1) AS BIGINT)"
        ).alias("alpha_ppm"),
        F.expr(
            "CAST(n_distinct * 1000000 div greatest(n_words, 1) AS BIGINT)"
        ).alias("distinct_ppm"),
        "n_stop",
    )
    r1 = (
        (F.col("n_words") >= _GOPHER_MIN_WORDS)
        & (F.col("n_words") <= _GOPHER_MAX_WORDS)
    ).cast("int")
    r2 = (
        (F.col("mean_len_ppm") >= _GOPHER_MIN_MEANLEN_PPM)
        & (F.col("mean_len_ppm") <= _GOPHER_MAX_MEANLEN_PPM)
    ).cast("int")
    r3 = (F.col("alpha_ppm") >= _GOPHER_MIN_ALPHA_PPM).cast("int")
    r4 = (F.col("n_stop") >= _GOPHER_MIN_STOPWORDS).cast("int")
    r5 = (F.col("distinct_ppm") >= _GOPHER_MIN_DISTINCT_PPM).cast("int")
    return feats.select(
        "doc_id",
        "n_words",
        "mean_len_ppm",
        "alpha_ppm",
        "distinct_ppm",
        "n_stop",
        r1.alias("r_wordcount"),
        r2.alias("r_meanlen"),
        r3.alias("r_alpha"),
        r4.alias("r_stopwords"),
        r5.alias("r_distinct"),
        (r1 * r2 * r3 * r4 * r5).alias("pass_all"),
    )


_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)

GOPHER_RULES_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(t, w -> len(w))), 0) AS BIGINT)
             AS sum_chars,
         CAST(len(list_filter(t, w -> regexp_matches(w, '^[a-z]+$')))
             AS BIGINT) AS n_alpha,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(t, w -> list_contains([{_GOPHER_STOP_SQL}], w)))
             AS BIGINT) AS n_stop
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
),
ppm AS (
  SELECT doc_id, n_words,
         CAST(sum_chars * 1000000 // greatest(n_words, 1) AS BIGINT)
             AS mean_len_ppm,
         CAST(n_alpha * 1000000 // greatest(n_words, 1) AS BIGINT)
             AS alpha_ppm,
         CAST(n_distinct * 1000000 // greatest(n_words, 1) AS BIGINT)
             AS distinct_ppm,
         n_stop
  FROM feats
)
SELECT doc_id, n_words, mean_len_ppm, alpha_ppm, distinct_ppm, n_stop,
       CAST(CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                 THEN 1 ELSE 0 END AS INT) AS r_wordcount,
       CAST(CASE WHEN mean_len_ppm BETWEEN {_GOPHER_MIN_MEANLEN_PPM}
                                       AND {_GOPHER_MAX_MEANLEN_PPM}
                 THEN 1 ELSE 0 END AS INT) AS r_meanlen,
       CAST(CASE WHEN alpha_ppm >= {_GOPHER_MIN_ALPHA_PPM}
                 THEN 1 ELSE 0 END AS INT) AS r_alpha,
       CAST(CASE WHEN n_stop >= {_GOPHER_MIN_STOPWORDS}
                 THEN 1 ELSE 0 END AS INT) AS r_stopwords,
       CAST(CASE WHEN distinct_ppm >= {_GOPHER_MIN_DISTINCT_PPM}
                 THEN 1 ELSE 0 END AS INT) AS r_distinct,
       CAST((CASE WHEN n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END)
          * (CASE WHEN mean_len_ppm BETWEEN {_GOPHER_MIN_MEANLEN_PPM} AND {_GOPHER_MAX_MEANLEN_PPM} THEN 1 ELSE 0 END)
          * (CASE WHEN alpha_ppm >= {_GOPHER_MIN_ALPHA_PPM} THEN 1 ELSE 0 END)
          * (CASE WHEN n_stop >= {_GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END)
          * (CASE WHEN distinct_ppm >= {_GOPHER_MIN_DISTINCT_PPM} THEN 1 ELSE 0 END)
         AS INT) AS pass_all
FROM ppm
"""


# ---------------------------------------------------------------------------
# corpus_drift_topk — distribution-shift monitor between two ingest batches
# (even ids = the reference corpus, odd ids = the incoming batch): per-word
# frequency shares in ppm and their absolute difference, top-20 drifting
# words. This is the nightly check a training-data pipeline runs before
# mixing a new crawl into the pool — a sudden top-drift word flags a
# boilerplate flood, a language shift, or a scraper regression. All
# arithmetic is int64-exact (share_ppm = cnt*1e6 div total, drift =
# |share_a − share_b|): no doubles, so the oracle matches bit-for-bit and
# the metric is stable under any partitioning. Scale posture: one
# word-count aggregate (partial+final hash agg), a broadcast 1-row totals
# frame, and a TakeOrderedAndProject top-20 — no corpus-sized shuffle
# beyond the count itself; at 100 TB the vocabulary-sized intermediate is
# the same one word_frequency/bpe_corpus learning already rely on.
# ---------------------------------------------------------------------------

_DRIFT_TOPK = 20


def corpus_drift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        (F.col("doc_id") % 2).alias("b"),
        F.explode(F.expr(_TOKS_SPARK)).alias("word"),
    )
    # Persisted: `counts` feeds BOTH the totals aggregate and the scored
    # join — without the persist the corpus tokenize+count pass runs
    # twice (one extra full scan at 100 TB for a vocabulary-sized
    # intermediate). The cache is vocab-sized, the same budget the BPE
    # corpus learner and word_frequency already spend.
    counts = toks.groupBy("word").agg(
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("b") == 1, 1).otherwise(0)).alias("cnt_b"),
    ).persist()
    totals = counts.agg(
        F.greatest(F.sum("cnt_a"), F.lit(1)).alias("ta"),
        F.greatest(F.sum("cnt_b"), F.lit(1)).alias("tb"),
    )
    scored = counts.join(F.broadcast(totals)).select(
        "word",
        "cnt_a",
        "cnt_b",
        F.expr("cnt_a * 1000000 div ta").alias("share_a_ppm"),
        F.expr("cnt_b * 1000000 div tb").alias("share_b_ppm"),
    )
    out = (
        scored.withColumn(
            "drift_ppm",
            F.abs(F.col("share_a_ppm") - F.col("share_b_ppm")),
        )
        .orderBy(F.desc("drift_ppm"), F.asc("word"))
        .limit(_DRIFT_TOPK)
    )
    return collect_and_release(out, counts)


CORPUS_DRIFT_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id % 2 AS b, unnest({_TOKS_SQL}) AS word FROM documents
),
counts AS (
  SELECT word,
         count(*) FILTER (b = 0) AS cnt_a,
         count(*) FILTER (b = 1) AS cnt_b
  FROM toks GROUP BY word
),
tot AS (
  SELECT greatest(sum(cnt_a), 1) AS ta, greatest(sum(cnt_b), 1) AS tb
  FROM counts
),
scored AS (
  SELECT word, cnt_a, cnt_b,
         CAST(cnt_a * 1000000 // ta AS BIGINT) AS share_a_ppm,
         CAST(cnt_b * 1000000 // tb AS BIGINT) AS share_b_ppm,
         CAST(abs(cnt_a * 1000000 // ta - cnt_b * 1000000 // tb) AS BIGINT)
           AS drift_ppm
  FROM counts, tot
)
SELECT word, cnt_a, cnt_b, share_a_ppm, share_b_ppm, drift_ppm
FROM scored
ORDER BY drift_ppm DESC, word ASC
LIMIT {_DRIFT_TOPK}
"""


QUERIES: dict = {
    "corpus_drift_topk": (corpus_drift_topk, CORPUS_DRIFT_TOPK_SQL),
    "perplexity_filter": (perplexity_filter, PERPLEXITY_FILTER_SQL),
    "doc_chunking": (doc_chunking, DOC_CHUNKING_SQL),
    "boilerplate_ngram_filter": (
        boilerplate_ngram_filter,
        BOILERPLATE_NGRAM_FILTER_SQL,
    ),
    "ngram_lm_counts": (ngram_lm_counts, NGRAM_LM_COUNTS_SQL),
    "quality_band_filter": (quality_band_filter, QUALITY_BAND_FILTER_SQL),
    "dup_span_detect": (dup_span_detect, DUP_SPAN_DETECT_SQL),
    "line_dedup_reconstruct": (line_dedup_reconstruct, LINE_DEDUP_SQL),
    "gopher_rules_filter": (gopher_rules_filter, GOPHER_RULES_SQL),
}
