"""Additional registry plans: dictionary OOV profiling, grouping-set/cube
rollups, batch session windows, deterministic distribution stats, exact
percentiles, month-over-month windows, and streaming dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import load_table, pin
from crz_scraper_spark.functions.text import WORD_SEPARATOR_RE, tokens_nonempty
from crz_scraper_spark.operators.dedup import first_wins_dedup
from crz_scraper_spark.operators.sketches import _QH_SCALE
from crz_scraper_spark.operators.skew import salted_join

from crz_scraper_spark.operators.tagging import DEFAULT_TAXONOMY, _safe
from crz_scraper_spark.functions.text import substring_count
from crz_scraper_spark.streaming.windows import streaming_dedup

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '"
    + WORD_SEPARATOR_RE
    + "'), w -> w <> '')"
)

# ---------------------------------------------------------------------------
# dictionary_oov — stage-9 gibberish detection (A9+J7): dictionary = corpus
# words with count > 5 (the stage-5a special dictionary), OOV ratio per doc,
# gibberish flag at the reference's 0.75 threshold (09_clean_tables.py:211).
# ---------------------------------------------------------------------------


def dictionary_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.profiling import oov_profile_counts

    docs = load_table(spark, sf_dir, "documents")
    # One tokenize pass: the dictionary (corpus words with count > 5) and
    # the per-doc profile both roll off the checkpointed (doc, word, n)
    # count table. Deriving the dictionary from a second explode ran the
    # tokenizer over the full corpus text twice (the broadcast-side
    # lineage is not deduped by AQE); the count table is the far smaller
    # shuffle. Σ n over docs = the word's corpus count, so the > 5 cut is
    # arithmetic-identical. pin() = guarded eager checkpoint (catalog.py).
    dw = pin(
        docs.select(
            "doc_id", F.explode(tokens_nonempty("text")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    dictionary = (
        dw.groupBy("word")
        .agg(F.sum("n").alias("cnt"))
        .filter(F.col("cnt") > 5)
        .select("word")
    )
    return oov_profile_counts(dw, dictionary)


DICTIONARY_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
),
dict AS (
  SELECT word FROM toks GROUP BY word HAVING count(*) > 5
),
prof AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         count(*) FILTER (WHERE d.word IS NULL) AS n_oov
  FROM toks t LEFT JOIN dict d ON t.word = d.word
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov * 1.0 / n_tokens, 6) AS oov_ratio,
       CAST(round(n_oov * 1.0 / n_tokens, 6) > 0.75 AS INT) AS is_gibberish
FROM prof
"""

# ---------------------------------------------------------------------------
# dictionary_oov_morph — the SURVEY §7 Hard-3 upgrade of dictionary_oov:
# membership accepts suffix-stripped stems (Hunspell-affix approximation,
# operators/profiling.py::morph_oov_profile_counts). The suffix arms in BOTH
# the Spark plan and the oracle SQL are generated from the same
# MORPH_SUFFIXES constant — the two sides cannot drift.
# ---------------------------------------------------------------------------


# The synthetic corpus is a CLOSED vocabulary (31 words, no inflections, no
# OOV) — so, as pii_redact does for PII, both engines append the same
# deterministic probe tokens to every document: four inflected forms whose
# stems ARE in the dictionary (morphology must accept them) and one
# gibberish token (must stay OOV on both paths). Plain membership counts 5
# OOV per doc, the morph path exactly 1 — the suffix tier's behavior is
# exercised and oracle-checked, not just plumbed.
_MORPH_PROBE = " tables rows joins sorting zzzqx"


def dictionary_oov_morph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.profiling import morph_oov_profile_counts

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text", F.concat(F.col("text"), F.lit(_MORPH_PROBE))
    )
    # One tokenize pass over the augmented text: dictionary, vocabulary,
    # and per-doc profile all roll off the checkpointed (doc, word, n)
    # table (was THREE tokenize passes: original-text dictionary, vocab
    # distinct, token-stream profile). The dictionary must count the
    # ORIGINAL text only — the probe tokens must not bootstrap themselves
    # into the vocabulary — and that is exact arithmetic on the aug
    # counts: concat appends each probe word exactly once per doc with
    # non-null text, and a doc has aug tokens iff its text is non-null
    # (the probe guarantees ≥5), so
    #   orig_count(w) = aug_count(w) − n_docs_in_dw  for probe words,
    #   orig_count(w) = aug_count(w)                 otherwise.
    dw = pin(
        aug.select(
            "doc_id", F.explode(tokens_nonempty("text")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n"))
    )
    n_docs = dw.select(F.count_distinct("doc_id")).first()[0]
    probe_words = _MORPH_PROBE.split()
    # The aug_count − n_docs correction is exact ONLY while every probe
    # word occurs exactly once in the probe string; a repeated probe word
    # would under-subtract and silently corrupt the dictionary (ADVICE
    # r10). Guard the invariant where the arithmetic depends on it.
    assert len(probe_words) == len(set(probe_words)), _MORPH_PROBE
    dictionary = (
        dw.groupBy("word")
        .agg(F.sum("n").alias("tot"))
        .withColumn(
            "orig",
            F.when(
                F.col("word").isin(probe_words),
                F.col("tot") - F.lit(n_docs),
            ).otherwise(F.col("tot")),
        )
        .filter(F.col("orig") > 5)
        .select("word")
    )
    return morph_oov_profile_counts(dw, dictionary)


def _dictionary_oov_morph_sql() -> str:
    from crz_scraper_spark.operators.profiling import (
        MORPH_MIN_STEM,
        MORPH_SUFFIXES,
    )

    arms = ", ".join(
        f"CASE WHEN word LIKE '%{suf}' AND length(word) - {len(suf)} >= "
        f"{MORPH_MIN_STEM} THEN substr(word, 1, length(word) - {len(suf)}) END"
        for suf in MORPH_SUFFIXES
    )
    return f"""
WITH dict AS (
  SELECT word FROM (
    SELECT unnest({_TOKS_SQL}) AS word FROM documents
  ) GROUP BY word HAVING count(*) > 5
),
aug AS (
  SELECT doc_id, text || '{_MORPH_PROBE}' AS text FROM documents
),
toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM aug
),
vocab AS (SELECT DISTINCT word FROM toks),
cand AS (
  SELECT word, s AS stem
  FROM (
    SELECT word,
           list_filter([word, {arms}], x -> x IS NOT NULL) AS stems
    FROM vocab
  ), unnest(stems) AS u(s)
),
accepted AS (
  SELECT DISTINCT c.word FROM cand c JOIN dict d ON c.stem = d.word
),
prof AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         count(*) FILTER (WHERE a.word IS NULL) AS n_oov
  FROM toks t LEFT JOIN accepted a ON t.word = a.word
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_oov,
       round(n_oov * 1.0 / n_tokens, 6) AS oov_ratio,
       CAST(round(n_oov * 1.0 / n_tokens, 6) > 0.75 AS INT) AS is_gibberish
FROM prof
"""


# ---------------------------------------------------------------------------
# keyword_rollup — A2/A3 as a real multi-level rollup: per-(doc, category)
# keyword hits, per-doc totals, grand total in ONE pass
# (`04_tag_text_contracts.py:115-119,170-176` did three nested dict loops).
# ---------------------------------------------------------------------------


def keyword_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.array(
        *[
            F.struct(
                F.lit(cat).alias("category"),
                substring_count("text", kw).alias("hits"),
            )
            for cat, kws in DEFAULT_TAXONOMY.items()
            for kw in kws
        ]
    )
    long = docs.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select("doc_id", "p.category", "p.hits")
    # coalesce the rolled-up grouping key to a -1 sentinel: a NULL in an
    # integer oracle column degrades the whole pandas column to float64 on
    # the driver's materialization path and the hash diverges from Spark's
    # int (CORRECTNESS_r01 calibration).
    return (
        long.rollup("doc_id", "category")
        .agg(F.sum("hits").alias("hits"))
        .select(
            F.coalesce(F.col("doc_id"), F.lit(-1)).alias("doc_id"),
            "category",
            "hits",
        )
    )


KEYWORD_ROLLUP_SQL_TEMPLATE = """
WITH long AS (
{selects}
)
SELECT coalesce(doc_id, -1) AS doc_id, category,
       CAST(sum(hits) AS BIGINT) AS hits
FROM long
GROUP BY ROLLUP (doc_id, category)
"""


def _keyword_rollup_sql() -> str:
    selects = []
    for cat, kws in DEFAULT_TAXONOMY.items():
        for kw in kws:
            k = kw.lower()
            selects.append(
                f"  SELECT doc_id, '{cat}' AS category,\n"
                f"         CAST((length(lower(text)) - length(replace(lower(text), '{k}', '')))"
                f" / {len(k)} AS BIGINT) AS hits FROM documents"
            )
    return KEYWORD_ROLLUP_SQL_TEMPLATE.format(selects="\nUNION ALL\n".join(selects))


# ---------------------------------------------------------------------------
# cube_status_priority — full cube over the two order enums (beyond the
# reference's two-level rollup; built-in per SURVEY §2.4 note).
# ---------------------------------------------------------------------------


def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )


CUBE_STATUS_PRIORITY_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# ---------------------------------------------------------------------------
# session_window_agg — the built-in session_window operator in batch mode
# (same gap semantics as the lag/cumsum form at non-boundary gaps; the
# streaming twin is streaming/windows.py).
# ---------------------------------------------------------------------------


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


SESSION_WINDOW_AGG_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------------------
# value_stats — deterministic distribution stats: stddev derived from
# decimal-exact sum/sumsq so the result is partitioning-independent (plain
# stddev over doubles is summation-order-dependent).
# ---------------------------------------------------------------------------


def value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    s = F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
    s2 = F.sum(
        (F.col("value").cast("decimal(18,4)") * F.col("value").cast("decimal(18,4)"))
    ).cast("double")
    n = F.count("*")
    return events.groupBy("event_type").agg(
        n.alias("n"),
        F.round(s / n, 6).alias("mean_value"),
        F.round(
            F.sqrt((s2 - s * s / n) / (n - 1)), 6
        ).alias("stddev_value"),
    )


VALUE_STATS_SQL = """
WITH agg AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
)
SELECT event_type, n,
       round(s / n, 6) AS mean_value,
       round(sqrt((s2 - s * s / n) / (n - 1)), 6) AS stddev_value
FROM agg
"""

# ---------------------------------------------------------------------------
# value_outliers — per-user z-score anomaly flagging: each user's mean/std
# from decimal-exact window moments (same discipline as value_stats — plain
# stddev over doubles is summation-order-dependent and would not oracle-
# match), z computed row-local, |z| > 2.5 kept. One window shuffle on
# user_id; at 100 TB this is the standard per-entity anomaly scan shape.
# ---------------------------------------------------------------------------


def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    dec = F.col("value").cast("decimal(18,4)")
    s = F.sum(dec).over(w).cast("double")
    s2 = F.sum(dec * dec).over(w).cast("double")
    n = F.count("*").over(w)
    mean = s / n
    std = F.sqrt((s2 - s * s / n) / (n - 1))
    z = F.round((F.col("value") - mean) / std, 4)
    return (
        events.withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.5)
        .select("user_id", "event_id", "value", "z")
    )


VALUE_OUTLIERS_SQL = """
WITH scored AS (
  SELECT user_id, event_id, value,
         CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s,
         CAST(sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
              OVER w AS DOUBLE) AS s2,
         count(*) OVER w AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id)
)
SELECT user_id, event_id, value,
       round((value - s / n) / sqrt((s2 - s * s / n) / (n - 1)), 4) AS z
FROM scored
WHERE abs(round((value - s / n) / sqrt((s2 - s * s / n) / (n - 1)), 4)) > 2.5
"""

# ---------------------------------------------------------------------------
# table_profile — one-pass whole-table column profile (the A9 "count
# non-empty / distinct per column" loop of `09_clean_tables.py:180-215`
# generalized): stack pivots columns into (column, value-as-string) long
# form map-side, then one hash agg yields null and distinct counts per
# column. The column list drives BOTH engines from one Python constant.
# Counts only — no stringified min/max, whose double/timestamp formatting
# is engine-specific and would break the hash match.
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    stack_args = ", ".join(
        f"'{c}', cast({c} as string)" for c in _PROFILE_COLS
    )
    long = orders.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) as (col_name, value)"
        )
    )
    return long.groupBy("col_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.countDistinct("value").alias("n_distinct"),
    )


TABLE_PROFILE_SQL = (
    "SELECT col_name, count(*) AS n_rows,\n"
    "       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_nulls,\n"
    "       count(DISTINCT value) AS n_distinct\n"
    "FROM (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, CAST({c} AS VARCHAR) AS value FROM orders"
        for c in _PROFILE_COLS
    )
    + "\n)\nGROUP BY col_name"
)

# ---------------------------------------------------------------------------
# orders_snapshot_diff — snapshot diff as a query: "yesterday's dump" =
# orders before 2001-01-01, "today's" = all orders with urgent totals
# re-priced (both derived deterministically from the one orders table), and
# the operator reports inserted/changed keys (operators/upsert.py::
# snapshot_diff — one full outer join, xxhash64 content compare). The
# oracle detects changes by direct column comparison: agreement also
# validates that the hash compare introduces no false negatives here.
# ---------------------------------------------------------------------------


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.upsert import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    old = orders.filter(
        F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp")
    )
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") == "1-URGENT",
            F.round(F.col("o_totalprice") * 1.1, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"])


ORDERS_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01'
),
new AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders
)
SELECT o_orderkey, change_type FROM (
  SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
              WHEN n.o_orderkey IS NULL THEN 'deleted'
              WHEN (n.o_custkey, n.o_orderstatus, n.o_totalprice,
                    n.o_orderdate, n.o_orderpriority)
                   IS DISTINCT FROM
                   (o.o_custkey, o.o_orderstatus, o.o_totalprice,
                    o.o_orderdate, o.o_orderpriority)
                   THEN 'changed' END AS change_type
  FROM new n FULL OUTER JOIN old o ON n.o_orderkey = o.o_orderkey
)
WHERE change_type IS NOT NULL
"""

# ---------------------------------------------------------------------------
# value_histogram — fixed-width histogram of order totals (50k buckets):
# bucket id is a row-local floor division, so the whole histogram is one
# map-side-combined hash agg — the constant-memory distribution profile
# that replaces collecting values to the driver at 100 TB.
# ---------------------------------------------------------------------------

_HIST_STEP = 50_000.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / _HIST_STEP).cast("int")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * _HIST_STEP).cast("bigint").alias("bucket_lo"),
            "n_orders",
        )
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT bucket, CAST(bucket * {_HIST_STEP} AS BIGINT) AS bucket_lo,
       count(*) AS n_orders
FROM (
  SELECT CAST(floor(o_totalprice / {_HIST_STEP}) AS INT) AS bucket
  FROM orders
)
GROUP BY bucket
"""

# ---------------------------------------------------------------------------
# monthly_revenue_growth — date_trunc + lag analytic over months (F9 date
# machinery + the full window surface).
# ---------------------------------------------------------------------------


def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        F.round(
            F.col("revenue") - F.coalesce(F.lag("revenue").over(w), F.lit(0.0)), 2
        ).alias("mom_delta"),
    )


MONTHLY_REVENUE_GROWTH_SQL = """
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       round(revenue - coalesce(lag(revenue) OVER (ORDER BY month), 0.0), 2) AS mom_delta
FROM monthly
"""

# ---------------------------------------------------------------------------
# brand_part_rollup — dim join (part) against the fact (lineitem) with exact
# distinct counting. part grows with sf → no forced broadcast; AQE decides.
# ---------------------------------------------------------------------------


def brand_part_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count("*").alias("n_items"),
        )
    )


BRAND_PART_ROLLUP_SQL = """
SELECT p.p_brand,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS revenue,
       count(DISTINCT l.l_partkey) AS n_parts,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""

# ---------------------------------------------------------------------------
# events_dedup_first — A7 first-wins dedup on a business key over events.
# ---------------------------------------------------------------------------


def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return first_wins_dedup(
        events,
        keys=["user_id", "event_type"],
        order_by=[F.asc("ts"), F.asc("event_id")],
    ).select("user_id", "event_type", "event_id", "ts")


EVENTS_DEDUP_FIRST_SQL = """
SELECT user_id, event_type, event_id, ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (
             PARTITION BY user_id, event_type
             ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
)
WHERE rn = 1
"""

# ---------------------------------------------------------------------------
# streaming_dedup_events — dropDuplicatesWithinWatermark through the real
# streaming engine; events ids are unique so the oracle is the identity
# projection (validates end-to-end streaming plumbing + row fidelity).
# ---------------------------------------------------------------------------


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_dedup(spark, sf_dir)


STREAMING_DEDUP_EVENTS_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


# ---------------------------------------------------------------------------
# approx_distinct_profile — HLL++ sketch profiling: per event_type, the
# approximate distinct-user count next to the exact one. At 100 TB the
# sketch is the only affordable per-segment cardinality (fixed-size state,
# map-side mergeable); the exact count here is the audit column. Rows-only
# check: Spark's HLL++ and DuckDB's HLL differ by design;
# tests/test_operators.py bounds the relative error instead.
# ---------------------------------------------------------------------------


def approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    prof = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    # Rows-only invariant: the HLL++ estimate must sit within 5 relative
    # standard deviations (rsd=0.02 ⇒ ±10%) of the exact count — a sketch
    # regression drops the violating group rows, moving the driver's
    # recorded count. (HLL++ is deterministic for fixed input, so this is
    # a stable gate, not a flaky probabilistic one.)
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    return prof.filter(err <= 0.10 * F.col("exact_users") + F.lit(1))


# ---------------------------------------------------------------------------
# approx_percentile_profile — quantile sketch beside the exact quantile:
# per event_type, approx_percentile (fixed-size mergeable state — the only
# affordable per-segment quantile at 100 TB) next to the exact interpolated
# percentile as the audit column. Rows-only check (sketch algorithms differ
# across engines by design); tests/test_operators.py bounds the error
# against the exact value instead.
# ---------------------------------------------------------------------------


def approx_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.95)))
    apct = F.percentile_approx(
        F.col("value"), F.array(F.lit(0.5), F.lit(0.95)), 10000
    )
    prof = events.groupBy("event_type").agg(
        F.round(F.element_at(apct, 1), 6).alias("approx_p50"),
        F.round(F.element_at(pct, 1), 6).alias("exact_p50"),
        F.round(F.element_at(apct, 2), 6).alias("approx_p95"),
        F.round(F.element_at(pct, 2), 6).alias("exact_p95"),
    )
    # Rows-only invariant: the sketch quantiles must be ordered and each
    # within 10% (in value space, vs the exact spread) of the exact
    # quantile — a sketch regression drops the violating group rows.
    spread = F.abs(F.col("exact_p95") - F.col("exact_p50")) + F.lit(1e-6)
    return prof.filter(
        (F.col("approx_p50") <= F.col("approx_p95"))
        & (F.abs(F.col("approx_p50") - F.col("exact_p50")) <= 0.10 * spread)
        & (F.abs(F.col("approx_p95") - F.col("exact_p95")) <= 0.10 * spread)
    )


# ---------------------------------------------------------------------------
# hll_distinct_md5 — the engine-portable HyperLogLog twin of
# approx_distinct_profile (operators/sketches.py::hll_sparse_with_exact): per
# (l_returnflag, l_linestatus), the md5-register HLL estimate of distinct
# l_orderkey beside the exact count. Unlike Spark's private HLL++, every
# step is public arithmetic (md5 bucket + leading-zero rho + integer
# register sum + ONE IEEE division), so the DuckDB oracle rebuilds the
# identical registers and the driver hash-checks the ESTIMATE itself —
# the sketch family's first full value-match. err_ppm makes the sketch's
# accuracy a driver-recorded number (expected |err| ~ 1.04/sqrt(256) = 6.5%).
# ---------------------------------------------------------------------------


def hll_distinct_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.sketches import (
        _HLL_M,
        HLL_NUMERATOR,
        hll_sparse_with_exact,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rflag"),
        F.col("l_linestatus").alias("lstatus"),
        "l_orderkey",
    )
    # ONE scan of lineitem, ONE linear plan (r10, guide §1.2): the sparse
    # register build carries a per-(group, bucket) exact-distinct column
    # (buckets partition the value space, so Σ nd per group ≡
    # countDistinct), and estimate + exact + zero_regs all collapse into a
    # single per-group aggregation over that ≤ groups × 256-row table —
    # absent buckets are pure arithmetic (2^53 to the register sum, 1 to
    # zero_regs; present registers always have mx ≥ 1), so no densify
    # explode/join, no second input scan, no est⋈exact join. The previous
    # shape scanned the input twice and joined two aggregation branches.
    groups = ["rflag", "lstatus"]
    sparse = hll_sparse_with_exact(li, "l_orderkey", groups)
    n_absent = F.lit(_HLL_M) - F.count(F.lit(1))
    summed = sparse.groupBy(*groups).agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mx)"))
            + n_absent * F.lit(1 << 53)
        ).alias("s"),
        n_absent.cast("bigint").alias("zero_regs"),
        F.sum("nd").cast("bigint").alias("exact_distinct"),
    )
    est = (
        F.floor(F.lit(HLL_NUMERATOR) / F.col("s").cast("double"))
        .cast("bigint")
        .alias("hll_est")
    )
    err = F.floor(
        (est - F.col("exact_distinct")).cast("double")
        * F.lit(1000000.0)
        / F.col("exact_distinct").cast("double")
    ).cast("bigint")
    return summed.select(
        "rflag",
        "lstatus",
        "exact_distinct",
        est,
        "zero_regs",
        err.alias("err_ppm"),
    ).orderBy("rflag", "lstatus")


def _hll_distinct_sql() -> str:
    from crz_scraper_spark.operators.sketches import HLL_NUMERATOR

    num = repr(HLL_NUMERATOR)
    return f"""
WITH src AS (
  SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
         l_orderkey::VARCHAR AS v
  FROM lineitem
),
hashed AS (
  SELECT rflag, lstatus,
         ('0x' || substr(md5(v), 1, 2))::BIGINT AS bucket,
         substr(md5(v), 3, 13) AS hex13
  FROM src
),
rho AS (
  SELECT rflag, lstatus, bucket,
    CASE WHEN hex13 = '0000000000000' THEN 53
    ELSE 4 * (13 - length(ltrim(hex13, '0')))
       + CASE WHEN substr(ltrim(hex13, '0'), 1, 1) = '1' THEN 3
              WHEN substr(ltrim(hex13, '0'), 1, 1) IN ('2','3') THEN 2
              WHEN substr(ltrim(hex13, '0'), 1, 1) IN ('4','5','6','7') THEN 1
              ELSE 0 END + 1 END AS r
  FROM hashed
),
regs AS (SELECT rflag, lstatus, bucket, max(r) AS mx
         FROM rho GROUP BY rflag, lstatus, bucket),
allregs AS (
  SELECT g.rflag, g.lstatus, b.bucket, coalesce(regs.mx, 0) AS mx
  FROM (SELECT DISTINCT rflag, lstatus FROM src) g
  CROSS JOIN (SELECT unnest(range(256)) AS bucket) b
  LEFT JOIN regs ON regs.rflag = g.rflag AND regs.lstatus = g.lstatus
                AND regs.bucket = b.bucket
),
summed AS (
  SELECT rflag, lstatus,
         sum((1::BIGINT << (53 - mx)))::BIGINT AS s,
         sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_regs
  FROM allregs GROUP BY rflag, lstatus
),
exact AS (
  SELECT rflag, lstatus, count(DISTINCT v)::BIGINT AS exact_distinct
  FROM src GROUP BY rflag, lstatus
)
SELECT e.rflag, e.lstatus, e.exact_distinct,
       CAST(floor({num} / s::DOUBLE) AS BIGINT) AS hll_est,
       zero_regs,
       CAST(floor((CAST(floor({num} / s::DOUBLE) AS BIGINT)
                   - e.exact_distinct) * 1000000.0
                  / e.exact_distinct) AS BIGINT) AS err_ppm
FROM exact e JOIN summed USING (rflag, lstatus)
ORDER BY rflag, lstatus
"""


# ---------------------------------------------------------------------------
# quantile_histogram_profile — the engine-portable twin of
# approx_percentile_profile
# (operators/sketches.py::quantile_histogram): per event_type, p50/p95 read
# from a fixed-boundary histogram sketch via integer nearest-rank selection.
# Unlike Spark's private KLL-style approx_percentile, every step is public
# arithmetic (one IEEE multiply+floor to bucket, integer running counts,
# one exact power-of-two division back to value space), so the DuckDB
# oracle rebuilds the identical histogram and the driver hash-checks the
# ESTIMATES themselves — the rank-sketch family's first full value match.
# Deterministic 1/16 certainty interval stands in for the sketch's
# probabilistic bound; err audit vs the exact quantile lives in the tests
# (exact interpolated percentiles are NOT engine-portable in IEEE).
# ---------------------------------------------------------------------------


def quantile_histogram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.sketches import (
        histogram_quantiles,
        quantile_histogram,
    )

    events = load_table(spark, sf_dir, "events")
    hist = quantile_histogram(events, "value", ["event_type"])
    out = histogram_quantiles(hist, ["event_type"])
    return out.orderBy("event_type")


QUANTILE_HISTOGRAM_PROFILE_SQL = f"""
WITH hist AS (
  SELECT event_type,
         CAST(floor(value * {_QH_SCALE}) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
  FROM hist
),
tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_rows
        FROM hist GROUP BY 1)
SELECT c.event_type, t.n_rows,
       MIN(CASE WHEN c.cum >= (t.n_rows - 1) // 2 + 1
                THEN c.bucket END) AS p50_bucket,
       MIN(CASE WHEN c.cum >= ((t.n_rows - 1) * 19) // 20 + 1
                THEN c.bucket END) AS p95_bucket,
       CAST(MIN(CASE WHEN c.cum >= (t.n_rows - 1) // 2 + 1
                THEN c.bucket END) AS DOUBLE) / {_QH_SCALE} AS p50_est,
       CAST(MIN(CASE WHEN c.cum >= ((t.n_rows - 1) * 19) // 20 + 1
                THEN c.bucket END) AS DOUBLE) / {_QH_SCALE} AS p95_est
FROM cum c JOIN tot t USING (event_type)
GROUP BY 1, 2
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# status_priority_grouping_sets — explicit GROUPING SETS (the exact shape
# SURVEY §2.4 A2/A3 prescribes for kw/cat/total in one pass): (status,
# priority), (status), and grand total computed in a single aggregation;
# grouping_id() disambiguates the levels (NULL group values vs real NULLs).
# ---------------------------------------------------------------------------


def status_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS lvl,
               count(*) AS n_orders
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


STATUS_PRIORITY_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INT) AS lvl,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# ---------------------------------------------------------------------------
# salted_skew_join — key-salting as the portable skew treatment,
# demonstrated with a provably-skewed key: ~40% of lineitem rows collapse
# onto hot key 0 (l_orderkey % 5 < 2), so an unsalted shuffle join would
# put 40% of the fact table in ONE reducer task — the classic straggler.
# `operators/skew.salted_join` salts the fact side with a content hash of
# the whole row (row-unique here: it carries l_orderkey, l_linenumber),
# explodes the dim side ×SALTS, and joins on (key, salt), splitting the
# hot key across SALTS tasks. The merge hint keeps it a shuffle join (a
# broadcast would hide the technique at test SF — at 100 TB the dim that
# needs salting is precisely the one too big to broadcast). FULLY oracled
# against the plain unsalted join: salting must change the distribution,
# never the answer.
# ---------------------------------------------------------------------------


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "k",
        F.when(F.col("l_orderkey") % 5 < 2, F.lit(0)).otherwise(
            F.col("l_orderkey")
        ),
    )
    fact = li.select("k", "l_orderkey", "l_linenumber", "l_extendedprice")
    dim = (
        li.select("k")
        .distinct()
        .withColumn("grp", F.pmod(F.col("k"), F.lit(10)).cast("int"))
    )
    return (
        salted_join(fact.hint("merge"), dim, "k", "k")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2)"
                " AS DOUBLE)"
            ).alias("sum_price"),
        )
    )


SALTED_SKEW_JOIN_SQL = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 5 < 2 THEN 0 ELSE l_orderkey END AS k,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT DISTINCT k, CAST(k % 10 AS INT) AS grp FROM fact
)
SELECT d.grp,
       count(*) AS n_rows,
       CAST(round(sum(CAST(f.l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
         AS sum_price
FROM fact f JOIN dim d ON f.k = d.k
GROUP BY d.grp
"""


QUERIES: dict = {
    "salted_skew_join": (salted_skew_join, SALTED_SKEW_JOIN_SQL),
    "approx_distinct_profile": (approx_distinct_profile, None),
    "hll_distinct_md5": (hll_distinct_md5, _hll_distinct_sql()),
    "approx_percentile_profile": (approx_percentile_profile, None),
    "quantile_histogram_profile": (
        quantile_histogram_profile,
        QUANTILE_HISTOGRAM_PROFILE_SQL,
    ),
    "status_priority_grouping_sets": (
        status_priority_grouping_sets,
        STATUS_PRIORITY_GROUPING_SETS_SQL,
    ),
    "dictionary_oov": (dictionary_oov, DICTIONARY_OOV_SQL),
    "dictionary_oov_morph": (dictionary_oov_morph, _dictionary_oov_morph_sql()),
    "keyword_rollup": (keyword_rollup, _keyword_rollup_sql()),
    "cube_status_priority": (cube_status_priority, CUBE_STATUS_PRIORITY_SQL),
    "session_window_agg": (session_window_agg, SESSION_WINDOW_AGG_SQL),
    "value_stats": (value_stats, VALUE_STATS_SQL),
    "value_outliers": (value_outliers, VALUE_OUTLIERS_SQL),
    "table_profile": (table_profile, TABLE_PROFILE_SQL),
    "value_histogram": (value_histogram, VALUE_HISTOGRAM_SQL),
    "orders_snapshot_diff": (orders_snapshot_diff, ORDERS_SNAPSHOT_DIFF_SQL),
    "monthly_revenue_growth": (monthly_revenue_growth, MONTHLY_REVENUE_GROWTH_SQL),
    "brand_part_rollup": (brand_part_rollup, BRAND_PART_ROLLUP_SQL),
    "events_dedup_first": (events_dedup_first, EVENTS_DEDUP_FIRST_SQL),
    "streaming_dedup_events": (streaming_dedup_events, STREAMING_DEDUP_EVENTS_SQL),
}
