"""Event-stream plans: tumbling windows, sessionization, JSON props, and the
Structured Streaming execution of the same semantics (SURVEY.md §2.8, §2.7
F9/F14; JSON replaces the reference's stringified-list cells per §1's
Spark mapping — `from_json`/`get_json_object` instead of `ast.literal_eval`,
`03_download_contracts.py:619-646`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import load_table
from crz_scraper_spark.streaming.windows import streaming_tumbling_agg

# ---------------------------------------------------------------------------
# tumbling_hourly — event-time tumbling window aggregation (batch form).
# ---------------------------------------------------------------------------


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


TUMBLING_HOURLY_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# streaming_tumbling_hourly — the SAME semantics executed by Structured
# Streaming (file source → watermark → windowed agg → memory sink); equal to
# the batch oracle because complete-mode + processAllAvailable is exhaustive.
# ---------------------------------------------------------------------------


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_tumbling_agg(spark, sf_dir)


def streaming_parquet_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming SINK pattern, driver-verified end to end:
    watermarked tumbling aggregation → `foreachBatch` with
    dynamic-partition overwrite into date-partitioned parquet → read the
    store back. The stream runs TWICE into the same store before reading —
    the idempotent re-save is the point (S10 done right: a failure-retry
    or full re-run rewrites exactly the partitions it touches and lands on
    identical bytes, where the reference rewrote its whole CSV per
    contract). Oracled against the batch tumbling aggregate: exhaustive
    processing over bounded input ⇒ the store equals the batch answer, and
    the double-run proves the overwrite is idempotent, not appending."""
    import hashlib as _hl
    import os as _os

    from crz_scraper_spark.streaming.windows import (
        stream_to_partitioned_parquet,
    )

    out = (
        f"/tmp/crz_streamsink_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_{_os.getpid()}"
    )
    stream_to_partitioned_parquet(spark, sf_dir, out)
    stream_to_partitioned_parquet(spark, sf_dir, out)  # idempotent re-run
    return spark.read.parquet(out).select(
        "window_start",
        F.col("window_date").cast("date").alias("window_date"),
        "event_type",
        "n_events",
    )


STREAMING_PARQUET_SINK_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       CAST(time_bucket(INTERVAL '1 hour', ts) AS DATE) AS window_date,
       event_type,
       count(*) AS n_events
FROM events
GROUP BY 1, 2, 3
"""


def streaming_upsert_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-BATCH-SAFE streaming sink driver-verified: foreachBatch
    merges each micro-batch's changed windows into the store by
    (window_start, event_type) key via `upsert_by_key` — arrival-order-
    proof where the partition-overwrite sink is single-batch-only (the
    hazard and fix are pinned in tests/test_streaming_late.py over a
    4-file maxFilesPerTrigger=1 source). Same oracle as the overwrite
    sink: exhaustive processing over bounded input equals the batch
    tumbling aggregate."""
    import hashlib as _hl
    import os as _os
    import shutil as _sh

    from crz_scraper_spark.streaming.windows import stream_to_upsert_store

    out = (
        f"/tmp/crz_upsertsink_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_{_os.getpid()}"
    )
    _sh.rmtree(out, ignore_errors=True)  # fresh store per invocation
    stream_to_upsert_store(spark, sf_dir, out)
    return spark.read.parquet(out).select(
        "window_start",
        F.col("window_date").cast("date").alias("window_date"),
        "event_type",
        "n_events",
    )


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks ⋈ same-user purchases within
    30 min) executed by the streaming engine with watermark-bounded join
    state; equals the batch range join on bounded input, so it shares
    RANGE_CLICK_PURCHASE_SQL as its oracle
    (streaming/windows.py::stream_stream_interval_join)."""
    from crz_scraper_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    return stream_stream_interval_join(spark, sf_dir)


def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (every click, null-padded when
    no purchase follows within 30 min) — the outer twin of
    `streaming_interval_join`. Null-padded rows only exist once the
    watermark evicts the click's join state, so the query (and its oracle)
    restrict to clicks at or below a deterministic eviction frontier
    computed from the bounded input; see
    streaming/windows.py::stream_stream_left_outer_join."""
    from crz_scraper_spark.streaming.windows import (
        stream_stream_left_outer_join,
    )

    out = stream_stream_left_outer_join(spark, sf_dir)
    # NULL-padded ids surface as -1: a nullable BIGINT degrades to float64
    # through the oracle's pandas path (oracle.py header), so a sentinel
    # keeps the column integer-typed on both sides.
    return out.select(
        "click_id",
        "user_id",
        "click_ts",
        F.coalesce(F.col("purchase_id"), F.lit(-1)).alias("purchase_id"),
    )


STREAMING_LEFT_OUTER_JOIN_SQL = """
WITH cut AS (
  SELECT least(
           (SELECT max(ts) FROM events WHERE event_type = 'click'),
           (SELECT max(ts) FROM events WHERE event_type = 'purchase')
         ) - INTERVAL 12600 SECOND AS cutoff
)
SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
       COALESCE(p.event_id, -1) AS purchase_id
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1800 SECOND
WHERE c.event_type = 'click'
  AND c.ts <= (SELECT cutoff FROM cut)
"""


# ---------------------------------------------------------------------------
# streaming_enriched_segments — stream-static join (event stream ⋈ static
# customer dim, unhinted: AQE sizes the pruned dim per micro-batch) feeding
# a watermarked tumbling agg per market
# segment; the join is stateless so the oracle is the plain batch join +
# time_bucket rollup.
# ---------------------------------------------------------------------------


def streaming_enriched_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.streaming.windows import streaming_enriched_segments

    return streaming_enriched_segments(spark, sf_dir)


STREAMING_ENRICHED_SEGMENTS_SQL = """
SELECT time_bucket(INTERVAL '1 hour', e.ts) AS window_start,
       c.c_mktsegment,
       count(*) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# sessionization — gap-based sessions (30 min), the batch window form:
# lag → gap flag → cumulative session index → per-session rollup
# (pyspark_guide 'Sessionization'; streaming equivalent is session_window).
# ---------------------------------------------------------------------------


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap arithmetic in exact integer microseconds (`unix_micros` ≡ DuckDB
    # `epoch_us`) — second-level truncation is engine-dependent at the
    # boundary; microseconds are lossless for µs-precision timestamps.
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # cast normalizes TIMESTAMP_NTZ (unix_micros requires TIMESTAMP; with the
    # UTC session tz the cast is numerically a no-op, and the gap/duration
    # arithmetic below is offset-invariant anyway).
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    with_gap = events.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(by_user) > 30 * 60 * 1_000_000, 1)
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_gap.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr(
            "(max(unix_micros(cast(ts as timestamp)))"
            " - min(unix_micros(cast(ts as timestamp)))) DIV 1000000"
        ).alias("duration_sec"),
    )


SESSIONIZATION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*)  AS n_events,
       min(ts)   AS session_start,
       max(ts)   AS session_end,
       (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS duration_sec
FROM sess
GROUP BY user_id, session_id
"""

# ---------------------------------------------------------------------------
# scd2_intervals — slowly-changing-dimension type-2 history build: each
# event's value is valid from its timestamp until the user's next event
# (half-open [valid_from, valid_to)), the last one flagged current. One
# window pass (lead over the user partition) — the standard way to turn an
# append-only change log into an interval dimension; the reference's
# closest analogue is the idempotent whole-table re-save S10
# (`06_extract_tables.py:246,257`), which SCD2 replaces with history that
# supports as-of lookups (see asof_last_purchase). Scales as one shuffle
# on user_id; no state beyond the sort within each partition.
# ---------------------------------------------------------------------------


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return events.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        "value",
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


SCD2_INTERVALS_SQL = """
SELECT user_id, event_id, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       value,
       CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS INT)
         AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

# ---------------------------------------------------------------------------
# funnel_conversion — ordered-sequence funnel (view → click → purchase):
# per user, the earliest view, the earliest click AFTER that view, the
# earliest purchase AFTER that click; then stage-completion counts. Each
# stage min depends on the previous stage's result, so it's three window
# passes over ONE user_id partitioning — one shuffle total, no self-joins
# (the naive form is a 3-way self-join of events). The product-analytics
# staple the reference has no analogue for.
# ---------------------------------------------------------------------------


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = events.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    s2 = s1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


FUNNEL_CONVERSION_SQL = """
WITH s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS t_view
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
),
per_user AS (
  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
         max(t_purchase) AS t_purchase
  FROM s3 GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS n_viewed,
       count(t_click) AS n_clicked_after_view,
       count(t_purchase) AS n_purchased_after_click
FROM per_user
"""

# ---------------------------------------------------------------------------
# weekly_retention — cohort retention: users grouped by first-activity week,
# counted as retained in each later week they were active. first-week via
# one window min; activity grid via distinct (user, week); offset in whole
# weeks. Two narrow shuffles (user window, cohort-cell agg) — at 100 TB the
# distinct collapses the event volume to |users|×|weeks| before the agg.
# ---------------------------------------------------------------------------


def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    marked = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("week"),
    ).withColumn("cohort_week", F.min("week").over(w))
    grid = marked.distinct()
    return (
        grid.withColumn(
            "week_offset",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy(F.to_date("cohort_week").alias("cohort_week"), "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


WEEKLY_RETENTION_SQL = """
WITH marked AS (
  SELECT user_id,
         date_trunc('week', ts) AS week,
         min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort_week
  FROM events
),
grid AS (SELECT DISTINCT user_id, week, cohort_week FROM marked)
SELECT CAST(cohort_week AS DATE) AS cohort_week,
       CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_offset,
       count(DISTINCT user_id) AS n_active
FROM grid
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# rolling_active_users — DAU + trailing-7-day distinct users per day. A
# rolling DISTINCT cannot ride a window frame (frames aggregate values,
# not sets); the scalable shape is: collapse events to the distinct
# (user, day) grid FIRST (one shuffle that shrinks 100 TB of events to
# |users|×|days| rows), then a small range join of the grid against the
# day list re-counts each trailing window. The day list broadcasts; the
# grid is the only data that moves.
# ---------------------------------------------------------------------------


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    daily = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = daily.select("day").distinct()
    dau = daily.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    rolling = (
        daily.alias("d")
        .join(
            F.broadcast(days.alias("g")),
            (F.col("d.day") > F.date_sub(F.col("g.day"), 7))
            & (F.col("d.day") <= F.col("g.day")),
        )
        .groupBy(F.col("g.day").alias("day"))
        .agg(F.countDistinct("d.user_id").alias("active_7d"))
    )
    return dau.join(rolling, "day").select("day", "dau", "active_7d")


ROLLING_ACTIVE_USERS_SQL = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
days AS (SELECT DISTINCT day FROM daily),
dau AS (
  SELECT day, count(DISTINCT user_id) AS dau FROM daily GROUP BY day
),
rolling AS (
  SELECT g.day, count(DISTINCT d.user_id) AS active_7d
  FROM daily d JOIN days g
    ON d.day > g.day - INTERVAL 7 DAY AND d.day <= g.day
  GROUP BY g.day
)
SELECT day, dau, active_7d FROM dau JOIN rolling USING (day)
"""

# ---------------------------------------------------------------------------
# props_json_rollup — typed JSON access replacing the reference's
# list-literal cells (F11 → from_json mapping, SURVEY §1).
# ---------------------------------------------------------------------------


def props_json_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.get_json_object("props", "$.k").cast("bigint")
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
            F.count("*").alias("n_events"),
        )
    )


PROPS_JSON_ROLLUP_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(json_extract(props, '$.k') AS BIGINT))    AS n_with_k,
       count(*)                                             AS n_events
FROM events
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# props_variant_rollup — the same semi-structured rollup through Spark 4's
# VariantType (`parse_json` once → binary-encoded variant → typed
# `try_variant_get` access). At 100 TB variant beats per-access
# get_json_object: the JSON text is parsed once per row, not once per
# extracted path, and parquet can store the variant column shredded.
# Same oracle as the JSON-string form — the access path is the difference.
# ---------------------------------------------------------------------------


def props_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("k").isNotNull(), 1)).alias("n_with_k"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# user_running_totals — analytic window frame (running sum + lag delta):
# the full Window surface the reference lacks (SURVEY §2.5 note).
# ---------------------------------------------------------------------------


def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "ts",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("running_value"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2
        ).alias("delta_prev"),
    )


USER_RUNNING_TOTALS_SQL = """
SELECT user_id, event_id, ts,
       round(sum(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 2) AS running_value,
       round(value - coalesce(lag(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id), 0.0), 2) AS delta_prev
FROM events
"""


# ---------------------------------------------------------------------------
# asof_last_purchase — backward as-of join (operators/temporal.py::asof_join):
# each click picks up the latest prior purchase value per user. Oracle is
# DuckDB's native ASOF LEFT JOIN — the rare case where the oracle has the
# operator built in and the engine composes it (union + ordered window +
# last-ignorenulls; one shuffle on the by key).
# ---------------------------------------------------------------------------


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # Pre-dedup rights per (user, ts) so the equal-timestamp winner is
    # deterministic on both engines (temporal.py docstring).
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(clicks, purchases, "ts", "user_id")
    return out.select(
        "event_id", "user_id", "ts", F.round("value_asof", 6).alias("value_asof")
    )


ASOF_LAST_PURCHASE_SQL = """
WITH r AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT l.event_id, l.user_id, l.ts, round(r.value, 6) AS value_asof
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
"""


# ---------------------------------------------------------------------------
# range_click_purchase — bounded range join (operators/temporal.py::
# range_join): click→purchase pairs within 30 min per user. The bucketed
# equi-join keeps it hash-joinable (the naive theta join would plan as a
# nested loop); the oracle states the range predicate directly.
# ---------------------------------------------------------------------------


def range_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.temporal import range_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = range_join(clicks, purchases, "ts", "user_id", upper_s=1800)
    return out.select("click_id", "user_id", F.col("purchase_id_r").alias("purchase_id"))


RANGE_CLICK_PURCHASE_SQL = """
SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1800 SECOND
"""


# ---------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transition statistics over
# each user's time-ordered event sequence: count of (prev_type -> type)
# steps and the conditional probability P(next | prev). One window pass
# (lag over user_id — the only corpus shuffle), a pair-count aggregate on
# the tiny type×type key space, and the row-normalizing share as a window
# over the aggregate. The sequence-modeling companion to funnel_conversion:
# funnels check ONE path, this table scores every observed step.
# ---------------------------------------------------------------------------


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    steps = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_steps")
    )
    wrow = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_steps",
        F.round(
            F.col("n_steps") / F.sum("n_steps").over(wrow), 6
        ).alias("p_next"),
    )


EVENT_TRANSITION_MATRIX_SQL = """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type,
         event_type AS next_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, count(*) AS n_steps
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_steps,
       round(n_steps / sum(n_steps) OVER (PARTITION BY prev_type), 6) AS p_next
FROM counts
"""


QUERIES: dict = {
    "event_transition_matrix": (
        event_transition_matrix,
        EVENT_TRANSITION_MATRIX_SQL,
    ),
    "asof_last_purchase": (asof_last_purchase, ASOF_LAST_PURCHASE_SQL),
    "range_click_purchase": (range_click_purchase, RANGE_CLICK_PURCHASE_SQL),
    "streaming_interval_join": (
        streaming_interval_join,
        RANGE_CLICK_PURCHASE_SQL,
    ),
    "streaming_left_outer_join": (
        streaming_left_outer_join,
        STREAMING_LEFT_OUTER_JOIN_SQL,
    ),
    "tumbling_hourly": (tumbling_hourly, TUMBLING_HOURLY_SQL),
    "streaming_tumbling_hourly": (streaming_tumbling_hourly, TUMBLING_HOURLY_SQL),
    "streaming_parquet_sink_roundtrip": (
        streaming_parquet_sink_roundtrip,
        STREAMING_PARQUET_SINK_SQL,
    ),
    "streaming_upsert_sink_roundtrip": (
        streaming_upsert_sink_roundtrip,
        STREAMING_PARQUET_SINK_SQL,
    ),
    "streaming_enriched_segments": (
        streaming_enriched_segments_q,
        STREAMING_ENRICHED_SEGMENTS_SQL,
    ),
    "sessionization": (sessionization, SESSIONIZATION_SQL),
    "scd2_intervals": (scd2_intervals, SCD2_INTERVALS_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_CONVERSION_SQL),
    "weekly_retention": (weekly_retention, WEEKLY_RETENTION_SQL),
    "rolling_active_users": (rolling_active_users, ROLLING_ACTIVE_USERS_SQL),
    "props_json_rollup": (props_json_rollup, PROPS_JSON_ROLLUP_SQL),
    "props_variant_rollup": (props_variant_rollup, PROPS_JSON_ROLLUP_SQL),
    "user_running_totals": (user_running_totals, USER_RUNNING_TOTALS_SQL),
}
