"""Streaming window operators over the events table.

The reference has no streaming; its incremental dimension is re-running the
daily-dump download for new dates (`00_download_CRZ_DB.py:179-220`). The
engine's streaming surface treats a date-partitioned file drop as a
Structured Streaming file source — at 100 TB this is the natural "new daily
dump arrives" consumption model — with event-time watermarks for late data.

Local testing drives a bounded parquet file through the streaming engine with
a memory sink + `processAllAvailable()`, which makes streaming results
deterministic and therefore oracle-checkable against the same SQL as the
batch tumbling aggregation.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@contextmanager
def _stream_confs(spark: SparkSession, needs_eviction_batch: bool = False):
    """Session confs for one bounded streaming run, restored on exit (also
    when the query raises).

    State partitions: stateful operators hash-partition their state by
    `spark.sql.shuffle.partitions` *captured at query start*, and every
    micro-batch commits one state-store delta file per partition per store
    (a stream-stream join keeps FOUR stores per partition). Inheriting the
    batch default (32) means ~128 file commits per micro-batch for a join
    whose whole state fits in one page — pure fixed overhead locally, and
    the same sizing mistake a real deployment makes when it lets state
    partitioning default instead of sizing it to stateful-key cardinality /
    throughput. `min(8, defaultParallelism)` is one wave of state tasks
    (8 partitions on 4 cores are two waves of ~200 ms commits). A
    production stream sizes it to O(cores × state volume) before the FIRST
    start, since it is fixed into the checkpoint thereafter. Partition
    count never affects results.

    No-data batch: after the data is exhausted the engine runs one more
    NO-DATA micro-batch (noDataMicroBatches, default on) purely to advance
    the watermark and evict state. That extra batch re-plans and
    re-executes the full streaming plan over zero input rows — measured
    2-4 s per query locally, ~⅓ of each streaming query's cost — and
    changes the RESULT only for operators that EMIT on eviction (the
    left-outer join's null-padded rows). Queries whose sinks are complete/
    update-mode aggregations or append-mode pass-throughs (inner join,
    dedup, an update-mode foreachBatch whose trailing batch carries zero
    changed rows) emit everything in the data batches, so they skip it;
    `needs_eviction_batch=True` keeps it.
    """
    confs = {
        "spark.sql.shuffle.partitions": str(
            min(8, spark.sparkContext.defaultParallelism)
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": str(
            needs_eviction_batch
        ).lower(),
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _drain(spark: SparkSession, writer, needs_eviction_batch: bool = False) -> None:
    """Start `writer` (a memory sink, or an update-mode foreachBatch sink)
    under `_stream_confs` and run it to completion over the bounded input."""
    with _stream_confs(spark, needs_eviction_batch):
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _run_bounded(
    df: DataFrame,
    output_mode: str,
    name_prefix: str,
    needs_eviction_batch: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion over the bounded local input
    (memory sink + processAllAvailable) and return the materialized result.
    State partitions default to `min(8, defaultParallelism)`, and the
    trailing no-data batch runs only when `needs_eviction_batch` (see
    `_stream_confs`)."""
    spark = df.sparkSession
    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        df.writeStream.outputMode(output_mode).format("memory").queryName(name),
        needs_eviction_batch,
    )
    return spark.table(name)


def _events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Streaming file sources require an explicit schema; probe it from the
    parquet footer via a batch read (footer-only, no data scan). Testdata
    generations have stored ts as TIMESTAMP(NANOS) (→ long under
    spark.sql.legacy.parquet.nanosAsLong) or TIMESTAMP(MICROS) (→ ntz);
    probing keeps the stream source agnostic to the on-disk encoding."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = _events_schema(spark, sf_dir)
    # events.parquet is a single FILE in driver testdata but a DIRECTORY of
    # part files when written by Spark (tools/make_sf1.py). pathGlobFilter
    # matches leaf FILE names, so filtering for "events.parquet" under
    # sf_dir silently matches NOTHING in the directory case — every
    # streaming query then processes an empty stream (0 rows, bogus-fast;
    # caught at sf1 when the foreachBatch sink's store never materialized).
    # Read the directory directly when it is one. Layout detection goes
    # through the Hadoop FileSystem API (NOT driver-local os.path.isdir,
    # which silently sees nothing on hdfs:///s3a:// sf_dirs and would
    # reintroduce the empty-stream bug for remote storage).
    from crz_scraper_spark.operators.upsert import _hadoop_fs

    path = f"{sf_dir}/events.parquet"
    fs, jvm = _hadoop_fs(spark, path)
    if fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path)).isDirectory():
        src = spark.readStream.schema(schema).parquet(path)
    else:
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema.fields)
    if ts_type.get("ts") == "bigint":
        # nanos-as-long era: integer-DIV truncate to µs (exceeds double's
        # 53-bit mantissa, so no float division).
        return src.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # µs parquet reads as TIMESTAMP_NTZ; normalize to TIMESTAMP for the
    # watermark/window machinery (UTC session tz ⇒ numerically a no-op).
    return src.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked (2 hours) 1-hour tumbling-window count/sum per
    event_type, executed by the streaming engine end-to-end and returned as
    a bounded DataFrame.

    `complete` output mode + `processAllAvailable()` ⇒ every input row is
    reflected exactly once, so the result equals the batch `time_bucket`
    aggregation (the driver's DuckDB oracle).
    """
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
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
    # Materialize: the memory sink table is session-scoped and stable once
    # the query is stopped.
    return _run_bounded(agg, "complete", "stream_out")


def stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via `applyInPandasWithState`:
    per-user running event count held in explicit GroupState (the
    `applyInPandasWithState` surface SURVEY §2.8 mandates for operators the
    built-in windows can't express). Emits the updated count per user per
    micro-batch; with the bounded local input (one file → one batch) the
    emitted rows equal the batch group-count.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    src = _events_stream(spark, sf_dir)
    counted = src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="count bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_bounded(counted, "update", "stream_state")


def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (user_id = c_custkey), then a watermarked (2 hours)
    1-hour tumbling count/sum per market segment. Stream-static equi-joins
    are stateless in Structured Streaming — the static side is planned like any batch
    relation per micro-batch, so this adds no state store beyond the
    windowed agg. customer grows with sf, so it carries no broadcast hint:
    AQE sizes the pruned 2-column projection each micro-batch instead of a
    forced (potentially multi-GB) broadcast. At 100 TB the static side is
    the slowly-changing dim snapshot; re-planning per micro-batch picks up
    metastore refreshes.
    """
    import os

    customer = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select("c_custkey", "c_mktsegment")
    )
    src = _events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .join(customer, src.user_id == customer.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_mktsegment"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return _run_bounded(agg, "complete", "stream_enrich")


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on the event key within a 1-hour watermark
    (`dropDuplicatesWithinWatermark` — bounded state at 100 TB/day rates):
    returns the deduplicated bounded result."""
    src = _events_stream(spark, sf_dir)
    dedup = src.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return _run_bounded(dedup, "append", "stream_dedup")


# Event-time lateness the two stream sinks accept before a window closes.
_SINK_WATERMARK = "2 hours"


def _windowed_counts(src: DataFrame) -> DataFrame:
    return (
        src.withWatermark("ts", _SINK_WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.to_date(F.col("w.start")).alias("window_date"),
            "event_type",
            "n_events",
        )
    )


def stream_to_upsert_store(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    stream_src: DataFrame | None = None,
) -> None:
    """The MULTI-BATCH-SAFE streaming sink: each micro-batch MERGES its
    changed 1-hour windows into the store by key (`upsert_by_key` on
    (window_start, event_type)) instead of overwriting date partitions.

    Why a second sink exists: `stream_to_partitioned_parquet`'s
    dynamic-partition overwrite is exactly right when a micro-batch
    carries COMPLETE partitions (the bounded daily-drop replay — one day
    per batch). Under multi-batch arrival, update mode emits only the
    windows a batch CHANGED, and overwriting a whole date directory with
    just those rows silently DROPS that date's unchanged windows — a
    silent-loss hazard `tests/test_streaming_late.py` pins by driving
    both sinks over a 4-file source with maxFilesPerTrigger=1. The merge
    form is arrival-order-proof: re-delivered batches overwrite
    themselves (idempotent), partial batches only touch their own keys.
    """
    from crz_scraper_spark.operators.upsert import _hadoop_fs, upsert_by_key

    src = stream_src if stream_src is not None else _events_stream(spark, sf_dir)
    agg = _windowed_counts(src)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fs, jvm = _hadoop_fs(spark, out_dir)
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(out_dir)):
            (
                batch_df.write.mode("overwrite")
                .partitionBy("window_date")
                .parquet(out_dir)
            )
        else:
            upsert_by_key(
                spark,
                out_dir,
                batch_df,
                ["window_start", "event_type"],
                "window_date",
            )

    _drain(spark, agg.writeStream.outputMode("update").foreachBatch(write_batch))


def stream_to_partitioned_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    stream_src: DataFrame | None = None,
) -> None:
    """Production sink pattern (S10's idempotent re-save, done right): the
    watermarked 1-hour tumbling aggregation lands in date-partitioned parquet via
    `foreachBatch` with dynamic partition overwrite — each micro-batch
    rewrites exactly the partitions it touches, so re-running a batch after
    failure is idempotent (the reference instead rewrote its whole CSV
    after every contract, `06_extract_tables.py:246`). In update mode only
    windows changed by the batch flow through, bounding each rewrite to
    recent partitions once the watermark passes.

    SCOPE: correct when each micro-batch carries COMPLETE partitions
    (single-batch bounded replay; one-day-per-batch drops). Under
    finer-grained multi-batch arrival this overwrite drops a touched
    date's unchanged windows — use `stream_to_upsert_store` there
    (hazard pinned in tests/test_streaming_late.py).
    """
    src = stream_src if stream_src is not None else _events_stream(spark, sf_dir)
    agg = _windowed_counts(src)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_date")
            .parquet(out_dir)
        )

    _drain(spark, agg.writeStream.outputMode("update").foreachBatch(write_batch))


# A purchase joins a click of the same user at most this many seconds
# after it; both streams are watermarked 2 hours.
_JOIN_UPPER_S = 1800
_JOIN_WATERMARK_S = 7200
_JOIN_CONDITION = (
    "c_user_id = p_user_id"
    " AND purchase_ts >= click_ts + interval 0 seconds"
    f" AND purchase_ts <= click_ts + interval {_JOIN_UPPER_S} seconds"
)


def _click_purchase_streams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Clicks and purchases as two live, watermarked streams over the same
    drop, for the stream-stream interval joins."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", f"{_JOIN_WATERMARK_S} seconds")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{_JOIN_WATERMARK_S} seconds")
    )
    return clicks, purchases


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    clicks joined to the same user's purchases within [0, 1800] seconds —
    both sides are live streams (two file-source readers over the same
    drop), both watermarked so the join state is BOUNDED: a buffered click
    can be dropped once the purchase-side watermark passes
    click_ts + 1800 s (Structured Streaming derives the state TTL from
    the time-bound condition; without it the buffers grow forever).
    Append mode + processAllAvailable over the bounded local input makes
    the result equal to the batch range join (the driver's oracle —
    RANGE_CLICK_PURCHASE_SQL / operators/temporal.py::range_join)."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(purchases, F.expr(_JOIN_CONDITION)).select(
        "click_id", F.col("c_user_id").alias("user_id"), "purchase_id"
    )
    return _run_bounded(joined, "append", "stream_join")


def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, null-padded when
    no same-user purchase follows within [0, 1800] seconds.

    Outer results differ from the inner join in WHEN rows can be emitted:
    a match streams out immediately, but an unmatched click is only known
    unmatched once the watermark passes ``click_ts + 1800 s`` and its join
    state evicts — Structured Streaming emits the null-padded row in the
    eviction micro-batch (`processAllAvailable` runs that extra batch once
    the final watermark advances). Clicks in the LAST
    ``watermark + 1800 s`` of the stream never evict on bounded input, so
    a naive batch comparison would miss exactly that tail. The query
    therefore pins a deterministic frontier from the BOUNDED input — the
    final watermark ``min(max click_ts, max purchase_ts) - watermark``
    minus 1800 s and a one-hour safety margin — and filters BOTH the streaming
    result and the batch oracle to clicks at or below it: inside the
    frontier, streaming-with-eviction and the batch left join are provably
    identical, which is what makes an *outer* streaming join
    driver-oracle-checkable at all. The margin absorbs the engine's
    batch-boundary watermark rounding; results never depend on where
    micro-batch boundaries fell.
    """
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(purchases, F.expr(_JOIN_CONDITION), "leftOuter").select(
        "click_id",
        F.col("c_user_id").alias("user_id"),
        "click_ts",
        "purchase_id",
    )
    # needs_eviction_batch: the null-padded rows for unmatched clicks are
    # EMITTED by the watermark-advance eviction batch — skipping it would
    # silently drop every unmatched click from the result.
    out = _run_bounded(
        joined, "append", "stream_lojoin", needs_eviction_batch=True
    )
    # The frontier comes from one bounded batch aggregate over the same
    # drop (2 values to the driver) — identical arithmetic to the oracle's
    # `least(max click, max purchase) - (watermark + upper + safety)`.
    import datetime as _dt

    from crz_scraper_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p"
        ),
    ).collect()[0]
    cutoff = min(row["c"], row["p"]) - _dt.timedelta(
        seconds=_JOIN_WATERMARK_S + _JOIN_UPPER_S + 3600
    )
    return out.filter(F.col("click_ts") <= F.lit(cutoff))
