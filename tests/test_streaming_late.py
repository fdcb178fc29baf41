"""Late-data semantics: a row arriving after its window was finalized by the
watermark is DROPPED and the emitted result does not change — the property
the batch-equality streaming tests can't show (they feed one file = one
batch).

Drives the real micro-batch engine with three parquet files processed in
order (maxFilesPerTrigger=1, ordered mtimes). Micro-batch watermark timing:
a batch's data advances the watermark at its END, so eviction of the
[10:00, 11:00) window happens at the end of batch 1, and the too-late row in
batch 2 hits an already-finalized window — Spark reports it in
numRowsDroppedByWatermark and the append-mode output keeps n=3."""

from __future__ import annotations

import datetime as dt
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _write_events(path: str, rows: list[tuple[int, str]]) -> None:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [dt.datetime.fromisoformat(r[1]) for r in rows],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(table, path)


def test_watermark_drops_late_row(spark, tmp_path):
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    # Batch 0: three rows in [10:00, 11:00) plus a 12:30 row → watermark
    # becomes 12:00 (30 min delay) at batch end.
    _write_events(
        str(src_dir / "f1.parquet"),
        [
            (1, "2024-01-01 10:05:00"),
            (2, "2024-01-01 10:20:00"),
            (3, "2024-01-01 10:40:00"),
            (4, "2024-01-01 12:30:00"),
        ],
    )
    time.sleep(1.1)  # file-source ordering is by modification time
    # Batch 1: any on-time row; at its END the 12:00 watermark evicts and
    # emits the finalized [10:00, 11:00) window with n=3.
    _write_events(str(src_dir / "f2.parquet"), [(6, "2024-01-01 12:40:00")])
    time.sleep(1.1)
    # Batch 2: the too-late row (10:15, window end 11:00 < watermark) must
    # be dropped; a fresh row keeps the stream advancing.
    _write_events(
        str(src_dir / "f3.parquet"),
        [(5, "2024-01-01 10:15:00"), (7, "2024-01-01 12:50:00")],
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()

    out = {r.window_start.isoformat(): r.n for r in spark.table(name).collect()}
    # Finalized window unchanged by the late row: n=3, not 4.
    assert out.get("2024-01-01T10:00:00") == 3, out
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in progress
        if p.get("stateOperators")
    )
    assert dropped == 1, progress


def test_events_stream_reads_directory_layout(spark, tmp_path):
    """events.parquet written by Spark is a DIRECTORY of part files, not a
    single file; the stream source must read it (pathGlobFilter matches
    leaf file names, so filtering for 'events.parquet' under the parent
    matched NOTHING in the directory case — every streaming query then
    processed an empty stream, 0 rows and bogus-fast, which the sf1 bench
    masked until the foreachBatch sink failed to materialize its store)."""
    from crz_scraper_spark.catalog import load_table
    from crz_scraper_spark.streaming.windows import streaming_tumbling_agg

    sf_dir = "/root/testdata/sf0.001"
    alt = tmp_path / "sfdir"
    alt.mkdir()
    events = load_table(spark, sf_dir, "events")
    events.repartition(3).write.parquet(str(alt / "events.parquet"))
    got = streaming_tumbling_agg(spark, str(alt))
    assert got.count() > 0
    # Same windows as streaming over the single-file layout.
    ref = streaming_tumbling_agg(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_multibatch_sink_upsert_safe_overwrite_lossy(spark, tmp_path, monkeypatch):
    """Under MULTI-batch arrival (4-file source, maxFilesPerTrigger=1) the
    merge sink (`stream_to_upsert_store`) lands exactly the batch answer,
    while the partition-overwrite sink silently LOSES windows: update mode
    emits only the windows each batch changed, and overwriting a whole
    date directory with just those rows drops that date's unchanged
    windows. This pins both the fix and the hazard it exists for."""
    from pyspark.sql import functions as F

    from crz_scraper_spark.catalog import load_table
    from crz_scraper_spark.streaming import windows
    from crz_scraper_spark.streaming.windows import (
        stream_to_partitioned_parquet,
        stream_to_upsert_store,
    )

    sf_dir = "/root/testdata/sf0.001"
    src_dir = str(tmp_path / "evsrc")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    events.repartition(4).write.parquet(src_dir)
    assert len(list((tmp_path / "evsrc").glob("part-*.parquet"))) == 4

    def make_stream():
        schema = spark.read.parquet(src_dir).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )

    want = sorted(
        map(
            tuple,
            events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start"), "event_type", "n")
            .collect(),
        )
    )

    # The long watermark keeps state for every window: a 4-way random file
    # split delivers timestamps out of order, and this test is about sink
    # semantics, not late-data drops.
    monkeypatch.setattr(windows, "_SINK_WATERMARK", "100000 hours")
    up = str(tmp_path / "upsert_store")
    stream_to_upsert_store(spark, sf_dir, up, stream_src=make_stream())
    got = sorted(
        map(
            tuple,
            spark.read.parquet(up)
            .select("window_start", "event_type", "n_events")
            .collect(),
        )
    )
    assert got == want

    ow = str(tmp_path / "overwrite_store")
    stream_to_partitioned_parquet(spark, sf_dir, ow, stream_src=make_stream())
    lost = spark.read.parquet(ow).count()
    assert lost < len(want)  # the documented multi-batch hazard, observed


def test_stream_to_partitioned_parquet_idempotent(spark, tmp_path):
    """The foreachBatch dynamic-partition-overwrite sink produces exactly
    the batch aggregation, lands it date-partitioned, and re-running the
    whole stream over the same input leaves the result unchanged
    (idempotent recovery semantics)."""
    from pyspark.sql import functions as F

    from crz_scraper_spark.streaming.windows import (
        stream_to_partitioned_parquet,
    )

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path / "agg_parquet")
    stream_to_partitioned_parquet(spark, sf_dir, out)
    back = spark.read.parquet(out)
    assert "window_date=" in [p.name for p in (tmp_path / "agg_parquet").iterdir() if p.is_dir()][0]

    from crz_scraper_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    want = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    got1 = sorted(map(tuple, back.select("window_start", "event_type", "n_events").collect()))
    assert got1 == sorted(map(tuple, want.collect()))

    # Re-run the whole stream into the same directory: dynamic overwrite
    # replaces each touched partition, result identical.
    stream_to_partitioned_parquet(spark, sf_dir, out)
    got2 = sorted(map(tuple, spark.read.parquet(out)
                      .select("window_start", "event_type", "n_events").collect()))
    assert got2 == got1
