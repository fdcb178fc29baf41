"""Key-level upsert into a partitioned parquet table (copy-on-write MERGE).

The reference's only table-maintenance primitive is rewriting the WHOLE
growing CSV after every processed contract (S10,
`06_extract_tables.py:246,257`). At 100 TB the equivalent must touch only
the data that changed: this operator reads ONLY the partitions the updates
land in (partition pruning from the update keys themselves), merges with
update-wins semantics, and writes back ONLY those partitions via dynamic
partition overwrite. The untouched tail of the table is never read, never
shuffled, never written.

This is the same copy-on-write pattern Delta/Iceberg `MERGE INTO` executes
under the hood; on plain parquet directories it needs exactly the three
steps below. Concurrent writers need a table format's log — out of scope
for a single-pipeline engine, noted for production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def upsert_by_key(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> None:
    """Merge `updates` into the parquet table at `base_path` partitioned by
    `partition_col`: rows whose `key_cols` match an update are replaced,
    new keys are inserted, everything else is byte-untouched.

    Requirements: `updates` carries the table's full schema including
    `partition_col`; a key must not move between partitions (same contract
    as Hive-style dynamic overwrite). Update-wins is deterministic — a
    priority column, not `dropDuplicates`'s arbitrary survivor.
    """
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    if not touched:
        return
    base = (
        spark.read.parquet(base_path)
        # partition pruning: only the touched directories are scanned
        .filter(F.col(partition_col).isin(touched))
        .withColumn("__prio", F.lit(1))
    )
    upd = updates.withColumn("__prio", F.lit(0))
    w = Window.partitionBy(*key_cols).orderBy("__prio")
    merged = (
        base.unionByName(upd)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__prio", "__rn")
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(base_path)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Row-level diff of two table snapshots — the question a daily-dump
    consumer actually asks ("what changed since yesterday's dump?"; the
    reference re-downloads and re-processes everything,
    `00_download_CRZ_DB.py:179-220`). One full outer join on the key;
    change detection compares a single xxhash64 over the non-key columns
    (null-tagged so NULL≠'' and column boundaries can't alias), so wide
    rows shuffle once and compare as one long. Output: the key columns +
    `change_type` ∈ {inserted, deleted, changed} (unchanged rows are
    dropped — at 100 TB they are almost everything, and they leave the
    plan at the join).
    """
    compare_cols = [c for c in new.columns if c not in key_cols]

    def content_hash(df: DataFrame):
        tagged = [
            F.concat(
                F.lit(f"{c}="),
                F.coalesce(F.col(c).cast("string"), F.lit("\x00null")),
            )
            for c in compare_cols
        ]
        return F.xxhash64(*tagged)

    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        content_hash(old).alias("__oh"),
    )
    n = new.select(
        *[F.col(c) for c in key_cols], content_hash(new).alias("__nh")
    )
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & (F.col(c) == F.col(f"__ok_{c}"))
    joined = n.join(o, cond, "full_outer")
    change = (
        F.when(F.col("__oh").isNull(), F.lit("inserted"))
        .when(F.col("__nh").isNull(), F.lit("deleted"))
        .when(F.col("__oh") != F.col("__nh"), F.lit("changed"))
    )
    keys_out = [
        F.coalesce(F.col(c), F.col(f"__ok_{c}")).alias(c) for c in key_cols
    ]
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys_out, "change_type")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem handle for `path` — works for any scheme the
    cluster can read (file://, hdfs://, s3a://); driver-local os/glob
    calls silently see nothing on remote stores."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def delete_by_key(
    spark: SparkSession,
    base_path: str,
    delete_keys: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> dict[str, int]:
    """Key-level DELETE from a partitioned parquet table (copy-on-write) —
    the opt-out / right-to-be-forgotten pass a training-data store must run
    without rewriting 100 TB: `delete_keys` carries `key_cols` AND
    `partition_col` (opt-out records know where they live — when they
    don't, a key→partition index lookup supplies it first), so only the
    touched partitions are read, anti-joined against the broadcast
    (key, partition) set, and rewritten via dynamic partition overwrite.
    Untouched partitions are never read, never shuffled, never written.

    Deletion scope is the (key, partition) PAIR: a key re-ingested into a
    different partition survives unless an opt-out record names that
    partition too (anti-joining on the key alone would over-delete).

    Dynamic overwrite only replaces partitions PRESENT in the output, so a
    partition whose every row is deleted would silently keep its old files
    — those are removed explicitly through the Hadoop FileSystem API (any
    scheme), and the audit counts are computed from the same materialized
    data the rewrite used.

    Returns {"partitions_rewritten": n, "rows_deleted": n} for the audit
    log a deletion pipeline is obligated to keep —
    `partitions_rewritten` counts partitions actually present in the
    table, not merely named by opt-out records.

    NULL partition values in `delete_keys` are rejected loudly: neither
    `isin` nor the equi anti-join matches NULL, so accepting them would
    silently drop those opt-out records and under-report `rows_deleted`.
    """
    # ONE pass over delete_keys yields the NULL-partition guard AND the
    # touched-partition list (the pre-r10 shape paid a count job plus a
    # distinct+collect job over the same tiny frame).
    part_counts = {
        r[0]: r[1]
        for r in delete_keys.groupBy(partition_col).count().collect()
    }
    if None in part_counts:
        raise ValueError(
            f"delete_by_key: {part_counts[None]} delete_keys rows have a "
            f"NULL {partition_col!r}; NULL never matches isin() or an equi "
            "anti-join, so these opt-out records would be silently "
            "ignored. Resolve the partition (key->partition index lookup) "
            "before calling."
        )
    touched = list(part_counts)
    if not touched:
        return {"partitions_rewritten": 0, "rows_deleted": 0}
    join_cols = [*key_cols, partition_col]
    base = (
        spark.read.parquet(base_path)
        .filter(F.col(partition_col).isin(touched))
        .persist()  # one read serves the audit count and the rewrite
    )
    try:
        keys = delete_keys.select(*join_cols).distinct()
        # Audit counts in ONE aggregation: a left join against the
        # broadcast opt-out keys marks each base row instead of filtering
        # it, so per-partition BEFORE and KEPT counts come from a single
        # pass (the pre-r10 shape ran two count jobs — base, then the
        # anti-joined survivors — over the same persisted data). The
        # rewrite below still uses the anti-join; both derive from the
        # same broadcast key set, so marker IS NULL ≡ anti-join survivor.
        marked = base.join(
            F.broadcast(keys.withColumn("__del", F.lit(1))),
            join_cols,
            "left",
        )
        audit = {
            r[0]: (r[1], r[2])
            for r in marked.groupBy(partition_col)
            .agg(
                F.count(F.lit(1)).alias("before"),
                F.count(F.when(F.col("__del").isNull(), 1)).alias("kept"),
            )
            .collect()
        }
        before_per_part = {p: b for p, (b, _) in audit.items()}
        kept_per_part = {p: kk for p, (_, kk) in audit.items()}
        before = sum(before_per_part.values())
        kept = base.join(F.broadcast(keys), join_cols, "left_anti")
        deleted = before - sum(kept_per_part.values())
        (
            kept.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(base_path)
        )
        # Partitions emptied entirely: dynamic overwrite wrote nothing for
        # them — drop their directories so the deletion is real. The
        # directory name must go through Spark's own partition-path
        # escaping (':', '/', '%', timestamps, ... are percent-encoded on
        # write), else the delete misses and the rows stay readable.
        fs, jvm = _hadoop_fs(spark, base_path)
        for p in before_per_part:
            if kept_per_part.get(p, 0) == 0:
                dir_path = jvm.org.apache.hadoop.fs.Path(
                    base_path, _partition_dir(spark, partition_col, p)
                )
                if not fs.exists(dir_path):
                    raise RuntimeError(
                        f"delete_by_key: computed partition directory "
                        f"{dir_path} does not exist — escaping mismatch "
                        "would leave deleted rows readable; aborting loudly"
                    )
                fs.delete(dir_path, True)
    finally:
        base.unpersist()
    return {
        # Partitions actually present in the table (an opt-out may name a
        # partition that holds no rows — nothing is rewritten for it).
        "partitions_rewritten": len(before_per_part),
        "rows_deleted": deleted,
    }


def _partition_dir(spark: SparkSession, col: str, value) -> str:
    """`col=value` directory fragment exactly as Spark writes it —
    delegates to Catalyst's ExternalCatalogUtils.getPartitionPathString so
    special characters (':', '/', '%', '#', ...) get the same
    percent-escaping the writer used. The value's string form must match
    Spark's cast-to-string (notably booleans are lowercase)."""
    if value is None:
        s = "__HIVE_DEFAULT_PARTITION__"
    elif isinstance(value, bool):
        s = "true" if value else "false"
    else:
        s = str(value)
    utils = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    )
    return utils.getPartitionPathString(col, s)
