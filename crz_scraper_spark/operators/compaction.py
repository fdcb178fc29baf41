"""Small-file compaction — the table-maintenance pass a 100 TB parquet
store must run continuously: streaming sinks, incremental upserts and
per-batch appends (this repo's own `streaming_parquet_sink_roundtrip`,
`upsert_by_key`, `append_signatures`) all fragment tables into files far
below the scan-efficient size, and every downstream query then pays
per-file open/footer/seek costs and schedules thousands of tiny tasks.
The reference's per-day output tree (one CSV per scraped day,
`01_parse_xml.py:208`) has the same shape at its scale.

Design for Spark's execution model:
- File inventory goes through the Hadoop FileSystem API (works on
  file://, hdfs://, s3a:// — driver-local os/glob sees nothing remote);
  it is metadata-scale work (names + sizes, no data).
- The rewrite is ONE distributed job. Unpartitioned, it is
  `coalesce(n)` — a shuffle-FREE narrow repack (each output task
  concatenates whole input splits).
- Partitioned tables compact WITHIN each partition directory in the
  same single job: each row is salted with
  `pmod(xxhash64(row), files_for_that_partition)` from a per-partition
  file-count map (metadata-derived, one map literal), then
  hash-repartitioned on (partition, salt) so one task owns one output
  file of one partition dir. Every partition under `src_dir` is
  rewritten; to compact only some, point `src_dir` at a table that
  holds just those partitions.
- Two-phase safety: output lands in a staging directory first; only
  after the job succeeds is the old destination renamed aside
  (`dst._old_tmp`), staging renamed into place, and the aside copy
  deleted LAST. A failed job leaves the destination untouched; a crash
  mid-commit leaves either the old table or the new one addressable
  (the data is never only-in-staging). The rename steps are atomic on
  rename-atomic filesystems (HDFS, local POSIX); on object stores
  where rename is copy+delete (s3a) the window is not atomic — commit
  through a manifest/table format (Iceberg/Delta) there instead.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.functions.sql import sql_ident, sql_str
from crz_scraper_spark.operators.upsert import _hadoop_fs

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every data file under `path`, recursively,
    skipping metadata (_SUCCESS, manifests, hidden files) — remote-safe."""
    fs, jvm = _hadoop_fs(spark, path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jvm.org.apache.hadoop.fs.Path(path), True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), st.getLen()))
    return out


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_col: str | None = None,
) -> dict:
    """Rewrite the parquet directory `src_dir` into `dst_dir` with
    size-targeted files; returns an audit dict
    {files_before, bytes_before, files_after, bytes_after, n_rows}.

    Unpartitioned: one coalesce to ceil(bytes/target) files.
    Partitioned (`partition_col`): per-partition-directory byte totals
    decide per-partition output file counts; one distributed job salts and
    hash-repartitions rows so each task writes one file of one partition
    directory (no driver loop — 100k partitions cost 100k FS stats, not
    100k Spark jobs).
    """
    fs, jvm = _hadoop_fs(spark, dst_dir)
    jpath = jvm.org.apache.hadoop.fs.Path

    before = _list_data_files(spark, src_dir)
    bytes_before = sum(b for _, b in before)
    df = spark.read.parquet(src_dir)

    staging = dst_dir.rstrip("/") + "._compact_tmp"
    fs.delete(jpath(staging), True)

    if partition_col is None:
        n_out = max(1, math.ceil(bytes_before / target_file_bytes))
        df.coalesce(n_out).write.mode("overwrite").parquet(staging)
    else:
        # Per-partition-dir byte totals from the file inventory (the dir
        # name carries `col=value`); metadata-scale, stays on the driver.
        part_bytes: dict[str, int] = {}
        prefix = f"{partition_col}="
        unescape = (
            jvm.org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName
        )
        for p, b in before:
            seg = next(
                (s for s in p.split("/") if s.startswith(prefix)), None
            )
            if seg is None:
                raise ValueError(
                    f"compact_small_files: {p} has no {prefix}* directory "
                    f"segment; is the table really partitioned by "
                    f"{partition_col!r}?"
                )
            # Unescape the directory name (Catalyst's own codec, the
            # delete_by_key convention) so the salt map keys match the
            # COLUMN values element_at probes with (an escaped key like
            # 'a%3Ab' would never match the column's 'a:b', silently
            # collapsing that partition's salt to null = one output file).
            key = unescape(seg[len(prefix):])
            part_bytes[key] = part_bytes.get(key, 0) + b
        n_files = sorted(
            (k, max(1, math.ceil(b / target_file_bytes)))
            for k, b in part_bytes.items()
        )
        # salt = pmod(xxhash64(row), the row's partition's file count)
        # spreads each partition over exactly its target file count; the
        # counts are one map literal (#partitions entries) in one SQL
        # expression — one py4j call.
        nmap = ", ".join(f"{sql_str(k)}, {n}" for k, n in n_files)
        cols = ", ".join(sql_ident(c) for c in df.columns)
        (
            df.selectExpr(
                "*",
                f"pmod(xxhash64({cols}), element_at(map({nmap}), "
                f"CAST({sql_ident(partition_col)} AS STRING))) AS __salt",
            )
            .repartition(
                sum(n for _, n in n_files),
                F.col(partition_col),
                F.col("__salt"),
            )
            .drop("__salt")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(staging)
        )

    # Commit, ordered so the table is never only-in-staging: (1) rename
    # the live destination ASIDE (not delete — a crash after a delete
    # would strand the data in ._compact_tmp), (2) rename staging into
    # place, (3) delete the aside copy LAST. A crash between 1 and 2
    # leaves the old table recoverable at ._old_tmp; between 2 and 3
    # leaves the new table live plus a stale aside dir to GC. Each
    # rename is atomic on HDFS/local; on s3a-style stores rename is a
    # copy and this path is NOT atomic — use a manifest committer there
    # (see module docstring).
    aside = dst_dir.rstrip("/") + "._old_tmp"
    fs.delete(jpath(aside), True)  # clear any stale aside from a crash
    had_old = fs.exists(jpath(dst_dir))
    if had_old and not fs.rename(jpath(dst_dir), jpath(aside)):
        raise IOError(
            f"compact_small_files: rename {dst_dir} -> {aside} failed"
        )
    if not fs.rename(jpath(staging), jpath(dst_dir)):
        # Roll the old table back into place before failing.
        if had_old:
            fs.rename(jpath(aside), jpath(dst_dir))
        raise IOError(
            f"compact_small_files: rename {staging} -> {dst_dir} failed"
        )
    if had_old:
        fs.delete(jpath(aside), True)

    after = _list_data_files(spark, dst_dir)
    return {
        "files_before": len(before),
        "bytes_before": bytes_before,
        "files_after": len(after),
        "bytes_after": sum(b for _, b in after),
        # The schema is known: reading it back costs no footer job.
        "n_rows": spark.read.schema(df.schema).parquet(dst_dir).count(),
    }
