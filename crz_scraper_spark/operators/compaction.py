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
- The rewrite is ONE distributed job. The default is `coalesce(n)` —
  a shuffle-FREE narrow repack (each output task concatenates whole
  input splits); `shuffle=True` switches to `repartition(n)` for when
  input files are size-skewed and balanced outputs matter more than
  avoiding one shuffle of the compacted slice.
- Partitioned tables compact WITHIN each partition directory in the
  same single job: each row is salted with
  `pmod(xxhash64(partition), files_for_that_partition)` from a
  per-partition file-count map (metadata-derived, broadcast as a map
  literal), then hash-repartitioned on (partition, salt) so one task
  owns one output file of one partition dir. To compact only the
  fragmented partitions of a wider table, point src_dir at those
  partition directories — the planner's `skip` already rules out
  healthy ones.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.functions.sql import sql_ident, sql_str
from crz_scraper_spark.operators.upsert import _hadoop_fs

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _unescape_path_name_local(escaped: str) -> str:
    """Pure-Python mirror of Hive/Catalyst `unescapePathName`: decode
    every `%XX` (two hex digits) back to its character; malformed `%`
    sequences pass through verbatim, exactly as the JVM codec does."""
    out: list[str] = []
    i, n = 0, len(escaped)
    while i < n:
        if (
            escaped[i] == "%"
            and i + 3 <= n
            and escaped[i + 1] in "0123456789abcdefABCDEF"
            and escaped[i + 2] in "0123456789abcdefABCDEF"
        ):
            out.append(chr(int(escaped[i + 1:i + 3], 16)))
            i += 3
            continue
        out.append(escaped[i])
        i += 1
    return "".join(out)


def _unescape_partition_value(spark: SparkSession, escaped: str) -> str:
    """Partition DIRECTORY names carry Hive-escaped values (':' → '%3A');
    the DataFrame column carries the real value. Prefer Catalyst's own
    codec (the delete_by_key convention) when the private `_jvm` gateway
    is reachable; under Spark Connect (no `_jvm`) fall back to the local
    percent-decoder above, which implements the same table (Hive escapes
    are exactly `%XX` of the reserved char)."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is not None:
        try:
            return (
                jvm.org.apache.spark.sql.catalyst.catalog
                .ExternalCatalogUtils.unescapePathName(escaped)
            )
        except Exception:
            pass  # private class moved/renamed — use the local mirror
    return _unescape_path_name_local(escaped)


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


def _repack_partitions(
    df: DataFrame,
    partition_col: str,
    files_per_partition: list[tuple[str, int]],
    hash_cols: list[str],
) -> DataFrame:
    """`df` hash-repartitioned on (partition, salt) so one task owns one
    output file of one partition directory; salt = pmod(xxhash64(hash_cols),
    the row's partition's file count) spreads each partition over exactly
    its target file count. The counts are one map literal (#partitions
    entries, metadata-sized) in one SQL expression — one py4j call."""
    nmap = ", ".join(f"{sql_str(k)}, {n}" for k, n in files_per_partition)
    cols = ", ".join(sql_ident(c) for c in hash_cols)
    salted = df.selectExpr(
        "*",
        f"pmod(xxhash64({cols}), element_at(map({nmap}), "
        f"CAST({sql_ident(partition_col)} AS STRING))) AS __salt",
    )
    return salted.repartition(
        sum(n for _, n in files_per_partition),
        F.col(partition_col),
        F.col("__salt"),
    ).drop("__salt")


def plan_compaction(
    spark: SparkSession,
    src_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files_to_compact: int = 2,
) -> dict:
    """Inventory + decision: how many output files the rewrite should
    produce. Returns {files, bytes, n_out, skip}; `skip` is True when the
    directory is already at-or-below the target layout (compacting a
    healthy table is pure write amplification)."""
    files = _list_data_files(spark, src_dir)
    total = sum(b for _, b in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    skip = len(files) < min_files_to_compact or len(files) <= n_out
    return {
        "files": len(files),
        "bytes": total,
        "n_out": n_out,
        "skip": skip,
    }


def compact_small_files(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_col: str | None = None,
    shuffle: bool = False,
) -> dict:
    """Rewrite the parquet directory `src_dir` into `dst_dir` with
    size-targeted files; returns an audit dict
    {files_before, bytes_before, files_after, bytes_after, n_rows}.

    Unpartitioned: one coalesce/repartition to ceil(bytes/target) files.
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
        repacked = df.repartition(n_out) if shuffle else df.coalesce(n_out)
        repacked.write.mode("overwrite").parquet(staging)
    else:
        # Per-partition-dir byte totals from the file inventory (the dir
        # name carries `col=value`); metadata-scale, stays on the driver.
        part_bytes: dict[str, int] = {}
        prefix = f"{partition_col}="
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
            # Unescape the directory name so the salt map keys match the
            # COLUMN values element_at probes with (an escaped key like
            # 'a%3Ab' would never match the column's 'a:b', silently
            # collapsing that partition's salt to null = one output file).
            key = _unescape_partition_value(spark, seg[len(prefix):])
            part_bytes[key] = part_bytes.get(key, 0) + b
        n_files = {
            k: max(1, math.ceil(b / target_file_bytes))
            for k, b in part_bytes.items()
        }
        (
            _repack_partitions(
                df, partition_col, sorted(n_files.items()), df.columns
            )
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


def compact_offenders(
    spark: SparkSession,
    root: str,
    partition_col: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    max_files_per_partition: int = 8,
) -> dict:
    """The nightly form of compaction for a LIVE partitioned table:
    inventory every partition directory (metadata-only), pick ONLY the
    offenders — partitions holding more files than both their byte-derived
    target and `max_files_per_partition` — and rewrite just those, in
    place, through dynamic partition overwrite. Healthy partitions are
    never read, never shuffled, never rewritten (the `upsert_by_key` /
    `delete_by_key` touched-partition discipline applied to maintenance):
    a day-partitioned 100 TB store fragmented by yesterday's streaming
    micro-batches compacts yesterday, not the archive.

    One distributed job regardless of offender count: the offender
    directories are read with `basePath=root` (so the partition column
    survives), salted per-partition to their target file counts exactly
    like `compact_small_files`, and written back partitionBy with
    partitionOverwriteMode=dynamic — the committer stages output under
    _temporary and swaps only the written partitions at commit, after the
    source files have been read.

    Returns {partitions_total, partitions_compacted, files_before,
    files_after, n_rows} (file counts cover offender partitions only).
    """
    prefix = f"{partition_col}="
    stats: dict[str, list[int]] = {}
    for p, b in _list_data_files(spark, root):
        seg = next((s for s in p.split("/") if s.startswith(prefix)), None)
        if seg is None:
            raise ValueError(
                f"compact_offenders: {p} has no {prefix}* directory "
                f"segment; is the table really partitioned by "
                f"{partition_col!r}?"
            )
        # stats are keyed by the ESCAPED directory name (it addresses the
        # path); the salt map below is keyed by the UNESCAPED value (it
        # matches the column).
        key = seg[len(prefix):]
        cur = stats.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += b
    offenders = {
        k: max(1, math.ceil(b / target_file_bytes))
        for k, (files, b) in stats.items()
        if files > max(
            max_files_per_partition, math.ceil(b / target_file_bytes)
        )
    }
    if not offenders:
        return {
            "partitions_total": len(stats),
            "partitions_compacted": 0,
            "files_before": 0,
            "files_after": 0,
            "n_rows": 0,
        }
    files_before = sum(stats[k][0] for k in offenders)
    dirs = [f"{root.rstrip('/')}/{prefix}{k}" for k in sorted(offenders)]
    df = spark.read.option("basePath", root).parquet(*dirs)
    (
        _repack_partitions(
            df,
            partition_col,
            [
                (_unescape_partition_value(spark, k), n)
                for k, n in sorted(offenders.items())
            ],
            [c for c in df.columns if c != partition_col],
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(root)
    )
    # Post-audit: file census via FS listing (metadata-only) and ONE
    # count job over the rewritten dirs — not a per-partition driver loop
    # (1000 offenders must not mean 1000 Spark jobs).
    after = sum(
        len(_list_data_files(spark, f"{root.rstrip('/')}/{prefix}{k}"))
        for k in offenders
    )
    n_rows = (
        spark.read.option("basePath", root)
        .schema(df.schema)
        .parquet(*dirs)
        .count()
    )
    return {
        "partitions_total": len(stats),
        "partitions_compacted": len(offenders),
        "files_before": files_before,
        "files_after": after,
        "n_rows": n_rows,
    }
