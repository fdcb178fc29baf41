"""Tests for operators/compaction.py and operators/heavyhitters.py."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crz_scraper_spark.operators.compaction import compact_small_files

from tests.reference import heavy_hitters, mg_candidates


def _data_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not (f.startswith("_") or f.startswith(".")):
                out.append(os.path.join(dirpath, f))
    return out


@pytest.fixture()
def fragmented(spark, tmp_path):
    src = str(tmp_path / "frag")
    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    df.repartition(24).write.parquet(src)
    return src, df


def test_compact_unpartitioned_preserves_content(spark, fragmented, tmp_path):
    src, df = fragmented
    dst = str(tmp_path / "out")
    audit = compact_small_files(spark, src, dst, target_file_bytes=1 << 28)
    assert audit["files_before"] == 24
    assert audit["files_after"] == 1
    assert audit["n_rows"] == 5000
    back = spark.read.parquet(dst)
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_compact_partitioned_one_file_per_dir(spark, tmp_path):
    src, dst = str(tmp_path / "psrc"), str(tmp_path / "pdst")
    df = spark.range(0, 3000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
    )
    df.repartition(16).write.partitionBy("grp").parquet(src)
    assert len(_data_files(src)) > 4
    audit = compact_small_files(
        spark, src, dst, target_file_bytes=1 << 28, partition_col="grp"
    )
    assert audit["files_after"] == 4
    assert audit["n_rows"] == 3000
    # one file inside each grp=value directory; layout preserved
    for v in range(4):
        pdir = os.path.join(dst, f"grp={v}")
        assert len(_data_files(pdir)) == 1
    back = spark.read.parquet(dst).select("id", F.col("grp").cast("string"))
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_compact_partitioned_splits_large_partitions(spark, tmp_path):
    # A partition whose bytes exceed the target must be split over SEVERAL
    # output files, not concatenated into one oversized file.
    src, dst = str(tmp_path / "bsrc"), str(tmp_path / "bdst")
    df = spark.range(0, 20000).select(
        F.col("id"),
        F.lit("hot").alias("grp"),
        F.md5(F.col("id").cast("string")).alias("p1"),
        F.sha2(F.col("id").cast("string"), 256).alias("p2"),
    )
    df.repartition(16).write.partitionBy("grp").parquet(src)
    total = sum(os.path.getsize(p) for p in _data_files(src))
    target = max(1, total // 4)
    audit = compact_small_files(
        spark, src, dst, target_file_bytes=target, partition_col="grp"
    )
    assert audit["files_after"] >= 2
    assert audit["n_rows"] == 20000


def test_compact_rejects_unpartitioned_dir_with_partition_col(
    spark, fragmented, tmp_path
):
    src, _df = fragmented
    with pytest.raises(ValueError, match="has no grp="):
        compact_small_files(
            spark,
            src,
            str(tmp_path / "never"),
            partition_col="grp",
        )


def test_compact_overwrites_existing_dst_and_leaves_no_temp_dirs(
    spark, fragmented, tmp_path
):
    """Re-compacting over a live destination must replace it through the
    rename-aside sequence: new content live, no ._compact_tmp / ._old_tmp
    residue after a successful commit."""
    src, df = fragmented
    dst = str(tmp_path / "out_live")
    # seed dst with DIFFERENT content that must disappear
    spark.range(0, 7).write.parquet(dst)
    audit = compact_small_files(spark, src, dst, target_file_bytes=1 << 28)
    assert audit["n_rows"] == 5000
    back = spark.read.parquet(dst)
    assert back.count() == 5000
    assert back.exceptAll(df).count() == 0
    assert not os.path.exists(dst + "._compact_tmp")
    assert not os.path.exists(dst + "._old_tmp")


# ---------------------------------------------------------------------------
# heavy hitters
# ---------------------------------------------------------------------------


def _skewed(spark, n_hot=4000, n_tail=6000):
    hot = spark.range(0, n_hot).select(
        F.concat(F.lit("hot"), (F.col("id") % 2).cast("string")).alias("v")
    )
    tail = spark.range(0, n_tail).select(
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("v")
    )
    # interleave across partitions so no partition is hot-only
    return hot.unionAll(tail).repartition(16)


def test_heavy_hitters_matches_exact_groupby(spark):
    df = _skewed(spark)
    got = heavy_hitters(df, "v", freq_num=1, freq_den=100).collect()
    n = df.count()
    exact = {
        r["v"]: r["cnt"]
        for r in df.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 100 > n)
        .collect()
    }
    assert {r["v"]: r["cnt"] for r in got} == exact
    assert exact  # the fixture really has hitters
    for r in got:
        assert r["freq_ppm"] == r["cnt"] * 1_000_000 // n


def test_mg_candidates_bounded_and_superset(spark):
    df = _skewed(spark)
    cand = mg_candidates(df, "v", m=100)
    per_part = (
        cand.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_part <= 100
    names = {r["v"] for r in cand.distinct().collect()}
    assert {"hot0", "hot1"} <= names


def test_heavy_hitters_tight_counter_budget(spark):
    # m left at its default freq_den/freq_num — the smallest budget the
    # MG bound needs; the guarantee (not luck) must carry the result.
    df = _skewed(spark, n_hot=2000, n_tail=8000)
    got = {r["v"] for r in heavy_hitters(df, "v", 1, 100).collect()}
    assert got == {"hot0", "hot1"}


def test_heavy_hitters_excludes_nulls(spark):
    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 2 == 0, F.lit("a")).alias("v")
    )
    got = heavy_hitters(df, "v", 1, 100).collect()
    assert [r["v"] for r in got] == ["a"]
    # N excludes nulls: 500 'a' of 500 non-null values = 1e6 ppm
    assert got[0]["freq_ppm"] == 1_000_000


def test_heavy_hitters_bigint_above_2_53_exact(spark):
    """ADVICE r6 (high): appending the None sentinel used to coerce the
    int64 candidate column to float64 in pandas, corrupting keys above
    2^53 before the Arrow cast back — the true hitter then failed the
    recount semi-join and silently vanished. Hash-derived ids (xxhash64)
    live exactly in this range."""
    hot = 2**60 + 1  # NOT representable in float64 (rounds to 2**60)
    rows = [(hot,)] * 500 + [(i,) for i in range(500)]
    df = spark.createDataFrame(rows, "v bigint").repartition(8)
    got = heavy_hitters(df, "v", 1, 100).collect()
    assert [r["v"] for r in got] == [hot]
    assert got[0]["cnt"] == 500
    # same latent pattern in the arrays pass-1
    from crz_scraper_spark.operators.heavyhitters import heavy_hitters_arrays

    docs = spark.createDataFrame(
        [([hot, i],) for i in range(500)], "toks array<bigint>"
    ).repartition(8)
    arr = heavy_hitters_arrays(docs, "toks", "v").collect()
    assert [r["v"] for r in arr] == [hot]


def test_heavy_hitters_binary_keys(spark):
    """ADVICE r6 (low): BinaryType keys collect as unhashable bytearray —
    the candidate set/sort must normalize to bytes and round-trip."""
    rows = [(b"\x00\xffhot",)] * 300 + [
        (bytes([i % 256, i // 256]),) for i in range(700)
    ]
    df = spark.createDataFrame(rows, "v binary").repartition(4)
    got = heavy_hitters(df, "v", 1, 100).collect()
    assert [bytes(r["v"]) for r in got] == [b"\x00\xffhot"]
    assert got[0]["cnt"] == 300


def test_heavy_hitters_float_nan_excluded_like_null(spark):
    """ADVICE r6 (low): pandas value_counts drops NaN in pass 1; the
    operator now filters NaN up front so N, the candidates, and the
    recount all agree — NaN is excluded exactly like NULL."""
    df = spark.createDataFrame(
        [(1.0,)] * 500
        + [(float("nan"),)] * 400
        + [(float(i),) for i in range(10, 110)],
        "v double",
    ).repartition(4)
    got = heavy_hitters(df, "v", 1, 100).collect()
    hit = {r["v"]: r for r in got}
    assert 1.0 in hit and hit[1.0]["cnt"] == 500
    assert all(r["v"] == r["v"] for r in got)  # no NaN rows
    # N = 600 non-NaN values: 500/600 ≈ 833333 ppm proves NaN left the
    # denominator too
    assert hit[1.0]["freq_ppm"] == 500 * 1_000_000 // 600


def test_heavy_hitters_no_hitters(spark):
    df = spark.range(0, 1000).select(F.col("id").cast("string").alias("v"))
    assert heavy_hitters(df, "v", 1, 100).count() == 0


def test_heavy_hitters_arrays_matches_exploded(spark):
    from crz_scraper_spark.operators.heavyhitters import heavy_hitters_arrays

    docs = spark.range(0, 500).select(
        F.array(
            F.lit("common"),
            F.concat(F.lit("rare"), F.col("id").cast("string")),
            F.when(F.col("id") % 2 == 0, F.lit("half")).otherwise(
                F.concat(F.lit("odd"), F.col("id").cast("string"))
            ),
        ).alias("toks")
    ).repartition(8)
    exploded = docs.select(F.explode("toks").alias("w"))
    a = [tuple(r) for r in heavy_hitters(exploded, "w", 1, 100).collect()]
    got = heavy_hitters_arrays(docs, "toks", "w")
    b = [tuple(r) for r in got.collect()]
    assert a == b and len(a) >= 2


def test_heavy_hitters_arrays_empty_input(spark):
    from crz_scraper_spark.operators.heavyhitters import heavy_hitters_arrays

    docs = spark.createDataFrame([], "toks array<string>")
    out = heavy_hitters_arrays(docs, "toks", "w")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["w", "cnt", "freq_ppm"]


def test_compact_partitioned_escaped_values(spark, tmp_path):
    """Partition values needing Hive path-escaping (':' -> '%3A') must
    still map to their byte-derived file counts — the salt map is keyed
    by the COLUMN value, the directories by the escaped name."""
    src, dst = str(tmp_path / "esrc"), str(tmp_path / "edst")
    df = spark.range(0, 2000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit("a:b")).otherwise(
            F.lit("c d")
        ).alias("grp"),
    )
    df.repartition(12).write.partitionBy("grp").parquet(src)
    audit = compact_small_files(
        spark, src, dst, target_file_bytes=1 << 28, partition_col="grp"
    )
    assert audit["files_after"] == 2 and audit["n_rows"] == 2000
    assert os.path.isdir(os.path.join(dst, "grp=a%3Ab"))
    back = spark.read.parquet(dst).select("id", F.col("grp").cast("string"))
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
