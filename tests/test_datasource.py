"""Python DataSource (`crz_dump`) tests: zip + xml daily dumps, file-level
date pruning, corrupt-file routing, and parity with the native XML reader
on the same contracts."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from tests.test_pipeline import _contract_xml


def _dump_bytes(*cids: str) -> bytes:
    body = "\n".join(_contract_xml(c) for c in cids)
    return (
        "<?xml version='1.0' encoding='UTF-8'?>\n<dump>\n"
        + body
        + "\n</dump>"
    ).encode()


@pytest.fixture(scope="module")
def drop_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("drop")
    (d / "2024-06-01.xml").write_bytes(_dump_bytes("1", "2"))
    with zipfile.ZipFile(d / "2024-06-02.zip", "w") as zf:
        zf.writestr("2024-06-02.xml", _dump_bytes("3"))
    (d / "2024-06-03.xml").write_bytes(b"<dump><contract><nazov>broken")
    (d / "notes.txt").write_bytes(b"ignored")
    return str(d)


@pytest.fixture(scope="module")
def registered(spark):
    from crz_scraper_spark.sources.crz_datasource import register

    register(spark)
    return spark


def test_reads_xml_and_zip_days(registered, drop_dir):
    df = registered.read.format("crz_dump").load(drop_dir).cache()
    clean = df.filter(F.col("_corrupt_record").isNull())
    assert sorted(r["id"] for r in clean.select("id").collect()) == ["1", "2", "3"]
    # the zipped day parsed without pre-extraction
    assert (
        clean.filter(F.col("dump_date") == "2024-06-02").first()["id"] == "3"
    )
    # typed nested output + partition-key column
    row = clean.filter(F.col("id") == "1").first()
    assert row["prilohy_odkazy"] == ["https://x/a.pdf"] and row["n_prilohy"] == 1
    assert str(row["dump_date"]) == "2024-06-01"


def test_corrupt_file_routed_not_fatal(registered, drop_dir):
    df = registered.read.format("crz_dump").load(drop_dir)
    bad = df.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and str(bad[0]["dump_date"]) == "2024-06-03"


def test_date_range_prunes_files(registered, drop_dir):
    df = (
        registered.read.format("crz_dump")
        .option("start_date", "2024-06-02")
        .option("end_date", "2024-06-02")
        .load(drop_dir)
    )
    assert [str(r["dump_date"]) for r in df.collect()] == ["2024-06-02"]


def test_parity_with_native_xml_reader(registered, drop_dir, tmp_path):
    from crz_scraper_spark.sources.xml import read_contracts_xml, split_corrupt

    (tmp_path / "day.xml").write_bytes(_dump_bytes("1", "2"))
    native, _ = split_corrupt(
        read_contracts_xml(registered, str(tmp_path / "day.xml"))
    )
    ds = (
        registered.read.format("crz_dump")
        .option("end_date", "2024-06-01")
        .load(drop_dir)
    )
    cols = ["id", "nazov", "dodavatel_ico", "cena_konecna", "datum_zverejnenia"]
    a = sorted(map(tuple, native.select(*cols).collect()))
    b = sorted(map(tuple, ds.select(*cols).collect()))
    assert a == b


def test_streaming_incremental_days(registered, tmp_path):
    """Each newly-dropped daily file becomes one micro-batch; the offset
    (last consumed filename) makes re-processing exactly-once."""
    d = tmp_path / "stream_drop"
    d.mkdir()
    (d / "2024-06-01.xml").write_bytes(_dump_bytes("1", "2"))
    q = (
        registered.readStream.format("crz_dump")
        .load(str(d))
        .writeStream.format("memory")
        .queryName("crz_stream_test")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = sorted(
            r["id"] for r in registered.table("crz_stream_test").collect()
        )
        assert got1 == ["1", "2"]
        with zipfile.ZipFile(d / "2024-06-02.zip", "w") as zf:
            zf.writestr("2024-06-02.xml", _dump_bytes("3"))
        q.processAllAvailable()
        got2 = sorted(
            r["id"] for r in registered.table("crz_stream_test").collect()
        )
        assert got2 == ["1", "2", "3"]  # day 1 NOT re-emitted
    finally:
        q.stop()


def test_datasource_writer_two_phase_commit(spark, tmp_path):
    """The crz_dump batch writer: per-task unique part files + driver-side
    _MANIFEST commit; round-trip preserves values; the manifest row count
    equals the written count."""
    from crz_scraper_spark.sources.crz_datasource import register

    register(spark)
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) if i % 3 else None) for i in range(100)],
        "id bigint, nazov string, cena double",
    ).repartition(4)
    out = str(tmp_path / "dump_out")
    df.write.format("crz_dump").mode("append").option("path", out).save()

    import os

    manifest = os.path.join(out, "_MANIFEST")
    assert os.path.exists(manifest)
    lines = [l.split("\t") for l in open(manifest).read().splitlines()]
    assert sum(int(n) for _f, n in lines) == 100
    files = {f for f, _n in lines}
    on_disk = {f for f in os.listdir(out) if f.startswith("part-")}
    assert files == on_disk  # nothing orphaned, nothing missing

    back = (
        spark.read.option("sep", "|")
        .option("header", True)
        .schema("id bigint, nazov string, cena double")
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_datasource_writer_overwrite_removes_stale_parts(spark, tmp_path):
    """mode('overwrite') must leave ONLY the new write's part files: a
    plain (non-manifest-aware) spark.read.csv over the directory sees
    exactly the second dataset, never stale rows from the first."""
    from crz_scraper_spark.sources.crz_datasource import register

    register(spark)
    out = str(tmp_path / "dump_overwrite")
    first = spark.createDataFrame(
        [(i, f"old{i}") for i in range(50)], "id bigint, nazov string"
    ).repartition(3)
    first.write.format("crz_dump").mode("overwrite").option("path", out).save()
    second = spark.createDataFrame(
        [(i, f"new{i}") for i in range(20)], "id bigint, nazov string"
    ).repartition(2)
    second.write.format("crz_dump").mode("overwrite").option("path", out).save()

    import os

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    manifest = {
        l.split("\t")[0] for l in open(os.path.join(out, "_MANIFEST"))
    }
    assert set(parts) == manifest
    back = (
        spark.read.option("sep", "|")
        .option("header", True)
        .schema("id bigint, nazov string")
        .csv(out)
    )
    assert back.count() == 20
    assert sorted(r["nazov"] for r in back.collect()) == sorted(
        f"new{i}" for i in range(20)
    )


def test_datasource_writer_abort_removes_orphans(tmp_path):
    """abort() must delete every part file named by a commit message —
    failed jobs leave no partial output visible (no _MANIFEST is written)."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from crz_scraper_spark.sources.crz_datasource import CRZDumpWriter

    out = str(tmp_path / "aborted")
    schema = StructType(
        [StructField("id", LongType()), StructField("nazov", StringType())]
    )
    w = CRZDumpWriter({"path": out}, schema, overwrite=False)
    msgs = [w.write(iter([(1, "a"), (2, "b")])), w.write(iter([(3, "c")]))]
    assert len(os.listdir(out)) == 2
    w.abort(msgs + [None])  # a failed task reports None
    assert os.listdir(out) == []  # no orphans, no manifest


def test_jsonl_corrupt_routing(spark, sf_dir):
    """The injected corrupt cohort (doc_id % 41 == 0) lands whole in
    _corrupt_record; the clean cohort is exactly the complement."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crz_scraper_spark.plans.fixture_plans import _fixture_dir
    from crz_scraper_spark.plans.parity_plans import jsonl_ingest_roundtrip
    from crz_scraper_spark.sources.jsonl import (
        CORRUPT_COL,
        read_jsonl,
        split_corrupt,
    )

    jsonl_ingest_roundtrip(spark, sf_dir).count()  # materialize fixture
    out_dir = _fixture_dir("jsonl_ingest_fixture", sf_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    clean, corrupt = split_corrupt(read_jsonl(spark, out_dir, schema))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_bad = docs.filter(F.col("doc_id") % 41 == 0).count()
    n_all = docs.count()
    assert corrupt.count() == n_bad
    assert clean.count() == n_all - n_bad
    # Corrupt lines carry the raw text for quarantine, not nulls.
    raw = corrupt.select(CORRUPT_COL).collect()
    assert all(r[0].startswith('{"doc_id') for r in raw)


def test_jsonl_write_read_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from crz_scraper_spark.sources.jsonl import read_jsonl, split_corrupt

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(1, 'plain'), (2, 'with "quotes" and | pipes'), (3, None)], schema
    )
    out = str(tmp_path / "shards")
    df.write.mode("overwrite").json(out)
    back, _ = split_corrupt(read_jsonl(spark, out, schema))
    assert {tuple(r) for r in back.collect()} == {
        (1, "plain"), (2, 'with "quotes" and | pipes'), (3, None)
    }


def test_jsonl_blank_lines_skipped(spark, tmp_path):
    """Blank/whitespace-only lines never become phantom all-null clean
    rows; a bare `null` literal is quarantined as corrupt (not an object
    row)."""
    from pyspark.sql import types as T

    from crz_scraper_spark.sources.jsonl import read_jsonl, split_corrupt

    p = tmp_path / "f.jsonl"
    p.write_text('{"doc_id": 1}\n\n   \nnull\n{"doc_id": 2}\nnot json\n')
    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    clean, corrupt = split_corrupt(read_jsonl(spark, str(p), schema))
    assert {r["doc_id"] for r in clean.collect()} == {1, 2}
    assert clean.count() == 2  # no phantom rows from blank lines
    assert corrupt.count() == 2  # 'null' literal + the malformed line
