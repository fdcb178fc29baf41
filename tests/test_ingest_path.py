"""The ingest path's fixed-overhead contracts: stage 2 built as SQL text
gives the Column-built ladder's reasons, nothing caches the whole dump
behind the clean write, the streaming conf scope, and compaction's file
assignment."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crz_scraper_spark.operators.filtering import stage2_filter

# ---------------------------------------------------------------------------
# Stage 2: SQL text vs the Column-built ladder it replaced.


def _norm_key_col(c: Column) -> Column:
    return F.regexp_replace(c, " ", "")


def _norm_name_col(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, "\n", " "))


def stage2_filter_columns(
    contracts: DataFrame,
    company_cins: list[str],
    resort_names_by_key: list[list[str]],
    price_min: float = 0.0,
    date_min: str | None = None,
) -> DataFrame:
    """The Column-API stage-2 ladder, kept verbatim as the reference the
    SQL-text builder must agree with."""
    cins = F.array(*[F.lit(c.replace(" ", "")) for c in company_cins])
    keys = resort_names_by_key[:3]
    resort_names = [
        n.upper().replace(" ", "") for names in keys for n in names if n
    ]
    resorts = F.array(*[F.lit(n) for n in resort_names])

    cin_ok = F.coalesce(
        F.array_contains(cins, _norm_key_col(F.col("dodavatel_ico"))), F.lit(False)
    )
    purchaser = _norm_key_col(F.upper(F.col("objednavatel")))
    resort_ok = F.coalesce(
        F.exists(resorts, lambda n: purchaser.contains(n)), F.lit(False)
    )

    att = F.col("prilohy")
    att_ok = F.coalesce(
        att.isNotNull()
        & (F.size(att) > 0)
        & F.exists(att, lambda a: F.coalesce(a["odkaz"], F.lit("")).contains("https://")),
        F.lit(False),
    )

    price_ok = F.col("cena_konecna").try_cast("double") >= F.lit(price_min)
    price_ok = F.coalesce(price_ok, F.lit(False))

    if date_min is not None:
        d = F.to_timestamp(F.col("datum_zverejnenia"))
        date_ok = F.coalesce(d >= F.to_timestamp(F.lit(date_min)), F.lit(False))
    else:
        date_ok = F.lit(True)

    pass14 = cin_ok & resort_ok & att_ok & price_ok & date_ok

    w = (
        Window.partitionBy(_norm_name_col(F.col("nazov")), F.col("id"))
        .orderBy(F.col("ingest_idx"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    earlier_kept = F.coalesce(
        F.sum(F.when(pass14, 1).otherwise(0)).over(w), F.lit(0)
    )
    is_dup = pass14 & (earlier_kept > 0)

    reason = (
        F.when(~att_ok, F.lit(2))
        .when(~resort_ok, F.lit(-1))
        .when(~cin_ok, F.lit(1))
        .when(~price_ok, F.lit(3))
        .when(~date_ok, F.lit(4))
        .when(is_dup, F.lit(5))
        .otherwise(F.lit(0))
    )
    return contracts.withColumn("discard_reason", reason)


# Reference-list entries that a naive SQL literal would break or misread.
TRICKY_CINS = ["O'Brien 1", "back\\slash", "50%_off", "trail\\", "a\\'b", "Ľščťžýáíé"]
# The fourth key column lies past the reference's early exit, so "Obec"
# never matches.
TRICKY_RESORTS = [
    ["Ministerstvo vnútra"],
    ["Úrad pre 'kvalitu'", "Dvor\\Súd"],
    ["Ministerstvo\nfinancií", "100% _test", "Štvrtý kľúč"],
    ["Obec"],
]
LINK = [{"odkaz": "https://x/a.pdf"}]


@pytest.fixture(scope="module")
def tricky_contracts(spark):
    rows = [
        # (nazov, id, dodavatel_ico, objednavatel, prilohy, cena, datum)
        ("Z1", "1", "O'Brien1", "Ministerstvo vnútra SR", LINK, "500", "2024-02-01"),
        ("Z2", "2", "back\\slash", "ÚRAD PRE 'KVALITU' SR", LINK, "500", "2024-02-01"),
        ("Z3", "3", "50%_off", "dvor\\súd", LINK, "500", "2024-02-01"),
        ("Z4", "4", "50x_off", "Ministerstvo vnútra", LINK, "500", "2024-02-01"),
        ("Z5", "5", "trail\\", "MINISTERSTVO\nFINANCIÍ", LINK, "500", "2024-02-01"),
        ("Z6", "6", "a\\'b", "100% _TEST s.r.o.", LINK, "500", "2024-02-01"),
        ("Z7", "7", "Ľščťžýáíé", "Štvrtý kľúč", LINK, "500", "2024-02-01"),
        ("Z8", "8", "ab", "Ministerstvo vnútra", LINK, "500", "2024-02-01"),
        ("Z9", "9", "O'Brien1", "Obec", LINK, "500", "2024-02-01"),
        ("Z10", "10", "O'Brien1", "Ministerstvo vnútra", [], "500", "2024-02-01"),
        ("Z11", "11", "O'Brien1", "Ministerstvo vnútra", LINK, "5", "2024-02-01"),
        ("Z12", "12", "O'Brien1", "Ministerstvo vnútra", LINK, "500", "2023-02-01"),
        ("Dup\n", "1", "O'Brien1", "Ministerstvo vnútra", LINK, "500", "2024-02-01"),
        ("Z1 ", "1", "O'Brien1", "Ministerstvo vnútra", LINK, "500", "2024-02-01"),
        (None, None, None, None, None, None, None),
    ]
    return spark.createDataFrame(
        [(*r, i) for i, r in enumerate(rows)],
        "nazov string, id string, dodavatel_ico string, objednavatel string, "
        "prilohy array<struct<odkaz: string>>, cena_konecna string, "
        "datum_zverejnenia string, ingest_idx bigint",
    )


def _reasons(df: DataFrame) -> list[tuple[int, int]]:
    return sorted(
        (r["ingest_idx"], r["discard_reason"])
        for r in df.select("ingest_idx", "discard_reason").collect()
    )


@pytest.mark.parametrize(
    "cins, resorts, date_min",
    [
        (TRICKY_CINS, TRICKY_RESORTS, "2024-01-01"),
        (TRICKY_CINS, TRICKY_RESORTS, None),
        ([], TRICKY_RESORTS, "2024-01-01"),
        (TRICKY_CINS, [], "2024-01-01"),
        (TRICKY_CINS, [[""], []], None),
    ],
    ids=["tricky", "no-date", "empty-cins", "empty-resorts", "blank-resorts"],
)
def test_stage2_sql_text_matches_column_ladder(
    spark, tricky_contracts, cins, resorts, date_min
):
    kw = dict(price_min=100.0, date_min=date_min)
    want = _reasons(stage2_filter_columns(tricky_contracts, cins, resorts, **kw))
    got = _reasons(stage2_filter(tricky_contracts, cins, resorts, **kw))
    assert got == want
    assert len(got) == 15


def test_stage2_tricky_literals_match_themselves(spark, tricky_contracts):
    """The quoted entries are matched as data: each row whose CIN and
    purchaser carry a quote, backslash, `%`/`_`, newline or diacritics is
    kept, and `50x_off` is not read as the pattern `50%_off`."""
    reasons = dict(
        _reasons(
            stage2_filter(
                tricky_contracts,
                TRICKY_CINS,
                TRICKY_RESORTS,
                price_min=100.0,
                date_min="2024-01-01",
            )
        )
    )
    assert [reasons[i] for i in range(15)] == [
        0, 0, 0, 1, 0, 0, 0, 1, -1, 2, 3, 4, 0, 5, 2,
    ]


# ---------------------------------------------------------------------------
# No whole-dump cache behind the clean write.

_CONTRACT = (
    "<contract><nazov>{nazov}</nazov><id>{cid}</id>"
    "<objednavatel>Ministerstvo vnútra</objednavatel>"
    "<dodavatel_ico>11111111</dodavatel_ico>"
    "<datum_zverejnenia>2024-06-01 10:00:00</datum_zverejnenia>"
    "<cena_konecna>5000</cena_konecna>"
    "<prilohy><priloha><velkost>{size}</velkost>"
    "<odkaz>https://x/a.pdf</odkaz></priloha></prilohy>"
    "</contract>"
)


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _is_cached(spark, df: DataFrame) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


@pytest.fixture()
def dump_with_corrupt(tmp_path) -> str:
    """Contracts 1 and 3 are clean; 2 has a non-numeric attachment size
    (corrupt when that field is parsed) and 4 an unescaped '&'."""
    dump = tmp_path / "dump.xml"
    dump.write_text(
        "<?xml version='1.0' encoding='UTF-8'?>\n<zmluvy>\n"
        + _CONTRACT.format(nazov="A", cid="1", size="100")
        + _CONTRACT.format(nazov="B", cid="2", size="abc")
        + _CONTRACT.format(nazov="C", cid="3", size="100")
        + _CONTRACT.format(nazov="R&D", cid="4", size="100")
        + "\n</zmluvy>\n"
    )
    return str(dump)


def test_clean_write_caches_nothing(spark, tmp_path, dump_with_corrupt):
    from crz_scraper_spark.pipeline import contracts_pipeline
    from crz_scraper_spark.sources.xml import read_contracts_xml

    before = _persisted(spark)
    clean, audit, corrupt = contracts_pipeline(
        spark, dump_with_corrupt, ["11111111"], [["Ministerstvo vnútra"]]
    )
    clean.write.mode("overwrite").parquet(str(tmp_path / "clean"))
    assert spark.read.parquet(str(tmp_path / "clean")).count() == 2
    # No new entry; blocks of earlier tests may be released meanwhile.
    assert _persisted(spark) - before == set()
    # No cached plan over the scan serves the clean side, and the write's
    # plan reads the file, not a cache.
    assert not _is_cached(spark, read_contracts_xml(spark, dump_with_corrupt))
    assert not _is_cached(spark, clean)
    assert "InMemoryRelation" not in (
        clean._jdf.queryExecution().optimizedPlan().toString()
    )
    # The corrupt side counts the bad records alone.
    assert corrupt.count() == 2
    assert any("R&D" in r["_corrupt_record"] for r in corrupt.collect())


def test_contracts_pipeline_registers_no_cache(spark, dump_with_corrupt):
    """No output of `contracts_pipeline` enters the CacheManager — not even
    the corrupt side, which a caller may never read — and the corrupt
    side still counts its bad records without one."""
    from crz_scraper_spark.pipeline import contracts_pipeline

    def cache_empty() -> bool:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    _clean, _audit, corrupt = contracts_pipeline(
        spark, dump_with_corrupt, ["11111111"], [["Ministerstvo vnútra"]]
    )
    assert cache_empty()
    assert corrupt.count() == 2
    # Reading only the corrupt-record column needs no cache either.
    bad = [r[0] for r in corrupt.select("_corrupt_record").collect()]
    assert len(bad) == 2 and any("R&D" in r for r in bad)
    assert cache_empty()


def test_clean_side_parses_the_full_row(spark, dump_with_corrupt):
    """A count or a narrow select of `clean` sees the records a full read
    sees: the bad attachment size keeps contract 2 out even when no
    attachment column is read."""
    from crz_scraper_spark.sources.xml import read_contracts_xml, split_corrupt

    clean, corrupt = split_corrupt(read_contracts_xml(spark, dump_with_corrupt))
    assert clean.count() == 2
    assert sorted(r["id"] for r in clean.select("id").collect()) == ["1", "3"]
    assert sorted(r["id"] for r in clean.collect()) == ["1", "3"]


# ---------------------------------------------------------------------------
# One streaming-conf scope.

STATE = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_stream_state_parts_default_and_override(spark, monkeypatch):
    from crz_scraper_spark.streaming.windows import _stream_confs

    with _stream_confs(spark):
        assert spark.conf.get(STATE) == str(
            min(8, spark.sparkContext.defaultParallelism)
        )
        assert spark.conf.get(NO_DATA) == "false"
    # On fewer than 8 cores, one state partition per core.
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda sc: 3)
    )
    with _stream_confs(spark):
        assert spark.conf.get(STATE) == "3"
    with _stream_confs(spark, needs_eviction_batch=True):
        assert spark.conf.get(NO_DATA) == "true"


def test_stream_confs_restored_when_query_raises(spark, tmp_path):
    from crz_scraper_spark.streaming.windows import _drain

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    agg = spark.readStream.schema("id bigint").parquet(src).groupBy().count()
    seen = {}

    def write_batch(batch_df, batch_id):
        seen["state"] = batch_df.sparkSession.conf.get(STATE)
        raise RuntimeError("sink failed")

    before = {k: spark.conf.get(k) for k in (STATE, NO_DATA)}
    spark.conf.set(STATE, "13")
    try:
        with pytest.raises(Exception, match="sink failed"):
            _drain(spark, agg.writeStream.outputMode("update").foreachBatch(write_batch))
        assert seen["state"] == str(min(8, spark.sparkContext.defaultParallelism))
        assert spark.conf.get(STATE) == "13"
        assert spark.conf.get(NO_DATA) == before[NO_DATA]
    finally:
        spark.conf.set(STATE, before[STATE])


# ---------------------------------------------------------------------------
# Compaction's per-partition salt keeps every row in its file: the expected
# files are the ones the Column-API salt (`F.create_map` literal +
# `F.pmod(F.xxhash64(...))`) writes for this fixture.

DAY_DIRS = {"a": "a", "b:c": "b%3Ac", "d'e": "d%27e"}

SMALL_FILES = {
    "a": [[0, 3, 6, 30], [9, 27], [12, 33, 42, 54], [15, 18, 21, 24, 36, 39, 51], [45], [48, 57]],
    "b%3Ac": [[1, 25, 49, 58], [4, 10, 19, 40, 46], [7, 37], [13, 34, 55], [16, 52], [22, 28, 31, 43]],
    "d%27e": [[2, 14, 32, 35, 41, 44, 47], [5, 11, 17, 23, 26, 38, 56], [8, 20], [29, 50, 53, 59]],
}


def _write_fragmented(root: str, files_per_day: int) -> None:
    """60 rows over three `day` partitions (two with Hive-escaped
    directory names), `files_per_day` small files each, written by
    pyarrow so file sizes do not depend on the session's parallelism."""
    for d_i, d in enumerate(DAY_DIRS.values()):
        os.makedirs(f"{root}/day={d}")
        ids = [i for i in range(60) if i % 3 == d_i]
        for k in range(files_per_day):
            chunk = ids[k::files_per_day]
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(chunk, pa.int32()),
                        "txt": [f"t{i:03d}" * 20 for i in chunk],
                    }
                ),
                f"{root}/day={d}/part-{k:05d}.parquet",
            )


def _files_by_day(root: str) -> dict[str, list[list[int]]]:
    out: dict[str, list[list[int]]] = {}
    for f in glob.glob(f"{root}/day=*/*.parquet"):
        ids = sorted(pq.read_table(f).column("id").to_pylist())
        out.setdefault(f.split("/")[-2][len("day="):], []).append(ids)
    return {k: sorted(v) for k, v in out.items()}


def test_compaction_salt_keeps_file_assignment(spark, tmp_path):
    from crz_scraper_spark.operators.compaction import compact_small_files

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _write_fragmented(src, 6)
    audit = compact_small_files(
        spark, src, dst, target_file_bytes=1500, partition_col="day"
    )
    got = _files_by_day(dst)
    assert {k: len(v) for k, v in got.items()} == {
        k: len(v) for k, v in SMALL_FILES.items()
    }
    assert {k: [len(f) for f in v] for k, v in got.items()} == {
        k: [len(f) for f in v] for k, v in SMALL_FILES.items()
    }
    assert got == SMALL_FILES
    assert audit["n_rows"] == 60
