"""XML contract-dump source (operators S1/S2).

Reference behavior: `01_parse_xml.py:14,69-77` parses each daily dump with
lxml `recover=True`, iterates `<contract>` elements, and copies unparseable
files to `Corrupted_XML_files/` (`01_parse_xml.py:18-21,197-200`); fields are
then extracted by hard-coded positional index into a recursively flattened
node list (`01_parse_xml.py:87-116`).

Spark design: the native XML source (Spark 4) with `rowTag` gives a typed
nested row per contract — positional extraction becomes schema-on-read; the
PERMISSIVE + corrupt-record column replaces the corrupted-files directory
(route rows where `_corrupt_record IS NOT NULL` to a quarantine sink instead
of copying whole files). At 100 TB the dump set is thousands of daily files:
one distributed scan, no per-file Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from crz_scraper_spark.functions.sql import sql_ident, sql_str

CORRUPT_COL = "_corrupt_record"

# Typed contract schema mirroring the 22-column table of
# `01_parse_xml.py:202-203` (FIXTURES.md B1) — real types instead of
# all-strings: timestamps for the 5 dates, long sizes, nested attachments.
ATTACHMENT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("att_id", T.StringType()),
            T.StructField("nazov", T.StringType()),
            T.StructField("subor", T.StringType()),
            T.StructField("velkost", T.LongType()),
            T.StructField("odkaz", T.StringType()),
            T.StructField("datum", T.StringType()),
        ]
    )
)

# Supplements are DOUBLY nested: each dodatok carries its own attachments
# array (`03_download_contracts.py:640-653` re-parses the inner list literal
# per supplement) — here it's just a nested ArrayType(Struct) level.
SUPPLEMENT_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("dod_id", T.StringType()),
            T.StructField("nazov", T.StringType()),
            T.StructField("cena", T.StringType()),
            T.StructField("datum", T.StringType()),
            T.StructField(
                "prilohy", T.StructType([T.StructField("priloha", ATTACHMENT_TYPE)])
            ),
        ]
    )
)

CONTRACT_SCHEMA = T.StructType(
    [
        T.StructField("nazov", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("inner_id", T.StringType()),
        T.StructField("objednavatel_ico", T.StringType()),
        T.StructField("objednavatel", T.StringType()),
        T.StructField("objednavatel_adresa", T.StringType()),
        T.StructField("dodavatel_ico", T.StringType()),
        T.StructField("dodavatel", T.StringType()),
        T.StructField("dodavatel_adresa", T.StringType()),
        T.StructField("datum_zverejnenia", T.StringType()),
        T.StructField("datum_podpisu", T.StringType()),
        T.StructField("datum_platnosti", T.StringType()),
        T.StructField("datum_ucinnosti", T.StringType()),
        T.StructField("posledna_zmena", T.StringType()),
        T.StructField("cena_konecna", T.StringType()),
        T.StructField("cena_podpisana", T.StringType()),
        T.StructField("rezort", T.StringType()),
        T.StructField("typ", T.StringType()),
        T.StructField("stav", T.StringType()),
        T.StructField(
            "prilohy", T.StructType([T.StructField("priloha", ATTACHMENT_TYPE)])
        ),
        T.StructField(
            "dodatky", T.StructType([T.StructField("dodatok", SUPPLEMENT_TYPE)])
        ),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)


def read_contracts_xml(spark: SparkSession, path: str) -> DataFrame:
    """Permissive XML scan: one row per `<contract>`, corrupt rows captured
    in `_corrupt_record` (S2) rather than aborting the scan (the Spark
    equivalent of lxml `recover=True` + the corrupted-files directory)."""
    return (
        spark.read.format("xml")
        .option("rowTag", "contract")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(CONTRACT_SCHEMA)
        .load(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, corrupt) — route bad records like `Corrupted_XML_files/`.

    Nothing is cached: each consumed output parses the dump again
    (discard tallies ride the clean write via `pipeline.observe_discards`).
    A record is corrupt only if a field the parser reads fails to convert,
    so both filters name every data column (`c IS NULL OR c IS NOT NULL`,
    kept by Catalyst): a narrow select or a bare count parses the full row
    and sees the same records, and a query over the corrupt side never
    reads only the corrupt-record column, which Spark refuses
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN).
    """
    full_row = " AND ".join(
        f"({sql_ident(c)} IS NULL OR {sql_ident(c)} IS NOT NULL)"
        for c in df.columns
        if c != CORRUPT_COL
    )
    clean = df.where(f"{CORRUPT_COL} IS NULL AND {full_row}").drop(CORRUPT_COL)
    corrupt = df.where(f"{CORRUPT_COL} IS NOT NULL AND {full_row}")
    return clean, corrupt


def flatten_contracts(df: DataFrame) -> DataFrame:
    """Unwrap the XML nesting into the flat 22-column contracts table
    (P1 positional projection, done by name instead of node index) with a
    stable ingest index for order-dependent dedup (SURVEY §7 Hard-1 ≈
    `01_parse_xml.py:191-195`'s total_index).

    One projection, built as SQL text. `dodatky` also loses the inner
    per-supplement attachment wrapper — array<struct<..., prilohy:
    array<struct>>>, the doubly nested form `explode(dodatky)` +
    `explode(prilohy)` consumes — rebuilt as the expression Catalyst
    expands `Column.withField` into."""
    sup = df.schema["dodatky"].dataType["dodatok"].dataType.elementType
    fields = ", ".join(
        f"{sql_str(f)}, d.{sql_ident(f)}" + (".priloha" if f == "prilohy" else "")
        for f in sup.fieldNames()
    )
    unwrap = {
        "prilohy": "prilohy.priloha AS prilohy",
        "dodatky": "transform(dodatky.dodatok, d -> IF(d IS NULL, NULL, "
        f"named_struct({fields}))) AS dodatky",
    }
    return df.selectExpr(
        *[unwrap.get(c, sql_ident(c)) for c in df.columns],
        "monotonically_increasing_id() AS ingest_idx",
    )
