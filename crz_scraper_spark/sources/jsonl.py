"""JSONL (newline-delimited JSON) source/sink — the de-facto interchange
format of training-data pipelines (every public corpus release ships as
.jsonl/.jsonl.gz shards).

Mirrors the XML source's posture (`sources/xml.py`): explicit schema (never
inference at 100 TB — a schema-inference pass reads the corpus twice),
PERMISSIVE parse with `_corrupt_record` capture instead of job-aborting on
a malformed line (the reference's corrupted-file quarantine,
`01_parse_xml.py:18-21,197-200`, at record granularity), and
`split_corrupt`-style routing. Reading is line-splittable: Spark assigns
file splits by byte range and JSONL recovers record boundaries at newline —
the property that makes it the scale-friendly text format (a multiline
JSON array is NOT splittable; never ship one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _probe_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Permissive JSONL scan with corrupt-line capture: rows that fail to
    parse carry the whole raw line in `_corrupt_record` with data columns
    null.

    Implemented as a text scan + `from_json` rather than the native
    `spark.read.json` reader: the native reader forbids any query whose
    pruned scan references only the corrupt column
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — even a bare
    `clean.count()` after the null-filter trips it). The text+from_json
    form has no such restriction, uses the same underlying Jackson parser,
    stays line-splittable, and Catalyst's OptimizeJsonExprs still prunes
    unaccessed fields out of the parse."""
    from pyspark.sql import functions as F

    parsed = F.from_json(
        "value",
        _probe_schema(schema),
        {"columnNameOfCorruptRecord": CORRUPT_COL},
    )
    # from_json yields a NULL struct (corrupt column null too) for empty
    # input — without the isNotNull guard a blank line would pass
    # split_corrupt as a phantom all-null "clean" row. Skipping blanks
    # matches the native JSON reader; a bare `null` literal is captured as
    # a corrupt record (it is not an object row).
    return (
        spark.read.text(path)
        # whitespace-only lines would otherwise parse as corrupt records;
        # the native reader skips them, so do we (cheap codegen filter).
        .filter(F.length(F.trim("value")) > 0)
        .select(parsed.alias("__p"))
        .filter(F.col("__p").isNotNull())
        .select("__p.*")
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_corrupt_col, corrupt_rows).

    The corrupt side keeps the full row shape (data columns null, raw
    line in the corrupt column) for a quarantine sink."""
    clean = df.filter(df[CORRUPT_COL].isNull()).drop(CORRUPT_COL)
    corrupt = df.filter(df[CORRUPT_COL].isNotNull())
    return clean, corrupt
