"""Pipe-delimited CSV scans & sinks (operators S3/S4/S7) and text sinks (S8).

The reference's entire inter-stage IR is `|`-separated CSV read with
`dtype=str` (`02_filter_by_CIN.py:94` and every other stage) and written
with `to_csv(sep='|')` (`01_parse_xml.py:208` etc.). The engine keeps CSV at
the edges only (Parquet between stages — SURVEY §1 mapping) but implements
the same scan/sink surface, plus the stage-9 quoted-multiline repair
(`09_clean_tables.py:154-176`) as the `multiLine` option.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_pipe_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    all_string: bool = False,
    multi_line: bool = False,
) -> DataFrame:
    """S3 scan: pipe-separated, headered CSV.

    `all_string=True` reproduces the reference's `dtype=str` loading exactly
    (every column StringType, typing deferred to point-of-use `try_cast`);
    otherwise pass an explicit schema — never infer in production.
    `multi_line=True` is the S4 quoted-newline repair: the reference
    hand-strips newlines inside quotes before parsing; Spark's parser
    handles them natively.
    """
    reader = (
        spark.read.option("sep", "|")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
    )
    if multi_line:
        reader = reader.option("multiLine", True)
    if schema is not None:
        reader = reader.schema(schema)
    elif not all_string:
        reader = reader.option("inferSchema", False)
    df = reader.csv(path)
    if all_string and schema is None:
        for c, t in df.dtypes:
            if t != "string":
                df = df.withColumn(c, df[c].cast("string"))
    return df


def write_pipe_csv(df: DataFrame, path: str) -> None:
    """S7 sink: pipe-separated headered CSV; `overwrite` makes each stage
    idempotent (S10 — replaces the reference's whole-file rewrite after every
    processed contract, `06_extract_tables.py:246,257`).

    One file per partition — a 100 TB sink must never funnel through one
    writer.

    Spark's CSV WRITER trims leading/trailing whitespace by default
    (`ignoreLeading/TrailingWhiteSpace` default true on write, false on
    read) — silent data loss the reference's `to_csv` never has; both are
    pinned false so whitespace-bearing cells round-trip exactly (caught by
    the `test_pipe_csv_roundtrip_arbitrary_content` property fuzz).
    """
    (
        df.write.mode("overwrite")
        .option("sep", "|")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def write_wordlist(df: DataFrame, path: str) -> None:
    """S8 sink: one word per line (the special-dictionary / suggestions
    outputs, `05_build_special_dictionary.py:149-155`,
    `09_clean_tables.py:357-364`). The reference prepends a count header
    line — metadata that belongs in the filename/manifest, not the data."""
    df.coalesce(1).write.mode("overwrite").text(path)
