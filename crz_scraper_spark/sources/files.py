"""Directory-tree and binary sources (operators S5/S6).

Reference behavior: stages 4b/5a/9 list `contracts_text/<ID>/` and build
`{contract_ID: [txt files]}` dicts by os.listdir
(`04_tag_text_contracts.py:27-48`, `05_build_special_dictionary.py:71-93`,
`09_clean_tables.py:61-76`); stages 4a/6 open PDFs per folder
(`04_convert_contracts_to_text.py:265`, `06_extract_tables.py:140-146`).

Spark design: one distributed scan of the whole tree; the contract ID is a
`regexp_extract` on `_metadata.file_path` — no driver-side directory walk.
At 100 TB the tree is millions of files: listing parallelizes across the
cluster and small files should be compacted into Parquet early (the engine
does exactly that: this source feeds a `docs(id, filename, text)` Parquet).

Extension routing (P11, `04_convert_contracts_to_text.py:222-232`) has no
helper here: no query, pipeline or CLI command routes files through one
(`path_derived_metadata_join` classifies paths with its own inline CASE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# <ID>/<file> — the reference's corpus layout (one folder per contract).
ID_FROM_PATH_RE = r".*/([^/]+)/[^/]+$"


def read_text_tree(spark: SparkSession, root: str) -> DataFrame:
    """S5: whole-file text rows (id, filename, text) from the ``*.txt``
    files of a corpus tree."""
    df = (
        spark.read.option("wholetext", True)
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", True)
        .text(root)
    )
    path = F.col("_metadata.file_path")
    return df.select(
        F.regexp_extract(path, ID_FROM_PATH_RE, 1).alias("id"),
        F.element_at(F.split(path, "/"), -1).alias("filename"),
        F.col("value").alias("text"),
    )


def read_binary_tree(spark: SparkSession, root: str) -> DataFrame:
    """S6: binary payload rows (id, filename, length, content) from the
    ``*.txt`` files of a corpus tree — the input shape for the X1–X5
    extraction UDFs (operators/multimodal.py)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", True)
        .load(root)
    )
    return df.select(
        F.regexp_extract(F.col("path"), ID_FROM_PATH_RE, 1).alias("id"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename"),
        F.col("length"),
        F.col("content"),
    )
