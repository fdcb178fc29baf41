"""Keyword-count tagging: the reference's stage-4b/7 wide-table semantics.

Reference behavior (operators A1/A2/A3, P9/P10, O1):
- For every document, count non-overlapping occurrences of every keyword in a
  category taxonomy (`04_tag_text_contracts.py:98-119`,
  `07_keyword_tag&filter_tables.py:115-131`), casefolded both sides.
- Roll keyword hits up per category (`04_tag_text_contracts.py:115-119`) and
  to a grand total (`04_tag_text_contracts.py:170-176`).
- The output is a *dynamic wide schema*: one column per keyword + one per
  category + total (`04_tag_text_contracts.py:78-89`).

Spark design: the keyword set is tiny (reference: 6 categories /
`keywords.txt`) — so each count is an independent JVM scalar expression
(length-difference identity, `functions/text.py::substring_count`); all
keywords are computed in ONE scan of the corpus with zero shuffles and zero
Python. The per-category and grand totals are plain column sums over the
already-computed keyword columns — no second pass, no groupBy at all.

Scale note (SURVEY.md §7 Hard-4): this is O(keywords × corpus) inside
whole-stage codegen, which suits the reference's taxonomy. The large-taxonomy
tiers (Arrow-batched counting, an Aho-Corasick automaton) are not here: no
query, pipeline or CLI command tags with more than a handful of keywords.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import substring_count

# Default taxonomy over the driver's synthetic corpus vocabulary, playing the
# role of keywords.txt:1-6 (category name first, then its keywords).
DEFAULT_TAXONOMY: dict[str, list[str]] = {
    "exec": ["sort", "merge", "join", "hash"],
    "data": ["table", "row", "column", "vector"],
    "flow": ["stream", "batch", "window"],
}


def _safe(name: str) -> str:
    """Column-safe ASCII slug for a keyword (reference uses raw keyword text
    as the CSV header cell; parquet/SQL need identifier-safe names)."""
    s = unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode()
    return re.sub(r"[^A-Za-z0-9_]", "_", s).lower()


def keyword_tag(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    taxonomy: dict[str, list[str]] | None = None,
    carry: list | None = None,
) -> DataFrame:
    """Wide keyword/category/total hit-count table, one row per document.

    Columns: id, [carry...,] kw_<keyword>... , cat_<category>... ,
    total_hits. Counts are Python-`str.count` (non-overlapping) semantics
    (`04_tag_text_contracts.py:118`). `carry` takes extra Column
    expressions to compute IN the same projection — the whole operator is
    map-only, so consumers that also need text-derived columns
    (doc length, subject window, quality score) pass them here instead of
    joining a second projection of the same scan back by id (an avoidable
    full-corpus shuffle — the curation_pipeline round-4 lesson)."""
    tax = taxonomy or DEFAULT_TAXONOMY
    kw_cols = []
    for cat, kws in tax.items():
        for kw in kws:
            kw_cols.append(substring_count(text_col, kw).alias(f"kw_{_safe(kw)}"))
    out = docs.select(F.col(id_col), *(carry or []), *kw_cols)
    for cat, kws in tax.items():
        total = None
        for kw in kws:
            c = F.col(f"kw_{_safe(kw)}")
            total = c if total is None else total + c
        out = out.withColumn(f"cat_{_safe(cat)}", total)
    grand = None
    for cat in tax:
        c = F.col(f"cat_{_safe(cat)}")
        grand = c if grand is None else grand + c
    return out.withColumn("total_hits", grand)


def tag_rank_filter(docs: DataFrame) -> DataFrame:
    """Tag + rank + filter: the full stage-4b chain (A1→A3, O1, P10) over
    ``(doc_id, text)`` with `DEFAULT_TAXONOMY`.

    Ranks by (total_hits desc, n_chars desc) — the reference's multi-key
    descending ranking sort (`04_tag_text_contracts.py:189-195`, char count
    appended at `04_tag_text_contracts.py:180-181`) — and drops zero-hit
    documents (`04_tag_text_contracts.py:198-211`). The char count rides
    the tagging projection via `carry` (one scan, zero joins — the old
    id-join of two projections of the same scan was a full-corpus
    shuffle for a map-only column).
    """
    with_len = keyword_tag(
        docs, carry=[F.length("text").alias("n_chars_calc")]
    )
    return (
        with_len.filter(F.col("total_hits") > 0)
        .orderBy(F.desc("total_hits"), F.desc("n_chars_calc"), F.asc("doc_id"))
    )
