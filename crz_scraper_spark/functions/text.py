"""Text column expressions re-expressing the reference's string operators.

Every builder returns a `Column` composed of built-in `pyspark.sql.functions`
— JVM-side, whole-stage-codegen'd, no Python in the hot path (SURVEY.md §2.7).

Reference parity (cited file:line into /root/reference):
- tokenize          ≈ the 20-line alphabet scanner
                      (05_build_special_dictionary.py:19-38,
                      09_clean_tables.py:20-38) — operator F13; one regex split.
- substring_count   ≈ Python `str.count(kw)` non-overlapping occurrence count
                      (04_tag_text_contracts.py:118,
                      07_keyword_tag&filter_tables.py:124) — operator A1's
                      scalar core, via the length-difference identity.
- subject_extract   ≈ `find(anchor)` then 600 chars
                      (08_extract_subject.py:42-57) — operator O5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Lowercase Slovak alphabet from 05_build_special_dictionary.py:19-38 plus
# ASCII; anything outside is a token separator. For the driver's synthetic
# docs (ASCII English-ish) the effective alphabet is [a-z0-9].
WORD_SEPARATOR_RE = "[^a-z0-9áäčďéíľĺňóôŕšťúýž]+"


def tokenize(col: Column | str) -> Column:
    """Lowercase + split on non-alphabet runs → array<string> of words (F13).

    Mirrors the reference's character-scanner tokenizer as one regex split;
    empty tokens (leading/trailing separators) must be filtered by the caller
    (`F.filter(tokens, lambda w: w != '')`) to match the scanner's behavior.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), WORD_SEPARATOR_RE)


def tokens_nonempty(col: Column | str) -> Column:
    """`tokenize` with empty strings removed — exact scanner semantics."""
    return F.filter(tokenize(col), lambda w: w != "")


def substring_count(text: Column | str, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal `needle` (A1).

    Identity: (len(t) - len(replace(t, kw, ''))) / len(kw) equals Python's
    `t.count(kw)` for non-overlapping counting — the reference's exact
    semantics (04_tag_text_contracts.py:118). Text and needle are both
    lowercased, as the reference casefolds both sides
    (04_tag_text_contracts.py:72,111).
    """
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    kw = needle.lower()
    return (
        (F.length(t) - F.length(F.replace(t, F.lit(kw), F.lit("")))) / F.lit(len(kw))
    ).cast("bigint")


def natural_sort_key(col: Column | str) -> Column:
    """Alphanumeric ("natural") sort key (O3): `file10` sorts after `file2`.

    The reference hand-rolls digit/non-digit splitting with numeric
    comparison (`04_convert_contracts_to_text.py:51-54`,
    `07_keyword_tag&filter_tables.py:16-19`). Here: split into digit /
    non-digit runs, left-pad digit runs to a fixed width, and emit an
    array<string> — Spark orders arrays lexicographically element-wise, so
    `orderBy(natural_sort_key(c))` gives natural order entirely JVM-side.
    """
    c = F.col(col) if isinstance(col, str) else col
    runs = F.regexp_extract_all(c, F.lit(r"(\d+|\D+)"), 1)
    return F.transform(
        runs,
        lambda r: F.when(
            r.rlike(r"^\d+$"), F.lpad(r, 20, "0")
        ).otherwise(r),
    )


def subject_extract(
    text: Column | str,
    anchors: tuple[str, ...] = ("predmet zmluvy", "úvodné ustanovenia"),
    width: int = 600,
) -> Column:
    """600-char window after the first matching anchor phrase (O5).

    `locate` is 1-based and returns 0 on miss — `nullif(...,0)` turns a miss
    into NULL so `coalesce` falls through anchors in priority order, exactly
    the reference's `find(a) == -1: find(b)` ladder (08_extract_subject.py:42-50).
    Returns NULL when no anchor matches (the reference writes '' — callers
    `coalesce` to '' at the sink when needed).
    """
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    pos = F.coalesce(
        *[F.nullif(F.locate(a.lower(), t), F.lit(0)) for a in anchors]
    )
    return F.when(pos.isNotNull(), F.substring(t, pos, width))
