"""The stage-2 contract filter chain with an auditable discard-reason column.

Faithful re-expression of `02_filter_by_CIN.py:184-298`'s `tosslevel` ladder
(taxonomy per FIXTURES.md §C):

    0  kept
    1  supplier CIN not in companies list        (02:198-203)
   -1  purchaser matches no resort name          (02:205-225)
    2  attachments empty / no https:// link      (02:228-230)
    3  price below threshold or unparseable      (02:233-243)
    4  published before threshold date/malformed (02:246-250)
    5  duplicate of an earlier-kept (name, ID)   (02:254-268)

Semantic details mirrored exactly:

- The reference's first three checks all run unconditionally, each
  OVERWRITING `tosslevel` — so a row failing CIN *and* attachments reports
  reason 2. The CASE ladder below encodes that precedence (2, then -1,
  then 1).
- Price/date/dup checks only run when `tosslevel == 0` so far.
- **Resort early-exit quirk**: the reference's `key_count` logic
  (`02:214-225`) aborts after examining only the FIRST THREE resort columns
  — reproduced by consulting only `resort_names_by_key[:_MAX_RESORT_KEYS]`.
- **Order-dependent dedup** (SURVEY §7 Hard-1): a row is a duplicate only if
  an EARLIER row with the same (normalized name, ID) passed checks 1–4 —
  rows discarded for other reasons never enter the control list. Implemented
  as a window prefix-count over the explicit ingest index, which makes the
  reference's accumulating-list semantics deterministic and distributed.

One lazy DataFrame pass: Catalyst fuses every predicate; the two reference
lists ride along as array literals; the only shuffle is the dedup window
partition. The whole ladder is built as SQL text and handed to Spark in one
`selectExpr` — one py4j call however long the lists are (the reference's
companies list alone has 2,429 rows). The `AND` chains are parenthesized
left to right: the SQL parser balances an unparenthesized chain, and the
left-deep tree is the one `Column` `&` builds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from crz_scraper_spark.functions.sql import sql_ident, sql_str


def _norm_key(sql: str) -> str:
    """Space-stripped key normalization (`02:201`: `.replace(" ","")`)."""
    return f"regexp_replace({sql}, ' ', '')"


def _norm_name(sql: str) -> str:
    """Dedup-key name normalization (`02:263`: strip + newline→space)."""
    return f"trim(regexp_replace({sql}, {sql_str(chr(10))}, ' '))"


# Resort key columns the reference examines before its early exit.
_MAX_RESORT_KEYS = 3


def _array(items) -> str:
    return "array(" + ", ".join(sql_str(s) for s in items) + ")"


def stage2_filter(
    contracts: DataFrame,
    company_cins: list[str],
    resort_names_by_key: list[list[str]],
    price_min: float = 0.0,
    date_min: str | None = None,
) -> DataFrame:
    """Annotate every contract row with `discard_reason` (0 = kept).

    `company_cins` / `resort_names_by_key` are the small curated reference
    lists (companies.csv / resorts.csv — 2,429 rows in the reference); they
    are embedded as array literals, the Spark analog of the reference's
    in-memory Python lists. `price_min` must be finite.

    Callers keep rows with `discard_reason == 0` and may audit the rest —
    the reference only printed the reasons to the console. Duplicates are
    "earlier" in `ingest_idx` order.
    """
    keys = resort_names_by_key[:_MAX_RESORT_KEYS]
    cins = _array(c.replace(" ", "") for c in company_cins)
    resorts = _array(
        n.upper().replace(" ", "") for names in keys for n in names if n
    )

    # NULL inputs (missing CIN/name/links) must read as check-failed, not
    # unknown — coalesce every flag to false (the reference's str() coercion
    # turns missing into 'nan', which fails every membership test).
    cin_ok = f"coalesce(array_contains({cins}, {_norm_key('dodavatel_ico')}), false)"
    purchaser = _norm_key("upper(objednavatel)")
    resort_ok = f"coalesce(exists({resorts}, r -> contains({purchaser}, r)), false)"
    att_ok = (
        "coalesce(((prilohy IS NOT NULL AND size(prilohy) > 0) AND exists("
        "prilohy, a -> contains(coalesce(a.odkaz, ''), 'https://'))), false)"
    )
    # gibberish → reject (02:241)
    price_ok = (
        f"coalesce(try_cast(cena_konecna AS DOUBLE) >= {float(price_min)!r}D, false)"
    )
    date_ok = (
        "true"
        if date_min is None
        else "coalesce(to_timestamp(datum_zverejnenia) >= "
        f"to_timestamp({sql_str(date_min)}), false)"
    )
    pass14 = (
        f"(((({cin_ok} AND {resort_ok}) AND {att_ok}) AND {price_ok})"
        f" AND {date_ok})"
    )

    earlier_kept = (
        f"coalesce(sum(CASE WHEN {pass14} THEN 1 ELSE 0 END) OVER ("
        f"PARTITION BY {_norm_name('nazov')}, id ORDER BY ingest_idx "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    reason = (
        f"CASE WHEN NOT {att_ok} THEN 2 WHEN NOT {resort_ok} THEN -1"
        f" WHEN NOT {cin_ok} THEN 1 WHEN NOT {price_ok} THEN 3"
        f" WHEN NOT {date_ok} THEN 4"
        f" WHEN ({pass14} AND {earlier_kept} > 0) THEN 5 ELSE 0 END"
    )
    return contracts.selectExpr("*", f"{reason} AS discard_reason")


def stage2_clean(filtered: DataFrame) -> DataFrame:
    """Keep survivors and apply the reference's final string normalization
    (`02:275-277`: strip + newline→space on every metadata string column)."""
    return filtered.where("discard_reason = 0").selectExpr(
        *[
            f"{_norm_name(sql_ident(c))} AS {sql_ident(c)}"
            if t == "string"
            else sql_ident(c)
            for c, t in filtered.dtypes
            if c != "discard_reason"
        ]
    )
