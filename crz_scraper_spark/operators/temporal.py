"""Temporal join operators Spark lacks as built-ins: as-of join and
bounded range join — composed from existing DataFrame ops (no UDFs), shaped
so the shuffle is a single hash partition on the `by` key.

No reference counterpart (the reference has no time-series joins — SURVEY.md
§2.3 note); these are the standard training-pipeline / event-log operators
the BASELINE.json scale mandate implies, included as the pattern for
"operator Spark lacks → composition of existing ops".

Scale notes:
- `asof_join` is ONE union + ONE window sort per by-key — no point-in-time
  cross product, no per-row probing. Both inputs shuffle once on the by key;
  state per key is a running last-observation carry-forward.
- `range_join` equi-joins on (by, coarse time bucket) and probes only
  adjacent buckets — the candidate set per row is bounded by bucket width,
  never O(n) per key. The exact range predicate refines after the equi-join,
  so Catalyst still plans a hash join (a raw theta join would fall into a
  nested-loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    by: str,
) -> DataFrame:
    """For each left row, attach the latest right row with
    `right.ts <= left.ts` within the same `by` group (backward as-of join,
    DuckDB/pandas `ASOF JOIN` semantics). Every right column but `ts_col`
    and `by` comes back with the suffix `_asof`.

    Implementation: tag and union both sides, sort per `by` key on
    (ts, side) with right rows first at equal timestamps, carry the right
    values forward with `last(..., ignorenulls=True)`, keep left rows. One
    shuffle (the window partition), linear state — the composition Spark's
    missing built-in would compile to.

    Ties: a right row at exactly left.ts matches (<= semantics). Multiple
    right rows at the same (by, ts): the last under a deterministic
    (ts, tie-break) sort wins; pass pre-deduped rights for full determinism.
    """
    value_cols = [c for c in right.columns if c not in (ts_col, by)]

    l_tag = left.select(
        F.col(by),
        F.col(ts_col),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__rv_{c}") for c in value_cols],
    )
    r_tag = right.select(
        F.col(by),
        F.col(ts_col),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("__lrow"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
    )
    unioned = l_tag.unionByName(r_tag)
    # Right rows sort BEFORE left rows at the same ts (__side 0 < 1), so an
    # equal-timestamp right observation is visible to the left row (<=).
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"__rv_{c}", ignorenulls=True).over(w).alias(f"__carry_{c}")
            for c in value_cols
        ],
    )
    out = carried.filter(F.col("__side") == 1).select(
        *[F.col("__lrow")[c].alias(c) for c in left.columns],
        *[F.col(f"__carry_{c}").alias(f"{c}_asof") for c in value_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    by: str,
    upper_s: int,
) -> DataFrame:
    """All (left, right) pairs in the same `by` group with
    `left.ts <= right.ts <= left.ts + upper_s` (seconds). Right columns
    come back with the suffix `_r`.

    Implementation: bucket both sides by a coarse time window the size of
    the range span, equi-join on (by, bucket) for the right bucket and its
    neighbors (via a small literal offsets explode on the left), then apply
    the exact range predicate. The join stays a hash equi-join — bounded
    fan-out, no BroadcastNestedLoop — which is what survives at 100 TB.
    """
    span = max(upper_s, 1)
    # Bucket width == range span, so [ts, ts+upper] spans at most two
    # consecutive buckets — each left row probes exactly 2 equi-join keys.
    offsets = [0, 1]

    def epoch_s(ts):
        # Fractional epoch seconds via unix_micros: keeps microsecond
        # precision (unix_timestamp truncates to whole seconds, which would
        # misplace boundary rows vs. the exact range predicate below).
        # The timestamp cast normalizes TIMESTAMP_NTZ inputs — ANSI mode
        # forbids a direct numeric cast on them; both sides go through the
        # same session-tz interpretation so bucket and predicate agree.
        return F.unix_micros(ts.cast("timestamp")) / F.lit(1000000.0)

    def bucket(ts):
        return F.floor(epoch_s(ts) / F.lit(span))

    l = left.select(
        *[F.col(c) for c in left.columns],
        F.explode(
            F.array(*[(bucket(F.col(ts_col)) + F.lit(o)) for o in offsets])
        ).alias("__bucket"),
    )
    r = right.select(
        F.col(by).alias("__rby"),
        F.col(ts_col).alias("__rts"),
        *[
            F.col(c).alias(f"{c}_r")
            for c in right.columns
            if c not in (ts_col, by)
        ],
        bucket(F.col("__rts")).alias("__bucket"),
    )
    lo = epoch_s(F.col(ts_col))
    hi = epoch_s(F.col(ts_col)) + F.lit(upper_s)
    rts = epoch_s(F.col("__rts"))
    return (
        l.join(r, (F.col(by) == F.col("__rby")) & (l["__bucket"] == r["__bucket"]))
        .filter((rts >= lo) & (rts <= hi))
        .drop("__bucket", "__rby")
        .withColumnRenamed("__rts", f"{ts_col}_r")
    )
