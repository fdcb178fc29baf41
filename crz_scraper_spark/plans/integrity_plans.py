"""Data-integrity and incremental-maintenance plans: per-partition
checksums, mergeable incremental rollups, min-max pruning indexes, and
space-filling-curve layout keys.

At 100 TB a table is thousands of partitions maintained over months; the
operational questions become "did this partition replicate correctly"
(checksum), "can I update yesterday's aggregate without rescanning history"
(incremental merge), "which files can this query skip" (min-max index), and
"how should rows be co-located for multi-column skipping" (Z-order). The
reference's analogue is its rewrite-everything checkpoint
(`06_extract_tables.py:246,257`) — these plans are the at-scale replacements,
complementing operators/upsert.py (partition-scoped upsert, snapshot diff,
compaction).

All four are fully oracle-checked. Hashes use the engine-portable md5→bigint
idiom (same as minhash_near_dup_md5); sums of row hashes accumulate in
DECIMAL(38,0) (order-independent, overflow-free for ~10^19 rows × 60-bit
hashes); money/value sums use the decimal pattern from functions/casts.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import load_table

# ---------------------------------------------------------------------------
# table_checksum — order-independent per-partition content checksum: one
# 60-bit hash per row (md5 of the stable key fields), XORed per day
# partition. XOR is commutative ⇒ the checksum is independent of row order,
# task count, and merge order, and partial checksums from partial scans
# merge by xor — replica comparison at 100 TB is then a per-partition
# equality join of two tiny checksum tables (the snapshot_diff fast path:
# only partitions whose checksums differ need the row-level diff).
# One map-side partial agg + one exchange of day-sized groups.
# ---------------------------------------------------------------------------


def _row_hash_spark() -> F.Column:
    s = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
    )
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


_ROW_HASH_SQL = (
    "('0x' || substr(md5(concat_ws('|', event_id::VARCHAR, user_id::VARCHAR,"
    " event_type, epoch_us(ts)::VARCHAR)), 1, 15))::BIGINT"
)


def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two independent order/partitioning-insensitive components, both exact
    # BIGINTs (a raw wide-decimal SUM would exceed float64 precision on the
    # driver's pandas materialization path and hash nondeterministically):
    # - bit_xor of the 60-bit row hashes (partials merge by xor), which is
    #   blind to rows whose multiplicity changes by an EVEN amount
    #   ({A,A,B,B} xors to 0), and
    # - the hash sum mod 2^60 (exact through DECIMAL(38,0) partials, result
    #   < 2^60 fits BIGINT), which is multiplicity-sensitive and covers
    #   exactly that blind spot. Corruption must now collide both.
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("__rh", _row_hash_spark())
        .groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(
            F.count("*").alias("n_rows"),
            F.bit_xor(F.col("__rh")).alias("checksum"),
            F.expr(
                "CAST(sum(CAST(__rh AS DECIMAL(38,0)))"
                " % 1152921504606846976 AS BIGINT)"
            ).alias("checksum_sum"),
        )
    )


TABLE_CHECKSUM_SQL = f"""
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_rows,
       CAST(bit_xor({_ROW_HASH_SQL}) AS BIGINT) AS checksum,
       CAST(sum({_ROW_HASH_SQL}) % 1152921504606846976 AS BIGINT)
           AS checksum_sum
FROM events
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# incremental_daily_rollup — incremental aggregate maintenance: the standing
# per-(day, event_type) rollup is NOT recomputed from history when a new day
# arrives; the base aggregate (ts < cutoff, i.e. "yesterday's materialized
# rollup") and the delta aggregate (ts >= cutoff, the new increment) are
# each computed over disjoint inputs and MERGED by re-aggregating their
# union — count and decimal-sum are mergeable partials, so merged == direct
# full aggregate, which is exactly what the oracle computes directly. At
# 100 TB the base side is a saved table (no scan at all); daily cost is
# O(increment), not O(history).
# ---------------------------------------------------------------------------

_ROLLUP_CUTOFF = "2024-03-01"


def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        F.to_date(F.col("ts").cast("timestamp")).alias("day"),
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n"), F.sum("v").alias("sv")
        )

    base = partial(events.filter(F.col("day") < F.lit(_ROLLUP_CUTOFF)))
    delta = partial(events.filter(F.col("day") >= F.lit(_ROLLUP_CUTOFF)))
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("sv").alias("sum_partial"))
        .select(
            "day",
            "event_type",
            "n_events",
            F.round(F.col("sum_partial"), 2).cast("double").alias("sum_value"),
        )
    )


INCREMENTAL_DAILY_ROLLUP_SQL = """
SELECT CAST(ts AS DATE) AS day, event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# partition_minmax_index — the file-skipping index: per partition, min/max
# of the columns queries filter on (what parquet stores per row group and
# what partition pruning consults). A query with `value BETWEEN a AND b`
# touches only partitions whose [vmin, vmax] intersects — the index table
# is thousands of rows regardless of data volume. Single partial+final agg.
# ---------------------------------------------------------------------------


def partition_minmax_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date(F.col("ts").cast("timestamp")).alias("day"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("user_id").alias("user_min"),
            F.max("user_id").alias("user_max"),
            F.round(F.min("value"), 6).alias("value_min"),
            F.round(F.max("value"), 6).alias("value_max"),
        )
    )


PARTITION_MINMAX_INDEX_SQL = """
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_rows,
       min(user_id) AS user_min,
       max(user_id) AS user_max,
       round(min(value), 6) AS value_min,
       round(max(value), 6) AS value_max
FROM events
GROUP BY 1
"""

# ---------------------------------------------------------------------------
# zorder_layout_key — multi-column clustering key: interleave the bits of
# the two filter columns (user_id, day-ordinal) so that sorting by the key
# co-locates rows close in BOTH dimensions — min-max ranges per file then
# stay tight for either filter, the property Delta/Iceberg OPTIMIZE ZORDER
# exploits. The interleave is 16 unrolled shift-or terms per column — pure
# codegen scalar math, generated from one Python loop so the Spark
# expression and the oracle SQL cannot drift. Map-only; the actual layout
# rewrite is `df.repartitionByRange(zkey).sortWithinPartitions(zkey)`.
# ---------------------------------------------------------------------------

_Z_BITS = 16


def _z_terms(a: str, b: str) -> tuple[str, str]:
    """(spark_expr, duckdb_expr) interleaving the low _Z_BITS of a and b."""
    spark_terms, duck_terms = [], []
    for i in range(_Z_BITS):
        # bit i of a → position 2i ; bit i of b → position 2i+1
        spark_terms.append(f"shiftleft(({a} >> {i}) & 1, {2 * i})")
        spark_terms.append(f"shiftleft(({b} >> {i}) & 1, {2 * i + 1})")
        duck_terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        duck_terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(spark_terms), " + ".join(duck_terms)


def zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    day_ord = "datediff(to_date(cast(ts as timestamp)), date'2024-01-01')"
    z_spark, _ = _z_terms("user_id", "day_ord")
    return (
        events.select(
            "event_id",
            F.col("user_id"),
            F.expr(day_ord).cast("bigint").alias("day_ord"),
        )
        .select(
            "event_id",
            "user_id",
            "day_ord",
            F.expr(z_spark).cast("bigint").alias("zkey"),
        )
    )


def _zorder_sql() -> str:
    _, z_duck = _z_terms("user_id", "day_ord")
    return f"""
SELECT event_id, user_id, day_ord, CAST({z_duck} AS BIGINT) AS zkey
FROM (
  SELECT event_id, user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS day_ord
  FROM events
)
"""


# ---------------------------------------------------------------------------
# range_split_points — how a range-partitioned layout picks its boundaries
# (what repartitionByRange's sampled RangePartitioner estimates, computed
# exactly): the i/R equi-depth quantiles of the sort key, plus the exact
# row count at-or-below each boundary as the balance audit. The boundaries
# are actual data values (integer-exact). The quantile aggregate is one
# pass; the audit join is a boundary-count-sized broadcast.
# ---------------------------------------------------------------------------

_RANGE_BUCKETS = 8


def range_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Boundaries come from an EXPLICIT integer-rank selection (value at
    # row_number ceil(i*n/R), 1-based), not each engine's quantile builtin:
    # percentile_disc/quantile_disc tie/index conventions are
    # engine-version-sensitive at exact-integer ranks, which is a driver
    # correctness hazard (round-1 quality_band_filter). The rank window
    # runs over the single narrow sort-key column.
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    r = _RANGE_BUCKETS
    ranked = events.select("user_id").select(
        "user_id",
        F.row_number().over(Window.orderBy("user_id")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    idx = spark.range(1, r).select(F.col("id").alias("bucket_id"))
    bounds = ranked.join(
        F.broadcast(idx),
        F.col("rn") == F.expr(f"(bucket_id * n + {r - 1}) div {r}"),
    ).select("bucket_id", F.col("user_id").alias("boundary"))
    return (
        events.join(F.broadcast(bounds))
        .filter(F.col("user_id") <= F.col("boundary"))
        .groupBy("bucket_id", "boundary")
        .agg(F.count("*").alias("n_rows_le"))
    )


def _range_split_points_sql() -> str:
    r = _RANGE_BUCKETS
    idx = ", ".join(f"({i})" for i in range(1, r))
    return f"""
WITH ranked AS (
  SELECT user_id, row_number() OVER (ORDER BY user_id) AS rn,
         count(*) OVER () AS n
  FROM events
),
pts AS (
  SELECT b.i AS bucket_id, ranked.user_id AS boundary
  FROM (VALUES {idx}) b(i)
  JOIN ranked ON ranked.rn = (b.i * ranked.n + {r - 1}) // {r}
)
SELECT p.bucket_id, p.boundary, count(*) AS n_rows_le
FROM events e JOIN pts p ON e.user_id <= p.boundary
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# mixture_weights — temperature-scaled source mixture (the multinomial
# sampling weights a pretraining run assigns per data source): raw share
# n_s/N is flattened with exponent 1/T and renormalized; T=2 ⇒ sqrt, which
# is correctly-rounded IEEE on both engines (a general pow() could differ
# in the last ulp). The whole computation runs on the source-count table —
# one corpus-sized count agg, then scalar math on ~20 rows.
# ---------------------------------------------------------------------------


def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"),
    )
    return (
        counts.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("raw_share"),
            F.round(
                F.sqrt(F.col("n_docs").cast("double")) / F.col("z"), 6
            ).alias("t2_weight"),
        )
    )


MIXTURE_WEIGHTS_SQL = """
WITH counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT sum(n_docs) AS total, sum(sqrt(n_docs)) AS z FROM counts)
SELECT source, n_docs,
       round(n_docs / total, 6) AS raw_share,
       round(sqrt(n_docs) / z, 6) AS t2_weight
FROM counts, tot
"""


# ---------------------------------------------------------------------------
# value_time_regression — per-segment OLS trend + correlation ("is this
# metric drifting?"): slope/corr of value against time. Spark has
# regr_slope/corr built-ins, but their double accumulators are
# summation-order-dependent — a parallel aggregate cannot hash-match a
# serial oracle. So the moments (Sx, Sxx, Sy, Syy, Sxy) accumulate in
# exact integer/decimal types (day ordinals × decimal(18,4) values — the
# decimal-moments discipline of value_stats/value_outliers), and the
# float division happens ONCE, on identical exact inputs, in an identical
# expression shape ⇒ bit-identical doubles. Still one partial+final agg.
# ---------------------------------------------------------------------------


def value_time_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "datediff(to_date(cast(ts as timestamp)), date'2024-01-01')"
        ).cast("bigint").alias("x"),
        F.col("value").cast("decimal(18,4)").alias("y"),
    )
    m = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "event_type",
        "n",
        F.round(num.cast("double") / varx.cast("double"), 6).alias(
            "slope_per_day"
        ),
        F.round(
            num.cast("double")
            / F.sqrt(varx.cast("double") * vary.cast("double")),
            6,
        ).alias("corr_xy"),
    )


VALUE_TIME_REGRESSION_SQL = """
WITH m AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(x * x) AS sxx,
         sum(y) AS sy, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM (
    SELECT event_type,
           CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
             AS x,
           CAST(value AS DECIMAL(18,4)) AS y
    FROM events
  )
  GROUP BY event_type
)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_day,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_xy
FROM m
"""


# ---------------------------------------------------------------------------
# referential_integrity_audit — the constraint checker a lakehouse runs
# nightly: parquet enforces no foreign keys, so orphaned facts (deleted
# dims, partial loads, replay gaps) accumulate silently until a join
# silently drops them. One row per declared FK edge with the fact volume,
# distinct key count, and orphan count — each computed as one left-anti
# aggregate (shuffle on the key, dim side broadcast when small; never a
# row-level materialization of violations). n_orphans == 0 everywhere is
# the PASS state; the volumes make the audit a content check, not a
# constant.
# ---------------------------------------------------------------------------

_FK_EDGES = [
    # (check name, fact table, fact key, dim table, dim key)
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
]


def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for check, fact, fk, dim, dk in _FK_EDGES:
        f = load_table(spark, sf_dir, fact).select(F.col(fk).alias("k"))
        # ONE pass per edge (optimization r10, guide §1.2 step 1): a
        # marker LEFT join against the DISTINCT dim keys makes n_orphans
        # a conditional count of the same aggregation that computes
        # n_rows/n_keys — the former shape scanned every fact table TWICE
        # per edge (a stats agg plus a separate anti-join agg; lineitem,
        # on three edges, was scanned six times per audit). distinct()
        # keeps the join 1:1 per fact row whatever the dim's key
        # multiplicity, so count(*) stays exact; marker IS NULL ≡
        # anti-join survivor (NULL fact keys match nothing on either
        # shape). No broadcast hint: the lineitem->orders edge's "dim" is
        # itself fact-sized at scale — AQE picks the strategy.
        d = (
            load_table(spark, sf_dir, dim)
            .select(F.col(dk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        row = f.join(d, "k", "left").agg(
            F.lit(check).alias("fk_check"),
            F.count("*").alias("n_rows"),
            F.count_distinct("k").alias("n_keys"),
            F.count(F.when(F.col("__hit").isNull(), 1)).alias("n_orphans"),
        )
        out = row if out is None else out.union(row)
    return out.orderBy("fk_check")


def _ref_integrity_sql() -> str:
    parts = []
    for check, fact, fk, dim, dk in _FK_EDGES:
        parts.append(
            f"""SELECT '{check}' AS fk_check,
       (SELECT count(*) FROM {fact}) AS n_rows,
       (SELECT count(DISTINCT {fk}) FROM {fact}) AS n_keys,
       (SELECT count(*) FROM {fact} f LEFT JOIN {dim} d
          ON f.{fk} = d.{dk} WHERE d.{dk} IS NULL) AS n_orphans"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY fk_check"


QUERIES: dict = {
    "table_checksum": (table_checksum, TABLE_CHECKSUM_SQL),
    "referential_integrity_audit": (
        referential_integrity_audit,
        _ref_integrity_sql(),
    ),
    "value_time_regression": (value_time_regression, VALUE_TIME_REGRESSION_SQL),
    "range_split_points": (range_split_points, _range_split_points_sql()),
    "mixture_weights": (mixture_weights, MIXTURE_WEIGHTS_SQL),
    "incremental_daily_rollup": (
        incremental_daily_rollup,
        INCREMENTAL_DAILY_ROLLUP_SQL,
    ),
    "partition_minmax_index": (
        partition_minmax_index,
        PARTITION_MINMAX_INDEX_SQL,
    ),
    "zorder_layout_key": (zorder_layout_key, _zorder_sql()),
}
