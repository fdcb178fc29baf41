"""Testdata catalog: typed parquet scans + temp-view registration.

The driver testdata (TESTDATA.md) is the engine's canonical star schema:
``region nation customer supplier part orders lineitem events documents
embeddings``. Reading parquet through ``spark.read.parquet`` gives Catalyst
column pruning + predicate pushdown for free (SURVEY.md §4) — the reference's
equivalent is a full ``pd.read_csv(dtype=str)`` of every column of every row
(`02_filter_by_CIN.py:94`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Lazy — no job runs until an action.

    events.ts is TIMESTAMP(NANOS) parquet, which Spark reads as long nanos
    under `spark.sql.legacy.parquet.nanosAsLong` (session.py); convert to a
    microsecond timestamp by truncation — bit-identical to DuckDB's
    TIMESTAMP_NS → TIMESTAMP (µs) coercion.
    """
    # Defensive: the driver may pass a session built without the engine's
    # configs (session.py). Both confs below are runtime-settable and
    # required for correct/readable results: nanos parquet support and
    # UTC timestamp semantics for oracle comparison. AQE is left as the
    # session has it (on by default), so a run with it off stays off.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer DIV, not float division — nanos exceed double's 53-bit
        # exact-integer range.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan every testdata table present in ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            # Route through load_table: it sets the defensive runtime confs
            # (nanos parquet, UTC) a driver-built vanilla session lacks —
            # reading events.parquet directly here breaks such sessions.
            out[name] = load_table(spark, sf_dir, name)
    return out


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's parallelism.

    The driver testdata ships each table as ONE small parquet file, which
    Spark scans as a single partition — compute-heavy per-row operators
    (shingling, hashing, pandas UDFs, containment scans) then run on one
    core. A cheap repartition of a few MB unlocks all cores. On a real
    100 TB input this is unnecessary (file splits provide parallelism) and
    should be skipped — the helper exists to keep that decision explicit
    and in one place.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def pin(df: DataFrame) -> DataFrame:
    """Eagerly materialize a SMALL shared frame so two consumer lineages
    read it once instead of recomputing it (count tables, per-doc scalar
    frames — never corpus text; see each call site's size note).

    Why a checkpoint and not persist: a frame consumed by two branches
    plans one full upstream lineage PER consumer — a partial aggregate
    below one branch's exchange makes the exchanges canonically unequal,
    and AQE stage dedup does not fire across the broadcast boundary (both
    verified on executed plans, optimization r10). Cutting the lineage is
    the only reliable share. EAGER, because a lazy checkpoint lets AQE's
    concurrently-submitted consumer stages race to compute unmaterialized
    partitions (the r10 containment/perplexity race class).

    Trade-offs (accepted deliberately, documented once here):
    the upstream plan executes at construction time (an eager Spark job
    per call, inside the bench's timed window, so reps stay honest); and
    the checkpoint blocks live UNREPLICATED on executor storage and are
    freed by GC/ContextCleaner, not spark.catalog.clearCache() —
    acceptable for bounded read-compute-report queries, wrong for a frame
    that must survive executor preemption.
    """
    return df.localCheckpoint(eager=True)


def collect_and_release(df: DataFrame, *cached: DataFrame) -> DataFrame:
    """Collect the BOUNDED result ``df``, unpersist ``cached``, and return
    the rows as a local frame with ``df.schema``.

    The cache-lifetime rule (ARCHITECTURE.md): a function that persists a
    frame releases it before it returns. A lazy result that still reads a
    persisted frame cannot do that — unpersisting first makes the final
    plan recompute the lineage the cache was there to share, and not
    unpersisting leaks the cache into every session that never calls
    clearCache (whoever calls ``__spark_entry__.queries()[name](spark,
    sf_dir)`` gets the result and releases nothing). When the result is
    small (a top-k, a per-group rollup, a ledger) the way out is to run it
    here, while the cache is still live, and hand back its rows; the order
    — collect, THEN unpersist — is the point (the release also runs when
    the collect raises). A corpus-sized result is ``pin``ned instead.
    """
    try:
        rows = df.collect()
    finally:
        for frame in cached:
            frame.unpersist()
    return df.sparkSession.createDataFrame(rows, df.schema)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view so SQL-form queries can run."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
