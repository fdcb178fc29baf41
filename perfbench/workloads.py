"""The benchmark's workloads and how each operation runs and is checked.

Every operation is timed as one unit (build + action) and split into
spans of the phases in ``tracing`` (build, catalyst, exec). The registry
workloads call a query builder ``fn(spark, sf_dir)`` from the engine's
registry and materialize its result through the noop sink; the
``contracts_ingest`` steps call the pipeline, source, operator and
streaming functions directly.

Each operation has four members the runner uses, so that everything about
an operation lives here:

* ``prepare(spark, ctx)``: untimed input set-up before the operation;
* ``run(spark, tracer, ctx, trace, check)``: the timed operation; on the
  checked (cold) pass it returns what ``check`` needs;
* ``check(spark, ctx, result)``: untimed; the list of correctness problems
  (empty when the output is right);
* ``writes``: the ``ctx`` key of the directory the operation writes through
  the sources layer, whose files and bytes a traced run counts (``None``
  for every other operation).
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from crz_scraper_spark.operators.compaction import compact_small_files
from crz_scraper_spark.operators.upsert import upsert_by_key
from crz_scraper_spark.pipeline import contracts_pipeline
from crz_scraper_spark.plans.registry import REGISTRY
from crz_scraper_spark.sources.csv import read_pipe_csv, write_pipe_csv

import gen
from tracing import BUILD, CATALYST, EXEC

# Document registry queries: both hash families of each LSH tier, whose
# plans fire eager jobs while they are built, plus one single-scan tagging
# query as the cheap end of the operation mix.
CORPUS_DEDUP = (
    "minhash_near_dup",
    "minhash_near_dup_md5",
    "simhash_near_dup",
    "simhash_near_dup_md5",
    "keyword_tagging",
)
# Rows-only LSH tiers have no oracle; their row count on the benchmark's
# fixed star schema is checked instead.
ROWS_ONLY_COUNTS = {"minhash_near_dup": 238, "simhash_near_dup": 303}

# The registry's streaming sink that writes through upsert_by_key, run on
# the ingest workload's seeded event stream after the batch steps.
STREAMING_SINK = "streaming_upsert_sink_roundtrip"


class RegistryOp:
    """One registry query: build its plan, then run it through the noop sink."""

    writes = None

    def __init__(self, name: str, data: str = "star") -> None:
        self.name = name
        self.data = data  # the ctx key of the directory the query reads
        self.fn, self.sql = REGISTRY[name]

    def prepare(self, spark, ctx) -> None:
        pass

    def run(self, spark, tracer, ctx, trace: bool, check: bool = False):
        with tracer.span(f"{self.name}.build", self.name, BUILD):
            df = self.fn(spark, ctx[self.data])
        if trace:
            with tracer.span(f"{self.name}.catalyst", self.name, CATALYST) as sp:
                sp["catalyst"] = catalyst_phases(df)
        with tracer.span(f"{self.name}.exec", self.name, EXEC):
            if check:
                # The checked (cold) pass materializes through collect, so
                # the rows the oracle compares come from this execution.
                return Collected(df.columns, [tuple(r) for r in df.collect()])
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, spark, ctx, result) -> list[str]:
        if self.sql is None:
            want = ROWS_ONLY_COUNTS[self.name]
            got = len(result.collect())
            return [] if got == want else [f"{self.name}: {got} rows, expected {want}"]
        from crz_scraper_spark.oracle import compare

        con = oracle_connection(ctx[self.data])
        try:
            return [f"{self.name}: {p}" for p in compare(result, con, self.sql)]
        finally:
            con.close()


class Collected:
    """A collected result in the shape ``oracle.compare`` reads."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def oracle_connection(data_dir: str):
    """A DuckDB connection with a view per table present in ``data_dir``."""
    import duckdb

    from crz_scraper_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def catalyst_phases(df) -> dict:
    """Optimize and plan ``df`` and return the QueryPlanningTracker phase
    durations in seconds (analysis ran when the builder created ``df``)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        out[phase] = (
            phases.apply(phase).durationMs() / 1000.0 if phases.contains(phase) else 0.0
        )
    return out


# ---------------------------------------------------------------------------
# contracts_ingest: the stage 1 -> 2 chain and its write path. The steps
# run in order within a pass, each reading what the previous one wrote.

UPDATED_PRICE = "777777.77"
# The store is written by one writer per core of the 4-core machine the
# benchmark was sized on (fixed, so every machine writes the same files),
# so each date partition starts with several small files for compaction.
STORE_WRITERS = 4


def _mismatches(name: str, got: dict, want: dict) -> list[str]:
    return [
        f"{name}: {k} = {got.get(k)!r}, expected {v!r}"
        for k, v in want.items()
        if got.get(k) != v
    ]


class IngestStep:
    writes = None

    def prepare(self, spark, ctx) -> None:
        pass

    def span(self, tracer, layer: str, phase: str):
        return tracer.span(f"{self.name}.{layer}", self.name, phase)


class XmlToCsv(IngestStep):
    """``contracts_pipeline`` over the dumps, clean rows to pipe CSV."""

    name = "xml_to_csv"
    writes = "csv"

    def run(self, spark, tracer, ctx, trace: bool, check: bool = False):
        with self.span(tracer, "pipeline.build", BUILD):
            clean, audit, corrupt = contracts_pipeline(
                spark,
                ctx["dumps"],
                company_cins=gen.COMPANY_CINS,
                resort_names_by_key=gen.RESORTS,
                price_min=gen.PRICE_MIN,
                date_min=gen.DATE_MIN,
            )
        with self.span(tracer, "sources.csv_write", EXEC):
            # The pipe-CSV writer rejects nested columns: render the
            # attachment and supplement arrays as JSON text.
            write_pipe_csv(
                clean.withColumn("prilohy", F.to_json("prilohy")).withColumn(
                    "dodatky", F.to_json("dodatky")
                ),
                ctx["csv"],
            )
        return audit, corrupt

    def check(self, spark, ctx, result) -> list[str]:
        audit, corrupt = result
        planted = ctx["plan"]["tally"]
        got = {
            "tally": {
                r["discard_reason"]: r["count"]
                for r in audit.groupBy("discard_reason").count().collect()
            },
            "corrupt": corrupt.count(),
        }
        want = {
            "tally": {
                code: planted[kind] for kind, code in gen.REASON_CODE.items() if planted[kind]
            },
            "corrupt": planted["corrupt"],
        }
        return _mismatches(self.name, got, want)


class CsvToStore(IngestStep):
    """Pipe CSV back into a date-partitioned parquet store."""

    name = "csv_to_store"
    writes = "store"

    def run(self, spark, tracer, ctx, trace: bool, check: bool = False):
        with self.span(tracer, "sources.csv_read", BUILD):
            csv = read_pipe_csv(spark, ctx["csv"], all_string=True)
        with self.span(tracer, "sources.store_write", EXEC):
            (
                csv.withColumn("pub_date", F.to_date("datum_zverejnenia"))
                .repartition(STORE_WRITERS)
                .write.mode("overwrite")
                .partitionBy("pub_date")
                .parquet(ctx["store"])
            )
        return csv

    def check(self, spark, ctx, result) -> list[str]:
        return _mismatches(self.name, {"csv_rows": result.count()}, {"csv_rows": ctx["plan"]["kept"]})


class UpsertIncrement(IngestStep):
    """``upsert_by_key`` of the seeded next-day increment into the store."""

    name = "upsert_increment"

    def prepare(self, spark, ctx) -> None:
        # Every pass rewrites the same store, so the increment rows are
        # collected once and reused.
        if "increment_rows" not in ctx:
            ctx["increment_rows"] = increment_rows(spark, ctx)

    def run(self, spark, tracer, ctx, trace: bool, check: bool = False):
        rows, schema = ctx["increment_rows"]
        with self.span(tracer, "operators.upsert", EXEC):
            increment = spark.createDataFrame(rows, schema)
            upsert_by_key(spark, ctx["store"], increment, ["id"], "pub_date")

    def check(self, spark, ctx, result) -> list[str]:
        plan = ctx["plan"]
        store = spark.read.parquet(ctx["store"])
        got = {
            "store_rows": store.count(),
            "updated_rows": store.filter(
                F.col("id").isin(plan["updated_ids"]) & (F.col("cena_konecna") == UPDATED_PRICE)
            ).count(),
        }
        want = {"store_rows": plan["expected_store_rows"], "updated_rows": len(plan["updated_ids"])}
        return _mismatches(self.name, got, want)


class CompactStore(IngestStep):
    """``compact_small_files`` of the store into a compacted copy."""

    name = "compact_store"

    def run(self, spark, tracer, ctx, trace: bool, check: bool = False):
        with self.span(tracer, "operators.compact", EXEC) as sp:
            audit = compact_small_files(
                spark, ctx["store"], ctx["compacted"], partition_col="pub_date"
            )
            sp["compaction"] = audit
        return audit

    def check(self, spark, ctx, result) -> list[str]:
        problems = _mismatches(
            self.name, result, {"n_rows": ctx["plan"]["expected_store_rows"]}
        )
        if result["files_after"] > result["files_before"]:
            problems.append(
                f"{self.name}: {result['files_before']} files became {result['files_after']}"
            )
        return problems


def increment_rows(spark, ctx):
    """The next-day increment: the planned ids' rows with a changed final
    price, plus copies of other rows as new contracts published the next
    day. Collected to the driver, so the upsert does not read the
    partitions it overwrites through a lazy plan."""
    plan = ctx["plan"]
    store = spark.read.parquet(ctx["store"])
    upd = store.filter(F.col("id").isin(plan["updated_ids"])).withColumn(
        "cena_konecna", F.lit(UPDATED_PRICE)
    )
    new = (
        store.filter(F.col("id").isin(plan["new_template_ids"]))
        .withColumn("id", F.concat(F.col("id"), F.lit("n")))
        .withColumn("datum_zverejnenia", F.lit(f"{plan['new_day']} 09:00:00"))
        .withColumn("pub_date", F.lit(plan["new_day"]).cast("date"))
    )
    return upd.unionByName(new).collect(), store.schema


def make_ops(workload: str):
    if workload == "corpus_dedup":
        return [RegistryOp(n) for n in CORPUS_DEDUP]
    if workload == "contracts_ingest":
        return [XmlToCsv(), CsvToStore(), UpsertIncrement(), CompactStore(),
                RegistryOp(STREAMING_SINK, "events")]
    raise ValueError(f"unknown workload {workload!r}")


def pass_orders(workload: str, ops: list, seed: int):
    """The operation order of each pass, in turn. The seed permutes the
    registry queries anew in every pass, so that an operation's best time
    is not tied to the one position a single order gives it; the
    ``contracts_ingest`` steps keep their order, as each reads what the one
    before wrote."""
    rng = random.Random(seed)
    while True:
        yield list(ops) if workload == "contracts_ingest" else rng.sample(ops, len(ops))


def files_and_bytes(path: str) -> tuple[int, int]:
    """Data files (not Spark's _SUCCESS/.crc markers) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size
