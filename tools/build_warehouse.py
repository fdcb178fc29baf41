"""Materialize the production warehouse layout from raw testdata parquet:

- facts date-partitioned (orders/lineitem/events by year or date) so date
  predicates prune at the directory level,
- fact join keys bucketed (orders/lineitem by orderkey) so the repeated
  fact-fact join runs with NO shuffle (tests/test_scale_layout.py proves the
  Exchange disappears),
- dims plain parquet (they broadcast anyway).

This is the layout ARCHITECTURE.md's 100 TB posture assumes; run it once per
scale factor to experiment with pruned/bucketed plans locally:

    python tools/build_warehouse.py [sf_dir] [out_dir] [n_buckets]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crz_scraper_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/crz_warehouse"
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    # warehouse.dir is a static conf — must be set before the session exists.
    spark = get_spark(
        "build_warehouse",
        cpus=8,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(out, "tables")},
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    # Date-partitioned facts: directory-level pruning for date predicates.
    orders.withColumn("order_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("order_year").parquet(f"{out}/orders_by_year")
    events_ts = events
    if dict(events.dtypes).get("ts") == "bigint":
        events_ts = events.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    events_ts.withColumn("event_date", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(f"{out}/events_by_date")

    # Bucketed facts: co-located orderkey join, no Exchange.
    orders.write.mode("overwrite").bucketBy(n_buckets, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("orders_bucketed")
    li.write.mode("overwrite").bucketBy(n_buckets, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("lineitem_bucketed")

    joined = (
        spark.table("lineitem_bucketed")
        .hint("merge")
        .join(
            spark.table("orders_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    plan_has_exchange = "Exchange" in joined._jdf.queryExecution().executedPlan().toString()
    print(f"warehouse written to {out}")
    print(f"bucketed fact-fact join shuffle-free: {not plan_has_exchange}")


if __name__ == "__main__":
    main()
