"""Scale-layout evidence tests: bucketed co-located joins eliminate the
shuffle; partitioned writes give partition pruning. These are the physical
properties the 100 TB design notes in ARCHITECTURE.md rely on."""

from __future__ import annotations

import io
import contextlib
import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Bucketing both fact tables on the join key co-locates them: the
    sort-merge join runs without any Exchange (the shuffle a 100 TB
    fact-fact join must avoid)."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # Bucketed joins need the per-bucket file layout; disable AQE coalescing
    # surprises by matching bucket counts on both sides.
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("orders_b")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("lineitem_b")
    try:
        # At test SF the dims are tiny so the planner would broadcast; the
        # MERGE hint forces the sort-merge path a 100 TB fact-fact join takes,
        # where bucketing is what removes the Exchange.
        joined = spark.table("lineitem_b").hint("merge").join(
            spark.table("orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # sanity: result matches the plain join
        plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partition_pruning(spark, sf_dir, tmp_path):
    """A date-partitioned layout (the production contracts posture:
    partition by month of datum_zverejnenia) prunes partitions at plan
    time — the scan must show PartitionFilters, not a full-table read."""
    out = str(tmp_path / "orders_part")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.withColumn("order_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("order_year").parquet(out)
    back = spark.read.parquet(out).filter(F.col("order_year") == 1997)
    plan = _plan(back)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1][:200]
    expected = orders.filter(F.year("o_orderdate") == 1997).count()
    assert back.count() == expected


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim on the partition column
    injects a runtime partition filter (dynamicpruning subquery reusing the
    dim's broadcast) — at 100 TB this is what keeps a fact⋈dim join from
    scanning every date partition when the dim filter only selects a few."""
    fact_path = str(tmp_path / "orders_part")
    dim_path = str(tmp_path / "year_dim")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.withColumn("order_year", F.year("o_orderdate")).write.mode(
        "overwrite"
    ).partitionBy("order_year").parquet(fact_path)
    spark.createDataFrame(
        [(y, "pick" if y == 1997 else "skip") for y in range(1995, 2002)],
        "yr int, tag string",
    ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "pick")
    joined = fact.join(dim, fact.order_year == dim.yr)
    plan = _plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    expected = orders.filter(F.year("o_orderdate") == 1997).count()
    assert joined.count() == expected


def test_broadcast_threshold_respected(spark, sf_dir):
    """Small dims broadcast automatically under the engine session config."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = _plan(li.join(part, li.l_partkey == part.p_partkey))
    assert "BroadcastHashJoin" in plan


def test_load_table_keeps_aqe_off(spark, sf_dir):
    """`load_table` sets only the confs a vanilla session needs to read the
    tables (nanos parquet, UTC): a session that switched AQE off keeps it
    off, so an AQE-off replay really runs without it."""
    from crz_scraper_spark.catalog import load_table

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "false")
        load_table(spark, sf_dir, "events")
        assert {k: spark.conf.get(k) for k in keys} == dict.fromkeys(keys, "false")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_salted_join_matches_plain_join(spark, sf_dir):
    """salted_join ≡ plain join on results; the replicated side shows up as
    a Generate (explode) in the plan and the join key includes the salt."""
    from crz_scraper_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    salted = salted_join(li.hint("merge"), orders, "l_orderkey", "o_orderkey")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey)
    assert salted.count() == plain.count()
    got = sorted(map(tuple, salted.collect()))
    want = sorted(map(tuple, plain.collect()))
    assert got == want
    assert "__salt" not in salted.columns


def test_stage2_plan_properties(spark):
    """The flagship plan keeps its scale-critical shape: both thresholds
    pushed into the parquet scan, broadcast semi-join for the key list, and
    the dedup window pre-limited map-side (WindowGroupLimit before the
    exchange) — the properties PLANS.md documents, locked in as a test."""
    from crz_scraper_spark.plans.core_plans import stage2_contract_filter

    plan = _plan(stage2_contract_filter(spark, "/root/testdata/sf0.001"))
    assert "GreaterThanOrEqual(o_totalprice,150000.0)" in plan
    assert "GreaterThanOrEqual(o_orderdate," in plan
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "WindowGroupLimit" in plan


def test_pricing_summary_plan_properties(spark):
    """Scan+agg shape: shipdate predicate pushed down, only the 7 needed
    columns read, partial+final hash aggregate pair."""
    from crz_scraper_spark.plans.core_plans import pricing_summary

    plan = _plan(pricing_summary(spark, "/root/testdata/sf0.001"))
    assert "LessThanOrEqual(l_shipdate," in plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # column pruning
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_forecast_revenue_plan_properties(spark):
    """Q6 shape: all three predicates reach the scan as PushedFilters and
    the read schema is exactly the four referenced columns."""
    from crz_scraper_spark.plans.tpch_plans import forecast_revenue

    plan = _plan(forecast_revenue(spark, "/root/testdata/sf0.001"))
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "LessThan(l_quantity,24.0)" in pushed
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_orderkey" not in read_schema


def test_lonely_returning_supplier_plan_properties(spark):
    """Q21 shape: the EXISTS / NOT EXISTS pair compiles to one LeftSemi and
    one LeftAnti join (no nested-loop fallback), and the returnflag filter
    is pushed into the lineitem scans."""
    from crz_scraper_spark.plans.tpch_plans import lonely_returning_supplier

    plan = _plan(lonely_returning_supplier(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_rich_inactive_customers_plan_properties(spark):
    """Q22 shape: the anti side's date filter is pushed into the orders
    scan (at 100 TB with a date-partitioned layout this becomes partition
    pruning) and the join is a LeftAnti."""
    from crz_scraper_spark.plans.tpch_plans import rich_inactive_customers

    plan = _plan(rich_inactive_customers(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate,2000-01-01" in plan


def test_upsert_by_key_touches_only_affected_partitions(spark, tmp_path):
    """Copy-on-write upsert: replaced + inserted keys land, untouched
    partitions' files are byte-identical (never read, never rewritten)."""
    import os

    from pyspark.sql import functions as F

    from crz_scraper_spark.operators.upsert import upsert_by_key

    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-01", 20.0),
         (3, "2024-01-02", 30.0), (4, "2024-01-03", 40.0)],
        "k bigint, day string, v double",
    )
    path = str(tmp_path / "tbl")
    base.write.partitionBy("day").parquet(path)

    def files_state(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d) if f.endswith(".parquet")
        )

    untouched_before = files_state("2024-01-03")

    updates = spark.createDataFrame(
        [(2, "2024-01-01", 21.0),   # replace existing key
         (5, "2024-01-02", 50.0)],  # insert new key
        "k bigint, day string, v double",
    )
    upsert_by_key(spark, path, updates, key_cols=["k"], partition_col="day")

    # partition values are type-inferred on read -> normalize to str
    got = {
        (r["k"], str(r["day"])): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "2024-01-01"): 10.0,
        (2, "2024-01-01"): 21.0,   # updated
        (3, "2024-01-02"): 30.0,
        (5, "2024-01-02"): 50.0,   # inserted
        (4, "2024-01-03"): 40.0,   # untouched partition intact
    }
    assert files_state("2024-01-03") == untouched_before

    # Idempotence: re-applying the same updates changes nothing.
    upsert_by_key(spark, path, updates, key_cols=["k"], partition_col="day")
    got2 = {
        (r["k"], str(r["day"])): r["v"]
        for r in spark.read.parquet(path).collect()
    }
    assert got2 == got


def test_min_cost_supplier_plan_properties(spark):
    """Q2 shape: every dimension broadcast (never a sort-merge join of the
    fact table), both dimension filters pushed to their scans, and the
    correlated MIN realized as ONE window over the pair aggregate — no
    second scan of lineitem."""
    from crz_scraper_spark.plans.tpch2_plans import min_cost_supplier

    plan = _plan(min_cost_supplier(spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "EqualTo(r_name,EUROPE)" in plan
    assert "EqualTo(p_type,LARGE)" in plan
    # formatted explain prints each node twice (tree + details)
    assert plan.count("Scan parquet") == 2 * 5  # each table exactly once


def test_funnel_conversion_plan_properties(spark):
    """Three staged window mins must reuse ONE user_id hash partitioning —
    a single fact exchange, not one per stage, and no self-join of
    events."""
    from crz_scraper_spark.plans.event_plans import funnel_conversion

    plan = _plan(funnel_conversion(spark, "/root/testdata/sf0.001"))
    # formatted explain prints each node twice (tree + details)
    assert plan.count("Scan parquet") == 2 * 1
    # one shuffle shared by all three windows AND the per-user aggregate
    # (which reuses the window partitioning), plus the final 1-row agg
    assert plan.count("Exchange") <= 2 * 2
    assert plan.count("Window") == 2 * 3


def test_eval_contamination_plan_properties(spark):
    """Decontamination joins gram-to-gram: an equi hash join, never a
    cartesian/nested-loop product of the corpus with itself."""
    from crz_scraper_spark.plans.curation_plans import eval_contamination

    plan = _plan(eval_contamination(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff(spark):
    """inserted/deleted/changed detected; unchanged rows dropped; NULL and
    empty string don't alias in the content hash."""
    from crz_scraper_spark.operators.upsert import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "", 4.0)],
        "k bigint, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0),      # unchanged -> dropped
         (2, "B", 2.0),      # changed
         (3, "", 3.0),       # NULL -> '' must register as changed
         (5, "e", 5.0)],     # inserted; 4 deleted
        "k bigint, s string, v double",
    )
    got = {
        r["k"]: r["change_type"]
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert got == {2: "changed", 3: "changed", 4: "deleted", 5: "inserted"}


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """When a dim-side filter is selective and the join must shuffle (no
    broadcast), the optimizer injects a runtime Bloom filter on the fact
    side — at 100 TB this is what keeps a lineitem⋈filtered-orders join
    from shuffling lineitem rows whose orderkey cannot match. The local
    thresholds are lowered only because testdata is KB-sized; the conf
    names and plan shape are exactly the production mechanism."""
    from crz_scraper_spark.catalog import load_table
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        orders = load_table(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in plan
        # and the result is still correct
        n = j.collect()[0]["count"]
        expected = (
            li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
            .count()
        )
        assert n == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    """A 95%-one-key join must come out of AQE with skew=true on the final
    sort-merge join — runtime splitting of the hot partition is the
    built-in complement to operators/skew.py::salted_join (which handles
    skewed AGGREGATES and pre-AQE engines). Local thresholds are lowered
    because the test data is MBs; the mechanism is the production one."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right.hint("merge"), "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        # values survive the split: 190001 key-0 matches (190000 non-multiples
        # of 20, plus id=0 itself) + the 49 multiples of 20 in (0, 1000)
        assert len(rows) == 190001 + sum(
            1 for i in range(0, 200000, 20) if 0 < i < 1000
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sequence_packing_has_no_corpus_global_sort(spark):
    """sequence_packing's prefix sum must be the two-phase form: the
    corpus-sized rows flow through a window PARTITIONED by block (parallel),
    and the only single-partition stage is the per-block offsets window —
    one row per _PACK_BLOCK docs, i.e. ~10^3 rows at 10^9 docs. A global
    Window.orderBy over the docs would funnel every row through one task."""
    from crz_scraper_spark.plans.text_plans import sequence_packing

    plan = _plan(sequence_packing(spark, "/root/testdata/sf0.001"))
    # Intra-block prefix sum is partitioned by blk (parallel window).
    assert "hashpartitioning(blk" in plan, plan
    # At most one SinglePartition exchange — the tiny offsets table window.
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_bloom_decontaminate_corpus_never_shuffles_on_gram(spark):
    """The bloom tier's whole point: the corpus gram stream reaches the
    verify join via the map-side probe + broadcast — there must be NO
    hash exchange keyed on the gram column anywhere in the plan."""
    from crz_scraper_spark.plans.curation_plans import bloom_decontaminate

    plan = _plan(bloom_decontaminate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "gram" not in line
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_epoch_shuffle_no_global_sort_window(spark):
    """Epoch ordering must parallelize per (epoch, shard): the row_number
    window partitions on both keys — a global Window.orderBy (empty
    partition spec) would funnel the corpus through one task."""
    from crz_scraper_spark.plans.curation_plans import epoch_shuffle

    plan = _plan(epoch_shuffle(spark, "/root/testdata/sf0.001"))
    assert "row_number()" in plan
    # The window's required distribution shows up as a hash exchange on
    # (epoch, shard) — never a SinglePartition exchange.
    assert "Exchange SinglePartition" not in plan


def _semdedup_inputs(spark, sf_dir):
    from crz_scraper_spark.catalog import fan_out, load_table
    from crz_scraper_spark.operators.dedup import fixed_centroids
    from crz_scraper_spark.plans import scale_plans as sp

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = fixed_centroids(
        sp._SEMDEDUP_DIM, sp._SEMDEDUP_CELLS, sp._SEMDEDUP_SEED
    )
    return emb, cents


def test_semantic_dedup_pair_join_is_equi_on_cell(spark, sf_dir):
    """SemDeDup's quadratic is bounded per cluster ONLY if the pair
    compare joins equi on the cell id (broadcast or shuffled hash) — a
    nested-loop cross join would be O(n^2) corpus-wide. Inspected on
    `_semantic_dedup_plan`'s lazy verdict (the operator pins it, which
    cuts the lineage and hides the join shape)."""
    from crz_scraper_spark.operators.dedup import _semantic_dedup_plan

    emb, cents = _semdedup_inputs(spark, sf_dir)
    lazy, base = _semantic_dedup_plan(emb, cents)
    try:
        plan = _plan(lazy)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        base.unpersist()


def test_semantic_dedup_releases_its_base(spark, sf_dir):
    """`semantic_dedup` owns the base it persists: once it returns, the
    CacheManager is empty (the verdict is pinned, which the CacheManager
    does not hold), and its rows equal `_semantic_dedup_plan`'s."""
    from crz_scraper_spark.operators.dedup import (
        _semantic_dedup_plan,
        semantic_dedup,
    )

    emb, cents = _semdedup_inputs(spark, sf_dir)
    spark.catalog.clearCache()
    out = semantic_dedup(emb, cents)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    lazy, base = _semantic_dedup_plan(emb, cents)
    try:
        expect = sorted(tuple(r) for r in lazy.collect())
    finally:
        base.unpersist()
    assert expect
    assert sorted(tuple(r) for r in out.collect()) == expect


def test_collect_and_release_unpersists_after_collect(spark):
    """`catalog.collect_and_release` returns the bounded result's rows
    under its schema and leaves the CacheManager empty — also when the
    collect raises."""
    from crz_scraper_spark.catalog import collect_and_release

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    base = spark.range(100).withColumn("g", F.col("id") % 3).persist()
    report = base.groupBy("g").agg(F.count("*").alias("n")).orderBy("g")
    out = collect_and_release(report, base)
    assert cache_empty()
    assert out.schema == report.schema
    assert [tuple(r) for r in out.collect()] == [(0, 34), (1, 33), (2, 33)]

    base = spark.range(10).persist()
    bad = base.select(F.assert_true(F.col("id") < 5).alias("ok"))
    with pytest.raises(Exception):
        collect_and_release(bad, base)
    assert cache_empty()


def test_sequence_packing_single_tokenizer_pass(spark):
    """r10: both prefix-sum phases (intra-block window, per-block totals)
    read the eagerly-checkpointed token projection. Deriving phase 2 from
    the raw projection re-ran the tokenizer scan once per branch — its
    partial aggregate planned below a second exchange, so neither static
    ReuseExchange nor AQE stage dedup could fire. Pin: the query plan
    itself contains ZERO tokenizer evaluations (the single one lives in
    the checkpoint job) and both branches read the checkpointed RDD."""
    from crz_scraper_spark.plans.text_plans import sequence_packing

    df = sequence_packing(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("split(") == 0, plan
    # two scans, both of the SAME checkpointed RDD (one Arguments line each)
    assert plan.count("localCheckpoint") == 2, plan


def test_dictionary_oov_single_tokenizer_pass_and_probe_arithmetic(spark):
    """r10: both dictionary queries roll the dictionary AND the per-doc
    profile off one checkpointed (doc, word, n) count table — one tokenize
    pass instead of two (plain) / three (morph). The morph dictionary must
    count the ORIGINAL text only; it derives from the augmented counts by
    exact arithmetic (aug_count − n_docs for the probe words). Pin zero
    tokenizer evaluations in both query plans, and pin the morph
    derivation against the direct two-pass reference on a fixture that
    stresses the arithmetic: a probe word present in original text, a
    word exactly at the >5 boundary, a NULL-text doc, an empty-text doc."""
    import os
    import tempfile

    from pyspark.sql import Row

    from crz_scraper_spark.plans.extra_plans import (
        _MORPH_PROBE,
        dictionary_oov,
        dictionary_oov_morph,
    )
    from tests.reference import morph_oov_profile

    for fn in (dictionary_oov, dictionary_oov_morph):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert plan.count("split(") == 0, plan

    # 'tables' (a probe word) appears 6x in original text -> stays in the
    # dictionary on the original-count rule even after subtracting the
    # probe increment; 'joins' (a probe word) appears 5x -> must stay OUT
    # (aug count is 5 + n_docs, which would wrongly pass >5 uncorrected);
    # 'word' appears exactly 6x (> 5, in); 'edge' 5x (out).
    texts = [
        Row(doc_id=1, text="tables tables tables joins word edge"),
        Row(doc_id=2, text="tables tables tables joins word edge"),
        Row(doc_id=3, text="joins joins joins word word word edge edge"),
        Row(doc_id=4, text="word edge"),
        Row(doc_id=5, text=None),
        Row(doc_id=6, text=""),
    ]
    src = spark.createDataFrame(texts)
    with tempfile.TemporaryDirectory() as d:
        src.write.parquet(os.path.join(d, "documents.parquet"))
        got = sorted(map(tuple, dictionary_oov_morph(spark, d).collect()))
    # two-pass reference: dictionary from ORIGINAL text, morph profile
    # over augmented text — the shape the optimization replaced
    from crz_scraper_spark.functions.text import tokens_nonempty

    dictionary = (
        src.select(F.explode(tokens_nonempty("text")).alias("word"))
        .groupBy("word")
        .count()
        .filter(F.col("count") > 5)
        .select("word")
    )
    aug = src.withColumn("text", F.concat(F.col("text"), F.lit(_MORPH_PROBE)))
    want = sorted(
        map(tuple, morph_oov_profile(aug, dictionary, gibberish_threshold=0.75).collect())
    )
    assert got == want, f"{got} vs {want}"


def test_tf_idf_single_tokenizer_pass(spark):
    """r10: the tf table is eagerly checkpointed so its two consumers (df
    rollup broadcast side, scored join probe side) share one
    tokenize+explode pass and one (doc_id, word) exchange — AQE stage
    dedup does not fire across the broadcast boundary, so without the
    checkpoint both ran twice. Pin: zero tokenizer evaluations in the
    query plan, both branches reading the checkpointed RDD."""
    from crz_scraper_spark.plans.text_plans import tf_idf_top_terms

    df = tf_idf_top_terms(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("split(") == 0, plan
    assert plan.count("localCheckpoint") == 2, plan


def test_ngram_jaccard_single_tokenizer_pass(spark):
    """r10: consecutive-pair assembly runs as explode-to-roles + one
    aggregation instead of a self-join whose two lineages each re-ran the
    map-only tokenize+bigram projection. Pin one tokenizer evaluation in
    the plan, and pin the rows against a hand-computed consecutive pair."""
    from pyspark.sql import Row

    from crz_scraper_spark.plans.scale_plans import ngram_jaccard_consecutive

    df = ngram_jaccard_consecutive(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("split(") == 1, plan

    # hand-computed: docs 1/2/3 -> pairs (1,2) and (2,3)
    src = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),      # bigrams {a b, b c}
            Row(doc_id=2, text="b c d"),      # bigrams {b c, c d}
            Row(doc_id=3, text="x"),          # < 2 tokens -> empty set
        ]
    )
    # run the real query function against the fixture via a temp parquet dir
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        src.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in ngram_jaccard_consecutive(spark, d).collect()
        }
    # (1,2): intersect {b c} / union {a b, b c, c d} = 1/3
    assert rows[(1, 2)] == round(1 / 3, 6)
    # (2,3): doc 3 has no bigrams -> 0/2 = 0.0
    assert rows[(2, 3)] == 0.0
    assert set(rows) == {(1, 2), (2, 3)}


def test_dup_span_detect_partial_distinct_before_exchange(spark):
    """The fingerprint stream pre-aggregates map-side (partial distinct on
    (fp, doc_id)) before its exchange, and only digests — never text —
    are shuffle keys."""
    from crz_scraper_spark.plans.corpus_plans import dup_span_detect

    plan = _plan(dup_span_detect(spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs
    # formatted explain puts exchange keys in the details section
    assert "hashpartitioning(fp" in plan


def test_delete_by_key_prunes_and_deletes(spark, tmp_path):
    """Opt-out deletion: only partitions containing deleted keys are
    rewritten (untouched ones stay byte-identical), deleted keys vanish,
    everything else survives."""
    import os

    from crz_scraper_spark.operators.upsert import delete_by_key

    path = str(tmp_path / "docs")
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).alias("part"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )
    df.write.mode("overwrite").partitionBy("part").parquet(path)

    def mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("part="):
                full = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    before = mtimes()
    # Delete keys living only in partitions 0 and 1.
    dels = spark.createDataFrame(
        [(0, 0), (4, 0), (1, 1)], "doc_id bigint, part bigint"
    )
    stats = delete_by_key(spark, path, dels, ["doc_id"], "part")
    assert stats == {"partitions_rewritten": 2, "rows_deleted": 3}
    after = mtimes()
    assert before["part=2"] == after["part=2"]  # untouched, byte-level
    assert before["part=3"] == after["part=3"]
    remaining = {r["doc_id"] for r in spark.read.parquet(path).collect()}
    assert remaining == set(range(100)) - {0, 4, 1}
    # Idempotent: deleting the same keys again rewrites but removes nothing.
    stats2 = delete_by_key(spark, path, dels, ["doc_id"], "part")
    assert stats2["rows_deleted"] == 0


def test_delete_by_key_scopes_to_named_partition_and_empties(spark, tmp_path):
    """(key, partition)-scoped deletes: the same key in an un-named
    partition survives; a fully-emptied partition's files actually
    disappear (dynamic overwrite alone would leave them)."""
    import os

    from crz_scraper_spark.operators.upsert import delete_by_key

    path = str(tmp_path / "docs2")
    # doc_id 7 lives in BOTH partitions; partition 0 holds only {7, 8}.
    df = spark.createDataFrame(
        [(7, 0), (8, 0), (7, 1), (9, 1)], "doc_id bigint, part bigint"
    )
    df.write.mode("overwrite").partitionBy("part").parquet(path)
    dels = spark.createDataFrame(
        [(7, 0), (8, 0)], "doc_id bigint, part bigint"
    )
    stats = delete_by_key(spark, path, dels, ["doc_id"], "part")
    assert stats["rows_deleted"] == 2
    rows = {(r["doc_id"], r["part"]) for r in spark.read.parquet(path).collect()}
    # doc 7 survives in partition 1 (no opt-out record named it there).
    assert rows == {(7, 1), (9, 1)}
    # The emptied partition directory is really gone.
    assert not os.path.exists(os.path.join(path, "part=0"))


# ---------------------------------------------------------------------------
# No forced broadcasts of scale-proportional tables (VERDICT r2 item 1).
# ---------------------------------------------------------------------------

# Tables that grow linearly with sf: a forced F.broadcast() on an unfiltered
# scan of one of these overrides autoBroadcastJoinThreshold and OOMs the
# executors at 100x scale. Identified by their key column in the analyzed
# plan's leaf relation output.
_SCALED_TABLE_KEYS = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "doc_id": "documents/embeddings",
    "event_id": "events",
}

# Node classes that BOUND output cardinality regardless of input size: a
# broadcast hint above one of these is legitimate even when an
# sf-proportional table sits underneath. Everything else — Filter, Join,
# Sample, Window, group-by Aggregate — only shrinks by a constant FACTOR,
# and a constant fraction of an sf-proportional table is still
# sf-proportional (the round-3 loophole: 'EUROPE suppliers' ≈ 1/5 of
# supplier attempted a multi-GB broadcast at 100×).
_BOUNDING_NODES = ("GlobalLimit", "LocalLimit")


def _walk_logical(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk_logical(children.apply(i))


def _unbounded_scaled_leaves(node) -> list[str]:
    """Scale-proportional leaf tables reachable from `node` with no
    cardinality-BOUNDING operator (limit, scalar aggregate) on the path.
    Path-aware: a limit in one branch does not whitelist a sibling."""
    cls = node.getClass().getSimpleName()
    if cls in _BOUNDING_NODES:
        return []
    if cls == "Aggregate" and node.groupingExpressions().isEmpty():
        return []  # scalar aggregate -> exactly one row
    children = node.children()
    if children.size() == 0:
        out = node.output().toString()
        return [
            table
            for key, table in _SCALED_TABLE_KEYS.items()
            if f"{key}#" in out
        ]
    found: list[str] = []
    for i in range(children.size()):
        found.extend(_unbounded_scaled_leaves(children.apply(i)))
    return found


def _forced_big_broadcasts(df) -> list[str]:
    """Names of scale-proportional tables under a broadcast hint with no
    cardinality-bounding operator between the hint and the scan. A hint is
    legitimate only when its side is genuinely fixed-size: built from
    fixed-cardinality tables (nation/region/taxonomy/literals), a scalar
    aggregate, or a limit — a Filter/Join/group-by over customer/supplier/
    part/facts does NOT qualify (constant fractions stay sf-proportional)."""
    bad: list[str] = []
    analyzed = df._jdf.queryExecution().analyzed()
    for node in _walk_logical(analyzed):
        cls = node.getClass().getSimpleName()
        if cls != "ResolvedHint" or "broadcast" not in node.hints().toString():
            continue
        bad.extend(_unbounded_scaled_leaves(node))
    return bad


def test_no_forced_broadcast_of_scaled_tables(spark):
    """Every broadcast hint in the TPC-H-family plans sits on a fixed-size
    side (nation/region/keyword lists) or on a filtered/aggregated derived
    frame — never on a raw customer/supplier/part/fact scan. AQE picks the
    strategy for those from runtime sizes (the hint-free plan broadcasts at
    sf0.1 but degrades to shuffle at 100 TB instead of OOM)."""
    from crz_scraper_spark.plans import core_plans, extra_plans, tpch_plans, tpch2_plans

    sf = "/root/testdata/sf0.001"
    fns = [
        core_plans.revenue_by_nation,
        tpch_plans.returned_revenue_by_customer,
        tpch_plans.large_volume_orders,
        tpch_plans.regional_local_volume,
        tpch_plans.nation_volume_shipping,
        tpch_plans.lonely_returning_supplier,
        tpch_plans.promo_revenue_ratio,
        tpch_plans.disjunctive_brand_quantity,
        tpch2_plans.min_cost_supplier,
        tpch2_plans.nation_market_share,
        tpch2_plans.product_profit,
        tpch2_plans.important_part_value,
        tpch2_plans.top_revenue_supplier,
        tpch2_plans.part_supplier_variety,
        tpch2_plans.excess_quantity_suppliers,
        tpch2_plans.part_affinity,
        extra_plans.brand_part_rollup,
    ]
    offenders = {}
    for fn in fns:
        bad = _forced_big_broadcasts(fn(spark, sf))
        if bad:
            offenders[fn.__name__] = bad
    assert not offenders, f"forced broadcasts of scaled tables: {offenders}"


def test_walk_flags_fraction_filter_broadcast(spark):
    """Regression for the round-3 loophole: a broadcast hint on a constant-
    FRACTION slice of an sf-proportional table (filter, fraction semi-join,
    group-by aggregate on a scaled key) must be flagged — only limits,
    scalar aggregates, and fixed-size tables legitimize a hint."""
    sf = "/root/testdata/sf0.001"
    part = spark.read.parquet(f"{sf}/part.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")

    # The exact shapes the old _SHRINKING_NODES whitelisted:
    filtered = li.join(
        F.broadcast(part.filter(F.col("p_type") == "LARGE")),
        li.l_partkey == part.p_partkey,
    )
    assert "part" in _forced_big_broadcasts(filtered)
    per_key_agg = li.join(
        F.broadcast(li.groupBy("l_suppkey").agg(F.count("*").alias("n"))),
        "l_suppkey",
    )
    assert "lineitem" in _forced_big_broadcasts(per_key_agg)
    # ...and the shapes that remain legitimate:
    scalar_agg = li.join(F.broadcast(li.agg(F.max("l_orderkey").alias("m"))))
    assert not _forced_big_broadcasts(scalar_agg)
    limited = li.join(
        F.broadcast(part.orderBy("p_partkey").limit(10)),
        li.l_partkey == part.p_partkey,
    )
    assert not _forced_big_broadcasts(limited)


def test_global_topk_plans_are_bounded(spark):
    """VERDICT r3 item 4: global top-K queries must never feed the whole
    input to a single-partition WindowExec. The rank-then-filter shape
    compiles to TakeOrderedAndProject(limit=K) — a bounded per-partition
    heap; only K rows per partition travel — via Spark's
    LimitPushDownThroughWindow rewrite. This pins the physical shape so a
    refactor that hides the rnk filter from the rewrite (e.g. a manual
    pre-prune window) fails loudly. The residual unpartitioned rnk window
    sits ABOVE the limit, so its input is ≤ K rows."""
    from crz_scraper_spark.plans import curation_plans, tpch2_plans

    sf = "/root/testdata/sf0.001"
    for fn in (
        curation_plans.weighted_sample,
        tpch2_plans.part_affinity,
        tpch2_plans.association_rules,
    ):
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, (
            f"{fn.__name__}: global top-K no longer compiles to "
            f"TakeOrderedAndProject — whole input would hit one partition"
        )


def test_cms_probe_join_broadcasts_the_sketch(spark):
    """The CMS probe join must broadcast the (fixed depth*width) sketch —
    a shuffle join here would reshuffle the probe stream against a frame
    that is 2,048 rows at ANY corpus size."""
    import pyspark.sql.functions as F

    from crz_scraper_spark.operators.sketches import cms_build, cms_estimate

    toks = spark.createDataFrame([(f"w{i%9}",) for i in range(400)], ["word"])
    probes = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    est = cms_estimate(cms_build(probes, "word"), probes, "word")
    est.collect()
    plan = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_token_budget_windows_are_all_partitioned(spark, sf_dir):
    """token_budget_sample's prefix sum must never route the corpus through
    an unpartitioned window: every Window node in the optimized plan needs
    a non-empty partition spec (the two-phase design's whole point)."""
    import re

    from crz_scraper_spark.plans.curation_plans import token_budget_sample

    df = token_budget_sample(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"windowspecdefinition\(([^)]*)\)", line)
        if m:
            spec = m.group(1)
            # spec args: partition cols..., order cols (asc/desc), frame.
            # An unpartitioned window starts straight at an ordering arg.
            first = spec.split(",")[0].strip()
            assert " ASC" not in first and " DESC" not in first, line


def test_bucketed_join_has_no_join_shuffle(spark, sf_dir):
    """The bucketed-layout join must read both fact sides pre-partitioned
    by the join key: SortMergeJoin directly over the bucketed FileScans,
    with the plan's ONLY Exchange being the final small group-by — the
    pay-once-write, skip-every-join-shuffle contract that makes bucketing
    the co-location strategy at 100 TB."""
    from crz_scraper_spark.plans.fixture_plans import bucketed_colocated_join

    df = bucketed_colocated_join(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan  # the group-by only
    assert "BroadcastExchange" not in plan, plan
    # Both scans carry bucket metadata (SelectedBucketsCount appears when
    # bucket pruning/reading is active on a bucketed scan).
    assert plan.count("Bucketed: true") == 2 or "SelectedBucketsCount" in plan, plan


def test_salted_join_splits_the_hot_key(spark, sf_dir):
    """The salted join must actually key on (k, salt) — splitting the hot
    key (~40% of fact rows) across _SALTS reducer tasks instead of one
    straggler — and the salt must spread the hot key's rows near-uniformly
    (xxhash64 on a per-row-unique column)."""
    from crz_scraper_spark.operators.skew import _SALTS
    from crz_scraper_spark.plans.extra_plans import salted_skew_join

    df = salted_skew_join(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    smj = next(l for l in plan.splitlines() if "SortMergeJoin" in l)
    # Both join keys are (k, __salt): the salt from operators/skew.salted_join.
    keys = re.findall(r"\[([^\]]*)\]", smj)[:2]
    assert len(keys) == 2, smj
    for side in keys:
        assert [re.sub(r"#\d+L?$", "", c.strip()) for c in side.split(",")] == [
            "k",
            "__salt",
        ], smj
    # Distribution: hot-key rows occupy every salt bucket, none dominant
    # (salted_join's salt: xxhash64 of the whole fact row).
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hot = (
        li.filter(F.col("l_orderkey") % 5 < 2)
        .select(
            F.pmod(
                F.xxhash64(
                    F.struct(
                        F.lit(0).cast("bigint").alias("k"),
                        "l_orderkey",
                        "l_linenumber",
                        "l_extendedprice",
                    )
                ),
                F.lit(_SALTS),
            ).alias("salt")
        )
        .groupBy("salt")
        .count()
        .collect()
    )
    counts = {r["salt"]: r["count"] for r in hot}
    assert len(counts) == _SALTS
    assert max(counts.values()) < 2 * min(counts.values())


def test_documents_pipeline_is_single_projection(spark, sf_dir):
    """documents_pipeline computes tagging + subject + quality + language
    as ONE projection over the corpus scan — zero Join nodes in the plan
    (the old shape id-joined four map-only projections of the same scan:
    three avoidable full-corpus shuffles at 100 TB). Only the final
    ranking sort may shuffle."""
    from crz_scraper_spark.pipeline import documents_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = documents_pipeline(docs)
    joins = [
        n
        for n in _walk_logical(out._jdf.queryExecution().analyzed())
        if n.getClass().getSimpleName() == "Join"
    ]
    assert not joins, f"documents_pipeline plan contains joins: {len(joins)}"


def test_curation_pipeline_scale_plan(spark, sf_dir):
    """VERDICT r3 item 1: the nightly curation chain must (a) carry no
    broadcast hint above any corpus-derived frame (non_reps is corpus-
    proportional), (b) persist the dedup intermediates so the five-stage
    audit costs one dedup + one LSH pass instead of five, and (c) append
    quality/lang as map-only columns (no join-back of score frames)."""
    from crz_scraper_spark.pipeline import curation_pipeline

    spark.catalog.clearCache()
    persisted_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curation_pipeline(docs)
    try:
        for frame in (out["survivors"], out["audit"], out["dropped"]):
            assert not _forced_big_broadcasts(frame)
        # (b) dedup intermediates persisted AND every persist handle is
        # surfaced for release: exact and deduped. The LSH stage persists
        # nothing (its pairs carry their own signatures); a
        # leaked-but-unlisted persist fails the RDD check below.
        assert len(out["cached"]) == 2
        for frame in out["cached"]:
            assert frame.storageLevel.useMemory or frame.storageLevel.useDisk
        out["audit"].collect()
        executed = out["audit"]._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in executed or "TableCacheQueryStage" in executed
        # (c) survivors' analyzed plan has no Join introduced after the
        # anti-join stage: quality/lang ride as Project expressions. Count
        # joins in the survivors plan == joins in the deduped plan (exact
        # dedup + LSH anti-join machinery), not two more.
        def n_joins(df):
            return sum(
                1
                for n in _walk_logical(df._jdf.queryExecution().analyzed())
                if n.getClass().getSimpleName() == "Join"
            )

        assert n_joins(out["survivors"]) == n_joins(out["cached"][1])
        out["survivors"].collect()
    finally:
        for frame in out["cached"]:
            frame.unpersist()
    # Releasing the listed handles releases every block the chain
    # persisted (ids persisted by earlier tests in the session excepted).
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert persisted - persisted_before == set()


def test_delete_by_key_escaped_partition_values(spark, tmp_path):
    """Partition values with characters Spark percent-escapes in directory
    names (':' in timestamps) still get their emptied directories removed
    — the cleanup must derive the path via Spark's own escaping, not
    naive f-string interpolation."""
    import os

    from crz_scraper_spark.operators.upsert import delete_by_key

    path = str(tmp_path / "docs_ts")
    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (2, "2020-01-01 00:00:00"),
         (3, "2020-01-02 00:00:00")],
        "doc_id bigint, day string",
    )
    df.write.mode("overwrite").partitionBy("day").parquet(path)
    escaped = [d for d in os.listdir(path) if d.startswith("day=")]
    assert any("%3A" in d for d in escaped)  # ':' was escaped on write
    dels = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (2, "2020-01-01 00:00:00")],
        "doc_id bigint, day string",
    )
    stats = delete_by_key(spark, path, dels, ["doc_id"], "day")
    assert stats["rows_deleted"] == 2
    rows = {r["doc_id"] for r in spark.read.parquet(path).collect()}
    assert rows == {3}
    # The emptied, escaped directory is really gone.
    remaining = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(remaining) == 1 and "2020-01-02" in remaining[0]


def test_delete_by_key_rejects_null_partitions(spark, tmp_path):
    """NULL partition values in delete_keys never match isin()/equi-joins,
    so they must be rejected loudly instead of silently dropping the
    opt-out records."""
    import pytest as _pytest

    from crz_scraper_spark.operators.upsert import delete_by_key

    path = str(tmp_path / "docs_null")
    spark.createDataFrame(
        [(1, 0)], "doc_id bigint, part bigint"
    ).write.mode("overwrite").partitionBy("part").parquet(path)
    dels = spark.createDataFrame([(1, None)], "doc_id bigint, part bigint")
    with _pytest.raises(ValueError, match="NULL"):
        delete_by_key(spark, path, dels, ["doc_id"], "part")
