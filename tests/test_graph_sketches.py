"""Tests for the round-5 continuation operators: Count-Min sketch
(operators/sketches.py), fixed-point PageRank (operators/graph.py), the
token-budget sampler, and the streaming left-outer join's eviction frontier.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from crz_scraper_spark.operators.graph import (
    copurchase_adjacency,
    pagerank_on_adjacency,
)
from crz_scraper_spark.operators.sketches import (
    _HLL_M,
    HLL_NUMERATOR,
    _hll_sparse,
    cms_build,
    cms_estimate,
)

# ---------------------------------------------------------------------------
# References the tests below compare the engine's operators against: the
# edge-list PageRank and co-purchase forms, and the dense HLL register table.
# ---------------------------------------------------------------------------


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """(node, rank) after the damped power steps, integer ppm.

    ``edges`` is a directed edge list; nodes are the distinct sources (a
    symmetric graph — the co-occurrence graphs this engine builds — makes
    that the full node set). Sinks receive the teleport mass only
    (coalesce 0), matching the unrolled SQL oracle exactly.
    """
    # Adjacency-list form: the per-iteration join is then NODE-sized on
    # both sides (ranks ⋈ adjacency), with the edge list riding along as
    # an array payload that explodes map-side AFTER the join — each
    # iteration ships ranks + one copy of the adjacency, not an edge-sized
    # join probe. (First cut joined ranks against the raw 12M-row edge
    # list every iteration; the array form measures ~2× faster at sf1 —
    # 20 s → 10.5 s — and scales with nodes, not edges, on the join side.)
    # Callers that already hold an adjacency (copurchase_adjacency) should
    # use `pagerank_on_adjacency` directly and skip this regroup.
    return pagerank_on_adjacency(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.collect_list("dst").alias("nbrs")
        )
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct symmetric (src, dst) part pairs co-occurring in an order.

    Derived by exploding `copurchase_adjacency` — distinctness comes from
    the set semantics of the adjacency aggregate (a map-side-combined,
    node-keyed shuffle), NOT from a pair-keyed ``distinct()`` over the full
    expansion, which the sf10 probe measured at 332 s against 54 s for the
    adjacency build it was feeding anyway. The explode is map-only, so
    edge consumers pay one shuffle total.
    """
    return copurchase_adjacency(lineitem).select(
        F.col("node").alias("src"), F.explode("nbrs").alias("dst")
    )


def _hll_densify(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Materialize empty registers at mx = 0 so the register SUM in
    `hll_estimate` is well-defined over exactly ``m`` rows per group."""
    # Group list for register densification comes from the ALREADY-AGGREGATED
    # register table, not the raw input: a `df.select(...).distinct()` here
    # would force a second full scan + distinct shuffle of the source (full
    # lineitem at sf10) to enumerate a handful of groups the register rows
    # already name. Every non-empty group has >= 1 register row, and an
    # empty group has no defined estimate anyway, so the group sets match.
    groups = regs.select(*group_cols).distinct()
    allregs = groups.select(
        *group_cols,
        F.explode(F.sequence(F.lit(0), F.lit(_HLL_M - 1))).alias("bucket"),
    ).join(regs, [*group_cols, "bucket"], "left")
    return allregs.withColumn("mx", F.coalesce(F.col("mx"), F.lit(0)))


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """Per-group HLL register table: ``group_cols + (bucket, mx)``.

    Exactly ``m`` rows per group (empty registers materialized at mx = 0 so
    the register sum is well-defined), built with one max-aggregate — the
    shuffle payload is register-table-sized, never input-sized. Register
    tables are mergeable by MAX on (group, bucket), so incremental daily
    builds never re-read history — `sketches.hll_incremental` is that path.
    """
    return _hll_densify(_hll_sparse(df, value_col, group_cols), group_cols)


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse a register table to ``group_cols + (hll_est, zero_regs)``.

    The register sum is EXACT int64 (sum of 2^(53-mx) over 256 registers
    <= 2^61); the only float op is the final division of two values both
    engines hold bit-identically, so `hll_est` hash-matches a DuckDB twin.
    """
    summed = registers.groupBy(*group_cols).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - mx)")).alias("s"),
        F.sum(F.when(F.col("mx") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zero_regs"),
    )
    est = F.floor(F.lit(HLL_NUMERATOR) / F.col("s").cast("double"))
    return summed.select(
        *group_cols, est.cast("bigint").alias("hll_est"), "zero_regs"
    )


def test_cms_never_undercounts_and_is_bounded(spark, monkeypatch):
    """est >= true count for EVERY key (the CMS guarantee), and the sketch
    is exactly depth*width rows no matter the input volume (width 64 here,
    so the 38 keys collide)."""
    from crz_scraper_spark.operators import sketches

    monkeypatch.setattr(sketches, "_CMS_WIDTH", 64)
    words = [f"w{i % 37}" for i in range(5000)] + ["hot"] * 500
    toks = spark.createDataFrame([(w,) for w in words], ["word"])
    exact = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    sketch = cms_build(exact, "word").persist()
    try:
        assert sketch.count() <= 4 * 64
        # every counter row belongs to a valid (j, bucket) cell
        bad = sketch.filter(
            (F.col("j") < 0) | (F.col("j") >= 4)
            | (F.col("bucket") < 0) | (F.col("bucket") >= 64)
        ).count()
        assert bad == 0
        est = cms_estimate(sketch, exact, "word")
        under = est.filter(F.col("est") < F.col("cnt")).count()
        assert under == 0
        hot = est.filter(F.col("word") == "hot").collect()[0]
        assert hot["est"] >= 500
    finally:
        sketch.unpersist()


def test_cms_build_weighted_equals_occurrence_stream(spark):
    """The r10 single-pass contract: building the sketch from the
    pre-aggregated (word, cnt) table yields the IDENTICAL counter table as
    counting the raw occurrence stream per (j, bucket) — the bucket
    depends only on the word, so Σ cnt per (j, bucket) ≡ count(*)."""
    from crz_scraper_spark.operators.sketches import _CMS_DEPTH, _bucket

    words = [f"w{i % 23}" for i in range(400)] + ["hot"] * 60
    toks = spark.createDataFrame([(w,) for w in words], ["word"])
    wc = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    stream = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _bucket(F.col("word"), j).alias("bucket")
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("r")
    )
    raw = sorted(
        tuple(r)
        for r in stream.groupBy("r.j", "r.bucket").agg(F.count("*")).collect()
    )
    weighted = sorted(tuple(r) for r in cms_build(wc, "word").collect())
    assert raw == weighted and raw


def test_cms_merges_by_addition(spark):
    """The scale contract: sketch(A ∪ B) == sketch(A) + sketch(B)
    element-wise — what makes per-executor / per-day partial sketches
    composable without revisiting data."""

    def counts(df):
        return df.groupBy("word").agg(F.count("*").alias("cnt"))

    a = spark.createDataFrame([(f"a{i % 11}",) for i in range(300)], ["word"])
    b = spark.createDataFrame([(f"a{i % 7}",) for i in range(200)], ["word"])
    merged = (
        cms_build(counts(a), "word")
        .union(cms_build(counts(b), "word"))
        .groupBy("j", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    direct = cms_build(counts(a.union(b)), "word")
    diff = merged.alias("m").join(
        direct.alias("d"), ["j", "bucket"], "full"
    ).filter(
        F.coalesce(F.col("m.c"), F.lit(0)) != F.coalesce(F.col("d.c"), F.lit(0))
    )
    assert diff.count() == 0


def _py_pagerank(edges, iterations=5, scale=1_000_000):
    """Driver-side integer reference: the exact arithmetic the distributed
    loop and the unrolled SQL oracle must both reproduce."""
    from collections import defaultdict

    outdeg = defaultdict(int)
    for s, _d in edges:
        outdeg[s] += 1
    nodes = sorted(outdeg)
    base = scale - scale * 85 // 100
    rank = {n: scale for n in nodes}
    for _ in range(iterations):
        tot = defaultdict(int)
        for s, d in edges:
            tot[d] += rank[s] // outdeg[s]
        rank = {
            n: base + (85 * tot[n]) // 100 if n in tot else base
            for n in nodes
        }
    return rank


def test_pagerank_matches_integer_reference_on_small_graph(spark):
    """Bit-exact vs a pure-Python integer PageRank on a hand-made graph
    with asymmetric degrees and a sink-ish node."""
    edges = [
        (1, 2), (1, 3), (1, 4),
        (2, 1),
        (3, 1), (3, 2),
        (4, 1),
        (5, 1),  # 5 has out-edges but no in-edges -> teleport mass only
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(df).collect()
    }
    assert got == _py_pagerank(edges)


def test_pagerank_mass_is_bounded_and_deterministic(spark, sf_dir):
    """Integer floor losses only ever shrink mass: base*n <= sum(rank) <=
    scale*n. Two runs are bit-identical (no rand, no float)."""
    from crz_scraper_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    r1 = pagerank_fixed_point(edges)
    agg = r1.agg(
        F.count("*").alias("n"), F.sum("rank").alias("mass")
    ).collect()[0]
    assert 150_000 * agg["n"] <= agg["mass"] <= 1_000_000 * agg["n"]
    r2 = pagerank_fixed_point(edges)
    sym = r1.alias("a").join(r2.alias("b"), "node").filter(
        F.col("a.rank") != F.col("b.rank")
    )
    assert sym.count() == 0 and r1.count() == r2.count()


def test_copurchase_basket_cap_drops_mega_orders(spark, monkeypatch):
    from crz_scraper_spark.operators import graph

    monkeypatch.setattr(graph, "_PR_MAX_BASKET", 5)
    rows = [(1, p) for p in range(10)] + [(2, 100), (2, 101)]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    edges = copurchase_edges(li)
    # order 1 (10 parts) is dropped entirely; order 2 yields both directions
    got = sorted((r["src"], r["dst"]) for r in edges.collect())
    assert got == [(100, 101), (101, 100)]


def test_token_budget_sample_respects_budget(spark, sf_dir):
    from crz_scraper_spark.plans.curation_plans import (
        _BUDGET_TOKENS,
        token_budget_sample,
    )

    out = token_budget_sample(spark, sf_dir).collect()
    assert out, "sampler kept nothing"
    for r in out:
        assert r["budget_used"] <= _BUDGET_TOKENS
        assert r["tokens_kept"] == r["budget_used"]
        assert r["n_docs_kept"] >= 1


def test_streaming_left_outer_join_emits_unmatched(spark, sf_dir):
    """The null-padded (sentinel -1) rows must actually appear — i.e. the
    eviction flush ran — and matched rows must agree with the batch range
    join on the same frontier."""
    from crz_scraper_spark.plans.event_plans import streaming_left_outer_join

    out = streaming_left_outer_join(spark, sf_dir).persist()
    try:
        n = out.count()
        unmatched = out.filter(F.col("purchase_id") == -1).count()
        assert n > 0
        assert 0 < unmatched < n
        # each (click, purchase) pair at most once
        dup = (
            out.groupBy("click_id", "purchase_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dup == 0
    finally:
        out.unpersist()


@pytest.mark.parametrize("width", [16, 1024])
def test_cms_error_shrinks_with_width(spark, monkeypatch, width):
    """Wider sketches overcount less (on average) — the epsilon = e/width
    knob actually connected."""
    from crz_scraper_spark.operators import sketches

    monkeypatch.setattr(sketches, "_CMS_WIDTH", width)
    words = [f"w{i % 200}" for i in range(4000)]
    toks = spark.createDataFrame([(w,) for w in words], ["word"])
    exact = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    est = cms_estimate(cms_build(exact, "word"), exact, "word")
    over = est.agg(F.sum(F.col("est") - F.col("cnt"))).collect()[0][0]
    if width == 16:
        assert over > 0  # heavy collision regime must overcount
    else:
        assert over < 4000  # wide sketch: small aggregate error


def test_triangle_counts_match_bruteforce(spark):
    """Orientation-based counts equal the brute-force enumeration on a
    random-ish small graph with skewed degrees (node 0 is a hub)."""
    import itertools

    und = {(0, i) for i in range(1, 12)}  # hub star
    und |= {(1, 2), (2, 3), (3, 4), (1, 3), (5, 6), (6, 7), (5, 7)}
    adj = set(und) | {(b, a) for a, b in und}
    nodes = sorted({n for e in und for n in e})
    expect = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in adj and (b, c) in adj and (a, c) in adj:
            expect[a] += 1
            expect[b] += 1
            expect[c] += 1
    expect = {n: k for n, k in expect.items() if k}
    from crz_scraper_spark.operators.graph import _TRI_TOP, triangle_counts

    assert len(expect) <= _TRI_TOP

    def adjacency(pairs):
        return (
            spark.createDataFrame(sorted(pairs), ["src", "dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.collect_set("dst").alias("nbrs"))
        )

    got = {r["node"]: r["n_tri"] for r in triangle_counts(adjacency(adj)).collect()}
    assert got == expect
    # Ids beyond int32 must skip compaction (bounds check) yet stay exact,
    # and the output keeps the input's bigint type.
    big = 2**40
    shifted = triangle_counts(adjacency((a + big, b + big) for a, b in adj))
    got_big = {r["node"] - big: r["n_tri"] for r in shifted.collect()}
    assert got_big == expect
    assert dict(shifted.dtypes)["node"] == "bigint"


def test_referential_integrity_clean_on_testdata(spark, sf_dir):
    from crz_scraper_spark.plans.integrity_plans import (
        _FK_EDGES,
        referential_integrity_audit,
    )

    rows = referential_integrity_audit(spark, sf_dir).collect()
    assert len(rows) == len(_FK_EDGES)
    for r in rows:
        assert r["n_orphans"] == 0, r
        assert r["n_rows"] >= r["n_keys"] >= 1


def test_ewma_fold_matches_python_reference(spark, sf_dir):
    """The distributed month-agg + array fold must equal a driver-side
    integer EWMA over the same ordered series."""
    from crz_scraper_spark.plans.core_plans import ewma_nation_revenue

    got = {
        r["n_name"]: (r["n_months"], r["ewma_cents"])
        for r in ewma_nation_revenue(spark, sf_dir).collect()
    }
    assert got, "no nations"
    # independent recompute through SQL-free pandas path
    import pandas as pd

    from crz_scraper_spark.catalog import load_tables

    t = load_tables(spark, sf_dir)
    df = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.trunc("o_orderdate", "month").alias("month"),
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)").alias("v"),
        )
        .toPandas()
    )
    monthly = df.groupby(["n_name", "month"])["v"].sum().reset_index()
    monthly["cents"] = (monthly["v"] * 100).apply(lambda d: int(d))
    for name, g in monthly.groupby("n_name"):
        xs = [int(c) for _, c in sorted(zip(g["month"], g["cents"]))]
        acc = xs[0]
        for x in xs[1:]:
            acc = (acc + x) // 2
        assert got[name] == (len(xs), acc), name


def test_association_rules_invariants(spark, sf_dir):
    """conf_ppm <= 1e6; rules come in directional pairs sharing n_ab and
    lift; lift ordering is the output ordering."""
    from crz_scraper_spark.plans.tpch2_plans import association_rules

    rows = association_rules(spark, sf_dir).collect()
    assert rows
    lifts = [r["lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)
    for r in rows:
        assert 0 < r["conf_ppm"] <= 1_000_000
        assert r["n_ab"] >= 3


# ---------------------------------------------------------------------------
# HyperLogLog (md5-portable edition, operators/sketches.py)
# ---------------------------------------------------------------------------


def _py_hll_registers(values):
    """Independent reference: bucket/rho recomputed with hashlib, not Spark."""
    import hashlib

    regs = {}
    for v in values:
        h = hashlib.md5(str(v).encode()).hexdigest()
        bucket = int(h[:2], 16)
        tail = int(h[2:15], 16)  # 52 bits
        rho = 53 - tail.bit_length() if tail else 53
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_hll_registers_match_independent_reference(spark):
    """Every (bucket, mx) register equals a hashlib reimplementation — the
    portability contract the DuckDB oracle depends on."""
    vals = list(range(1, 400))
    df = spark.createDataFrame([(v,) for v in vals], ["v"]).withColumn(
        "g", F.lit("only")
    )
    got = {
        r["bucket"]: r["mx"]
        for r in hll_registers(df, "v", ["g"]).collect()
        if r["mx"] > 0
    }
    assert got == _py_hll_registers(vals)


def test_hll_estimate_sparse_equals_densified_estimate(spark):
    """The r10 densify-elimination: estimating straight off the sparse
    register table (absent buckets as arithmetic) must reproduce
    hll_estimate over the densified table bit-for-bit — hll_est AND
    zero_regs, across groups with very different fill levels."""
    from crz_scraper_spark.operators.sketches import hll_estimate_sparse

    rows = [(v, "big") for v in range(2000)] + [(v, "tiny") for v in range(3)]
    df = spark.createDataFrame(rows, ["v", "g"])
    sparse = _hll_sparse(df, "v", ["g"])
    direct = sorted(tuple(r) for r in hll_estimate_sparse(sparse, ["g"]).collect())
    densified = sorted(
        tuple(r)
        for r in hll_estimate(_hll_densify(sparse, ["g"]), ["g"]).collect()
    )
    assert direct == densified and direct


def test_hll_sparse_with_exact_single_pass_parity(spark):
    """The r10 one-scan fold: the combined (registers + per-bucket exact)
    aggregation must reproduce the standalone sparse registers exactly AND
    Σ nd per group must equal countDistinct — duplicates included, multiple
    groups included."""
    from crz_scraper_spark.operators.sketches import (
        _hll_sparse,
        hll_sparse_with_exact,
    )

    rows = [(v % 130, "g%d" % (v % 3)) for v in range(900)]
    df = spark.createDataFrame(rows, ["v", "g"])
    combined = hll_sparse_with_exact(df, "v", ["g"])
    regs_combined = sorted(
        (r["g"], r["bucket"], r["mx"]) for r in combined.collect()
    )
    regs_standalone = sorted(
        (r["g"], r["bucket"], r["mx"])
        for r in _hll_sparse(df, "v", ["g"]).collect()
    )
    assert regs_combined == regs_standalone and regs_combined
    nd_sum = {
        r["g"]: r["s"]
        for r in combined.groupBy("g")
        .agg(F.sum("nd").alias("s"))
        .collect()
    }
    exact = {
        r["g"]: r["c"]
        for r in df.groupBy("g")
        .agg(F.countDistinct("v").alias("c"))
        .collect()
    }
    assert nd_sum == exact


def test_hll_estimate_accuracy_and_max_merge(spark):
    """Estimate within 4 standard errors (sigma = 1.04/sqrt(256) = 6.5%) of
    the true 5000, and registers(A ∪ B) == element-wise MAX of partial
    register tables — the contract that makes daily/per-executor sketches
    composable without revisiting data."""
    a = spark.createDataFrame([(i,) for i in range(3000)], ["v"]).withColumn(
        "g", F.lit("x")
    )
    b = spark.createDataFrame(
        [(i,) for i in range(2000, 5000)], ["v"]
    ).withColumn("g", F.lit("x"))
    est = hll_estimate(hll_registers(a.union(b), "v", ["g"]), ["g"]).collect()[0]
    assert abs(est["hll_est"] - 5000) <= 4 * 0.065 * 5000
    merged = (
        hll_registers(a, "v", ["g"])
        .union(hll_registers(b, "v", ["g"]))
        .groupBy("g", "bucket")
        .agg(F.max("mx").alias("mx"))
    )
    direct = hll_registers(a.union(b), "v", ["g"])
    diff = (
        merged.alias("m")
        .join(direct.alias("d"), ["g", "bucket"], "full")
        .filter(
            F.coalesce(F.col("m.mx"), F.lit(-1))
            != F.coalesce(F.col("d.mx"), F.lit(-1))
        )
        .count()
    )
    assert diff == 0


def test_hll_incremental_store_matches_full_build_and_is_idempotent(
    spark, tmp_path
):
    """Incremental ingest (day 1 committed to the register store, day 2
    merged in) must yield the SAME estimate as one build over the full
    input — the merge-over-batches ≡ union contract the DuckDB oracle of
    `hll_incremental_md5` rests on — and re-ingesting day 2 must change
    nothing (MAX-merge absorbs duplicate registers)."""
    from crz_scraper_spark.operators.sketches import hll_incremental

    store = str(tmp_path / "hll_store")
    full = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(2000)], ["v", "g"]
    )
    day1 = full.filter(F.col("v") % 2 == 0)
    day2 = full.filter(F.col("v") % 2 == 1)
    hll_incremental(spark, day1, "v", ["g"], store).count()
    got = sorted(
        (r["g"], r["hll_est"], r["zero_regs"])
        for r in hll_incremental(spark, day2, "v", ["g"], store).collect()
    )
    want = sorted(
        (r["g"], r["hll_est"], r["zero_regs"])
        for r in hll_estimate(hll_registers(full, "v", ["g"]), ["g"]).collect()
    )
    assert got == want
    again = sorted(
        (r["g"], r["hll_est"], r["zero_regs"])
        for r in hll_incremental(spark, day2, "v", ["g"], store).collect()
    )
    assert again == want


def test_hll_incremental_store_rejects_family_mismatch(spark, tmp_path):
    """A register store pins its hash family via the `_family` marker; a
    caller presenting a different family string must be refused (mixing
    register widths would corrupt every later estimate)."""
    import pytest

    from crz_scraper_spark.operators.dedup import _store_family_check
    from crz_scraper_spark.operators.sketches import hll_incremental

    store = str(tmp_path / "hll_store")
    df = spark.createDataFrame([(1, "g")], ["v", "g"])
    hll_incremental(spark, df, "v", ["g"], store).count()
    with pytest.raises(ValueError, match="family"):
        _store_family_check(spark, store, "hll_md5:m1024")


def test_graph_adjacency_path_equals_edge_path(spark):
    """The round-8 plan change: PageRank consumed via a set-semantics
    adjacency (`copurchase_adjacency`'s one node-keyed shuffle) must
    produce IDENTICAL results to the edge-list path — the physical
    strategy changed, the graph didn't."""
    from crz_scraper_spark.operators.graph import pagerank_on_adjacency

    edges = [
        (1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2),
        (3, 4), (4, 3), (4, 5), (5, 4), (4, 6), (6, 4), (5, 6), (6, 5),
        (2, 6), (6, 2),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    adj = df.groupBy(F.col("src").alias("node")).agg(
        F.collect_set("dst").alias("nbrs")
    )
    pr_e = {r["node"]: r["rank"] for r in pagerank_fixed_point(df).collect()}
    pr_a = {r["node"]: r["rank"] for r in pagerank_on_adjacency(adj).collect()}
    assert pr_e == pr_a and pr_e


def test_copurchase_adjacency_matches_exploded_edges(spark):
    """copurchase_edges == explode(copurchase_adjacency): distinct symmetric
    pairs either way, so every edge consumer inherits the cheap build."""
    rows = [
        (1, 10), (1, 11), (1, 10),       # dup within basket
        (2, 10), (2, 11),                # repeats pair (10,11)
        (3, 12), (3, 13), (3, 14),
    ]
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    edges = {
        (r["src"], r["dst"]) for r in copurchase_edges(li).collect()
    }
    adj = {
        r["node"]: sorted(r["nbrs"])
        for r in copurchase_adjacency(li).collect()
    }
    assert edges == {
        (a, b)
        for a, nbrs in adj.items()
        for b in nbrs
    }
    assert adj[10] == [11] and adj[12] == [13, 14]
    # symmetric + self-free + distinct
    assert all((b, a) in edges and a != b for a, b in edges)
