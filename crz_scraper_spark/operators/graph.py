"""Iterative graph ranking (PageRank) as bounded-iteration DataFrame joins.

The reference has no graph operator; this extends the engine the same way
`operators/similarity.py::kmeans_fit` does for clustering — an iterative
distributed algorithm expressed as a driver loop over declarative plans, so
Catalyst/AQE handle the physical strategy at any scale. The per-iteration
shape is the standard Pregel-style step: join ranks to the (persisted)
out-degree-annotated edge list on ``src``, shuffle contributions by ``dst``,
aggregate. Nothing node- or edge-proportional ever reaches the driver; the
loop is a FIXED iteration count, so the whole computation is one plan chain.

All arithmetic is integer fixed-point (parts-per-million ranks, integer DIV
for both the out-degree split and the damping multiply) — deterministic and
engine-portable, so a SQL oracle that unrolls the same ``_PR_ITERS`` steps
reproduces the ranks bit-for-bit. That is what makes an *iterative* operator
hash-checkable against DuckDB at all: float PageRank would drift in the last
ulp between engines.

Fixed-point quantization note: a node's contribution ``rank DIV outdeg``
floors to 0 once ``outdeg > rank`` (hub nodes with millions of neighbours at
ppm scale). That loses mass monotonically — ranks are a deterministic lower
bound of the real-valued iteration, which is the right failure mode for a
"top influencers" ranking; raise ``_PR_SCALE`` if the graph's max degree
approaches it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PageRank: power steps, damping factor 85/100, ranks in parts per million.
_PR_ITERS = 5
_PR_DAMP_NUM, _PR_DAMP_DEN = 85, 100
_PR_SCALE = 1_000_000
# Orders with more distinct parts than this are left out of the co-purchase
# graph.
_PR_MAX_BASKET = 50
# Nodes `triangle_counts` returns, by triangle count.
_TRI_TOP = 20


def _pagerank_chain(adj: DataFrame, nodes: DataFrame) -> DataFrame:
    """The lazy ``_PR_ITERS``-step rank-update chain: ONE join + ONE
    aggregation per iteration.

    The pre-r10 shape ran TWO joins per step — (adj ⋈ ranks) to ship
    contributions, then a second ``nodes LEFT JOIN incoming`` purely to
    re-attach zero-contribution nodes for the ``coalesce(tot, 0)``. That
    second join (two exchange inputs per iteration) is replaced by riding
    one zero-contribution row per node THROUGH the message aggregation:
    union is shuffle-free, so the zero rows add only node-count rows to
    the one irreducible Pregel message shuffle the groupBy(dst) already
    pays. The ``is_node`` max-marker preserves the operator's exact
    contract for non-symmetric graphs — ranks are emitted for SOURCE
    nodes only, so a dst-only sink (marker 0, no zero row) is filtered
    out post-aggregation just as the old inner node list dropped it.
    Arithmetic is unchanged integer fixed-point: a node with no incoming
    mass now sums tot = 0 (its zero row) and ``(d * 0) DIV den = 0``
    reproduces the old ``coalesce(NULL, 0)`` bit-for-bit.
    """
    base = _PR_SCALE - _PR_SCALE * _PR_DAMP_NUM // _PR_DAMP_DEN
    ranks = nodes.select("node", F.lit(_PR_SCALE).cast("bigint").alias("rank"))
    zeros = nodes.select(
        "node",
        F.lit(0).cast("bigint").alias("contrib"),
        F.lit(1).alias("is_node"),
    )
    for _ in range(_PR_ITERS):
        contribs = adj.join(ranks, "node").select(
            F.explode("nbrs").alias("node"),
            F.expr("rank DIV size(nbrs)").alias("contrib"),
            F.lit(0).alias("is_node"),
        )
        stats = (
            contribs.unionByName(zeros)
            .groupBy("node")
            .agg(
                F.sum("contrib").alias("tot"),
                F.max("is_node").alias("is_node"),
            )
        )
        ranks = stats.filter(F.col("is_node") == 1).select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({_PR_DAMP_NUM} * tot) DIV {_PR_DAMP_DEN}")
            )
            .cast("bigint")
            .alias("rank"),
        )
    return ranks


def pagerank_on_adjacency(adjacency: DataFrame) -> DataFrame:
    """PageRank over a prebuilt ``(node, nbrs array)`` adjacency.

    The adjacency is persisted here for the iteration loop. The
    groupBy(dst) message shuffle is the irreducible Pregel step (one join
    + one aggregation per iteration — see `_pagerank_chain`).
    """
    adj = adjacency.select("node", "nbrs").persist()
    nodes = adj.select("node")
    try:
        ranks = _pagerank_chain(adj, nodes)
        # Materialize the bounded-depth chain while the adjacency persist is
        # alive; the result is node-sized, not edge-sized, so localCheckpoint
        # (executor-memory, no lineage) is the right cut point.
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        adj.unpersist()
    return ranks


def copurchase_adjacency(lineitem: DataFrame) -> DataFrame:
    """Co-purchase graph in adjacency form: ``(node, nbrs array)``, each
    neighbor set distinct by construction.

    Pair generation is quadratic in basket size, so baskets with more than
    ``_PR_MAX_BASKET`` distinct parts are dropped first — the standard guard
    that keeps one mega-order (a crawler, a corporate bulk buy) from
    emitting k^2 pairs in a single task. TPC-H baskets top out at 7 parts,
    so the cap is a no-op on testdata and purely a scale guard.

    Physical shape — the round-8 sf10 probe's lesson: the previous form
    ended in ``pairs.distinct()``, a full shuffle of every expanded pair
    keyed on the PAIR (240M rows at sf10) that removed only 0.3% of them
    (within-basket dedup is already done by the basket ``collect_set``;
    cross-basket repeats of the same pair are rare at this density), then
    downstream adjacency builds shuffled the deduped edges AGAIN on src —
    measured 332 s for the distinct alone at sf10, the dominant cost of
    every graph query. Here dedup instead rides the aggregation that was
    needed anyway: ``groupBy(node).collect_set(nbr)`` partial-aggregates
    MAP-SIDE (ObjectHashAggregate), so each task ships per-node partial
    sets, never raw pairs — ONE node-keyed shuffle replaces the pair-keyed
    distinct + the node-keyed regroup (measured 54 s from scratch at sf10,
    6x the whole old edge build). Per-node set size is bounded by the
    co-purchase neighborhood (sum of co-basket sizes), the same bound the
    old adjacency rows had.
    """
    baskets = (
        lineitem.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .filter(
            (F.size("parts") >= 2) & (F.size("parts") <= _PR_MAX_BASKET)
        )
        .select("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("node"), "parts")
        .select("node", F.explode("parts").alias("nbr"))
        .filter(F.col("node") != F.col("nbr"))
    )
    return pairs.groupBy("node").agg(F.collect_set("nbr").alias("nbrs"))


def triangle_counts(adjacency: DataFrame) -> DataFrame:
    """(node, n_tri) of the ``_TRI_TOP`` nodes in the most triangles
    (ties to the lower node id).

    ``adjacency`` ``(node, nbrs array)`` MUST be SYMMETRIC (v ∈ nbrs[u] ⇔
    u ∈ nbrs[v]) and self-loop-free, as `copurchase_adjacency` guarantees:
    each node's undirected degree is read as ``size(nbrs)`` and the
    undirected edge set is the src<dst half of the explosion. A DIRECTED
    adjacency (e.g. the one pagerank builds from an arbitrary edge list)
    silently yields wrong degrees and a wrong triangle set. The naive
    wedge enumeration explodes on hub nodes (sum of deg^2); the standard
    fix — and the whole point of this
    operator — is DEGREE-ORDERED ORIENTATION (Chiba-Nishizeki / the
    "node-iterator++" scheme): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, which caps every node's
    oriented out-degree at O(sqrt(m)) and the wedge count at O(m^1.5)
    regardless of the degree distribution. The orientation is a total
    order, so each triangle {a,b,c} is enumerated exactly once as the
    wedge (a->b, a->c with b before c) closed by the oriented edge b->c.

    Physical shape — EDGE ITERATOR over the oriented graph, not the wedge
    join: a wedge self-join materializes sum-of-outdeg² rows (~720M at a
    12M-edge co-purchase graph, measured) only to discard most of them at
    the closing join. Instead each node's oriented out-neighborhood is
    collected ONCE into a sorted array (bounded by the orientation cap),
    each oriented edge (a, b) picks up both endpoint arrays via two joins,
    and `array_intersect` (JVM hash-set codegen, no shuffle) yields the
    common neighbors — each triangle exactly once, at its unique
    orientation-minimal edge. Shuffled volume is edges + neighbor-array
    payloads (sum of endpoint degrees), and only ACTUAL triangles are ever
    materialized as rows. The result is hash-checkable against a plain
    a<b<c three-way self-join oracle: orientation and the intersection
    plan change the strategy, not the triangle set.
    """
    # The symmetric neighbor sets already hold each node's undirected
    # degree as size(nbrs) — deriving degrees from an exploded edge list
    # would re-shuffle the full 2m-row expansion (map-side combined, but
    # still the graph's biggest aggregate) to recompute what the adjacency
    # aggregate already paid for (round-8 sf10 probe).
    und = adjacency.select(
        F.col("node").alias("src"), F.explode("nbrs").alias("dst")
    ).filter(F.col("src") < F.col("dst"))
    deg = adjacency.select("node", F.size("nbrs").alias("deg"))
    # Annotate both endpoints, then orient by (deg, node).
    e = (
        und.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "sdeg")
        .join(
            deg.withColumnRenamed("node", "dst").withColumnRenamed(
                "deg", "ddeg"
            ),
            "dst",
        )
    )
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
    ).persist()
    try:
        # The dominant cost at scale is the second join's shuffle of
        # (a, b, na) rows — each oriented edge carries its source's
        # neighbor ARRAY (sum-of-outdeg² elements in aggregate; the sf3
        # spill the r5/r7 slope work documented). Two payload levers,
        # both exact:
        #   compact ids — when the long ids actually fit in int32 (one
        #   bounds agg over the persisted edges; this also materializes
        #   the persist), carry them as ints: halves every array element
        #   and shrinks the sort keys.
        #   hash join hint — SHUFFLE_HASH on the node-sized adjacency
        #   side so the edge×array side STREAMS through both joins
        #   instead of being sort-spilled by sort-merge (the array rows
        #   are exactly the payload you don't want to sort).
        # Measured standalone (median of 3, fresh session each):
        # sf3 103.8 s baseline → 68.3 s compact → 56.3 s compact+hint;
        # sf0.1 and sf1 flat (3.6→3.7 s, 13.9→15.1 s — within spread).
        # zstd io codec would buy another 11% at sf3 (50.0 s) but taxes
        # sf0.1 +23%, so the codec stays at the lz4 default.
        id_type = dict(oriented.dtypes)["a"]
        work = oriented
        out_cast: str | None = None
        if id_type in ("bigint", "long"):
            lo, hi = oriented.agg(
                F.min(F.least("a", "b")), F.max(F.greatest("a", "b"))
            ).first()
            if (
                lo is not None
                and hi is not None
                and -(2**31) <= lo
                and hi < 2**31
            ):
                work = oriented.select(
                    F.col("a").cast("int").alias("a"),
                    F.col("b").cast("int").alias("b"),
                )
                out_cast = id_type
        adj = work.groupBy(F.col("a").alias("node")).agg(
            F.sort_array(F.collect_list("b")).alias("nbrs")
        )
        adj_a = adj.select(
            F.col("node").alias("a"), F.col("nbrs").alias("na")
        ).hint("shuffle_hash")
        adj_b = adj.select(
            F.col("node").alias("b"), F.col("nbrs").alias("nb")
        ).hint("shuffle_hash")
        # Join ORDER is a payload lever (round 9): whichever adjacency joins
        # FIRST rides inside the wide intermediate through the second join's
        # shuffle. Attaching the DST side first ships sum_e outdeg(dst)
        # array elements (the oriented 2-path count) instead of
        # sum_e outdeg(src) = sum outdeg² — and orientation points every
        # edge AT the higher-(deg,id) endpoint, whose own out-degree is the
        # small one, so dst-first is never larger and wins whatever skew
        # exists. Measured on the sf3 co-purchase graph: 2.50B vs 1.48B
        # elements (1.69x), wall 45.1 -> 37.5 s min-of-2; sf0.1 flat. At
        # sf10 wall-clock is parity under this box's ±30% disk variance —
        # the reduction is real bytes (it's network on a real cluster), but
        # the local-mode sf10 bottleneck is page-cache I/O, not payload
        # (PLANS.md round-9 entry). A bucketed-table adjacency was also
        # A/B'd and lost (the saved exchange was already partitioning-
        # reused; the bucketed write is pure extra I/O).
        withs = work.join(adj_b, "b").join(adj_a, "a")
        tri = withs.select(
            "a", "b", F.explode(F.array_intersect("na", "nb")).alias("c")
        )
        per_node = (
            tri.select(
                F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                    "node"
                )
            )
            .groupBy("node")
            .agg(F.count("*").alias("n_tri"))
        )
        if out_cast is not None:
            per_node = per_node.select(
                F.col("node").cast(out_cast).alias("node"), "n_tri"
            )
        # Cut lineage at the NODE-sized aggregate (never at the limit: a
        # localCheckpoint above a TakeOrderedAndProject ships each task's
        # sort payload through the driver's result channel — observed
        # blowing spark.driver.maxResultSize at sf1).
        per_node = per_node.localCheckpoint(eager=True)
    finally:
        oriented.unpersist()
    return per_node.orderBy(F.desc("n_tri"), "node").limit(_TRI_TOP)
