"""Graph plans: iterative ranking over relationship graphs derived from the
relational tables (operators/graph.py).

`part_pagerank` ranks parts by damped PageRank over the co-purchase graph
(parts sharing an order). The whole iteration is integer fixed-point, so the
oracle — the SAME ``iterations`` power steps unrolled as chained CTEs,
generated from the same Python constants — hash-matches the Spark loop
exactly. This is the engine's demonstration that even iterative algorithms
stay inside the driver-verified correctness gate when their arithmetic is
made engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import load_table
from crz_scraper_spark.operators.graph import (
    _PR_DAMP_DEN,
    _PR_DAMP_NUM,
    _PR_ITERS,
    _PR_MAX_BASKET,
    _PR_SCALE,
    _TRI_TOP,
)

_PR_TOP = 20


def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.graph import (
        copurchase_adjacency,
        pagerank_on_adjacency,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # Adjacency consumed directly: copurchase_adjacency's collect_set IS
    # the dedup (map-side combined, one node-keyed shuffle) — exploding to
    # an edge list only for pagerank to regroup it would re-shuffle the
    # full edge expansion for nothing (the 332 s sf10 distinct, PLANS.md
    # round-8 probe).
    ranks = pagerank_on_adjacency(copurchase_adjacency(li))
    # Global top-K: plain orderBy + limit compiles to TakeOrderedAndProject
    # (per-partition heaps, K rows to the driver) — no full sort runs.
    return ranks.select(
        F.col("node").alias("partkey"), F.col("rank").alias("rank_ppm")
    ).orderBy(F.desc("rank_ppm"), "partkey").limit(_PR_TOP)


def part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (top 20).

    The Spark plan uses degree-ordered orientation (operators/graph.py::
    triangle_counts — O(m^1.5) wedges whatever the degree skew); the oracle
    is the plain a<b<c three-way self-join, which enumerates the same
    triangle set by commutativity. Same results, different physical
    strategy — exactly the contract the correctness gate checks.
    """
    from crz_scraper_spark.operators.graph import (
        copurchase_adjacency,
        triangle_counts,
    )

    li = load_table(spark, sf_dir, "lineitem")
    out = triangle_counts(copurchase_adjacency(li))
    return out.select(F.col("node").alias("partkey"), "n_tri").orderBy(
        F.desc("n_tri"), "partkey"
    )


_GRAPH_PREFIX_SQL = f"""
WITH ok_orders AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING count(DISTINCT l_partkey) <= {_PR_MAX_BASKET}
),
li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN ok_orders USING (l_orderkey)
),
pairs AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
)"""


def _triangles_sql() -> str:
    return f"""{_GRAPH_PREFIX_SQL},
und AS (SELECT src AS u, dst AS v FROM pairs WHERE src < dst),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node AS partkey, count(*) AS n_tri
FROM (SELECT unnest([a, b, c]) AS node FROM tri)
GROUP BY node
ORDER BY n_tri DESC, partkey
LIMIT {_TRI_TOP}
"""


def _pagerank_sql() -> str:
    base = _PR_SCALE - _PR_SCALE * _PR_DAMP_NUM // _PR_DAMP_DEN
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{k} AS (
  SELECT n.node,
         CAST({base} + COALESCE(({_PR_DAMP_NUM} * s.tot) // {_PR_DAMP_DEN}, 0)
              AS BIGINT) AS rank
  FROM (SELECT src AS node FROM deg) n
  LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank // e.outdeg) AS tot
    FROM e JOIN r{k - 1} r ON r.node = e.src
    GROUP BY e.dst
  ) s USING (node)
)"""
        )
    chain = ",\n".join(steps)
    return f"""{_GRAPH_PREFIX_SQL},
deg AS (SELECT src, count(*) AS outdeg FROM pairs GROUP BY src),
e AS (SELECT p.src, p.dst, d.outdeg FROM pairs p JOIN deg d USING (src)),
r0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg),
{chain}
SELECT node AS partkey, rank AS rank_ppm
FROM r{_PR_ITERS}
ORDER BY rank_ppm DESC, partkey
LIMIT {_PR_TOP}
"""


# ---------------------------------------------------------------------------
# part_reach_3hops — seed-rooted bounded BFS as a RECURSIVE CTE: how many
# parts are first reachable at each hop from the minimum-key part over the
# co-purchase graph. ONE shared ANSI string runs on BOTH engines (Spark 4
# ships recursive CTEs; the engine's declarative surface now covers them).
# Recursion enumerates PATHS (Spark's recursive CTEs support only UNION
# ALL — recursive UNION-dedup raises UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE
# as of 4.1, and the raw graph's ~120 average degree blows deg^hops past
# the 1M recursion row limit, both hit before this shape). So the fanout
# is bounded STRUCTURALLY: the walk runs over the top-5-strongest-
# neighbors pruned graph (per-source row_number over co-occurrence
# weight — the kNN-graph every similarity-exploration pipeline builds),
# capping paths at 5^hops from the seed whatever the corpus size.
# min(hop) per node collapses re-reached nodes. Unbounded reachability
# belongs to the pointer-jumping connected-components operator
# (operators/dedup.py).
# ---------------------------------------------------------------------------

PART_REACH_3HOPS_SQL = """
WITH RECURSIVE baskets AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
),
pairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS w
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY w DESC, dst ASC)
             AS rn
    FROM pairs
  ) ranked
  WHERE rn <= 5
),
reach(node, hop) AS (
  SELECT min(src), 0 FROM knn
  UNION ALL
  SELECT k.dst, r.hop + 1
  FROM reach r JOIN knn k ON k.src = r.node
  WHERE r.hop < 3
)
SELECT hop, count(*) AS n_first_reached
FROM (SELECT node, min(hop) AS hop FROM reach GROUP BY node)
GROUP BY hop
ORDER BY hop
"""


def part_reach_3hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side: the kNN edge frame is built ONCE as a DataFrame
    (collect_set + map-side explode plus the per-source top-5 window),
    cached, and the FIXED 3-hop walk is unrolled into chained broadcast
    joins over the cached frame (the recursive-CTE
    executor re-planned one union branch per level and re-evaluated every
    CTE it referenced per iteration — measured 14.7 s at sf0.1 with the
    pair build inside the recursion, and still 33 driver jobs with it
    hoisted; the unrolled plan is one query). The oracle keeps the
    single recursive-CTE string since DuckDB materializes CTEs. The 4-row
    result is collected so the cache never outlives the call."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("parts"))
        .filter(F.size("parts") >= 2)
        .select("parts")
    )
    pairs = (
        baskets.select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    )
    knn = (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") <= 5)
        .select("src", "dst")
        .persist()
    )
    try:
        # Bounded-hop walk as driver-paced BFS (optimization r10, guide
        # §1.2 step 1): the recursive-CTE executor re-planned and
        # re-executed one union branch per level — measured 33 driver
        # jobs / 1447 tasks at sf0.1 for a walk whose frontier is
        # structurally ≤ 5^hop rows (an unrolled chained-broadcast-join
        # form was tried first and was WORSE: every nested broadcast
        # subtree re-executed all prior levels — 35 jobs / 2285 tasks).
        # Each BFS level is ONE filter-collect over the cached kNN frame;
        # everything that reaches the driver is capped at 5·|frontier| ≤
        # 5^3·5 rows BY CONSTRUCTION of the top-5 pruned graph — the same
        # bounded-collect contract as connected_components' driver path.
        # Memory math (VERDICT r10 item 7): the cap is 625 collected long
        # ids ≈ 75 KB of Rows, at ANY corpus scale — the row_number ≤ 5
        # cut fixes the out-degree, so the bound is a property of the walk
        # (depth 3, fan-out 5), not of the data volume.
        # Equivalence: the CTE enumerates paths and takes min(hop) per
        # node; a node's minimum hop over ≤3-hop paths IS its BFS level,
        # and visited-pruning only removes re-reached nodes whose min hop
        # is already recorded. The DuckDB oracle keeps the recursive-CTE
        # string, so the hash-match IS the equivalence proof.
        seed = knn.agg(F.min("src")).collect()[0][0]
        visited = {seed: 0}
        frontier = [seed]
        for hop in (1, 2, 3):
            if not frontier:
                break
            rows = (
                knn.filter(F.col("src").isin(frontier))
                .select("dst")
                .collect()
            )
            frontier = [
                n for n in {r[0] for r in rows} if n not in visited
            ]
            for n in frontier:
                visited[n] = hop
        from collections import Counter

        cnt = Counter(visited.values())
        out = spark.createDataFrame(
            [(h, cnt[h]) for h in sorted(cnt)],
            "hop INT, n_first_reached BIGINT",
        )
    finally:
        knn.unpersist()
    return out


QUERIES: dict = {
    "part_pagerank": (part_pagerank, _pagerank_sql()),
    "part_triangles": (part_triangles, _triangles_sql()),
    "part_reach_3hops": (part_reach_3hops, PART_REACH_3HOPS_SQL),
}
