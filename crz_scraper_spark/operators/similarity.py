"""Similarity search over an embedding column (array<float>).

BASELINE.json:6 scale extension (no reference counterpart). Two paths:

- `cosine_topk` — exact brute-force top-k: broadcast the (small) query set
  against the full corpus; dot products via `zip_with`+`aggregate` higher-order
  functions (JVM-side, no Python); top-k per query via a window. At 100 TB the
  corpus side stays partitioned and is scanned once; the only shuffle is the
  final per-query top-k (k rows per partition pre-aggregated by the window's
  partial sort — negligible).
- `lsh_ann` — approximate path: random-hyperplane (signed random projection)
  bucketing; only same-bucket pairs are scored. Buckets come from a fixed-seed
  deterministic plane matrix so results are reproducible. This is the scale
  path: the candidate join is equi on the bucket signature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Neighbours each query gets from the top-k searches below.
_TOP_K = 5
# Random-hyperplane LSH: signature bits, embedding width, and the Hamming
# radius of the probed buckets around a query's own.
_LSH_PLANES = 4
_LSH_DIM = 64
_LSH_MULTIPROBE = 1
# IVF: coarse-quantizer cells, and the nearest cells each query scans.
_IVF_NLIST = 8
_IVF_NPROBE = 2


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns (higher-order
    functions only — stays in codegen, no UDF)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact top-``_TOP_K`` cosine neighbors for each query vector; both
    frames carry ``(vec_id, embedding)``.

    Output: (query_id, neighbor_id, cos_sim, rank), excluding self-matches.
    The query side is broadcast (BroadcastNestedLoopJoin): the corpus never
    shuffles; scoring is a scan. Ties broken by neighbor id for determinism.
    Similarity is rounded to 4 places BEFORE ranking so that engines
    differing in last-ulp summation order produce the identical top-k cut.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec")
    )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 4)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def matrix_lit(rows: list[list[float]]) -> Column:
    """2-D double-array literal as ONE parsed SQL expression.

    `F.lit(nested_list)` expands client-side into one py4j call PER
    ELEMENT (lit + array per scalar) — measured 2.26 s to build eight
    32×8 matrices vs 0.014 s for the parsed-text form (160×), pure
    driver-side construction overhead paid on EVERY plan build (every
    bench rep, every driver-gate run). Rendering the matrix as SQL text
    (`array(array(…D,…),…)`) hands the whole tree to the JVM parser in
    one call; `repr(float)` round-trips doubles exactly (shortest
    round-trip repr, parsed by the JVM to the identical bit pattern —
    verified including -0.0 and denormals), so the resulting literal is
    bit-identical to the F.lit form and the physical plan is unchanged.
    Finite values only (the quantizer/hyperplane matrices here are finite
    by construction; NaN/Inf have no SQL double literal)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(v)!r}D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic random hyperplanes (numpy PCG64, seed 42)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim)).tolist()


def bucket_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Signed-random-projection bucket id: one bit per hyperplane.

    The plane matrix is ONE 2-D array literal traversed with `transform`,
    not n_planes × dim scalar literal nodes — the naive expansion (4×64
    literals, one dot expression per plane) made Catalyst analysis +
    whole-stage codegen dominate runtime (measured 3.3 s → 0.65 s cold for
    the ann_lsh_topk plan at sf0.1 with identical results). Built via
    `matrix_lit` — one parsed expression, not per-element py4j calls."""
    pl = matrix_lit(planes)
    bits = F.transform(
        pl,
        lambda p, i: F.when(
            _dot(vec, p) >= 0, F.pow(F.lit(2.0), i.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(bits, F.lit(0.0), lambda a, v: a + v).cast("int")


def lsh_ann_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-``_TOP_K`` over ``(vec_id, embedding)`` frames:
    score only same-bucket candidates, by cosine rounded to 4 places.

    With `_LSH_PLANES` bits the corpus splits into 2^n buckets; the
    candidate join is equi on the signature (hash-partitioned, skew-free
    for isotropic embeddings). Recall < 1.0 by construction — this is the
    100 TB path where the exact cross-scan is unaffordable.

    Each query also probes every bucket within Hamming distance
    1..`_LSH_MULTIPROBE` of its signature (the standard multi-probe LSH
    recall lever): each query row explodes to
    1 + C(_LSH_PLANES, ≤ _LSH_MULTIPROBE) probe buckets — query-side fan-out
    only, the corpus is never duplicated, and the join stays equi on the
    bucket id.
    """
    from itertools import combinations

    planes = hyperplanes(_LSH_DIM, _LSH_PLANES)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        bucket_signature(F.col("embedding"), planes).alias("__bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        bucket_signature(F.col("embedding"), planes).alias("__bucket"),
    )
    masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, _LSH_MULTIPROBE + 1)
        for bits in combinations(range(_LSH_PLANES), r)
    ]
    q = q.select(
        "query_id",
        "__qvec",
        F.explode(
            F.array(*[F.col("__bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("__bucket"),
    )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 4)
    scored = (
        c.join(F.broadcast(q), "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def fixed_unit_centroids(dim: int, nlist: int) -> list[list[float]]:
    """Deterministic UNIT-NORM random centroids (numpy PCG64, seed 4242)
    for the oracleable IVF variant. Unit-norm matters: the corpus vectors
    are unit-norm, so against raw gaussian centroids the ||c||² spread
    (χ²_dim, std ≈ √(2·dim)) would dominate the 2·v·c signal term and
    nearly every vector would assign to the smallest-norm centroid — one
    mega-cell. Normalized, L2-argmin ≡ cosine-argmax and cells balance
    (measured ±15% occupancy across sf0.001–sf0.1)."""
    import numpy as np

    rng = np.random.default_rng(4242)
    c = rng.standard_normal((nlist, dim))
    return (c / np.linalg.norm(c, axis=1, keepdims=True)).tolist()


def fixed_pq_codebooks(
    dim: int, m_subspaces: int, ksub: int
) -> list[list[list[float]]]:
    """Deterministic random PQ codebooks (numpy PCG64, seed 777) scaled to
    the subvector magnitude of unit-norm inputs (per-dim std 1/√dim — a raw N(0,1)
    codebook would sit ~8× outside the data's radius and every subvector
    would quantize to the smallest-norm entry). Production replaces these
    with per-subspace trained k-means (`pq_topk`'s sampled trainer); the
    operator is indifferent to where the matrix comes from."""
    import numpy as np

    rng = np.random.default_rng(777)
    dsub = dim // m_subspaces
    return (
        rng.standard_normal((m_subspaces, ksub, dsub)) / np.sqrt(dim)
    ).tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-``_TOP_K`` over ``(vec_id,
    embedding)`` frames: k-means-partition the corpus into `_IVF_NLIST`
    cells, score queries only against their `_IVF_NPROBE` nearest cells,
    by cosine rounded to 4 places.

    The index build is the FAISS IVF shape: Lloyd's k-means trains
    driver-side on a bounded deterministic sample (coarse quantizers need a
    sample, not the corpus), then the full corpus is assigned in one
    scalar-only scan — argmin over the centroid matrix as a single 2-D
    array literal (the `bucket_signature` codegen trick). No iterative
    Spark jobs, no MLlib class-loading; MLlib `KMeans` is the drop-in
    alternative when the trainer itself must distribute. With
    nprobe == nlist the search is exhaustive and equals `cosine_topk`
    exactly — the recall knob is explicit.

    100 TB posture: the sample bound keeps training cost constant; write
    the cell id as a partition/bucket column so repeated searches prune to
    nprobe cells at the parquet level.

    With `centroids` the trainer is skipped entirely — the caller supplies
    the coarse quantizer (e.g. `fixed_unit_centroids` deterministic
    literals, making the whole search SQL-reproducible cross-engine).
    Squared distances are rounded to 6 places BEFORE the argmin / probe
    ranking so engines differing in last-ulp summation order pick
    identical cells (the cosine rounding, applied to assignment).
    """
    import numpy as np

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__cvec"),
    )

    if centroids is None:
        # FAISS-style coarse-quantizer training: Lloyd's k-means runs
        # DRIVER-SIDE in numpy over a bounded deterministic sample (top-N
        # by id — a takeOrdered, not a full sort). Centroids are index
        # metadata (nlist × dim doubles); shipping a bounded sample to the
        # driver is the standard IVF build, and it keeps the distributed
        # side to exactly two scalar-only passes (assignment + scoring)
        # with zero iterative Spark jobs. Training cost is per-sample-row
        # — independent of corpus size.
        sample = c.orderBy("neighbor_id").limit(4096).collect()
        X = np.array([list(r["__cvec"]) for r in sample])
        rng = np.random.default_rng(42)
        cent = X[
            rng.choice(len(X), size=min(_IVF_NLIST, len(X)), replace=False)
        ].copy()
        for _ in range(8):
            d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(len(cent)):
                members = X[assign == j]
                if len(members):
                    cent[j] = members.mean(0)
        centroids = [[float(x) for x in row] for row in cent]

    def cell_of(vec: Column, cents: list[list[float]]) -> Column:
        # Scalar argmin over the centroid matrix as ONE 2-D array literal
        # (the bucket_signature codegen trick) — assignment is a pure scan.
        cm = matrix_lit(cents)
        dists = F.transform(cm, lambda p: F.round(_sq_dist(vec, p), 6))
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    assigned = c.withColumn("__cell", cell_of(F.col("__cvec"), centroids))

    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, ctr) for i, ctr in enumerate(centroids)],
        "__cell int, __centroid array<double>",
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__qvec"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("__d2"), F.asc("__cell"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "__d2", F.round(_sq_dist(F.col("__qvec"), F.col("__centroid")), 6)
        )
        .withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= _IVF_NPROBE)
        .select("query_id", "__qvec", "__cell")
    )
    sim = F.round(cosine(F.col("__qvec"), F.col("__cvec")), 4)
    scored = (
        assigned.join(F.broadcast(probes), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization approximate top-``_TOP_K`` over ``(vec_id,
    embedding)`` frames (the memory-bound ANN scale path): each vector is
    encoded as m = 8 one-byte codes (32 centroids per subspace) — a 64-dim
    float vector (256 B) compresses to 8 B, so a 100 TB embedding corpus
    becomes a ~3 TB code table that scans from memory — and queries rank
    neighbors by asymmetric distance (ADC): exact query subvector vs the
    centroid the code names, d(q,x) ≈ Σ_m ||q_m − C_m[code_m(x)]||².

    Build mirrors `ivf_topk`'s FAISS shape: per-subspace k-means trains
    driver-side on a bounded deterministic sample; encoding is ONE
    scalar-only scan (argmin over each subspace's centroid literal — pure
    codegen, no UDF, no shuffle). Scoring precomputes each query's
    m×32 distance table driver-side (queries are few; the table is index
    metadata) and evaluates Σ_m table[m][code_m] per corpus row via
    element_at lookups — again scan-only; the only exchange is the final
    per-query top-k window, map-side-limited by WindowGroupLimit.

    Deterministic end to end (fixed seed, fixed sample, argmin ties by
    first index). Accuracy/compression tradeoff is (m, centroids per
    subspace); tests/test_operators.py bounds recall against the exact L2 top-k.

    With `codebooks` the per-subspace trainer is skipped — the caller
    supplies the quantizer (e.g. `fixed_pq_codebooks` deterministic
    literals, making encode + ADC SQL-reproducible cross-engine). The
    per-subspace distances are rounded to 6 places BEFORE the argmin so
    both engines pick identical codes on last-ulp ties.
    """
    import numpy as np

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("__cvec"),
    )
    if codebooks is None:
        sample = c.orderBy("neighbor_id").limit(4096).collect()
        X = np.array([list(r["__cvec"]) for r in sample])
        dim = X.shape[1]
        assert dim % 8 == 0, "dim must divide into subspaces"
        dsub = dim // 8
        rng = np.random.default_rng(7)

        codebooks = []
        for m in range(8):
            Xm = X[:, m * dsub : (m + 1) * dsub]
            kk = min(32, len(Xm))
            cent = Xm[rng.choice(len(Xm), size=kk, replace=False)].copy()
            for _ in range(8):
                d2 = ((Xm[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
                assign = d2.argmin(1)
                for j in range(kk):
                    members = Xm[assign == j]
                    if len(members):
                        cent[j] = members.mean(0)
            codebooks.append([[float(x) for x in row] for row in cent])
    m_subspaces = len(codebooks)
    dsub = len(codebooks[0][0])

    # Encode: argmin per subspace over the codebook literal — scan-only.
    def _argmin_code(m: int):
        # NB: a one-parameter lambda is required — transform() treats a
        # two-parameter lambda as (element, index).
        sub = F.slice(F.col("__cvec"), m * dsub + 1, dsub)
        dists = F.transform(
            matrix_lit(codebooks[m]), lambda p: F.round(_sq_dist(sub, p), 6)
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    code_cols = [_argmin_code(m) for m in range(m_subspaces)]
    encoded = c.select("neighbor_id", F.array(*code_cols).alias("__codes"))

    # Per-query ADC tables, driver-side (queries are index-metadata-sized).
    qrows = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("__qvec"),
        )
        .orderBy("query_id")
        .collect()
    )
    spark = corpus.sparkSession
    qtab = []
    for r in qrows:
        qv = np.array(list(r["__qvec"]))
        tab = [
            [
                float(((qv[m * dsub : (m + 1) * dsub] - np.array(cent)) ** 2).sum())
                for cent in codebooks[m]
            ]
            for m in range(m_subspaces)
        ]
        qtab.append((r["query_id"], tab))
    qdf = spark.createDataFrame(
        qtab, "query_id bigint, __dtab array<array<double>>"
    )

    idx = F.sequence(F.lit(0), F.lit(m_subspaces - 1))
    adc = F.aggregate(
        idx,
        F.lit(0.0).cast("double"),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("__dtab"), m + 1),
            F.element_at(F.col("__codes"), m + 1) + 1,
        ),
    )
    scored = (
        encoded.join(F.broadcast(qdf))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc, 6).alias("approx_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "approx_dist", "rank")
    )


# ---------------------------------------------------------------------------
# Distributed Lloyd's k-means — the in-engine trainer for IVF/PQ-style
# coarse quantizers. The sampled driver-side fit (`_kmeans` above) is the
# FAISS-style default (codebooks are index metadata, samples suffice);
# this is the path when the training set itself must be the FULL corpus:
# each iteration is one map-only assignment pass + one groupBy-mean
# shuffle of (cell, dim, partial-sum) rows, and only the k x dim centroid
# matrix ever reaches the driver.
# ---------------------------------------------------------------------------


# Embedding width and seed of the trainer's initial centroids (the DuckDB
# oracle rebuilds the same seeded matrix).
_KM_DIM, _KM_SEED = 64, 99


def kmeans_lloyd_distributed(emb: DataFrame, k: int = 8, n_iter: int = 5):
    """Full-corpus Lloyd iterations over ``(vec_id, embedding)``,
    deterministic across partitionings.

    Determinism discipline (the reason this is not just `avg(...)`):
    centroid updates are DECIMAL-exact sums divided by counts, rounded to
    9 places before re-broadcast — double `avg` is summation-order-
    dependent, so without this two runs on different partition layouts
    could drift assignments after the first iteration. Assignment is the
    L2 argmin over the current centroid matrix, computed per Arrow batch
    with one BLAS expansion (||x||² - 2x·c + ||c||²; monotone in true
    distance, argmin identical), ties to the lowest cell index. Empty
    cells keep their previous centroid (standard Lloyd convention).

    Returns (assignments DataFrame[(vec_id, cell)], centroids list, inertia
    history list) — inertia (decimal-exact sum of squared distances) is
    the monotone-non-increasing convergence witness. The assignments are
    lazy: they read ``emb`` once more when the caller runs them.

    The trainer persists nothing. It reads ``emb`` ``n_iter + 1`` times
    (one aggregation pass per iteration, plus the returned final
    assignment), so a caller should pass a persisted frame — and can then
    run its own further passes over the same cache (the trained-SemDeDup
    queries feed it to `semantic_dedup`) — and releases it when done.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    rng = np.random.default_rng(_KM_SEED)
    cents = rng.standard_normal((k, _KM_DIM)).tolist()

    base = emb.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").cast("array<double>").alias("__v"),
    )
    inertia_hist: list[float] = []
    for _ in range(n_iter):
        # ONE Spark job per iteration: the assign UDF returns BOTH the
        # argmin cell and its (9-dp-rounded) squared distance, and a single
        # explode + groupBy(cell, dim) aggregation carries the per-(cell,
        # dim) decimal sums AND per-cell inertia partials (summed only on
        # the dim==0 replica of each row, so each row's d2 counts exactly
        # once). Exactness: per-value decimal casts and per-group decimal
        # sums are order-independent, and the Python-side total is an
        # exact Decimal sum of exact per-cell partials, rounded HALF_UP to
        # 3 like Spark's round() on decimals.
        assign_udf = _assign_l2_d2_numpy_udf(cents)
        assigned = base.withColumn("__a", assign_udf("__v")).select(
            F.col("__a.cell").alias("cell"),
            F.col("__a.d2").alias("__d2"),
            "__v",
        )
        stats = (
            assigned.select(
                "cell", "__d2", F.posexplode("__v").alias("dim", "val")
            )
            .groupBy("cell", "dim")
            .agg(
                F.sum(F.col("val").cast("decimal(28,12)")).alias("s"),
                F.count("*").alias("n"),
                F.sum(
                    F.when(
                        F.col("dim") == 0,
                        F.col("__d2").cast("decimal(28,9)"),
                    )
                ).alias("i"),
            )
            .select(
                "cell",
                "dim",
                F.round(
                    (F.col("s") / F.col("n")).cast("double"), 9
                ).alias("m"),
                "i",
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep old
        itot, seen = Decimal(0), False
        for r in stats:
            new_cents[r["cell"]][r["dim"]] = r["m"]
            if r["dim"] == 0 and r["i"] is not None:
                itot += r["i"]
                seen = True
        # Inertia of the CURRENT assignment vs the centroids it was made
        # against (the Lloyd monotonicity witness) — exact sum of the
        # per-cell decimal partials from the same single pass.
        inertia = (
            float(itot.quantize(Decimal("0.001"), rounding=ROUND_HALF_UP))
            if seen
            else None
        )
        inertia_hist.append(inertia)
        cents = new_cents
    final_udf = _assign_l2_d2_numpy_udf(cents)
    final = base.withColumn("__a", final_udf("__v")).select(
        F.col("__id").alias("vec_id"), F.col("__a.cell").alias("cell")
    )
    return final, cents, inertia_hist


def _assign_l2_d2_numpy_udf(centroids: list[list[float]]):
    """Arrow-batched L2 argmin over the centroid matrix (BLAS expansion)
    that also returns the winning (rounded) squared distance, so
    assignment and inertia come from ONE pass.
    Per-row results depend only on that row ⇒ deterministic across
    partitionings/batchings; the 9-dp round before argmin/min matches the
    assignment convention."""
    import numpy as np

    cm = np.asarray(centroids, dtype=np.float64)
    c_sq = (cm * cm).sum(axis=1)  # (k,)

    @F.pandas_udf("cell int, d2 double")
    def assign(vs):
        import pandas as pd

        mat = np.stack(vs.to_numpy())
        d2 = np.round(
            (mat * mat).sum(axis=1, keepdims=True)
            - 2.0 * (mat @ cm.T)
            + c_sq,
            9,
        )
        return pd.DataFrame(
            {
                "cell": np.argmin(d2, axis=1).astype("int32"),
                "d2": d2.min(axis=1),
            }
        )

    return assign


def ivf_incremental_assign(
    spark,
    new_vecs: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    store_path: str,
) -> DataFrame:
    """Incremental IVF index maintenance — the daily-ingest form of the
    coarse-quantizer assignment (the `minhash_incremental` store
    discipline applied to the ANN index): cells are computed for the NEW
    batch only (one map-only Arrow pass, BLAS cosine argmax over the
    broadcast centroid matrix — `dedup._assign_cells_numpy_udf`, the
    same 6-dp-rounded convention `semantic_dedup`'s oracle proves),
    appended to the persisted (vec_id, cell) posting store idempotently
    (ids already stored are never re-appended) with the atomic
    staged-rename commit, and the returned report is the k-row per-cell
    occupancy + drift summary: n_prior / n_new / n_total /
    new_share_ppm.

    At 100 TB this is how the ANN index absorbs a daily increment
    without re-assigning the corpus: O(increment) assignment cost, a
    store that carries ~12 bytes/vector, and a report the size of the
    centroid count. When new_share_ppm drifts high in some cells —
    the incoming distribution has moved off the trained quantizer —
    the owner retrains (`kmeans_lloyd_distributed`) and rebuilds, the
    IVF analog of re-learning the LSH band structure. Repeat ingestion
    of the same batch is a no-op on the store and returns the identical
    report (the driver's warm-then-measure double invocation relies on
    exactly that)."""
    from crz_scraper_spark.operators.dedup import (
        _assign_cells_numpy_udf,
        _store_commit,
        _store_family_check,
        _store_list,
    )

    # The family string must pin the centroid VALUES, not just the shape:
    # the minhash/simhash guards this imitates derive their hash functions
    # deterministically from the recorded params, but centroids are caller
    # data — after a quantizer retrain (same k, same dim, new matrix) a
    # shape-only guard would silently mix assignments from two different
    # quantizers in one store. Digest over the repr of the full matrix.
    import hashlib as _hashlib

    cent_digest = _hashlib.md5(
        repr([[float(x) for x in c] for c in centroids]).encode()
    ).hexdigest()[:16]
    _store_family_check(
        spark,
        store_path,
        f"ivf_cos6:k{len(centroids)}:d{len(centroids[0])}:c{cent_digest}",
    )
    assign = _assign_cells_numpy_udf(centroids)
    # Dedup WITHIN the batch too: duplicate vec_ids inside one new_vecs
    # frame would otherwise append twice, inflating n_total/new_share_ppm
    # and breaking the store-uniqueness invariant the anti-join below
    # maintains against PRIOR batches only.
    new_assigned = new_vecs.dropDuplicates([id_col]).select(
        F.col(id_col).alias("vec_id"),
        assign(F.col(vec_col).cast("array<double>")).alias("cell"),
    )
    old_files = _store_list(spark, store_path)
    if old_files:
        prior_ids = spark.read.parquet(*old_files).select("vec_id")
        to_append = new_assigned.join(prior_ids, "vec_id", "left_anti")
    else:
        to_append = new_assigned
    _store_commit(spark, to_append, store_path)

    all_rows = spark.read.parquet(*_store_list(spark, store_path))
    batch_ids = (
        new_vecs.select(F.col(id_col).alias("vec_id"))
        .distinct()
        .withColumn("__new", F.lit(1))
    )
    return (
        all_rows.join(batch_ids, "vec_id", "left")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("__new").alias("n_new"),
        )
        .select(
            "cell",
            (F.col("n_total") - F.col("n_new")).alias("n_prior"),
            "n_new",
            "n_total",
            F.expr("CAST(n_new * 1000000 div n_total AS BIGINT)").alias(
                "new_share_ppm"
            ),
        )
    )
