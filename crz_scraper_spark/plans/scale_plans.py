"""Scale-extension plans (BASELINE.json:6): similarity search over
embeddings, near-duplicate detection (MinHash-LSH / SimHash / n-gram
Jaccard), and multimodal binary-column decode plumbing.

Oracle policy: exact/deterministic numeric ops get full DuckDB oracles
(cosine top-k, n-gram Jaccard, multimodal metadata), and so does every
approximate index whose constants can be fixed as deterministic literals
shared with the SQL (LSH planes, IVF centroids, PQ codebooks, md5-tier
MinHash/SimHash). Only ops depending on Spark-side hash functions
(xxhash64) or data-dependent training with no SQL analog stay rows-only,
flagged as such by omitting the oracle entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import collect_and_release, fan_out, load_table
from crz_scraper_spark.functions.text import WORD_SEPARATOR_RE, tokens_nonempty
from crz_scraper_spark.operators.dedup import (
    _MIN_CONTAINMENT_PPM,
    _SEMDEDUP_TAU,
    fixed_centroids,
    lsh_bucket_occupancy,
    minhash_bands,
    minhash_dedup,
    minhash_signatures,
    semantic_dedup,
    simhash_near_pairs,
)
from crz_scraper_spark.operators.extraction import (
    detect_tables,
    detect_tables_udtf,
    extract_text,
)
from crz_scraper_spark.operators.multimodal import (
    _RESIZE_H,
    _RESIZE_TARGET,
    _RESIZE_W,
    decode_documents,
    frame_features,
    resize_images,
    sample_frames,
)
from crz_scraper_spark.operators.similarity import (
    _IVF_NLIST,
    _IVF_NPROBE,
    _KM_DIM,
    _KM_SEED,
    _LSH_DIM,
    _LSH_MULTIPROBE,
    _LSH_PLANES,
    _TOP_K,
    cosine_topk,
    fixed_pq_codebooks,
    fixed_unit_centroids,
    ivf_topk,
    lsh_ann_topk,
    pq_topk,
)

# ---------------------------------------------------------------------------
# cosine_topk_bruteforce — exact ANN baseline: top-5 cosine neighbors for the
# first 8 vectors, scored against the whole corpus via higher-order
# functions; ranking on the rounded similarity so Spark's and DuckDB's
# last-ulp summation differences cannot reorder the cut.
# ---------------------------------------------------------------------------


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(emb, queries)


COSINE_TOPK_SQL = """
WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.embedding, c.embedding), 4) AS cos_sim
  FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
"""

# ---------------------------------------------------------------------------
# ann_lsh_topk — the approximate scale path (signed-random-projection
# buckets, multi-probe Hamming-1). FULLY oracled: the plane matrix is a
# deterministic fixed-seed literal, so DuckDB reproduces the bucket
# signatures, the probe set, the candidate join, and the rounded-rank
# top-k bit-for-bit from the same constants.
# ---------------------------------------------------------------------------

def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    return lsh_ann_topk(emb, queries)


def _ann_lsh_sql() -> str:
    from itertools import combinations

    from crz_scraper_spark.operators.similarity import hyperplanes

    planes = hyperplanes(_LSH_DIM, _LSH_PLANES)
    plane_rows = ",\n    ".join(
        f"({pid}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for pid, p in enumerate(planes)
    )
    masks = [0] + [
        sum(1 << b for b in bits)
        for r in range(1, _LSH_MULTIPROBE + 1)
        for bits in combinations(range(_LSH_PLANES), r)
    ]
    mask_rows = ", ".join(f"({m})" for m in masks)
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
planes(pid, p) AS (
  VALUES
    {plane_rows}
),
sig AS (
  SELECT e.vec_id, any_value(e.v) AS v,
         CAST(sum(CASE WHEN list_inner_product(e.v, pl.p) >= 0
                       THEN (1 << pl.pid) ELSE 0 END) AS INT) AS bucket
  FROM emb e CROSS JOIN planes pl
  GROUP BY e.vec_id
),
probes AS (
  SELECT q.vec_id AS query_id, q.v AS qv, xor(q.bucket, m.m) AS bucket
  FROM sig q CROSS JOIN (VALUES {mask_rows}) m(m)
  WHERE q.vec_id < 8
),
scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
  FROM probes p JOIN sig c USING (bucket)
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank
FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
WHERE rank <= {_TOP_K}
"""


def embedding_quantization_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column and its top-k
    recall cost, fully in higher-order functions: per-vector scale =
    max|x|/127, q = round(x/scale) ∈ [-127, 127] (4 bytes → 1 byte per
    dim — the 100 TB embedding-store tradeoff), then the exact top-5 and
    the quantized top-5 per query and the per-query overlap. Cosine is
    scale-invariant, so the int arrays score directly — no dequantize
    pass. round(sim, 4) before ranking is the established cross-engine
    tie discipline (cosine_topk_bruteforce)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scale = F.greatest(
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0),
        F.lit(1e-12),
    )
    qv = F.transform(F.col("v"), lambda x: F.round(x / scale))
    # Not cached: all four top-k inputs read `base`, but a cache would
    # have to be released before returning, which means running the
    # report here; measured at sf0.1 that costs more (one more job, about
    # 0.3 s) than the second embeddings scan the plan does without it.
    base = emb.select("vec_id", "v", qv.alias("q"))
    exact = cosine_topk(
        base.select("vec_id", F.col("v").alias("embedding")),
        base.filter(F.col("vec_id") < 8).select(
            "vec_id", F.col("v").alias("embedding")
        ),
    )
    quant = cosine_topk(
        base.select("vec_id", F.col("q").alias("embedding")),
        base.filter(F.col("vec_id") < 8).select(
            "vec_id", F.col("q").alias("embedding")
        ),
    )
    return (
        exact.select("query_id", "neighbor_id")
        .join(
            quant.select(
                "query_id", F.col("neighbor_id").alias("q_neighbor_id")
            ),
            (F.col("neighbor_id") == F.col("q_neighbor_id"))
            & (exact.query_id == quant.query_id),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count("q_neighbor_id").alias("n_common"))
        .select(F.col("query_id"), "n_common")
    )


_QUANT_TOPK_CTE = """
base AS (
  SELECT vec_id, embedding AS v,
         list_transform(embedding,
           x -> round(x / greatest(
                  list_max(list_transform(embedding, y -> abs(y))) / 127.0,
                  1e-12))) AS q
  FROM embeddings
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY qs.vec_id
             ORDER BY round(list_cosine_similarity(qs.v, c.v), 4) DESC,
                      c.vec_id) AS rank
    FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
    WHERE qs.vec_id < 8)
  WHERE rank <= 5
),
quant AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY qs.vec_id
             ORDER BY round(list_cosine_similarity(qs.q, c.q), 4) DESC,
                      c.vec_id) AS rank
    FROM base qs JOIN base c ON c.vec_id <> qs.vec_id
    WHERE qs.vec_id < 8)
  WHERE rank <= 5
)
"""

EMBEDDING_QUANTIZATION_RECALL_SQL = f"""
WITH {_QUANT_TOPK_CTE}
SELECT e.query_id, count(q.neighbor_id) AS n_common
FROM exact e
LEFT JOIN quant q
  ON e.query_id = q.query_id AND e.neighbor_id = q.neighbor_id
GROUP BY e.query_id
"""


# Recall floors for the self-validating ANN report columns, expressed as
# a MULTIPLE of the random-ranking baseline recall k/(n−1) and computed
# in-query from the actual corpus count. Absolute floors are
# scale-fragile: approximate-index recall decays with corpus size at a
# fixed code/probe budget (measured recall@5 across sf0.001→sf1:
# IVF 50% → 10%, PQ 30% → 7.5%), while the random baseline decays
# FASTER (1% → 0.025%), so "N× better than random" stays meaningful at
# every scale (measured margins ≥ 2× the floor at the tightest point)
# yet still catches a regression that collapses the index to noise.
_IVF_FLOOR_X_RANDOM = 10
_PQ_FLOOR_X_RANDOM = 5
_ANN_K = 5


def _with_recall_guard(
    topk: DataFrame,
    exact: DataFrame,
    corpus: DataFrame,
    floor_x_random: int,
) -> DataFrame:
    """Append corpus_recall_ppm (aggregate recall of `topk` against the
    exact twin) and floor_ppm (= floor_x_random × the random-ranking
    baseline k/(n−1), k = _ANN_K, n from `corpus`) to every row, and drop ALL rows
    when recall falls below the floor — the in-query invariant that turns
    the driver's weak rows-only count into a real index-health assertion
    (VERDICT r3 item 7)."""
    # topk feeds BOTH the returned rows and the health aggregate — persist
    # so the ANN pipeline (k-means training, encode, score) runs once.
    topk = topk.persist()
    n = corpus.agg(F.count(F.lit(1)).alias("__n"))
    hits = exact.join(
        topk.select("query_id", "neighbor_id", F.lit(1).alias("__hit")),
        ["query_id", "neighbor_id"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("__ne"), F.count("__hit").alias("__no")
    )
    health = (
        hits.join(F.broadcast(n))
        .select(
            F.expr("CAST(__no * 1000000 div __ne AS BIGINT)").alias(
                "corpus_recall_ppm"
            ),
            F.expr(
                f"CAST({floor_x_random} * {_ANN_K} * 1000000 div (__n - 1) "
                "AS BIGINT)"
            ).alias("floor_ppm"),
        )
    )
    guarded = topk.join(F.broadcast(health)).filter(
        F.col("corpus_recall_ppm") >= F.col("floor_ppm")
    )
    # 8 queries × k rows.
    return collect_and_release(guarded, topk)


def _exact_l2_topk(emb: DataFrame) -> DataFrame:
    """Exact L2 top-5 of the standard 8-query cohort — the in-query truth
    twin for the PQ recall guard (PQ scores asymmetric L2 distance, so
    cosine_topk_bruteforce is the wrong referee)."""
    from pyspark.sql.window import Window

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    d2 = F.aggregate(
        F.zip_with("__qv", "__cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(d2, 6).asc(), F.col("neighbor_id")
    )
    return (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 5)
        .select("query_id", "neighbor_id")
    )


# Fixed-literal quantizer constants — shared verbatim by the Spark plans
# and the generated DuckDB oracles below (the minhash_near_dup_md5 /
# cms_token_estimate recipe applied to ANN): IVF centroids and PQ
# codebooks are deterministic seeded literals, every distance that feeds
# an argmin/ranking is rounded identically on both engines, so the full
# index build + probe + score + recall guard is hash-checkable. The
# sampled-kmeans trainers remain the production path for drifted corpora
# and stay covered by tests/test_operators.py (nprobe=nlist ≡ exact;
# recall bounds; determinism).
_PQ_M = 8
_PQ_KSUB = 32
_ANN_DIM = 64


def pq_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization variant of the ANN scale path (8 one-byte codes
    per 64-dim vector = 32x compression; asymmetric-distance scoring —
    operators/similarity.py::pq_topk). FULLY oracled: the codebooks are
    fixed-seed literals (`fixed_pq_codebooks`) embedded in both engines,
    encode argmins round to 6 dp, ADC scores to 6 dp — DuckDB rebuilds the
    identical code table and ranking. The sampled-kmeans trained build
    stays covered by tests/test_operators.py (recall@10 bound +
    determinism). The query also carries a corpus_recall_ppm guard vs the
    exact L2 top-5 (mirrored in the oracle): a recall collapse empties the
    result."""
    raw = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(raw).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    topk = pq_topk(
        emb, queries, codebooks=fixed_pq_codebooks(_ANN_DIM, _PQ_M, _PQ_KSUB)
    )
    # The guard only COUNTS the corpus frame — hand it the raw table so
    # floor_ppm's n comes from a parquet count, not a full repartition
    # shuffle of the embedding vectors (r10, guide §2.1); same value.
    return _with_recall_guard(
        topk, _exact_l2_topk(emb), raw, _PQ_FLOOR_X_RANDOM
    )


def ivf_ann_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF variant of the ANN scale path (coarse-quantizer cells + nprobe
    probing; operators/similarity.py::ivf_topk). FULLY oracled: the
    centroids are fixed-seed unit-norm literals (`fixed_unit_centroids`)
    embedded in both engines, cell assignment and probe ranking use
    6-dp-rounded distances, scoring the established round-4 cosine —
    DuckDB reproduces cells, probes, and the top-k bit-for-bit. The
    sampled-kmeans trained build stays covered by tests/test_operators.py
    (nprobe=nlist ≡ exact brute force). The query also carries a
    corpus_recall_ppm guard vs the exact cosine top-5 (mirrored in the
    oracle): a recall collapse empties the result."""
    raw = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(raw).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    topk = ivf_topk(
        emb, queries, centroids=fixed_unit_centroids(_ANN_DIM, _IVF_NLIST)
    )
    exact = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    # Raw table for the guard's count — see pq_ann_topk_q (r10).
    return _with_recall_guard(topk, exact, raw, _IVF_FLOOR_X_RANDOM)


def _sq_dist_sql(a: str, b: str) -> str:
    """||a−b||² for two DOUBLE[] expressions via the inner-product
    expansion — always rounded by the caller before any argmin/ranking,
    which absorbs the summation-order difference vs Spark's zip_with
    fold."""
    return (
        f"(list_inner_product({a}, {a}) - 2*list_inner_product({a}, {b})"
        f" + list_inner_product({b}, {b}))"
    )


def _ann_ivf_sql() -> str:
    cents = fixed_unit_centroids(_ANN_DIM, _IVF_NLIST)
    cent_rows = ",\n    ".join(
        f"({pid}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for pid, c in enumerate(cents)
    )
    d2 = _sq_dist_sql("e.v", "ct.c")
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents(pid, c) AS (
  VALUES
    {cent_rows}
),
assign AS (
  SELECT vec_id, v, pid AS cell FROM (
    SELECT e.vec_id, e.v, ct.pid,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({d2}, 6) ASC, ct.pid) AS rn
    FROM emb e CROSS JOIN cents ct)
  WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, pid AS cell FROM (
    SELECT e.vec_id, e.v, ct.pid,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round({d2}, 6) ASC, ct.pid) AS rn
    FROM emb e CROSS JOIN cents ct
    WHERE e.vec_id < 8)
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, a.v), 4) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell
  WHERE a.vec_id <> p.query_id
),
topk AS (
  SELECT query_id, neighbor_id, cos_sim, rank FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rank
    FROM scored)
  WHERE rank <= {_ANN_K}
),
exact AS ({COSINE_TOPK_SQL}),
health AS (
  SELECT CAST(count(t.neighbor_id) * 1000000 // count(*) AS BIGINT)
             AS corpus_recall_ppm,
         CAST({_IVF_FLOOR_X_RANDOM} * {_ANN_K} * 1000000
              // ((SELECT count(*) FROM emb) - 1) AS BIGINT) AS floor_ppm
  FROM exact e
  LEFT JOIN topk t
    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
)
SELECT t.query_id, t.neighbor_id, t.cos_sim, t.rank,
       h.corpus_recall_ppm, h.floor_ppm
FROM topk t CROSS JOIN health h
WHERE h.corpus_recall_ppm >= h.floor_ppm
"""


def _ann_pq_sql() -> str:
    cbs = fixed_pq_codebooks(_ANN_DIM, _PQ_M, _PQ_KSUB)
    dsub = _ANN_DIM // _PQ_M
    cb_rows = ",\n    ".join(
        f"({m}, {j}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for m, book in enumerate(cbs)
        for j, c in enumerate(book)
    )
    sub = f"list_slice(e.v, cb.m*{dsub}+1, cb.m*{dsub}+{dsub})"
    d2_sub = _sq_dist_sql(sub, "cb.c")
    d2_full = _sq_dist_sql("q.v", "c.v")
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cbs(m, j, c) AS (
  VALUES
    {cb_rows}
),
codes AS (
  SELECT vec_id, m, j AS code FROM (
    SELECT e.vec_id, cb.m, cb.j,
           row_number() OVER (
               PARTITION BY e.vec_id, cb.m
               ORDER BY round({d2_sub}, 6) ASC, cb.j) AS rn
    FROM emb e CROSS JOIN cbs cb)
  WHERE rn = 1
),
qsub AS (
  SELECT e.vec_id AS query_id, cb.m, cb.j, {d2_sub} AS d
  FROM emb e CROSS JOIN cbs cb
  WHERE e.vec_id < 8
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(sum(q.d), 6) AS approx_dist
  FROM codes c JOIN qsub q ON q.m = c.m AND q.j = c.code
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id
),
topk AS (
  SELECT query_id, neighbor_id, approx_dist, rank FROM (
    SELECT query_id, neighbor_id, approx_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, neighbor_id) AS rank
    FROM scored)
  WHERE rank <= {_ANN_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY round({d2_full}, 6) ASC, c.vec_id) AS rank
    FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < 8)
  WHERE rank <= {_ANN_K}
),
health AS (
  SELECT CAST(count(t.neighbor_id) * 1000000 // count(*) AS BIGINT)
             AS corpus_recall_ppm,
         CAST({_PQ_FLOOR_X_RANDOM} * {_ANN_K} * 1000000
              // ((SELECT count(*) FROM emb) - 1) AS BIGINT) AS floor_ppm
  FROM exact e
  LEFT JOIN topk t
    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
)
SELECT t.query_id, t.neighbor_id, t.approx_dist, t.rank,
       h.corpus_recall_ppm, h.floor_ppm
FROM topk t CROSS JOIN health h
WHERE h.corpus_recall_ppm >= h.floor_ppm
"""


# ---------------------------------------------------------------------------
# minhash_near_dup / simhash_near_dup — LSH near-duplicate candidate+verify
# pipelines (operators/dedup.py). xxhash64-based → rows-only checks.
# ---------------------------------------------------------------------------


def _minhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_bucket_occupancy: int | None
) -> DataFrame:
    """xxhash64 MinHash near-dup pairs (32 hashes in 8 bands, 5-shingles,
    threshold 0.5) of the documents, under `minhash_dedup`'s mega-bucket
    cap."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = minhash_dedup(
        docs, "doc_id", "text", num_hashes=32, bands=8, shingle_n=5,
        threshold=0.5, max_bucket_occupancy=max_bucket_occupancy,
    )
    # In-query invariant for the rows-only check: every emitted pair must
    # be ordered and verified (est_jaccard within [threshold, 1]). A
    # banding/verify regression that emits unordered or sub-threshold
    # pairs drops them here, moving the driver's recorded row count.
    return pairs.filter(
        (F.col("id_a") < F.col("id_b"))
        & F.col("est_jaccard").between(0.5, 1.0)
    )


def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_near_pairs(spark, sf_dir, None)


def minhash_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production posture of the near-dup pair report when
    duplicate-cluster sizes grow with the corpus (this corpus: 10× docs ⇒
    96× implied pairs uncapped — see lsh_band_occupancy_md5):
    max_bucket_occupancy=64 excludes mega-buckets from pair generation,
    bounding per-bucket work at 64²/2 forever. Rows-only (xxhash64), same
    ordered-pair invariant as the uncapped twin. Measured at 10×-sf0.1
    the signature pass still dominates (runtime parity) but the pair
    OUTPUT drops 4× (26k vs 100k) — the quantity that feeds every
    downstream join/clustering stage, and the one that grows
    quadratically with cluster size uncapped."""
    return _minhash_near_pairs(spark, sf_dir, 64)


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)
    # Same rows-only invariant discipline: ordered pairs, Hamming within
    # the advertised bound.
    return pairs.filter(
        (F.col("id_a") < F.col("id_b")) & F.col("hamming").between(0, 8)
    )


# ---------------------------------------------------------------------------
# simhash_near_dup_md5 — the SAME block→bucket→hamming-verify pipeline on
# the engine-portable md5 token hash, every step a built-in expression:
# signatures, block keys, candidate pairs, and Hamming distances all
# hash-match the DuckDB oracle. xxhash64/FNV (`simhash_near_dup`) stays the
# production hash; this is the structural correctness witness.
# ---------------------------------------------------------------------------

_SH_MAX_HAMMING = 3


def simhash_near_dup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=_SH_MAX_HAMMING, family="md5"
    )


def _simhash_md5_sql() -> str:
    from crz_scraper_spark.operators.dedup import SIMHASH_MD5_BITS

    toks = (
        "list_filter(regexp_split_to_array(lower(text), '"
        + WORD_SEPARATOR_RE
        + "'), w -> w <> '')"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS t FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS h FROM toks
),
bits AS (
  SELECT doc_id, r.b AS b,
         sum(CASE WHEN (h >> r.b) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM h CROSS JOIN range({SIMHASH_MD5_BITS}) r(b)
  GROUP BY doc_id, r.b
),
sh AS (
  SELECT doc_id, sum(CASE WHEN c >= 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)
           AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# minhash_near_dup_md5 — the SAME shingle→minhash→band→bucket-pairs pipeline
# on the engine-portable md5 hash, so the ENTIRE LSH path (signatures, band
# keys, candidate set, agreement scores) hash-matches a DuckDB oracle
# generated from the same constants. xxhash64 (`minhash_near_dup`) stays the
# production hash; this query is the correctness witness for the pipeline
# structure itself.
# ---------------------------------------------------------------------------

_MH_HASHES = 16
_MH_BANDS = 4
_MH_SHINGLE = 5
_MH_THRESHOLD = 0.5


def minhash_near_dup_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return minhash_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        shingle_n=_MH_SHINGLE,
        threshold=_MH_THRESHOLD,
        family="md5",
    )


def _minhash_md5_ctes(src: str, shingle_n: int, num_hashes: int, bands: int) -> str:
    """The md5 MinHash-LSH family as DuckDB CTEs over the relation `src`
    (doc_id, text): `sh` (distinct character shingles of the lowercased
    text), `based` (their 32-bit md5 ids), `sig` (doc_id,
    h0..h{num_hashes-1}, the Carter-Wegman minima) and `banded` (doc_id,
    band, bh — a 60-bit md5 of the band's minima). Every md5 MinHash oracle
    composes its query from this text: no leading WITH, no trailing
    comma."""
    from crz_scraper_spark.operators.dedup import MINHASH_PRIME, _minhash_coeffs

    rows = num_hashes // bands
    mins = ",\n         ".join(
        f"min(({a} * x + {c}) % {MINHASH_PRIME}) AS h{i}"
        for i, (a, c) in enumerate(_minhash_coeffs(num_hashes))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, ('0x' || substr(md5("
        + " || ',' || ".join(f"h{b * rows + j}::VARCHAR" for j in range(rows))
        + "),1,15))::BIGINT AS bh FROM sig"
        for b in range(bands)
    )
    return f"""sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(length(t) - {shingle_n - 1}, 1) + 1),
           i -> substr(t, i, {shingle_n})))) AS s
  FROM (SELECT doc_id, lower(text) AS t FROM {src})
),
based AS (
  SELECT doc_id, ('0x' || substr(md5(s),1,8))::BIGINT AS x
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM based GROUP BY doc_id
),
banded AS (
{band_rows}
)"""


def _md5_pair_ctes(src: str, threshold: float) -> str:
    """`_minhash_md5_ctes` over `src` with `minhash_near_dup_md5`'s
    settings, plus `cand` (band-bucket candidates) and `pairs` (id_a, id_b,
    est_jaccard) at est_jaccard >= `threshold`."""
    nh = _MH_HASHES
    agree = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(nh))
    ctes = _minhash_md5_ctes(src, _MH_SHINGLE, nh, _MH_BANDS)
    return f"""{ctes},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         round(({agree}) / {nh}.0, 6) AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE round(({agree}) / {nh}.0, 6) >= {threshold}
)"""


def _md5_cluster_ctes(src: str, threshold: float) -> str:
    """`_md5_pair_ctes` plus the transitive closure of the pair graph:
    `bi`, `reach` and `clusters` (doc_id, cluster_id = the minimum
    reachable id). The query must open with WITH RECURSIVE."""
    return f"""{_md5_pair_ctes(src, threshold)},
bi AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, dst FROM bi
  UNION
  SELECT rr.node, b.dst FROM reach rr JOIN bi b ON rr.r = b.src
),
clusters AS (
  SELECT node AS doc_id, least(node, min(r)) AS cluster_id
  FROM reach GROUP BY node
)"""


def _minhash_md5_sql() -> str:
    """DuckDB analog of `minhash_near_dup_md5`."""
    return f"""
WITH {_md5_pair_ctes("documents", _MH_THRESHOLD)}
SELECT id_a, id_b, est_jaccard FROM pairs
"""


# ---------------------------------------------------------------------------
# lsh_band_occupancy_md5 — the LSH pair path's cost model as a FULLY-ORACLED
# query: per band, bucket count, max occupancy, and the implied candidate
# pairs sum c·(c−1)/2 the buckets will emit. Round-4 measured 10×
# docs ⇒ ~96× implied pairs on this corpus (duplicate-cluster size grows
# with the corpus) — this query makes that scale-health metric part of the
# oracle-checked surface, riding the IDENTICAL `minhash_bands`
# construction the pair path uses (shared code, not a re-derivation).
# ---------------------------------------------------------------------------


def lsh_band_occupancy_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(
        docs, "doc_id", "text", _MH_HASHES, _MH_SHINGLE, family="md5"
    )
    return lsh_bucket_occupancy(
        minhash_bands(sig, "doc_id", _MH_BANDS, _MH_HASHES // _MH_BANDS, family="md5")
    )


def _lsh_band_occupancy_md5_sql() -> str:
    ctes = _minhash_md5_ctes("documents", _MH_SHINGLE, _MH_HASHES, _MH_BANDS)
    return f"""
WITH {ctes},
per AS (
  SELECT band, bh, count(*) AS c FROM banded GROUP BY band, bh
)
SELECT band,
       count(*) AS n_buckets,
       max(c) AS max_occupancy,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS implied_pairs
FROM per GROUP BY band
"""


# ---------------------------------------------------------------------------
# near_dup_clusters — connected components over the portable-hash LSH pairs
# (operators/dedup.py::connected_components): cluster_id = min reachable doc
# id. The oracle computes the identical edges (same hash family) and walks
# the transitive closure with a recursive CTE — the whole
# pairs→clusters→canonical-doc dedup path is hash-verified end to end.
# ---------------------------------------------------------------------------


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.dedup import connected_components

    pairs = minhash_near_dup_md5(spark, sf_dir)
    return connected_components(pairs)


def _near_dup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_md5_cluster_ctes("documents", _MH_THRESHOLD)}
SELECT doc_id, cluster_id FROM clusters
"""


# ---------------------------------------------------------------------------
# near_dup_keep_best — canonical-representative selection per near-dup
# cluster: the "then what" step after `near_dup_clusters` that curation
# pipelines actually apply (keep ONE member per cluster, drop the rest).
# Selection policy: longest member (max n_chars), lowest doc_id as the
# deterministic tie-break. The Spark side is ONE struct-max aggregate —
# max(struct(n_chars, -doc_id)) picks the longest member and, among
# length ties, the smallest id, in a single map-side-combined shuffle (no
# self-join, no per-cluster window); the oracle expresses the identical
# policy as max-chars agg + member join + min doc_id (DuckDB's struct
# comparison isn't needed — both reduce to the same (cluster, kept, n,
# best) rows). Multi-member clusters only: unclustered docs are trivially
# kept and would just echo the documents table.
# ---------------------------------------------------------------------------


def near_dup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = near_dup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    agg = (
        clusters.join(docs, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("b"),
        )
    )
    return agg.select(
        "cluster_id",
        (-F.col("b.neg_id")).alias("kept_doc"),
        "n_members",
        F.col("b.n_chars").alias("best_chars"),
    ).orderBy("cluster_id")


def _near_dup_keep_best_sql() -> str:
    return f"""
WITH RECURSIVE {_md5_cluster_ctes("documents", _MH_THRESHOLD)},
m AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
agg AS (
  SELECT cluster_id, count(*) AS n_members, max(n_chars) AS best_chars
  FROM m GROUP BY cluster_id
)
SELECT a.cluster_id AS cluster_id, min(m.doc_id) AS kept_doc,
       a.n_members, a.best_chars
FROM agg a JOIN m ON m.cluster_id = a.cluster_id
                 AND m.n_chars = a.best_chars
GROUP BY a.cluster_id, a.n_members, a.best_chars
ORDER BY a.cluster_id
"""


# ---------------------------------------------------------------------------
# ngram_jaccard_consecutive — exact n-gram (word bigram) Jaccard similarity
# for adjacent doc-id pairs: a linear, fully-SQL-expressible slice of the
# near-dup surface (the LSH pipelines above are its scale path).
# ---------------------------------------------------------------------------


def ngram_jaccard_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the token array ONCE per row before the bigram transform:
    # referencing the tokenizer expression inside the lambda would re-run
    # split+filter over the whole text for every bigram index (O(n²)/doc —
    # measured 60s+ at sf0.1 vs ~2s with the named column).
    toked = fan_out(docs.select("doc_id", tokens_nonempty("text").alias("toks")))
    t = F.col("toks")
    bigrams = F.when(
        F.size(t) >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = toked.select("doc_id", bigrams.alias("sh"))
    # Pair assembly in ONE pass: the previous self-join (a ⋈ b on
    # doc_id = doc_id−1) planned two full lineages of the map-only
    # tokenize+bigram projection — the expensive pass over the corpus text
    # ran twice, and each side paid its own exchange. Instead each doc's
    # bigram set is exploded to its two pair roles — the 'a' side of
    # (d, d+1) keyed by d, the 'b' side of (d−1, d) keyed by d−1 — and one
    # aggregation per key assembles the pair. Identical shuffle bytes
    # (each array still crosses twice), but ONE tokenize pass and ONE
    # exchange instead of two of each; inner-join semantics preserved by
    # requiring both roles present. Each group holds at most one row per
    # role BECAUSE doc_id is the documents table's unique key (a duplicate
    # doc_id would collapse to one arbitrary first() where the old join
    # emitted one row per match — keep that assumption true or revisit);
    # given that, first(ignorenulls) is deterministic. NULL doc_ids must
    # drop BEFORE tagging (ADVICE r10): the old equi-join dropped NULL
    # keys, but here a NULL doc's role-0 and role-1 rows would both land
    # in the NULL group and fabricate a self-pair.
    sh = sh.filter(F.col("doc_id").isNotNull())
    tagged = sh.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id").alias("k"), F.lit(0).alias("role")),
                F.struct(
                    (F.col("doc_id") - 1).alias("k"), F.lit(1).alias("role")
                ),
            )
        ).alias("kr"),
        "sh",
    )
    paired = (
        tagged.groupBy(F.col("kr.k").alias("doc_id"))
        .agg(
            F.first(
                F.when(F.col("kr.role") == 0, F.col("sh")), ignorenulls=True
            ).alias("sh"),
            F.first(
                F.when(F.col("kr.role") == 1, F.col("sh")), ignorenulls=True
            ).alias("sh_b"),
        )
        .filter(F.col("sh").isNotNull() & F.col("sh_b").isNotNull())
    )
    return paired.select(
        F.col("doc_id").alias("doc_id_a"),
        (F.col("doc_id") + 1).alias("doc_id_b"),
        F.round(
            F.size(F.array_intersect("sh", "sh_b"))
            / F.size(F.array_union("sh", "sh_b")),
            6,
        ).alias("jaccard"),
    )


NGRAM_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_distinct(list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1]))
              ELSE [] END AS sh
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '{WORD_SEPARATOR_RE}'),
                       w -> w <> '') AS toks
    FROM documents
  )
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       round(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""

# ---------------------------------------------------------------------------
# containment_near_dup — Broder CONTAINMENT |A∩B|/min(|A|,|B|) pairs via
# rare-shingle blocking (operators/dedup.py::containment_pairs): the
# asymmetric doc-embedded-in-doc case Jaccard-threshold MinHash misses by
# construction. Candidates are bounded at 3·20 per doc (linear, never
# all-pairs); scoring is integer counts + ONE IEEE division, so the DuckDB
# twin hash-matches exactly.
# ---------------------------------------------------------------------------


def containment_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.dedup import containment_pairs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs)


CONTAINMENT_NEAR_DUP_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, shingle
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= 3
                  THEN list_transform(generate_series(1, len(toks) - 2),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [] END) AS shingle
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text),
                         '{WORD_SEPARATOR_RE}'), w -> w <> '') AS toks
      FROM documents
    )
  )
),
sizes AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
rare AS (
  SELECT doc, shingle FROM (
    SELECT s.doc, s.shingle,
           row_number() OVER (PARTITION BY s.doc ORDER BY d.df, s.shingle)
             AS rk
    FROM sh s JOIN dfreq d USING (shingle)
    WHERE d.df BETWEEN 2 AND 20
  ) WHERE rk <= 3
),
cand AS (
  -- both-direction seeding, pair normalized via least/greatest (mirrors the
  -- Spark operator: a lower-id-only join misses pairs only the higher-id
  -- doc's rare shingles surface)
  SELECT DISTINCT least(r.doc, s.doc) AS id_a, greatest(r.doc, s.doc) AS id_b
  FROM rare r JOIN sh s USING (shingle)
  WHERE r.doc <> s.doc
),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter_cnt
  FROM cand c
  JOIN sh sa ON sa.doc = c.id_a
  JOIN sh sb ON sb.doc = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.inter_cnt,
       least(za.sz, zb.sz) AS min_sz,
       CAST(floor(i.inter_cnt * 1000000.0 / least(za.sz, zb.sz)) AS BIGINT)
         AS containment_ppm
FROM inter i
JOIN sizes za ON za.doc = i.id_a
JOIN sizes zb ON zb.doc = i.id_b
WHERE CAST(floor(i.inter_cnt * 1000000.0 / least(za.sz, zb.sz)) AS BIGINT)
      >= {_MIN_CONTAINMENT_PPM}
ORDER BY i.id_a, i.id_b
"""


# ---------------------------------------------------------------------------
# multimodal_decode — binary payload + pandas-UDF decode stub
# (operators/multimodal.py); metadata is a pure function of the bytes, so it
# oracle-checks against octet_length/md5 in DuckDB.
# ---------------------------------------------------------------------------


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return decode_documents(docs)


MULTIMODAL_DECODE_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT)           AS n_bytes,
       CAST(octet_length(encode(text)) % 1024 AS BIGINT)    AS fake_width,
       CAST(octet_length(encode(text)) * 7 % 768 AS BIGINT) AS fake_height,
       'fake/raw'                                           AS fmt,
       md5(text)                                            AS payload_md5
FROM documents
"""


# ---------------------------------------------------------------------------
# pdf_text_extract / pdf_table_detect — the X1/X5 extraction pipelines over
# binary payloads (operators/extraction.py; deterministic stubs for the
# absent poppler/camelot binaries → rows-only checks). The UDTF flat-map
# shape of table detection (1 doc row → 0..n table rows) is the part Spark
# must get right regardless of the detector.
# ---------------------------------------------------------------------------


def _doc_binaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".pdf")).alias("filename"),
        F.encode("text", "UTF-8").alias("content"),
    )


def multimodal_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal chain: binary payload → frame flat-map → per-frame
    embedding → per-doc rollup. Media codecs are deterministic stubs
    (operators/multimodal.py); the Spark plumbing — flat-map cardinality,
    binary columns, array<float> features feeding the ANN operators — is
    real. FULLY oracled since the featurizer became the integer
    byte-window-sum stub: with dim=16 and 16-byte frame slices, each
    feature vector is the frame's zero-padded byte values, so the per-doc
    sum / sum-of-squares rollup is exact int64 arithmetic DuckDB
    reproduces from the hex-encoded slices bit-for-bit."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    binary = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    # Fused sampler+featurizer: ONE Python boundary crossing for the
    # payload bytes instead of two chained mapInPandas nodes (r10, guide
    # §4) — structurally the same slice/window helpers, parity-tested.
    feats = frame_features(binary)
    fsum = F.aggregate(
        F.col("feature"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint"),
    )
    fsq = F.aggregate(
        F.col("feature"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint") * x.cast("bigint"),
    )
    return (
        feats.select("doc_id", fsum.alias("fs"), fsq.alias("fq"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum("fs").alias("feat_sum"),
            F.sum("fq").alias("feat_sq_sum"),
        )
    )


# Mirrors the whole chain in hex space: frame slices exactly as
# MULTIMODAL_FRAME_INDEX_SQL cuts them, byte values decoded from hex pairs
# (2 chars = 1 byte; DuckDB hex() is uppercase), per-frame sum /
# sum-of-squares, per-doc int64 rollup. The strided-window featurizer
# reduces to plain byte sums here because dim=16 ≥ the 16-byte slice
# length — pinned by tests/test_multimodal.py's window-fold case.
MULTIMODAL_FRAME_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n
  FROM documents
),
f AS (
  SELECT doc_id,
         substring(ph, CAST((i * n) // (n % 7) AS BIGINT) * 2 + 1, 32) AS fh
  FROM (SELECT doc_id, ph, n, unnest(range(0, n % 7)) AS i FROM b)
),
v AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(fh) // 2), i ->
           (strpos('0123456789ABCDEF', substring(fh, 2*i - 1, 1)) - 1) * 16
           + strpos('0123456789ABCDEF', substring(fh, 2*i, 1)) - 1) AS vals
  FROM f
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(list_sum(vals)) AS BIGINT) AS feat_sum,
       CAST(sum(list_sum(list_transform(vals, x -> x * x))) AS BIGINT)
         AS feat_sq_sum
FROM v
GROUP BY doc_id
"""


def multimodal_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-verified twin of the frame flat-map: same
    `sample_frames` mapInPandas UDF (one binary payload → 0..n frame
    rows), but the output is the frame BYTES themselves (hex-encoded)
    plus the frame index/timestamp — all pure byte arithmetic, so DuckDB
    reproduces the slice boundaries, frame counts, and timestamps
    bit-for-bit. This pins the load-bearing part of the multimodal path
    (Arrow flat-map cardinality + slice arithmetic) with a full value
    oracle; `multimodal_frame_features` keeps the Gaussian stub
    featurizer (seeded PCG64 — no SQL analog) as the rows-only tier."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    binary = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_frames(binary)
    return frames.select(
        "doc_id", "frame_no", "ts_ms", F.hex("frame").alias("frame_hex")
    )


# Mirrors sample_frames' slice arithmetic: n_frames = octet_length % 7,
# start byte of frame i = (i * n) // n_frames, 16-byte slices truncated at
# the payload end. Byte slicing rides hex() because this DuckDB build has
# no BLOB substring — 1 byte = 2 hex chars throughout.
MULTIMODAL_FRAME_INDEX_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS ph, octet_length(encode(text)) AS n
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(i AS INT) AS frame_no,
         CAST(i * 10000 AS BIGINT) AS ts_ms,
         substring(ph, CAST((i * n) // (n % 7) AS BIGINT) * 2 + 1, 32)
           AS frame_hex
  FROM (SELECT doc_id, ph, n, unnest(range(0, n % 7)) AS i FROM b)
)
SELECT doc_id, frame_no, ts_ms, frame_hex FROM f
"""


def multimodal_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last multimodal verb made driver-visible: `resize_images`' 1:1
    binary→binary mapInPandas (payload → fixed-size thumbnail; the stub
    cycles/truncates the bytes to width*height//8 — a real PIL resize
    keeps the same contract: binary in, bounded binary out, no shuffle).
    The thumbnail is pure byte arithmetic, so the hex-encoded bytes are
    FULLY oracled: DuckDB repeats and truncates the same hex string. With
    decode (1:1 metadata), frame sampling (flat-map), features
    (rows-only Gaussian stub), and resize, every multimodal operator now
    has a registry entry."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    binary = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    resized = resize_images(binary)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.length("thumb").alias("thumb_bytes"),
        F.hex("thumb").alias("thumb_hex"),
    )


# Mirrors the stub's cycle/truncate arithmetic in hex space (2 hex chars =
# 1 byte): empty payloads become the single NUL byte first, then the
# payload repeats ceil(target/len) times and truncates to target bytes.
MULTIMODAL_RESIZE_AUDIT_SQL = f"""
WITH b AS (
  SELECT doc_id,
         CASE WHEN octet_length(encode(text)) = 0 THEN '00'
              ELSE hex(encode(text)) END AS ph
  FROM documents
),
t AS (
  SELECT doc_id,
         substring(repeat(ph, CAST(({_RESIZE_TARGET} * 2 + length(ph) - 1)
                               // length(ph) AS INT)),
                   1, {_RESIZE_TARGET} * 2) AS thumb_hex
  FROM b
)
SELECT doc_id, {_RESIZE_W} AS width, {_RESIZE_H} AS height,
       CAST(length(thumb_hex) // 2 AS INT) AS thumb_bytes, thumb_hex
FROM t
"""


def pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_text(_doc_binaries(spark, sf_dir), backend="stub")


# The X1 stub derives its text purely from sha256(payload) and the payload
# is the document's UTF-8 bytes — DuckDB's sha256(VARCHAR) hashes the same
# bytes, so even this pandas-UDF path gets a full value oracle (the fake
# text is never empty, so the P13 fallback always resolves to 'direct').
PDF_TEXT_EXTRACT_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(doc_id AS VARCHAR) || '.pdf' AS filename,
       'extracted text ' || substr(sha256(text), 1, 16) AS text,
       'direct' AS method
FROM documents
"""


def pdf_table_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return detect_tables(_doc_binaries(spark, sf_dir), backend="stub")


def pdf_table_detect_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same X5 flat-map through Spark 4's native Python UDTF + LATERAL
    join (operators/extraction.py::detect_tables_udtf) — proven row-equal
    to the mapInPandas form and sharing its full value oracle."""
    return detect_tables_udtf(_doc_binaries(spark, sf_dir))


# The X5 stub is sha256-derived with a text-safe page suffix, so even the
# flat-map table detector gets a full value oracle: DuckDB reproduces the
# digest per (doc, page), the 0..2 emission count, and every cell metric.
_TABLE_DETECT_CTE = """
pages AS (
  SELECT CAST(doc_id AS VARCHAR) AS id,
         CAST(doc_id AS VARCHAR) || '.pdf' AS filename,
         text,
         unnest(range(1, greatest(octet_length(encode(text)) // 64, 1) + 1)) AS page
  FROM documents
),
hashed AS (
  SELECT id, filename, page,
         sha256(text || '|page:' || CAST(page AS VARCHAR)) AS hx
  FROM pages
),
counted AS (
  SELECT *, ('0x' || substr(hx, 1, 2))::INT % 3 AS n_tables FROM hashed
),
tbl AS (
  SELECT id, filename, page, unnest(range(0, n_tables)) AS tbl_i, hx
  FROM counted WHERE n_tables > 0
),
det AS (
  SELECT id, filename, page,
         CAST(row_number() OVER (PARTITION BY id ORDER BY page, tbl_i) AS INT)
           AS table_no,
         2 + ('0x' || substr(hx, 2*(1+tbl_i)+1, 2))::INT % 8 AS n_rows,
         1 + ('0x' || substr(hx, 2*(4+tbl_i)+1, 2))::INT % 5 AS n_cols,
         round(0.5 + (('0x' || substr(hx, 2*(8+tbl_i)+1, 2))::INT % 50) / 100.0, 2)
           AS accuracy
  FROM tbl
)
"""

PDF_TABLE_DETECT_SQL = f"""
WITH {_TABLE_DETECT_CTE}
SELECT id, filename, page, table_no, n_rows, n_cols, accuracy FROM det
"""


# ---------------------------------------------------------------------------
# fuzzy_name_pairs — blocked fuzzy self-join (entity resolution): how many
# near-identical part names exist per brand, with edit distance <= 2. The
# blocking keys (brand equality + length band <= 1) bound the candidate set
# before any distance runs — the O(n^2) full cross never materializes; at
# 100 TB the block key becomes (brand, name-prefix/length bucket) so each
# block fits one task. Spark evaluates the THRESHOLDED levenshtein
# (levenshtein(a, b, 2) — O(threshold * len) early-exit, -1 beyond), so the
# candidate pass costs threshold-bounded work per pair; the oracle's plain
# levenshtein agrees exactly on every pair that survives. One shuffle
# (brand join key) + the tiny per-brand aggregate.
# ---------------------------------------------------------------------------


def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = fan_out(load_table(spark, sf_dir, "part")).select(
        "p_partkey", "p_name", "p_brand", F.length("p_name").alias("ln")
    )
    a = p.select(
        F.col("p_partkey").alias("ak"),
        F.col("p_name").alias("an"),
        F.col("p_brand").alias("brand"),
        F.col("ln").alias("al"),
    )
    b = p.select(
        F.col("p_partkey").alias("bk"),
        F.col("p_name").alias("bn"),
        F.col("p_brand").alias("brand"),
        F.col("ln").alias("bl"),
    )
    return (
        a.join(b, "brand")
        .filter(
            (F.col("ak") < F.col("bk"))
            & (F.abs(F.col("al") - F.col("bl")) <= 1)
        )
        .select("brand", F.expr("levenshtein(an, bn, 2)").alias("d"))
        .filter(F.col("d") >= 0)
        .groupBy("brand")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("d"), 6).alias("avg_dist"),
        )
    )


FUZZY_NAME_PAIRS_SQL = """
SELECT a.p_brand AS brand, count(*) AS n_pairs,
       round(avg(levenshtein(a.p_name, b.p_name)), 6) AS avg_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 1
 AND levenshtein(a.p_name, b.p_name) <= 2
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# fuzzy_name_pairs_refined — the 100 TB form of the blocking key above:
# (brand, FIRST NAME TOKEN) instead of brand alone, so block size is
# governed by the name distribution, not the fixed brand count (brand-only
# blocks grow linearly with sf → within-block pairs grow quadratically —
# the sf1 slope analysis flags the coarse query by design; this is the
# documented refinement, expressed and ORACLED). Recall semantics shift
# with the key — pairs differing in their first token are no longer found
# — which is exactly the blocking-key recall trade entity resolution makes
# explicit; both engines compute the identical refined pair set.
# ---------------------------------------------------------------------------


def fuzzy_name_pairs_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = fan_out(load_table(spark, sf_dir, "part")).select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.length("p_name").alias("ln"),
        F.split(F.col("p_name"), " ")[0].alias("tok0"),
    )
    a = p.select(
        F.col("p_partkey").alias("ak"),
        F.col("p_name").alias("an"),
        F.col("p_brand").alias("brand"),
        F.col("ln").alias("al"),
        F.col("tok0").alias("t0"),
    )
    b = p.select(
        F.col("p_partkey").alias("bk"),
        F.col("p_name").alias("bn"),
        F.col("p_brand").alias("brand"),
        F.col("ln").alias("bl"),
        F.col("tok0").alias("t0"),
    )
    return (
        a.join(b, ["brand", "t0"])
        .filter(
            (F.col("ak") < F.col("bk"))
            & (F.abs(F.col("al") - F.col("bl")) <= 1)
        )
        .select("brand", F.expr("levenshtein(an, bn, 2)").alias("d"))
        .filter(F.col("d") >= 0)
        .groupBy("brand")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("d"), 6).alias("avg_dist"),
        )
    )


FUZZY_NAME_PAIRS_REFINED_SQL = """
SELECT a.p_brand AS brand, count(*) AS n_pairs,
       round(avg(levenshtein(a.p_name, b.p_name)), 6) AS avg_dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
 AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 1
 AND levenshtein(a.p_name, b.p_name) <= 2
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# fuzzy_name_pairs_banded — the LSH tier of the fuzzy family, i.e. the form
# that actually survives 100 TB: candidates come from a MinHash band-bucket
# equi-join over character-3-gram shingles of the name (the IDENTICAL
# portable-md5 construction minhash_near_dup_md5 uses, via
# minhash_bands), then the exact levenshtein(≤2) verify runs only on
# bucket-collision pairs. Both hand-picked blocking keys above bound pair
# work by a DATA property (brand / first-token frequency) that grows with
# the corpus; the LSH bucket key is governed by signature diversity
# instead. Recall tier: a true pair is found iff it agrees on ≥1 of 4
# bands (names within edit distance 2 share almost all 3-grams, so
# per-band agreement ≈ jaccard⁴ per 4-hash band — high recall on
# lev ≤ 2 name pairs), and because every hash is md5-derived the WHOLE
# construction is reproducible in DuckDB: this recall tier is fully
# ORACLED, not a rows-only claim. The bucket key is (brand, band, bh):
# brand is required of every reported pair anyway, so folding it into
# the key is semantically free selectivity — short names drawn from a
# small vocabulary collide heavily on minhash values alone (first cut
# used 2-row bands without brand; bucket occupancy made sf3 enumerate
# orders of magnitude more candidates than true pairs).
# ---------------------------------------------------------------------------

_FNB_HASHES = 16
_FNB_BANDS = 4
_FNB_SHINGLE = 3


def fuzzy_name_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = fan_out(load_table(spark, sf_dir, "part")).select(
        "p_partkey", "p_name", "p_brand"
    )
    # Collapse exact-duplicate names FIRST (the same stage ordering the
    # curation pipeline uses: exact dedup before near-dup enumeration).
    # Replicated corpora repeat names verbatim, so LSH buckets over raw
    # rows fill with m copies of each name and the candidate join
    # enumerates all m² collisions of pairs it will compute the SAME
    # levenshtein for. Grouping to distinct (brand, name) with a
    # multiplicity makes the LSH candidate volume scale with NAME
    # DIVERSITY, not corpus size; exact pair counts are reconstructed
    # arithmetically — within-group pairs are C(m,2) at distance 0,
    # cross-group verified pairs weigh m_a·m_b.
    g = (
        p.groupBy("p_brand", "p_name")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.min("p_partkey").alias("gid"),
        )
        .persist()
    )
    names = g.select(
        F.col("gid").alias("doc_id"), F.col("p_name").alias("text")
    )
    banded = minhash_bands(
        minhash_signatures(
            names, "doc_id", "text", _FNB_HASHES, _FNB_SHINGLE, family="md5"
        ),
        "doc_id",
        _FNB_BANDS,
        _FNB_HASHES // _FNB_BANDS,
        family="md5",
    )
    keyed = banded.join(
        g.select(
            F.col("gid").alias("doc_id"),
            F.col("p_brand").alias("brand"),
        ),
        "doc_id",
    )
    cand = (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.brand") == F.col("b.brand"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("ak"), F.col("b.doc_id").alias("bk")
        )
        .distinct()
    )
    ga = g.select(
        F.col("gid").alias("ak"),
        F.col("p_name").alias("an"),
        F.col("p_brand").alias("brand"),
        F.col("m").alias("ma"),
    )
    gb = g.select(
        F.col("gid").alias("bk"),
        F.col("p_name").alias("bn"),
        F.col("p_brand").alias("brand_b"),
        F.col("m").alias("mb"),
    )
    cross = (
        cand.join(ga, "ak")
        .join(gb, "bk")
        .filter(
            (F.col("brand") == F.col("brand_b"))
            & (F.abs(F.length("an") - F.length("bn")) <= 1)
        )
        .select(
            "brand",
            F.expr("levenshtein(an, bn, 2)").alias("d"),
            (F.col("ma") * F.col("mb")).alias("w"),
        )
        .filter(F.col("d") >= 0)
    )
    within = g.filter(F.col("m") >= 2).select(
        F.col("p_brand").alias("brand"),
        F.lit(0).alias("d"),
        F.expr("m * (m - 1) DIV 2").alias("w"),
    )
    report = (
        cross.unionByName(within)
        .groupBy("brand")
        .agg(
            F.sum("w").alias("n_pairs"),
            F.round(
                F.sum(F.col("d") * F.col("w")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ).alias("avg_dist"),
        )
    )
    # One row per brand.
    return collect_and_release(report, g)


def _fuzzy_name_pairs_banded_sql() -> str:
    ctes = _minhash_md5_ctes("names", _FNB_SHINGLE, _FNB_HASHES, _FNB_BANDS)
    return f"""
WITH g AS (
  SELECT p_brand, p_name, count(*) AS m, min(p_partkey) AS gid
  FROM part GROUP BY 1, 2
),
names AS (SELECT gid AS doc_id, p_name AS text FROM g),
{ctes},
keyed AS (
  SELECT bd.doc_id, bd.band, bd.bh, g.p_brand AS brand
  FROM banded bd JOIN g ON g.gid = bd.doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS ak, b.doc_id AS bk
  FROM keyed a JOIN keyed b
    ON a.brand = b.brand AND a.band = b.band AND a.bh = b.bh
   AND a.doc_id < b.doc_id
),
crossed AS (
  SELECT ga.p_brand AS brand,
         levenshtein(ga.p_name, gb.p_name) AS d,
         ga.m * gb.m AS w
  FROM cand c
  JOIN g ga ON ga.gid = c.ak
  JOIN g gb ON gb.gid = c.bk
  WHERE ga.p_brand = gb.p_brand
    AND abs(length(ga.p_name) - length(gb.p_name)) <= 1
    AND levenshtein(ga.p_name, gb.p_name) <= 2
),
within AS (
  SELECT p_brand AS brand, 0 AS d, m * (m - 1) // 2 AS w
  FROM g WHERE m >= 2
)
SELECT brand,
       CAST(sum(w) AS BIGINT) AS n_pairs,
       round(CAST(sum(d * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6)
         AS avg_dist
FROM (SELECT * FROM crossed UNION ALL SELECT * FROM within)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# udtf_widen_roundtrip — the dynamic-schema UDTF (analyze() computes the
# output schema from its argument at plan time; operators/extraction.py::
# widen_cells) proven by a round trip: four part columns unpivoted to
# long-format (key, col_idx, cell) and widened back — the oracle simply
# selects the original columns. This is the §1.4 "inferred sub-table
# schema" surface (09_clean_tables.py:180) as a first-class table function.
# ---------------------------------------------------------------------------


def udtf_widen_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.extraction import widen_cells

    part = fan_out(load_table(spark, sf_dir, "part"))
    long_df = part.select(
        F.col("p_partkey"),
        F.posexplode(
            F.array(
                "p_name",
                "p_brand",
                "p_type",
                F.col("p_size").cast("string"),
            )
        ).alias("col_idx", "cell"),
    )
    return widen_cells(long_df, "p_partkey", 4)


UDTF_WIDEN_ROUNDTRIP_SQL = """
SELECT p_partkey AS key, p_name AS c0, p_brand AS c1, p_type AS c2,
       CAST(p_size AS VARCHAR) AS c3
FROM part
"""


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup (Abbas et al. 2023): cluster the embedding space
# (deterministic fixed-seed centroids standing in for the IVF coarse
# quantizer), drop any vector with cosine ≥ τ to a lower-id vector in the
# same cluster. FULLY oracled: the centroid matrix is a literal, so DuckDB
# reproduces cell assignment (6-dp-rounded argmax, ties to lowest pid), the
# per-cluster pair set, and the keep/drop verdicts bit-for-bit.
#
# CAUTIONARY TIER at scale (VERDICT r9 item 3): the FIXED cell count (8)
# that buys the bit-exact oracle makes within-cell pair work grow
# quadratically with the corpus — measured 8.5x per 3x data (sf1 6.2 s ->
# sf3 52.9 s). The production tier is semantic_dedup_scaled (n_cells grows
# with the corpus, 1.5x per 3x). bench.py therefore excludes this tier by
# DEFAULT at sf>=3 alongside the quadratic fuzzy tiers, with the exclusion
# recorded in the artifact; the sf0.01 correctness oracle is untouched.
# ---------------------------------------------------------------------------

_SEMDEDUP_CELLS = 8
_SEMDEDUP_DIM = 64
_SEMDEDUP_SEED = 99


def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = fixed_centroids(_SEMDEDUP_DIM, _SEMDEDUP_CELLS, _SEMDEDUP_SEED)
    return semantic_dedup(emb, cents)


_KM_K = 8
_KM_ITER = 4


def embedding_kmeans_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the full embeddings table
    (operators/similarity.kmeans_lloyd_distributed): per-iteration
    assignment is a map-only BLAS pass, centroid updates are decimal-exact
    groupBy means (deterministic across partitionings), only the k×dim
    matrix reaches the driver. Output: per-cluster size + final inertia.

    FULLY oracled — the part_pagerank recipe applied to ML training: the
    trainer's determinism discipline (seeded-literal init, 9-dp-rounded
    BLAS assignment with lowest-index ties, DECIMAL-exact centroid means
    rounded to 9 dp, DECIMAL-exact inertia rounded to 3) makes every
    Lloyd iteration engine-portable, so `_embedding_kmeans_sql` unrolls
    the identical four iterations as chained CTEs from the same Python
    constants and DuckDB hash-matches an ITERATIVE trainer end to end —
    including the monotone-inertia invariant, mirrored in the HAVING."""
    from crz_scraper_spark.operators.similarity import (
        kmeans_lloyd_distributed,
    )

    # The trainer reads its input once per iteration and the final
    # assignment once more: persisting the fanned vectors keeps that to
    # one corpus scan and one round-robin exchange per run.
    emb = fan_out(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).persist()
    assigned, _cents, hist = kmeans_lloyd_distributed(emb, k=_KM_K, n_iter=_KM_ITER)
    # In-query invariant: Lloyd's inertia is provably non-increasing; a
    # trainer regression that breaks monotonicity (or empties a cell)
    # empties the result, which the driver's rows-only count catches.
    monotone = all(
        hist[i + 1] <= hist[i] + 1e-9 for i in range(len(hist) - 1)
    )
    report = (
        assigned.groupBy("cell")
        .agg(F.count("*").alias("n_vectors"))
        .withColumn("final_inertia", F.lit(round(hist[-1], 3)))
        .filter(F.lit(monotone) & (F.col("n_vectors") > 0))
        .orderBy("cell")
    )
    # k rows.
    return collect_and_release(report, emb)


def _kmeans_train_ctes() -> tuple[str, str]:
    """The unrolled-Lloyd CTE chain shared by the trainer oracle and the
    trained-SemDeDup oracle: `emb` + seeded-literal `cents0` + one
    (rounded-BLAS argmin assignment) → (decimal-exact per-(cell,dim)
    mean, rounded 9 dp, empty cells keep the old centroid) → (decimal
    inertia rounded to 3) block per iteration, ending with the trained
    `cents{N}` and a `hist` CTE of the inertia trajectory. Returns
    (sql_prefix, trained_cents_cte_name)."""
    import numpy as np

    cents0 = (
        np.random.default_rng(_KM_SEED)
        .standard_normal((_KM_K, _KM_DIM))
        .tolist()
    )
    cent_rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents0)
    )
    d2 = _sq_dist_sql("e.v", "ct.c")
    parts = [
        f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents0(cell, c) AS (
  VALUES
    {cent_rows}
)"""
    ]
    for i in range(_KM_ITER):
        parts.append(f""",
assign{i} AS (
  SELECT vec_id, v, cell, d2 FROM (
    SELECT e.vec_id, e.v, ct.cell, round({d2}, 9) AS d2,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({d2}, 9) ASC, ct.cell) AS rn
    FROM emb e CROSS JOIN cents{i} ct)
  WHERE rn = 1
),
stats{i} AS (
  SELECT cell, dim,
         round(CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
               / count(*), 9) AS m
  FROM (SELECT cell, unnest(v) AS val,
               unnest(range(0, {_KM_DIM})) AS dim
        FROM assign{i})
  GROUP BY cell, dim
),
inertia{i} AS (
  SELECT CAST(round(sum(CAST(d2 AS DECIMAL(28,9))), 3) AS DOUBLE) AS iv
  FROM assign{i}
),
cents{i + 1}(cell, c) AS (
  SELECT c0.cell, coalesce(s.newc, c0.c)
  FROM cents{i} c0
  LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS newc
             FROM stats{i} GROUP BY cell) s
    ON c0.cell = s.cell
)""")
    hist = ", ".join(f"(SELECT iv FROM inertia{i})" for i in range(_KM_ITER))
    parts.append(f""",
hist AS (SELECT [{hist}] AS h)""")
    return "".join(parts), f"cents{_KM_ITER}"


_KM_MONOTONE_SQL = f"""(SELECT bool_and(h[i+1] <= h[i] + 1e-9)
        FROM hist, range(1, {_KM_ITER}) t(i))"""


def _embedding_kmeans_sql() -> str:
    """Unrolled-CTE oracle for the distributed Lloyd trainer (see
    `_kmeans_train_ctes`); the monotone-inertia filter is mirrored in
    the HAVING."""
    prefix, cents_final = _kmeans_train_ctes()
    d2 = _sq_dist_sql("e.v", "ct.c")
    return f"""{prefix},
finala AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, ct.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round({d2}, 9) ASC, ct.cell) AS rn
    FROM emb e CROSS JOIN {cents_final} ct)
  WHERE rn = 1
)
SELECT CAST(cell AS INT) AS cell, count(*) AS n_vectors,
       (SELECT h[{_KM_ITER}] FROM hist) AS final_inertia
FROM finala
GROUP BY cell
HAVING count(*) > 0
   AND {_KM_MONOTONE_SQL}
"""


def _trained_semantic_dedup(
    emb: DataFrame, k: int, n_iter: int
) -> tuple[DataFrame, list[float]]:
    """SemDeDup over centroids the distributed Lloyd trainer learns from
    ``emb``: the (invariant-checked) verdict and the inertia history.
    The trainer and the dedup pass read ONE persisted copy of the fanned
    vectors (one corpus scan + one fan-out exchange per query), released
    before returning."""
    from crz_scraper_spark.operators.similarity import (
        kmeans_lloyd_distributed,
    )

    emb = emb.persist()
    try:
        _assigned, cents, hist = kmeans_lloyd_distributed(emb, k=k, n_iter=n_iter)
        sd = semantic_dedup(emb, cents)
    finally:
        emb.unpersist()
    return _semdedup_invariant(sd), hist


def semantic_dedup_trained_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED coarse quantizer — the paper's actual
    design: centroids come from distributed full-corpus Lloyd's k-means
    (decimal-exact updates ⇒ deterministic), then the standard
    cluster-then-prune with the BLAS gram pair phase. Trained cells track
    the data distribution, so occupancy is balanced where the
    fixed-random-centroid variants can leave cells empty. Rows-only
    because k = isqrt(count(*)) is data-dependent, so the oracle SQL
    cannot be a static string; the ALGORITHM (trained quantizer feeding
    SemDeDup) is hash-verified by the fixed-k twin below
    (`semantic_dedup_trained_fixed`), and determinism is inherited from
    the trainer's cross-layout bit-stability."""
    from math import isqrt

    raw = load_table(spark, sf_dir, "embeddings")
    # k ∝ √n is the IVF balance point: quantizer assignment costs O(n·k)
    # and the within-cell pair phase O(n·(n/k)) — both n^1.5 at k = √n. A
    # FIXED k (the pre-round-5 k=8) makes the pair phase quadratic the
    # moment the corpus outgrows it (measured: 128 s at sf3 vs 16 s at
    # sf1 for 3× data). Count the RAW table, not the fanned frame: the
    # value is identical, but counting after repartition shuffles the
    # whole table to answer a metadata question.
    n = raw.count()
    emb = fan_out(raw.select("vec_id", "embedding"))
    sd, _hist = _trained_semantic_dedup(emb, k=max(8, isqrt(n)), n_iter=3)
    return sd


def semantic_dedup_trained_fixed_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hash-verified twin of `semantic_dedup_trained`: the coarse
    quantizer is TRAINED by the distributed Lloyd trainer (same k=8 /
    4-iteration / seed-99 run `embedding_kmeans_clusters` oracles), then
    the trained centroid matrix feeds the standard cluster-then-prune.
    Because the trainer's determinism discipline makes every iteration
    engine-portable, the oracle chains the SAME unrolled Lloyd CTEs into
    the SemDeDup assignment/pair/verdict SQL — an end-to-end
    train-quantizer→dedup pipeline DuckDB reproduces bit-for-bit. The
    production posture (k ∝ √n) stays in `semantic_dedup_trained`; this
    twin pins the algorithm's correctness with a static-k oracle, the
    same twin discipline as minhash_near_dup_md5 / ann_ivf_topk."""
    emb = fan_out(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )
    sd, hist = _trained_semantic_dedup(emb, k=_KM_K, n_iter=_KM_ITER)
    monotone = all(
        hist[i + 1] <= hist[i] + 1e-9 for i in range(len(hist) - 1)
    )
    # Mirror the trainer's monotone-inertia witness (the oracle gates on
    # the same predicate): a trainer regression empties the result.
    return sd.filter(F.lit(monotone))


def _semdedup_verdict_sql(cents: str) -> str:
    """The SemDeDup verdict as SQL over an `emb(vec_id, v)` CTE and a
    centroid CTE `cents(cell, c)`: the `assign` (6-dp-rounded cosine
    argmax, ties to the lowest cell) and `drops` (keep-lowest-id prune at
    `_SEMDEDUP_TAU`, 4-dp-rounded cosines) CTEs and the (vec_id, cell,
    kept, rep_id) SELECT — the twin of `operators/dedup.py::semantic_dedup`
    that both SemDeDup oracles end with."""
    return f"""assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, ct.cell,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, ct.c), 6) DESC,
                        ct.cell) AS rn
    FROM emb e CROSS JOIN {cents} ct)
  WHERE rn = 1
),
drops AS (
  SELECT b.vec_id, min(a.vec_id) AS rep
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {_SEMDEDUP_TAU}
  GROUP BY b.vec_id
)
SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
       coalesce(d.rep, s.vec_id) AS rep_id
FROM assign s LEFT JOIN drops d ON s.vec_id = d.vec_id
"""


def _semantic_dedup_trained_fixed_sql() -> str:
    """Chained oracle: the unrolled Lloyd CTE chain produces the trained
    centroids, which the SemDeDup verdict consumes — identical constants
    to the Spark pipeline above."""
    prefix, cents_final = _kmeans_train_ctes()
    return f"""{prefix},
{_semdedup_verdict_sql(cents_final)}WHERE {_KM_MONOTONE_SQL}
"""


def semantic_dedup_scaled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's PRODUCTION posture demonstrated: n_cells grows with the
    corpus (~250 vectors/cell) so within-cell pair work stays LINEAR in
    corpus size — the `semantic_dedup` query above pins n_cells=8 for its
    SQL oracle and therefore scales quadratically per cell (the sf1 bench
    flags it by design; this variant is the fix it documents). Rows-only
    check: the centroid count depends on the input count, so the oracle
    SQL cannot be a static string. One extra count() job; everything else
    is the same codegen argmax + cell equi-join."""
    raw = load_table(spark, sf_dir, "embeddings")
    emb = fan_out(raw)
    # Count the raw table (parquet count, no shuffle), not the fanned
    # frame — same value, one job instead of repartition + count (r10).
    n = raw.count()
    n_cells = max(8, n // 250)
    cents = fixed_centroids(_SEMDEDUP_DIM, n_cells, _SEMDEDUP_SEED)
    return _semdedup_invariant(semantic_dedup(emb, cents))


def _semdedup_invariant(result: DataFrame) -> DataFrame:
    """Rows-only invariant for the SemDeDup variants: a kept vector is its
    own representative; a dropped vector's representative has a strictly
    lower id (keep-lowest-id semantics). A regression violating either
    drops rows, moving the driver's recorded count. Healthy output keeps
    every row (one per input vector)."""
    kept_ok = (F.col("kept") == 1) & (F.col("rep_id") == F.col("vec_id"))
    drop_ok = (F.col("kept") == 0) & (F.col("rep_id") < F.col("vec_id"))
    return result.filter(kept_ok | drop_ok)


def _semantic_dedup_sql() -> str:
    cents = fixed_centroids(_SEMDEDUP_DIM, _SEMDEDUP_CELLS, _SEMDEDUP_SEED)
    cent_rows = ",\n    ".join(
        f"({cell}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for cell, c in enumerate(cents)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents(cell, c) AS (
  VALUES
    {cent_rows}
),
{_semdedup_verdict_sql("cents")}"""


# ---------------------------------------------------------------------------
# ann_lsh_recall — the ANN quality report: recall@k of the multi-probe LSH
# path against the exact brute-force top-k, per query (the same
# approximate-vs-exact overlap audit embedding_quantization_recall runs
# for int8). Fully oracled by composition — both sub-pipelines are already
# deterministic cross-engine, and the recall arithmetic is integer ppm.
# At 100 TB this runs on a sampled query set as the recurring index-health
# check that decides when to re-tune n_planes/multiprobe.
# ---------------------------------------------------------------------------


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = ann_lsh_topk_q(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(lsh, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.count("hit").alias("n_overlap"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_overlap",
            F.expr(
                "CAST(n_overlap * 1000000 div n_exact AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def _ann_lsh_recall_sql() -> str:
    return f"""
WITH exact AS ({COSINE_TOPK_SQL}),
lsh AS ({_ann_lsh_sql()})
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(l.neighbor_id) AS BIGINT) AS n_overlap,
       CAST(count(l.neighbor_id) * 1000000 // count(*) AS BIGINT)
           AS recall_ppm
FROM exact e
LEFT JOIN lsh l
  ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
GROUP BY e.query_id
"""



# ---------------------------------------------------------------------------
# hard_negative_mining — contrastive training-pair construction for
# embedding models: per anchor (the query cohort), the top-3 most-similar
# SAME-label vectors (positives) and the top-3 most-similar
# DIFFERENT-label vectors (hard negatives — the high-similarity wrong
# answers that make contrastive losses work). One scored scan, one
# per-(anchor, role) top-k window; rounded-similarity ranking is the
# established cross-engine cut. At 100 TB the exact scoring scan swaps
# for the LSH/IVF candidate path (`ann_lsh_topk` / `ann_ivf_topk`) — the
# windowed role split is unchanged. FULLY oracled.
# ---------------------------------------------------------------------------


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from crz_scraper_spark.operators.similarity import _dot, _norm

    emb = (
        fan_out(load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", _norm(F.col("v")))
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    sim = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("neighbor_id"),
            F.when(F.col("label") == F.col("a_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("role"),
            sim.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id", "role").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "role", "neighbor_id", "cos_sim", "rank")
    )


HARD_NEGATIVE_MINING_SQL = """
WITH emb AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS neighbor_id,
         CASE WHEN c.label = q.label THEN 'pos' ELSE 'neg' END AS role,
         round(list_cosine_similarity(q.v, c.v), 4) AS cos_sim
  FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
)
SELECT anchor_id, role, neighbor_id, cos_sim, rank
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY anchor_id, role
      ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 3
"""


QUERIES: dict = {
    "udtf_widen_roundtrip": (udtf_widen_roundtrip, UDTF_WIDEN_ROUNDTRIP_SQL),
    "semantic_dedup": (semantic_dedup_q, _semantic_dedup_sql()),
    "semantic_dedup_scaled": (semantic_dedup_scaled_q, None),
    "semantic_dedup_trained": (semantic_dedup_trained_q, None),
    "semantic_dedup_trained_fixed": (
        semantic_dedup_trained_fixed_q,
        _semantic_dedup_trained_fixed_sql(),
    ),
    "embedding_kmeans_clusters": (
        embedding_kmeans_clusters_q,
        _embedding_kmeans_sql(),
    ),
    "ann_lsh_recall": (ann_lsh_recall, _ann_lsh_recall_sql()),
    "hard_negative_mining": (hard_negative_mining, HARD_NEGATIVE_MINING_SQL),
    "fuzzy_name_pairs": (fuzzy_name_pairs, FUZZY_NAME_PAIRS_SQL),
    "fuzzy_name_pairs_refined": (
        fuzzy_name_pairs_refined,
        FUZZY_NAME_PAIRS_REFINED_SQL,
    ),
    "fuzzy_name_pairs_banded": (
        fuzzy_name_pairs_banded,
        _fuzzy_name_pairs_banded_sql(),
    ),
    "cosine_topk_bruteforce": (cosine_topk_bruteforce, COSINE_TOPK_SQL),
    "pdf_text_extract": (pdf_text_extract, PDF_TEXT_EXTRACT_SQL),
    "pdf_table_detect": (pdf_table_detect, PDF_TABLE_DETECT_SQL),
    "pdf_table_detect_udtf": (pdf_table_detect_udtf, PDF_TABLE_DETECT_SQL),
    "ann_lsh_topk": (ann_lsh_topk_q, _ann_lsh_sql()),
    "embedding_quantization_recall": (
        embedding_quantization_recall,
        EMBEDDING_QUANTIZATION_RECALL_SQL,
    ),
    "ann_ivf_topk": (ivf_ann_topk_q, _ann_ivf_sql()),
    "ann_pq_topk": (pq_ann_topk_q, _ann_pq_sql()),
    "minhash_near_dup": (minhash_near_dup, None),
    "minhash_near_dup_capped": (minhash_near_dup_capped, None),
    "minhash_near_dup_md5": (minhash_near_dup_md5, _minhash_md5_sql()),
    "lsh_band_occupancy_md5": (
        lsh_band_occupancy_md5,
        _lsh_band_occupancy_md5_sql(),
    ),
    "near_dup_clusters": (near_dup_clusters, _near_dup_clusters_sql()),
    "near_dup_keep_best": (near_dup_keep_best, _near_dup_keep_best_sql()),
    "simhash_near_dup": (simhash_near_dup, None),
    "simhash_near_dup_md5": (simhash_near_dup_md5, _simhash_md5_sql()),
    "ngram_jaccard_consecutive": (ngram_jaccard_consecutive, NGRAM_JACCARD_SQL),
    "containment_near_dup": (containment_near_dup, CONTAINMENT_NEAR_DUP_SQL),
    "multimodal_decode": (multimodal_decode, MULTIMODAL_DECODE_SQL),
    "multimodal_frame_features": (
        multimodal_frame_features,
        MULTIMODAL_FRAME_FEATURES_SQL,
    ),
    "multimodal_frame_index": (
        multimodal_frame_index,
        MULTIMODAL_FRAME_INDEX_SQL,
    ),
    "multimodal_resize_audit": (
        multimodal_resize_audit,
        MULTIMODAL_RESIZE_AUDIT_SQL,
    ),
}
