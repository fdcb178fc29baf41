"""Parity plans closing the remaining SURVEY.md §2 inventory rows:

- `tagged_metadata_rank`   — J3 metadata lookup-join + O1 rank + P10 filter
                             (the full stage-4b chain, `04_tag_text_contracts.py:122-211`)
- `attachments_explode_sum`— F11 nested attachment arrays, P6 shape predicate,
                             P12 per-link validity, F6 URL synthesis, A8 size
                             sums (`03_download_contracts.py:610-689`)
- `path_derived_metadata_join` — S5 dir-tree path algebra + F7 regexp ID
                             extraction + P11 extension routing + J4 join
                             (`07_keyword_tag&filter_tables.py:134-145`)
- `tables_per_contract`    — A12 page/table counts per contract over the X5
                             detector output (`06_extract_tables.py:140-254`)
- `embedding_cosine_near_dup` — BASELINE.json embedding-cosine near-dup:
                             exact within-block pair verification (label is
                             the blocking key; `ann_lsh_topk` is the unblocked
                             scale path)

Scale notes: every query here is shuffle-minimal — the attachment build is
one groupBy on the natural key; the near-dup join shuffles both sides once on
the block key (uniform, skew-free); tables_per_contract is a single hash agg
over the flat-mapped detector output.
"""

from __future__ import annotations

import shutil as _sh

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.catalog import fan_out, load_table
from crz_scraper_spark.operators.extraction import detect_tables
from crz_scraper_spark.operators.similarity import cosine
from crz_scraper_spark.operators.tagging import (
    DEFAULT_TAXONOMY,
    _safe,
    tag_rank_filter,
)
from crz_scraper_spark.plans.fixture_plans import _BUILT, _fixture_dir
from crz_scraper_spark.plans.scale_plans import _doc_binaries

# ---------------------------------------------------------------------------
# tagged_metadata_rank — J3: per-doc keyword totals joined back to the
# document metadata row (the reference's `DB_clean.loc[DB_clean['ID'] ==
# contract]` lookup, `04_tag_text_contracts.py:122-125`), ranked (O1) and
# zero-hit-filtered (P10). tag_rank_filter is the operator; this query adds
# the metadata join the reference does row-by-row.
# ---------------------------------------------------------------------------


def tagged_metadata_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ranked = tag_rank_filter(docs)
    meta = docs.select("doc_id", "lang", "source", "n_chars")
    return ranked.select("doc_id", "total_hits").join(meta, "doc_id").select(
        "doc_id", "lang", "source", "n_chars", "total_hits"
    )


def _tagged_metadata_rank_sql() -> str:
    total = " + ".join(
        f"CAST((length(t) - length(replace(t, '{kw.lower()}', ''))) / {len(kw)} AS BIGINT)"
        for kws in DEFAULT_TAXONOMY.values()
        for kw in kws
    )
    return f"""
WITH hits AS (
  SELECT doc_id, {total} AS total_hits
  FROM (SELECT doc_id, lower(text) AS t FROM documents)
)
SELECT d.doc_id, d.lang, d.source, d.n_chars, h.total_hits
FROM hits h JOIN documents d USING (doc_id)
WHERE h.total_hits > 0
"""


# ---------------------------------------------------------------------------
# attachments_explode_sum — the attachment algebra end to end: the P6
# shape predicate (`02_filter_by_CIN.py:228-230`: non-empty AND has a live
# link), per-link validity (P12, `03_download_contracts.py:623-634`:
# size > 0 AND url present), and size sums per contract (A8, `03:632-656`).
# URLs are synthesized with the reference's base-URL concat (F6,
# `01_parse_xml.py:151,161`); every 7th part plays the role of a missing
# link. Since optimization round 10 the collect_list→explode round-trip is
# algebraically folded into one conditional aggregation (see the function
# docstring for the equivalence); the nested ArrayType(Struct) cell algebra
# itself (build, shape-filter, explode) stays exercised by
# `order_parts_array` and the props_* rollups.
# ---------------------------------------------------------------------------

_ATT_BASE_URL = "https://www.crz.gov.sk/data/att/"


def attachments_explode_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One conditional aggregation replaces the collect_list → shape-filter →
    # explode → re-aggregate chain (optimization round 10, guide §1.2/§2.3).
    # Equivalence, link by link: (a) the P6 shape filter (non-empty cell AND
    # ≥1 non-null url) is subsumed — every output group must contain ≥1 row
    # passing the P12 validity cut (size > 0 AND url IS NOT NULL), and such
    # a row has a non-null url, so any group the old shape kept survives and
    # vice versa; (b) explode(collect_list(x)) is the identity on rows, so
    # aggregating the valid rows directly is the same multiset; (c) the
    # never-read `filename` struct field no longer exists to be carried.
    # Plan: ObjectHashAggregate(collect_list) + Sort + 2×SortAggregate →
    # one HashAggregate pair, the P12 filter moves BELOW the exchange
    # (shuffled rows drop by the invalid-link fraction), and per-task
    # memory is scalar aggregation state instead of whole-order arrays.
    # The declared oracle SQL is unchanged; hash-match re-verified.
    li = load_table(spark, sf_dir, "lineitem")
    url = F.when(
        F.col("l_partkey") % 7 != 0,
        F.concat(F.lit(_ATT_BASE_URL), F.col("l_partkey").cast("string")),
    )
    links = li.select(
        "l_orderkey",
        url.alias("url"),
        F.col("l_quantity").cast("long").alias("size"),
    ).filter((F.col("size") > 0) & F.col("url").isNotNull())
    # A8: per-contract link count + size sum.
    return links.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count("*").alias("n_links"),
        F.sum("size").alias("total_size"),
        F.min("url").alias("first_url"),
    )


ATTACHMENTS_EXPLODE_SUM_SQL = f"""
WITH att AS (
  SELECT l_orderkey,
         CASE WHEN l_partkey % 7 <> 0
              THEN '{_ATT_BASE_URL}' || CAST(l_partkey AS VARCHAR) END AS url,
         CAST(l_quantity AS BIGINT) AS size
  FROM lineitem
),
shaped AS (
  SELECT l_orderkey FROM att GROUP BY l_orderkey HAVING count(url) > 0
)
SELECT a.l_orderkey AS o_orderkey,
       count(*)     AS n_links,
       CAST(sum(a.size) AS BIGINT) AS total_size,
       min(a.url)   AS first_url
FROM att a JOIN shaped s USING (l_orderkey)
WHERE a.size > 0 AND a.url IS NOT NULL
GROUP BY a.l_orderkey
"""


# ---------------------------------------------------------------------------
# path_derived_metadata_join — the stage-7 pattern: a file inventory keyed
# only by its path, contract ID recovered by regexp from the directory name
# (J4, `07_keyword_tag&filter_tables.py:134-145`), files routed by extension
# (P11, `04_convert_contracts_to_text.py:222-232`), then joined to the
# metadata table. The path column here is synthesized from doc_id exactly as
# the corpus layout writes it (`04_convert_contracts_to_text.py:57-64`); the
# real dir-tree source is sources/files.py (S5).
# ---------------------------------------------------------------------------


def path_derived_metadata_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    paths = docs.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("contracts_text/"), sid, F.lit("/file_"), sid, F.lit(".txt")
                ),
                F.concat(
                    F.lit("contracts_text/"), sid, F.lit("/file_"), sid, F.lit(".pdf")
                ),
            )
        ).alias("path")
    )
    inv = paths.select(
        "path",
        F.regexp_extract("path", r"contracts_text/(\d+)/", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.when(F.lower("path").endswith(".txt"), F.lit("text"))
        .when(F.lower("path").endswith(".pdf"), F.lit("pdf"))
        .otherwise(F.lit("other"))
        .alias("kind"),
    )
    per_doc = inv.groupBy("doc_id").agg(
        F.count("*").alias("n_files"),
        F.count(F.when(F.col("kind") == "text", 1)).alias("n_text"),
        F.count(F.when(F.col("kind") == "pdf", 1)).alias("n_pdf"),
    )
    meta = docs.select("doc_id", "lang", "n_chars")
    return per_doc.join(meta, "doc_id")


PATH_DERIVED_METADATA_JOIN_SQL = r"""
WITH paths AS (
  SELECT unnest([
    'contracts_text/' || CAST(doc_id AS VARCHAR) || '/file_' || CAST(doc_id AS VARCHAR) || '.txt',
    'contracts_text/' || CAST(doc_id AS VARCHAR) || '/file_' || CAST(doc_id AS VARCHAR) || '.pdf'
  ]) AS path
  FROM documents
),
inv AS (
  SELECT CAST(regexp_extract(path, 'contracts_text/(\d+)/', 1) AS BIGINT) AS doc_id,
         CASE WHEN lower(path) LIKE '%.txt' THEN 'text'
              WHEN lower(path) LIKE '%.pdf' THEN 'pdf'
              ELSE 'other' END AS kind
  FROM paths
),
per_doc AS (
  SELECT doc_id, count(*) AS n_files,
         count(*) FILTER (WHERE kind = 'text') AS n_text,
         count(*) FILTER (WHERE kind = 'pdf')  AS n_pdf
  FROM inv GROUP BY doc_id
)
SELECT p.doc_id, p.n_files, p.n_text, p.n_pdf, d.lang, d.n_chars
FROM per_doc p JOIN documents d USING (doc_id)
"""


# ---------------------------------------------------------------------------
# tables_per_contract — A12: per-contract table/page statistics over the X5
# flat-map output (`06_extract_tables.py:242-254` maintains Pocet_stran /
# Pocet_tabuliek / Tabulky_strany columns). One hash agg; the pages list is
# the reference's Tabulky_strany array, sorted for determinism. Full value
# oracle: the X5 stub is sha256-derived (text-safe page suffix), so DuckDB
# rebuilds the detector output and aggregates it identically.
# ---------------------------------------------------------------------------


def tables_per_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    det = detect_tables(_doc_binaries(spark, sf_dir), backend="stub")
    return det.groupBy("id").agg(
        F.count("*").alias("n_tables"),
        F.countDistinct("page").alias("n_pages_with_tables"),
        F.array_join(
            F.sort_array(F.collect_set("page")).cast("array<string>"), ","
        ).alias("table_pages"),
    )


TABLES_PER_CONTRACT_SQL = """
WITH pages AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text,
         unnest(range(1, greatest(octet_length(encode(text)) // 64, 1) + 1)) AS page
  FROM documents
),
hashed AS (
  SELECT id, page, sha256(text || '|page:' || CAST(page AS VARCHAR)) AS hx
  FROM pages
),
counted AS (
  SELECT id, page, ('0x' || substr(hx, 1, 2))::INT % 3 AS n_tables FROM hashed
),
det AS (
  SELECT id, page, unnest(range(0, n_tables)) AS tbl_i
  FROM counted WHERE n_tables > 0
)
SELECT id, count(*) AS n_tables, count(DISTINCT page) AS n_pages_with_tables,
       array_to_string(list_sort(list(DISTINCT page)), ',') AS table_pages
FROM det
GROUP BY id
"""


# ---------------------------------------------------------------------------
# embedding_cosine_near_dup — exact embedding-cosine near-duplicate pairs
# within a blocking key (label). The join shuffles both sides once on the
# uniform block key, so candidate pairs are bounded per block — the pattern
# that scales to 100 TB when the block key is an LSH bucket (see
# `ann_lsh_topk` / operators/similarity.py). Dot products run JVM-side via
# higher-order functions; summation order is the sequential array order on
# both engines, so the oracle match is exact.
# ---------------------------------------------------------------------------


def embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from crz_scraper_spark.operators.similarity import _norm

    # Norms are precomputed once per ROW (higher-order array expressions
    # are interpreted; leaving the norm traversals inside the O(pairs)
    # loop tripled the per-pair work — measured 3.1 s → 1.2 s at sf0.1).
    # The pair phase is one BLAS gram matrix PER LABEL BLOCK
    # (applyInPandas: (c × dim) @ (dim × c) / outer(norms)) instead of a
    # self-join evaluating an interpreted 64-term dot per pair — same
    # dot-first-divide-then-round-4 doubles (the round absorbs pairwise vs
    # sequential summation ulp exactly as it already absorbs DuckDB's own
    # summation order in the oracle), measured 17.2 s → see PLANS.md at
    # sf1. Memory is O(block²) per task — bounded by the block key, which
    # at 100 TB is an LSH bucket (`ann_lsh_topk`), not a raw label.
    emb = (
        fan_out(load_table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id", "label",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
        .withColumn("nrm", _norm(F.col("emb")))
    )

    out_schema = "label int, vec_a bigint, vec_b bigint, cos_sim double"

    def _block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["emb"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        sims = np.round((x @ x.T) / np.outer(nrm, nrm), 4)
        lo = ids[:, None] < ids[None, :]
        ai, bi = np.nonzero((sims >= 0.35) & lo)
        return pd.DataFrame(
            {
                "label": np.full(len(ai), key[0], dtype="int64"),
                "vec_a": ids[ai],
                "vec_b": ids[bi],
                "cos_sim": sims[ai, bi],
            }
        )

    return (
        emb.groupBy("label")
        .applyInPandas(_block_pairs, out_schema)
    )


EMBEDDING_COSINE_NEAR_DUP_SQL = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
)
SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.35
"""



# ---------------------------------------------------------------------------
# xml_ingest_flatten — S1/S2: the reference's ACTUAL ingestion surface
# (`01_parse_xml.py:69-208`: lxml recover=True per daily dump, corrupted
# files copied to Corrupted_XML_files/, positional flatten into the 22-col
# table) exercised end-to-end as a driver-checked query. A deterministic XML
# dump is materialized from the orders table (every 20th key; every 37th key
# rendered with a non-numeric attachment size = the corrupt cohort), written
# as text dump files with corrupt rows sorted LAST per file (Spark's XML
# permissive scan, like lxml recover, parses every record before the first
# malformed one and captures the remainder in _corrupt_record — sorting the
# bad cohort to the tail makes the recovered set exactly the clean cohort,
# mirroring the reference's whole-file quarantine granularity), then read
# back through sources/xml.read_contracts_xml + split_corrupt +
# flatten_contracts. The oracle computes the same flat table directly from
# orders — any parse/flatten/typing defect in the XML path breaks the match.
# At 100 TB this is one distributed scan over thousands of daily dumps; the
# fixture write is test scaffolding, not part of the measured operator.
# ---------------------------------------------------------------------------

def xml_ingest_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.sources.xml import (
        flatten_contracts,
        read_contracts_xml,
        split_corrupt,
    )

    # Per-pid path, built once per process (`fixture_plans._fixture_dir`):
    # repeated bench/driver invocations measure the XML scan under test,
    # not fixture I/O.
    out_dir = _fixture_dir("xml_ingest_fixture", sf_dir)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderkey % 20 = 0")
    )
    bad = F.expr("o_orderkey % 37 = 0")
    key = F.col("o_orderkey").cast("string")
    xml = orders.select(
        "o_orderkey",
        bad.alias("bad"),
        F.concat(
            F.lit("<contract><id>"), key,
            F.lit("</id><nazov>Zmluva c. "), key,
            F.lit("</nazov><objednavatel_ico>"),
            F.col("o_custkey").cast("string"),
            F.lit("</objednavatel_ico><cena_konecna>"),
            F.col("o_totalprice").cast("string"),
            F.lit("</cena_konecna><stav>"), F.col("o_orderstatus"),
            F.lit("</stav><prilohy><priloha><att_id>att-"), key,
            F.lit("</att_id><velkost>"),
            F.when(bad, F.lit("corrupted")).otherwise(
                (F.col("o_custkey") + 1000).cast("string")
            ),
            F.lit("</velkost></priloha></prilohy></contract>"),
        ).alias("value"),
    )
    # One root-wrapped dump file per partition (the XML scan requires a
    # single root element per file; multiple top-level records are malformed
    # by definition). mapPartitions here is fixture scaffolding, not the
    # operator under test. File COUNT scales with the input (~2k contracts
    # per dump file, the bounded-daily-dump property of the real source):
    # XML files are unsplittable for the rowTag scan, so a fixed file count
    # caps scan parallelism at that constant and turns a 10x data bump into
    # a >10x wall-clock bump (measured 58s -> 3s at sf1-scale, 32 cores).
    if out_dir not in _BUILT:
        n_files = max(4, int(xml.count() // 2000) + 1)
        _sh.rmtree(out_dir, ignore_errors=True)
        (
            xml.repartition(n_files, "o_orderkey")
            .sortWithinPartitions("bad", "o_orderkey")
            .select("value")
            .rdd.map(lambda r: r[0])
            .mapPartitions(
                lambda it: iter(
                    ["<contracts>\n" + "\n".join(it) + "\n</contracts>"]
                )
            )
            .saveAsTextFile(out_dir)
        )
        _BUILT.add(out_dir)
    clean, _corrupt = split_corrupt(read_contracts_xml(spark, out_dir))
    att = F.element_at(F.col("prilohy"), 1)
    return flatten_contracts(clean).select(
        "id",
        "nazov",
        "objednavatel_ico",
        F.col("cena_konecna").cast("double").alias("cena"),
        "stav",
        att["att_id"].alias("att_id"),
        att["velkost"].alias("att_velkost"),
    )


XML_INGEST_FLATTEN_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS id,
       'Zmluva c. ' || CAST(o_orderkey AS VARCHAR) AS nazov,
       CAST(o_custkey AS VARCHAR) AS objednavatel_ico,
       CAST(o_totalprice AS DOUBLE) AS cena,
       o_orderstatus AS stav,
       'att-' || CAST(o_orderkey AS VARCHAR) AS att_id,
       CAST(o_custkey + 1000 AS BIGINT) AS att_velkost
FROM orders
WHERE o_orderkey % 20 = 0 AND o_orderkey % 37 <> 0
"""


# ---------------------------------------------------------------------------
# jsonl_ingest_roundtrip — the JSONL interchange path end-to-end as a
# driver-checkable query (the format every public training corpus ships
# in): documents are rendered to JSONL text with an injected corrupt
# cohort (doc_id % 41 == 0 gets a truncated line), written as sharded text
# (line-splittable — the property that matters at 100 TB), read back
# through sources/jsonl.read_jsonl (explicit schema, PERMISSIVE,
# _corrupt_record capture) + split_corrupt, and summarized per source.
# The oracle recomputes the same summary from the parquet directly on the
# clean cohort — any escaping/typing/routing defect in the JSONL path
# breaks the match. Fixture scaffolding follows xml_ingest_flatten's
# per-pid, build-once-per-process discipline.
# ---------------------------------------------------------------------------


def jsonl_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from crz_scraper_spark.sources.jsonl import read_jsonl, split_corrupt

    out_dir = _fixture_dir("jsonl_ingest_fixture", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "lang", "source", "n_chars", "text"))
    bad = F.col("doc_id") % 41 == 0
    rendered = docs.select(
        F.when(bad, F.expr("substring(to_json(struct(doc_id, lang)), 1, 9)"))
        .otherwise(line)
        .alias("value")
    )
    if out_dir not in _BUILT:
        _sh.rmtree(out_dir, ignore_errors=True)
        rendered.repartition(4).write.mode("overwrite").text(out_dir)
        _BUILT.add(out_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    clean, _corrupt = split_corrupt(read_jsonl(spark, out_dir, schema))
    return clean.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


JSONL_INGEST_SQL = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(len(text)) AS BIGINT) AS sum_text_len
FROM documents
WHERE doc_id % 41 <> 0
GROUP BY source, lang
"""

QUERIES: dict = {
    "tagged_metadata_rank": (tagged_metadata_rank, _tagged_metadata_rank_sql()),
    "jsonl_ingest_roundtrip": (jsonl_ingest_roundtrip, JSONL_INGEST_SQL),
    "attachments_explode_sum": (
        attachments_explode_sum,
        ATTACHMENTS_EXPLODE_SUM_SQL,
    ),
    "path_derived_metadata_join": (
        path_derived_metadata_join,
        PATH_DERIVED_METADATA_JOIN_SQL,
    ),
    "tables_per_contract": (tables_per_contract, TABLES_PER_CONTRACT_SQL),
    "embedding_cosine_near_dup": (
        embedding_cosine_near_dup,
        EMBEDDING_COSINE_NEAR_DUP_SQL,
    ),
    "xml_ingest_flatten": (xml_ingest_flatten, XML_INGEST_FLATTEN_SQL),
}
