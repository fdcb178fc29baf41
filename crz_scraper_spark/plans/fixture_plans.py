"""Driver-oracled queries for the source/sink and maintenance surfaces that
were previously proven only by local pytest (VERDICT r2 items 3 & 8):

- S3/S4/S7  pipe-CSV scan + quoted-multiline repair + pipe-CSV sink
  (`02_filter_by_CIN.py:94`'s `sep='|'` scan, `09_clean_tables.py:154-176`'s
  in-quote newline repair, `01_parse_xml.py:208`'s sink) — round-tripped.
- S5/S6     directory-tree text scan + binary source
  (`04_tag_text_contracts.py:27-48`'s corpus listing).
- S8        wordlist sink (`05_build_special_dictionary.py:149-155`).
- A10/X7    weighted word-score accumulation
  (`09_clean_tables.py:310-324`'s suggested-keyword dict).
- O3        natural (alphanumeric) sort
  (`04_convert_contracts_to_text.py:51-54`).
- incremental MinHash maintenance and the copy-on-write opt-out delete,
  exercised end-to-end through their operators on materialized fixtures.

Every fixture follows `xml_ingest_flatten`'s discipline: deterministic
content derived from the driver's parquet tables, per-pid paths (no races
between concurrent sessions), build-once-per-process (repeat invocations
measure the operator under test, not fixture I/O). Fixture writes are test
scaffolding — at 100 TB the corresponding inputs already exist as files.
"""

from __future__ import annotations

import hashlib as _hl
import os as _os
import shutil as _sh

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from crz_scraper_spark.catalog import collect_and_release, fan_out, load_table
from crz_scraper_spark.functions.casts import dsum
from crz_scraper_spark.operators.dedup import _SHI_MAX_HAMMING

_BUILT: set = set()


def _fixture_dir(tag: str, sf_dir: str) -> str:
    return (
        f"/tmp/crz_{tag}_{_hl.md5(sf_dir.encode()).hexdigest()[:8]}"
        f"_{_os.getpid()}"
    )


_DSUM_SQL = "CAST(round(sum(CAST({x} AS DECIMAL(18,6))), 2) AS DOUBLE)"


# ---------------------------------------------------------------------------
# pipe_csv_roundtrip — S3 + S4 + S7 in one driver-checked pass: orders
# rendered with a deliberately hostile `note` column (embedded newline,
# pipe, double quote — everything the reference's hand-rolled repair at
# `09_clean_tables.py:154-176` exists for), written through the S7 sink,
# read back through the S3 scan with the S4 multiLine repair, and
# aggregated. The oracle computes the same aggregate from parquet directly:
# any quoting/escaping/typing defect in the CSV path changes a sum.
# ---------------------------------------------------------------------------


def pipe_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.sources.csv import read_pipe_csv, write_pipe_csv

    out_dir = _fixture_dir("pipe_csv", sf_dir)
    if out_dir not in _BUILT:
        orders = load_table(spark, sf_dir, "orders")
        rendered = orders.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.concat(
                F.lit("nl\n"), F.col("o_orderstatus"), F.lit('|x"q"')
            ).alias("note"),
        )
        _sh.rmtree(out_dir, ignore_errors=True)
        write_pipe_csv(rendered.repartition(4), out_dir)
        _BUILT.add(out_dir)
    back = read_pipe_csv(
        spark,
        out_dir,
        schema="o_orderkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, note STRING",
        multi_line=True,
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.sum(F.length("note")).alias("sum_note_chars"),
    )


PIPE_CSV_ROUNDTRIP_SQL = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       {_DSUM_SQL.format(x="o_totalprice")} AS sum_price,
       CAST(sum(len('nl' || chr(10) || o_orderstatus || '|x"q"')) AS BIGINT)
         AS sum_note_chars
FROM orders
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# dir_tree_corpus_scan — S5 (whole-file text rows from a corpus tree) and
# S6 (binary source) over a materialized `<doc_id>/doc_<doc_id>.txt` tree
# (the reference's contracts_text/<ID>/ layout). n_chars comes through the
# text scan, n_bytes through the binary scan — char vs byte length diverge
# on any non-ASCII document, so both decode paths are independently
# verified against the parquet originals.
# ---------------------------------------------------------------------------


def dir_tree_corpus_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.sources.files import (
        read_binary_tree,
        read_text_tree,
    )

    root = _fixture_dir("dirtree", sf_dir)
    if root not in _BUILT:
        subset = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 17 == 0)
            .select("doc_id", "text")
            .collect()  # bounded: ~6% of documents, fixture scaffolding only
        )
        _sh.rmtree(root, ignore_errors=True)
        for r in subset:
            d = _os.path.join(root, str(r["doc_id"]))
            _os.makedirs(d, exist_ok=True)
            with open(
                _os.path.join(d, f"doc_{r['doc_id']}.txt"),
                "w",
                encoding="utf-8",
                newline="",
            ) as fh:
                fh.write(r["text"] or "")
        _BUILT.add(root)
    txt = read_text_tree(spark, root).select(
        F.col("id").cast("bigint").alias("doc_id"),
        "filename",
        F.length("text").alias("n_chars"),
    )
    binary = read_binary_tree(spark, root).select(
        F.col("filename").alias("bin_filename"),
        F.col("length").alias("n_bytes"),
    )
    return txt.join(
        binary, txt.filename == binary.bin_filename
    ).select("doc_id", "filename", "n_chars", "n_bytes")


DIR_TREE_CORPUS_SCAN_SQL = """
SELECT doc_id,
       'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename,
       CAST(len(text) AS INT) AS n_chars,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents
WHERE doc_id % 17 = 0
"""


# ---------------------------------------------------------------------------
# wordlist_sink_roundtrip — S8: the word-frequency table (A4/A5 semantics,
# count floor > 5) written through the one-word-per-line wordlist sink and
# read back. The oracle recomputes the frequency table directly — a lost
# line, broken encoding, or mangled count in the sink breaks the match.
# ---------------------------------------------------------------------------


def wordlist_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.functions.text import tokens_nonempty
    from crz_scraper_spark.sources.csv import write_wordlist

    out_dir = _fixture_dir("wordlist", sf_dir)
    if out_dir not in _BUILT:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        freq = (
            docs.select(F.explode(tokens_nonempty("text")).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") > 5)
        )
        write_wordlist(
            freq.select(
                F.concat_ws("\t", "word", F.col("cnt").cast("string")).alias(
                    "value"
                )
            ),
            out_dir,
        )
        _BUILT.add(out_dir)
    lines = spark.read.text(out_dir)
    parts = F.split(F.col("value"), "\t")
    return lines.select(
        parts[0].alias("word"),
        parts[1].cast("bigint").alias("cnt"),
    )


WORDLIST_SINK_ROUNDTRIP_SQL = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        '[^a-z0-9áäčďéíľĺňóôŕšťúýž]+'), w -> w <> '')) AS word
      FROM documents)
GROUP BY word
HAVING count(*) > 5
"""


# ---------------------------------------------------------------------------
# suggested_keywords_score — A10/X7: header words of qualifying columns
# accumulate the column's score (`09_clean_tables.py:310-324`), exercised
# through operators/profiling.suggest_keywords on a deterministic fixture
# derived from part: 200 (table, column) pairs whose "header" is p_name
# and whose score is a DYADIC weight (k/16 — exactly representable, so the
# double sum is order-independent and hash-stable across engines).
# ---------------------------------------------------------------------------


def suggested_keywords_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.profiling import suggest_keywords

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    table_id = (F.col("p_partkey") % 50).alias("table_id")
    col = F.concat(
        F.lit("c"), (F.col("p_partkey") / 50).cast("int").cast("string")
    ).alias("col")
    cells = part.select(
        table_id,
        col,
        F.lit(0).alias("row_no"),
        F.col("p_name").alias("cell"),
    )
    classified = part.select(
        table_id,
        col,
        (((F.col("p_partkey") * 7) % 16) / 16.0).alias("digit_ratio"),
    )
    return suggest_keywords(cells, classified)


SUGGESTED_KEYWORDS_SCORE_SQL = """
WITH h AS (
  SELECT p_name, ((p_partkey * 7) % 16) / 16.0 AS w
  FROM part WHERE p_partkey < 200
)
SELECT word, round(sum(w), 6) AS score
FROM (
  SELECT unnest(list_filter(regexp_split_to_array(lower(p_name),
           '[^a-z0-9áäčďéíľĺňóôŕšťúýž]+'), x -> x <> '')) AS word,
         w
  FROM h
)
GROUP BY word
"""


# ---------------------------------------------------------------------------
# natural_sort_rank — O3: `file10` after `file2`. Filenames with two
# independent numeric runs are ranked by natural_sort_key (digit runs
# left-padded inside an array sort key, fully JVM-side); the oracle ranks
# by the numeric runs themselves — identical iff the key construction
# compares digit runs numerically and text runs lexicographically.
# ---------------------------------------------------------------------------


def natural_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.functions.text import natural_sort_key

    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    named = part.select(
        F.concat(
            F.lit("table_"),
            (F.col("p_partkey") % 7).cast("string"),
            F.lit("_"),
            F.col("p_partkey").cast("string"),
            F.lit(".csv"),
        ).alias("fname")
    )
    w = Window.orderBy(natural_sort_key("fname"))
    return named.select("fname", F.row_number().over(w).alias("rnk"))


NATURAL_SORT_RANK_SQL = """
SELECT 'table_' || CAST(p_partkey % 7 AS VARCHAR) || '_'
         || CAST(p_partkey AS VARCHAR) || '.csv' AS fname,
       CAST(row_number() OVER (ORDER BY p_partkey % 7, p_partkey) AS INT)
         AS rnk
FROM part WHERE p_partkey < 500
"""


# ---------------------------------------------------------------------------
# minhash_incremental_md5 — incremental near-dup maintenance as a
# driver-checked query: documents split into two ingest batches (even ids =
# day 1, odd = day 2), day 1 ingested into a persisted signature store, day
# 2's report returned. Signatures use the engine-portable md5 Carter-Wegman
# family, so the oracle reproduces the ENTIRE path — signatures, band
# buckets, candidate join, agreement scores — from the raw table: the
# day-2 report must equal the full-corpus pair set restricted to odd
# id_new. Repeat invocations re-run the day-2 call against the existing
# store (idempotent append — the maintenance property under test).
# ---------------------------------------------------------------------------

_MHI_HASHES = 16
_MHI_BANDS = 4
_MHI_SHINGLE = 5
_MHI_THRESHOLD = 0.5


def minhash_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.dedup import minhash_incremental

    store = _fixture_dir("mhinc", sf_dir)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    kw = dict(
        num_hashes=_MHI_HASHES,
        bands=_MHI_BANDS,
        shingle_n=_MHI_SHINGLE,
        threshold=_MHI_THRESHOLD,
        family="md5",
    )
    if store not in _BUILT:
        _sh.rmtree(store, ignore_errors=True)
        day1 = docs.filter(F.col("doc_id") % 2 == 0)
        minhash_incremental(
            spark, day1, "doc_id", "text", store, **kw
        ).count()  # materialize day-1 ingest (report discarded)
        _BUILT.add(store)
    day2 = docs.filter(F.col("doc_id") % 2 == 1)
    report = minhash_incremental(spark, day2, "doc_id", "text", store, **kw)
    return report.select(
        "id_new", "id_other", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def _minhash_incremental_sql() -> str:
    from crz_scraper_spark.plans.scale_plans import _minhash_md5_ctes

    nh = _MHI_HASHES
    agree = " + ".join(f"(sa.h{i} = sb.h{i})::INT" for i in range(nh))
    ctes = _minhash_md5_ctes("documents", _MHI_SHINGLE, nh, _MHI_BANDS)
    return f"""
WITH {ctes},
cand AS (
  SELECT DISTINCT b.doc_id AS id_new, a.doc_id AS id_other
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  WHERE b.doc_id % 2 = 1
)
SELECT c.id_new, c.id_other,
       round(({agree}) / {nh}.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_new
JOIN sig sb ON sb.doc_id = c.id_other
WHERE round(({agree}) / {nh}.0, 6) >= {_MHI_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# simhash_incremental_md5 — incremental SimHash maintenance as a
# driver-checked query (minhash_incremental_md5's twin for the second hash
# family): even-id documents ingested as day 1 into a persisted simhash
# store (atomic staged-batch commits), odd ids as day 2, day-2 report
# returned. The portable-md5 token hash makes the ENTIRE path — bit
# votes, 15-bit pigeonhole blocks, candidate join, Hamming verify —
# reproducible in SQL: the report must equal the full-corpus near-pair
# set restricted to odd id_new (block equality for Hamming <= 3 is
# guaranteed by pigeonhole, so the oracle can filter on Hamming alone).
# ---------------------------------------------------------------------------


def simhash_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.dedup import simhash_incremental

    store = _fixture_dir("shinc", sf_dir)
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    if store not in _BUILT:
        _sh.rmtree(store, ignore_errors=True)
        day1 = docs.filter(F.col("doc_id") % 2 == 0)
        # Materialize the day-1 ingest (its report is discarded).
        simhash_incremental(spark, day1, "doc_id", "text", store).count()
        _BUILT.add(store)
    day2 = docs.filter(F.col("doc_id") % 2 == 1)
    return simhash_incremental(spark, day2, "doc_id", "text", store)


def _simhash_incremental_sql() -> str:
    from crz_scraper_spark.functions.text import WORD_SEPARATOR_RE
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
SELECT b.doc_id AS id_new, a.doc_id AS id_other,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE b.doc_id % 2 = 1
  AND bit_count(xor(a.simhash, b.simhash)) <= {_SHI_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# hll_incremental_md5 — incremental distinct-count maintenance as a
# driver-checked query (the counting member of the `*_incremental` family
# beside minhash/simhash/ivf): even-event_id events ingested as day 1 into
# a persisted sparse HLL register store (atomic staged-batch commits), odd
# event_ids as day 2, and the post-ingest per-event_type estimate of
# distinct active USER-DAYS (user_id x day-of-year — the DAU-style
# quantity with real repetition; ~1.6k per type at sf0.01, safely above
# the 2.5m = 640 raw-estimator floor) returned from the MAX-merged
# registers. Because
# merge-over-batches ≡ one register build over day1 ∪ day2 = the full
# table, the DuckDB oracle recomputes the estimate from raw events and the
# driver hash-checks the ESTIMATE itself. Repeat invocations re-ingest day
# 2 against the existing store — MAX-merge absorbs the duplicate registers,
# so the result is bit-identical (the maintenance property under test).
# `exact_distinct`/`err_ppm` are report-side instrumentation (a production
# incremental counter would never re-scan for the exact — that is the
# entire point of keeping registers).
# ---------------------------------------------------------------------------


def hll_incremental_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.sketches import hll_incremental

    store = _fixture_dir("hllinc", sf_dir)
    raw_ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") * 1000 + F.dayofyear("ts")).alias("user_day"),
    )
    # fan_out only where per-row compute needs the cores (the md5 register
    # builds); the exact countDistinct below is a plain aggregation whose
    # shuffle provides its own parallelism — feeding it the repartitioned
    # frame would round-robin-exchange the full table first (r10, guide
    # §2.4: remove shuffles outright).
    ev = fan_out(raw_ev)
    if store not in _BUILT:
        _sh.rmtree(store, ignore_errors=True)
        day1 = ev.filter(F.col("event_id") % 2 == 0)
        hll_incremental(
            spark, day1, "user_day", ["event_type"], store
        ).count()  # materialize day-1 ingest (report discarded)
        _BUILT.add(store)
    day2 = ev.filter(F.col("event_id") % 2 == 1)
    est = hll_incremental(spark, day2, "user_day", ["event_type"], store)
    exact = raw_ev.groupBy("event_type").agg(
        F.countDistinct("user_day").alias("exact_distinct")
    )
    err = F.floor(
        (F.col("hll_est") - F.col("exact_distinct")).cast("double")
        * F.lit(1000000.0)
        / F.col("exact_distinct").cast("double")
    ).cast("bigint")
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "hll_est",
            "zero_regs",
            err.alias("err_ppm"),
        )
        .orderBy("event_type")
    )


def _hll_incremental_sql() -> str:
    from crz_scraper_spark.operators.sketches import HLL_NUMERATOR

    num = repr(HLL_NUMERATOR)
    return f"""
WITH src AS (
  SELECT event_type,
         (user_id * 1000 + dayofyear(ts))::VARCHAR AS v
  FROM events
),
hashed AS (
  SELECT event_type,
         ('0x' || substr(md5(v), 1, 2))::BIGINT AS bucket,
         substr(md5(v), 3, 13) AS hex13
  FROM src
),
rho AS (
  SELECT event_type, bucket,
    CASE WHEN hex13 = '0000000000000' THEN 53
    ELSE 4 * (13 - length(ltrim(hex13, '0')))
       + CASE WHEN substr(ltrim(hex13, '0'), 1, 1) = '1' THEN 3
              WHEN substr(ltrim(hex13, '0'), 1, 1) IN ('2','3') THEN 2
              WHEN substr(ltrim(hex13, '0'), 1, 1) IN ('4','5','6','7') THEN 1
              ELSE 0 END + 1 END AS r
  FROM hashed
),
regs AS (SELECT event_type, bucket, max(r) AS mx
         FROM rho GROUP BY event_type, bucket),
allregs AS (
  SELECT g.event_type, b.bucket, coalesce(regs.mx, 0) AS mx
  FROM (SELECT DISTINCT event_type FROM src) g
  CROSS JOIN (SELECT unnest(range(256)) AS bucket) b
  LEFT JOIN regs ON regs.event_type = g.event_type
                AND regs.bucket = b.bucket
),
summed AS (
  SELECT event_type,
         sum((1::BIGINT << (53 - mx)))::BIGINT AS s,
         sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_regs
  FROM allregs GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT v)::BIGINT AS exact_distinct
  FROM src GROUP BY event_type
)
SELECT e.event_type, e.exact_distinct,
       CAST(floor({num} / s::DOUBLE) AS BIGINT) AS hll_est,
       zero_regs,
       CAST(floor((CAST(floor({num} / s::DOUBLE) AS BIGINT)
                   - e.exact_distinct) * 1000000.0
                  / e.exact_distinct) AS BIGINT) AS err_ppm
FROM exact e JOIN summed USING (event_type)
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# delete_by_key_audit — the copy-on-write opt-out delete as a driver-checked
# query: orders materialized as a parquet table partitioned by status, every
# 7th orderkey deleted through operators/upsert.delete_by_key (partition-
# pruned read, broadcast anti-join, dynamic overwrite), then the surviving
# table is aggregated. The oracle aggregates the logically-equivalent
# filter on the original table — a row that survives deletion, or one
# deleted too many, breaks the match. Repeat invocations re-issue the same
# delete (idempotent: 0 rows) and re-read — deterministic.
# ---------------------------------------------------------------------------


def delete_by_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.upsert import delete_by_key

    path = _fixture_dir("delaudit", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    if path not in _BUILT:
        _sh.rmtree(path, ignore_errors=True)
        (
            orders.select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
            )
            .write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
        _BUILT.add(path)
    dels = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    delete_by_key(spark, path, dels, ["o_orderkey"], "o_orderstatus")
    remaining = spark.read.parquet(path)
    return remaining.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
    )


DELETE_BY_KEY_AUDIT_SQL = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       {_DSUM_SQL.format(x="o_totalprice")} AS sum_price
FROM orders
WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# curation_pipeline_audit — the end-to-end training-data curation chain
# (pipeline.curation_pipeline: exact dedup → LSH near-dup clustering →
# quality floor → split) run on the documents table, returning the
# per-stage audit ledger. Rows-only: the near-dup stage rides the
# production xxhash64 MinHash (no SQL analog); the stage ordering /
# partition properties are pinned by tests/test_pipeline.py.
# ---------------------------------------------------------------------------


def curation_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.pipeline import curation_pipeline

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = curation_pipeline(docs)
    # The audit ledger is 5 rows.
    return collect_and_release(out["audit"], *out["cached"])


# ---------------------------------------------------------------------------
# curation_pipeline_audit_md5 — the SAME end-to-end curation chain on the
# engine-portable md5 tier (md5 content digest for exact dedup, the
# md5 MinHash-LSH family for near-dup), so the ENTIRE nightly chain —
# exact dedup → LSH pairs → connected components → quality floor → split —
# has one composed ANSI-SQL oracle: the md5-pairs CTEs chain into the
# recursive-CTE closure and the doc_quality score formula, and the five-row
# audit ledger hash-matches DuckDB end to end. The xxhash64 production twin
# (`curation_pipeline_audit`) stays the perf posture; this is the
# correctness witness for the COMPOSITION (stage wiring, anti-join
# semantics, ledger arithmetic), the same twin discipline as
# minhash_near_dup_md5.
# ---------------------------------------------------------------------------


def curation_pipeline_audit_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.pipeline import curation_pipeline

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    out = curation_pipeline(docs, hash_tier="portable_md5")
    return collect_and_release(out["audit"], *out["cached"])


def _curation_audit_md5_sql() -> str:
    """Composed oracle: exact-dedup window → md5 MinHash-LSH pairs and
    their closure (`_md5_cluster_ctes` over `exact`, threshold 0.8) →
    recursive-CTE connected components → doc_quality score ≥ 0.3 →
    five-row ledger. Every fragment is individually hash-proven
    (exact_dedup_groups, minhash_near_dup_md5, near_dup_clusters,
    doc_quality); this string wires them exactly as pipeline.py does."""
    from crz_scraper_spark.plans.scale_plans import _md5_cluster_ctes
    from crz_scraper_spark.plans.text_plans import quality_score_sql

    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents
),
exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM base)
  WHERE rn = 1
),
{_md5_cluster_ctes("exact", 0.8)},
non_reps AS (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id),
deduped AS (
  SELECT e.doc_id, e.text FROM exact e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM non_reps)
),
q AS (
  {quality_score_sql("deduped")}
),
counts AS (
  SELECT (SELECT count(*) FROM base)  AS input_n,
         (SELECT count(*) FROM exact) AS exact_n,
         (SELECT count(*) FROM deduped) AS near_n,
         (SELECT count(*) FROM q WHERE quality_score >= 0.3) AS qual_n
)
SELECT stage, n_rows FROM (
  SELECT 'input' AS stage, input_n AS n_rows FROM counts
  UNION ALL SELECT 'exact_dedup', exact_n FROM counts
  UNION ALL SELECT 'near_dedup', near_n FROM counts
  UNION ALL SELECT 'quality_floor', qual_n FROM counts
  UNION ALL SELECT 'final', qual_n FROM counts
)
"""


# ---------------------------------------------------------------------------
# bucketed_colocated_join — bucketing as the 100 TB co-location strategy,
# demonstrated end to end: orders and lineitem are written as bucketed
# tables (same bucket count, same key), so the fact-fact equi-join reads
# both sides ALREADY partitioned by the join key and runs with ZERO
# shuffle exchange under the join (the plan's only Exchange is the final
# small group-by; pinned by tests/test_scale_layout.py). This is the
# layout upgrade every repeated big join earns at scale — pay the bucketed
# write once, skip the join shuffle on every subsequent query. The merge
# hint forces sort-merge (at tiny SF the planner would broadcast and hide
# the co-location evidence); buckets are sorted on the key so the SMJ
# needs no extra sort either. FULLY oracled (the layout changes the plan,
# not the answer).
# ---------------------------------------------------------------------------

_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    h = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    pid = _os.getpid()
    o_tbl, l_tbl = f"crz_bo_{h}_{pid}", f"crz_bl_{h}_{pid}"
    key = f"buckets_{h}_{pid}"
    if key not in _BUILT:
        base = _fixture_dir("buckets", sf_dir)
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{base}/orders")
            .saveAsTable(o_tbl)
        )
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice")
            .write.mode("overwrite")
            .bucketBy(_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{base}/lineitem")
            .saveAsTable(l_tbl)
        )
        _BUILT.add(key)
    return o_tbl, l_tbl


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_tbl, l_tbl = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_tbl)
    li = spark.table(l_tbl)
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == F.col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


BUCKETED_COLOCATED_JOIN_SQL = f"""
SELECT o.o_orderstatus,
       count(*) AS n_lines,
       {_DSUM_SQL.format(x="l.l_extendedprice")} AS sum_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# compaction_roundtrip — operators/compaction.py end to end: the documents
# table is deliberately fragmented (48-way repartition × partitionBy(lang)
# ⇒ up to 48 tiny files per lang directory), then compacted back to one
# size-targeted file per partition dir in ONE salted repartition job. The
# result is a content rollup (count / char sum / xor checksum per lang)
# read from the COMPACTED files, guarded by layout assertions — rows
# survive only if files_after == n_langs and files_after < files_before,
# so a compaction that loses rows, mangles values, OR fails to actually
# compact hash-mismatches the driver's documents-table oracle.
# ---------------------------------------------------------------------------


def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.compaction import compact_small_files

    frag = _fixture_dir("compact_src", sf_dir)
    dst = _fixture_dir("compact_dst", sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    if dst not in _BUILT:
        _sh.rmtree(frag, ignore_errors=True)
        _sh.rmtree(dst, ignore_errors=True)
        docs.repartition(48).write.partitionBy("lang").parquet(frag)
        audit = compact_small_files(
            spark, frag, dst, target_file_bytes=1 << 28, partition_col="lang"
        )
        _BUILT.add(dst)
        _AUDITS[dst] = audit
    audit = _AUDITS[dst]
    # The file-count-per-partition invariant needs n_langs; ride it as a
    # broadcast scalar instead of an eager distinct().count() — the old
    # shape paid a full documents scan at CONSTRUCTION on every rep for a
    # number the plan can compute itself (r10, guide §1.2 step 1). The
    # audit-side conjuncts are plan-time constants either way.
    ok_static = (
        audit["files_after"] < audit["files_before"]
        and audit["bytes_after"] > 0
    )
    n_langs_df = (
        docs.select("lang").distinct().agg(F.count(F.lit(1)).alias("__nl"))
    )
    back = spark.read.parquet(dst)
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("doc_id").cast("string"), F.col("source")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        back.withColumn("__rh", rh)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.bit_xor(F.col("__rh")).alias("checksum"),
        )
        .join(F.broadcast(n_langs_df))
        .filter(
            F.lit(ok_static)
            & (F.col("__nl") == F.lit(audit["files_after"]))
        )
        .drop("__nl")
    )


_AUDITS: dict = {}


# ---------------------------------------------------------------------------
# schema_evolution_roundtrip — reading a table whose files span SCHEMA ERAS,
# the steady state of any long-lived 100 TB store (columns get added; old
# files are never rewritten). Half the orders are written with the v1
# schema, half with v2 (+ a `priority_tier` column); the read uses
# parquet's mergeSchema so v1 rows surface the new column as NULL, and the
# aggregate proves three things at once: no rows lost across eras, values
# typed/intact (decimal sum), and the new column NULL-backfilled exactly
# on the v1 half. Oracle reconstructs the era split arithmetically from
# the orders view.
# ---------------------------------------------------------------------------


def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _fixture_dir("schevo", sf_dir)
    if root not in _BUILT:
        orders = load_table(spark, sf_dir, "orders")
        _sh.rmtree(root, ignore_errors=True)
        v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.substring("o_orderpriority", 1, 1).alias("priority_tier"),
        )
        v1.write.parquet(f"{root}/era=1")
        v2.write.parquet(f"{root}/era=2")
        _BUILT.add(root)
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/era=1", f"{root}/era=2"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("sum_price"),
        F.count("priority_tier").alias("n_with_tier"),
        F.max("priority_tier").alias("max_tier"),
    )


SCHEMA_EVOLUTION_SQL = f"""
SELECT o_orderstatus,
       count(*) AS n_orders,
       {_DSUM_SQL.format(x="o_totalprice")} AS sum_price,
       count(CASE WHEN o_orderkey % 2 = 1
                  THEN substr(o_orderpriority, 1, 1) END) AS n_with_tier,
       max(CASE WHEN o_orderkey % 2 = 1
                THEN substr(o_orderpriority, 1, 1) END) AS max_tier
FROM orders
GROUP BY o_orderstatus
"""


COMPACTION_ROUNDTRIP_SQL = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(bit_xor(('0x' || substr(md5(concat_ws('|',
            doc_id::VARCHAR, source)), 1, 15))::BIGINT) AS BIGINT)
         AS checksum
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# ivf_incremental_assign — incremental ANN-index maintenance as a
# driver-checked query (the minhash/simhash incremental-store discipline
# applied to the IVF coarse quantizer): even-id vectors ingested as day 1
# into a persisted (vec_id, cell) posting store (idempotent append, atomic
# staged-rename commits), odd ids as day 2; the day-2 report is the k-row
# per-cell occupancy + drift summary that decides when the quantizer
# retrains. FULLY oracled: centroids are fixed literals and the assignment
# is the 6-dp-rounded cosine argmax `semantic_dedup`'s oracle already
# proves engine-portable, so DuckDB reproduces the store contents and the
# drift arithmetic from the raw table. Repeat invocations re-run day 2
# against the existing store — the no-op-append maintenance property is
# what the driver's warm-then-measure double call exercises.
# ---------------------------------------------------------------------------

_IVF_INC_CELLS = 16
_IVF_INC_DIM = 64
_IVF_INC_SEED = 99


def ivf_incremental_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crz_scraper_spark.operators.dedup import fixed_centroids
    from crz_scraper_spark.operators.similarity import ivf_incremental_assign

    store = _fixture_dir("ivfinc", sf_dir)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = fixed_centroids(_IVF_INC_DIM, _IVF_INC_CELLS, _IVF_INC_SEED)
    if store not in _BUILT:
        _sh.rmtree(store, ignore_errors=True)
        day1 = emb.filter(F.col("vec_id") % 2 == 0)
        ivf_incremental_assign(
            spark, day1, "vec_id", "embedding", cents, store
        ).count()  # materialize the day-1 ingest (report discarded)
        _BUILT.add(store)
    day2 = emb.filter(F.col("vec_id") % 2 == 1)
    return ivf_incremental_assign(
        spark, day2, "vec_id", "embedding", cents, store
    )


def _ivf_incremental_sql() -> str:
    from crz_scraper_spark.operators.dedup import fixed_centroids

    cents = fixed_centroids(_IVF_INC_DIM, _IVF_INC_CELLS, _IVF_INC_SEED)
    cent_rows = ",\n    ".join(
        f"({pid}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for pid, c in enumerate(cents)
    )
    return f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents(pid, c) AS (
  VALUES
    {cent_rows}
),
assign AS (
  SELECT vec_id, pid AS cell FROM (
    SELECT e.vec_id, ct.pid,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(e.v, ct.c), 6) DESC,
                        ct.pid) AS rn
    FROM emb e CROSS JOIN cents ct)
  WHERE rn = 1
)
SELECT CAST(cell AS INT) AS cell,
       CAST(count(*) FILTER (vec_id % 2 = 0) AS BIGINT) AS n_prior,
       CAST(count(*) FILTER (vec_id % 2 = 1) AS BIGINT) AS n_new,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (vec_id % 2 = 1) * 1000000 // count(*)
            AS BIGINT) AS new_share_ppm
FROM assign
GROUP BY cell
"""


QUERIES: dict = {
    "ivf_incremental_assign": (
        ivf_incremental_assign_q,
        _ivf_incremental_sql(),
    ),
    "pipe_csv_roundtrip": (pipe_csv_roundtrip, PIPE_CSV_ROUNDTRIP_SQL),
    "compaction_roundtrip": (compaction_roundtrip, COMPACTION_ROUNDTRIP_SQL),
    "schema_evolution_roundtrip": (
        schema_evolution_roundtrip,
        SCHEMA_EVOLUTION_SQL,
    ),
    "bucketed_colocated_join": (
        bucketed_colocated_join,
        BUCKETED_COLOCATED_JOIN_SQL,
    ),
    "curation_pipeline_audit": (curation_pipeline_audit, None),
    "curation_pipeline_audit_md5": (
        curation_pipeline_audit_md5,
        _curation_audit_md5_sql(),
    ),
    "dir_tree_corpus_scan": (dir_tree_corpus_scan, DIR_TREE_CORPUS_SCAN_SQL),
    "wordlist_sink_roundtrip": (
        wordlist_sink_roundtrip,
        WORDLIST_SINK_ROUNDTRIP_SQL,
    ),
    "suggested_keywords_score": (
        suggested_keywords_score,
        SUGGESTED_KEYWORDS_SCORE_SQL,
    ),
    "natural_sort_rank": (natural_sort_rank, NATURAL_SORT_RANK_SQL),
    "minhash_incremental_md5": (
        minhash_incremental_md5,
        _minhash_incremental_sql(),
    ),
    "simhash_incremental_md5": (
        simhash_incremental_md5,
        _simhash_incremental_sql(),
    ),
    "hll_incremental_md5": (
        hll_incremental_md5,
        _hll_incremental_sql(),
    ),
    "delete_by_key_audit": (delete_by_key_audit, DELETE_BY_KEY_AUDIT_SQL),
}
