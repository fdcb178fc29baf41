"""End-to-end pipeline compositions — the one-call replacements for the
reference's script chains (SURVEY.md §3's three entry paths).

A user of the reference runs `01_parse_xml.py` → `02_filter_by_CIN.py` by
hand, then `04_tag_text_contracts.py` → `08_extract_subject.py`; here each
chain is one lazy DataFrame composition (a single Catalyst plan per output)
built from the same operators the named `queries()` expose individually.

Every function is pure DataFrame-in/DataFrame-out — callers pick the sink
(`write.parquet` between stages in production; `sources/csv.py` for the
reference's pipe-CSV edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import subject_extract
from crz_scraper_spark.operators.filtering import stage2_clean, stage2_filter
from crz_scraper_spark.operators.tagging import DEFAULT_TAXONOMY
from crz_scraper_spark.sources.xml import (
    flatten_contracts,
    read_contracts_xml,
    split_corrupt,
)


def contracts_pipeline(
    spark: SparkSession,
    xml_path: str,
    company_cins: list[str],
    resort_names_by_key: list[list[str]],
    price_min: float = 0.0,
    date_min: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Entry 1 (stages 0→1→2, `SURVEY.md §3`): XML dump → typed contracts →
    filter ladder → clean table.

    Returns (clean, audit, corrupt): `clean` is the survivors with final
    normalization (≈ CRZ_DB_clean.csv); `audit` is every parsed row with its
    `discard_reason` (the reference only printed these,
    `02_filter_by_CIN.py:270-298`); `corrupt` is the unparseable-record
    routing (≈ Corrupted_XML_files/).

    Nothing is cached between them: each output a caller consumes parses
    the dump again (see `split_corrupt`). To get the discard tallies
    without a second pass, wrap `audit` in `observe_discards` and write
    the observed frame.
    """
    parsed = read_contracts_xml(spark, xml_path)
    ok, corrupt = split_corrupt(parsed)
    flat = flatten_contracts(ok)
    audit = stage2_filter(
        flat,
        company_cins,
        resort_names_by_key,
        price_min=price_min,
        date_min=date_min,
    )
    clean = stage2_clean(audit)
    return clean, audit, corrupt


def observe_discards(audit: DataFrame, name: str = "stage2_audit"):
    """Attach one-pass audit counters to the stage-2 audit DataFrame — the
    Spark replacement for the reference's per-row progress printouts and
    discard tallies (`02_filter_by_CIN.py:270-298`). The counts ride the
    SAME action that materializes the DataFrame (Observation metrics are
    collected by the executors during the job), so the audit costs zero
    extra scans; at 100 TB a second counting pass would be a second read of
    the whole table. Returns (observed_df, observation); read
    `observation.get` after any action on observed_df.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    reasons = {
        "kept": 0,
        "no_attachments": 2,
        "resort_miss": -1,
        "cin_miss": 1,
        "price_reject": 3,
        "date_reject": 4,
        "duplicate": 5,
    }
    observed = audit.observe(
        obs,
        F.count(F.lit(1)).alias("rows_total"),
        *[
            F.count(F.when(F.col("discard_reason") == code, 1)).alias(label)
            for label, code in reasons.items()
        ],
    )
    return observed, obs


def documents_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    taxonomy: dict[str, list[str]] | None = None,
    anchors: tuple[str, ...] = ("predmet zmluvy", "úvodné ustanovenia"),
    subject_width: int = 600,
) -> DataFrame:
    """Entry 2 (stages 4b→8 plus the text-analysis extensions): per-document
    keyword tagging + ranking + zero-hit filter, subject window (O5),
    quality score and language guess — one wide result from ONE projection
    over the corpus text (every column is a scalar expression of the same
    row, so they ride the tagging scan via `keyword_tag(carry=...)`; the
    only shuffle in the whole plan is the final ranking sort). The
    previous shape joined four map-only projections of the same scan back
    by id — three avoidable full-corpus shuffles at 100 TB.
    """
    from crz_scraper_spark.operators.tagging import keyword_tag
    from crz_scraper_spark.operators.textquality import (
        lang_guess_expr,
        quality_score_expr,
    )

    from crz_scraper_spark.functions.text import tokens_nonempty

    taxonomy = taxonomy or DEFAULT_TAXONOMY
    # Stage the token array once and hand it to both token-consuming carry
    # expressions: quality + lang each rebuilt the tokenizer split per row
    # otherwise (r10, guide §1.2 step 2 — see quality_score's staging
    # note). keyword_tag's projection selects only id+carry+kw columns,
    # so __toks never reaches the output.
    staged = docs.withColumn("__toks", tokens_nonempty(text_col))
    toks = F.col("__toks")
    wide = keyword_tag(
        staged,
        id_col,
        text_col,
        taxonomy,
        carry=[
            F.length(text_col).alias("n_chars_calc"),
            subject_extract(text_col, anchors, subject_width).alias("subject"),
            quality_score_expr(text_col, toks=toks).alias("quality_score"),
            lang_guess_expr(text_col, toks=toks).alias("lang_guess"),
        ],
    )
    return (
        wide.filter(F.col("total_hits") > 0)
        .orderBy(F.desc("total_hits"), F.desc("n_chars_calc"), F.asc(id_col))
    )


def tables_pipeline(
    cells: DataFrame,
    keywords: list[str],
    numeric_threshold: float = 0.75,
    header_threshold: int = 2,
) -> dict[str, DataFrame]:
    """Entry 3 (stages 6→7→9, `SURVEY.md §3`): extracted-table cells in the
    long (table_id, col, row_no, cell) format — the output shape of the
    Camelot flat-map (`operators/extraction.py::detect_tables` upstream) —
    through keyword tagging + the disjunctive keep filter (stage 7, P9/A1),
    column classification (stage 9, A9), best-price-column selection (O4)
    and keyword suggestion (A10). One groupBy over the cells does all the
    per-column profiling; every later step works on the small classified
    table. Returns the intermediate AND final frames (the reference wrote
    one CSV per stage; consumers here pick what they persist):

    - `classified` — per (table_id, col) ratios + flags
    - `kept_tables` — table ids passing the stage-7 disjunctive filter
      (any keyword hit in any header, `07_keyword_tag&filter_tables.py:184-198`)
    - `best_price_col` — top numeric column per table (`09:263-309`)
    - `suggested_keywords` — header words weighted by column score (`09:310-324`)
    """
    from crz_scraper_spark.operators.profiling import (
        best_column_per_table,
        classify_columns,
        suggest_keywords,
    )

    classified = classify_columns(
        cells, keywords, numeric_threshold, header_threshold
    )
    kept_tables = (
        classified.groupBy("table_id")
        .agg(F.sum("header_kw_hits").alias("kw_hits"))
        .filter(F.col("kw_hits") > 0)
        .select("table_id", "kw_hits")
    )
    best_price_col = best_column_per_table(
        classified.filter(F.col("is_numeric_col") == 1)
    )
    return {
        "classified": classified,
        "kept_tables": kept_tables,
        "best_price_col": best_price_col,
        "suggested_keywords": suggest_keywords(cells, classified),
    }


def curation_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_threshold: float = 0.8,
    quality_min: float = 0.3,
    train_pct: int = 80,
    hash_tier: str = "production",
) -> dict[str, DataFrame]:
    """The training-data curation chain, end-to-end as one composition —
    what a corpus owner actually runs nightly: exact dedup → MinHash-LSH
    near-dup clustering (keep one representative per cluster) → quality
    floor → deterministic hash-bucket train/test split. Every stage is the
    already-verified operator; this function only wires them, so the
    composition inherits each stage's oracle/test evidence.

    Scale posture: exact dedup groups on a 16-byte digest (narrow
    shuffle); near-dup is the banded-LSH equi-join (never O(n²)) with
    the anti-join strategy left to AQE — `non_reps` is
    corpus-proportional (web-scale near-dup rates run 30–80%), so a
    forced broadcast would OOM at 100 TB; quality/lang are appended
    in place as map-only column expressions (zero joins, zero
    shuffles); the split is a shuffle-free hash bucket.

    The two frames every downstream output re-reads — `exact` and
    `deduped` — are persisted MEMORY_AND_DISK, so materializing the
    five-stage `audit` costs ONE dedup + ONE LSH pass instead of
    re-running the chain per count. The outputs stay lazy (a caller picks
    which to run), so the caches cannot be released here: they are
    returned under `"cached"`, and the caller releases them once it has
    consumed the outputs it needs — e.g.
    `catalog.collect_and_release(out["audit"], *out["cached"])`.

    Returns:
    - `survivors`  — (id, text, quality_score, lang_guess, split)
    - `dropped`    — (id, stage) for every removed document
    - `near_dup_clusters` — (doc_id, cluster_id) over the LSH pair graph
    - `audit`      — (stage, n_rows) counts after each stage
    - `cached`     — the persisted intermediates (unpersist when done)

    `hash_tier` selects the hash family for the two hash-dependent stages:
    "production" (default) is xxhash64 end to end; "portable_md5" swaps in
    the engine-portable md5 tier (md5 content digest for exact dedup, the
    md5 MinHash-LSH family for near-dup) so the WHOLE chain has
    an ANSI-SQL analog — the tier the fully-oracled
    `curation_pipeline_audit_md5` registry twin runs. Same structure,
    same stage wiring; only the hash family changes.
    """
    from pyspark import StorageLevel

    from crz_scraper_spark.operators.dedup import (
        connected_components,
        first_wins_dedup_agg,
        minhash_dedup,
    )
    from crz_scraper_spark.operators.textquality import (
        lang_guess_expr,
        quality_score_expr,
    )

    if hash_tier not in ("production", "portable_md5"):
        # A typo ('md5', 'portable') must not silently run the xxhash64
        # tier while the caller believes they got the engine-portable one.
        raise ValueError(
            f"hash_tier must be 'production' or 'portable_md5', got "
            f"{hash_tier!r}"
        )
    portable = hash_tier == "portable_md5"
    base = docs.select(id_col, text_col)
    # Stage 1 — exact dedup: group on the content digest, keep lowest id.
    # The kept row also carries its duplicate-group size (__grp_n, riding
    # the same aggregation) so the audit ledger's `input` count can
    # aggregate the CACHED deduped frame instead of re-scanning the raw
    # corpus — one fewer full input pass per audit (r10, guide §1.2).
    # The min_by AGGREGATION tier (r10, guide §2.3): exact dedup is THE
    # duplicate-heavy keying (web corpora run 30–80% dup rate), so
    # partial_min_by collapses duplicates map-side and the exchange
    # carries survivors, not the corpus; measured output-identical to the
    # window form (wash at sf0.1's 0.2% dup rate — the win is the shuffle
    # volume at real dup rates, see first_wins_dedup_agg's docstring).
    digest = (
        F.md5(F.col(text_col)) if portable else F.xxhash64(F.col(text_col))
    )
    exact = first_wins_dedup_agg(
        base.withColumn("__h", digest),
        keys=["__h"],
        order_by=[F.col(id_col)],
    ).drop("__h").persist(StorageLevel.MEMORY_AND_DISK)
    # Stage 2 — near-dup: LSH pairs -> connected components -> keep the
    # cluster representative (minimum reachable id). No broadcast hint:
    # non_reps scales with the corpus; AQE picks the join strategy.
    # The portable tier is the md5 family at its oracled shape (16 hashes
    # in 4 bands); production is xxhash64 with 32 hashes in 8 bands.
    pairs = minhash_dedup(
        exact,
        id_col,
        text_col,
        num_hashes=16 if portable else 32,
        bands=4 if portable else 8,
        threshold=near_dup_threshold,
        family="md5" if portable else "xxhash64",
    ).select("id_a", "id_b")
    clusters = connected_components(pairs)
    non_reps = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    # __grp_n is audit bookkeeping — it must not leak into survivors.
    deduped = (
        exact.drop("__grp_n")
        .join(non_reps, id_col, "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Stage 3 — quality floor + language tag, appended in place (map-only;
    # the old join-back shape cost two full-corpus shuffles for columns
    # that are pure functions of `text`). The token array is staged once
    # and shared by both expressions (r10, guide §1.2 step 2 — the
    # tokenizer split is the dominant per-row cost and each expression
    # rebuilt it otherwise; see quality_score's staging note).
    from crz_scraper_spark.functions.text import tokens_nonempty

    scored = (
        deduped.withColumn("__qtoks", tokens_nonempty(text_col))
        .withColumns(
            {
                "quality_score": quality_score_expr(
                    text_col, toks=F.col("__qtoks")
                ),
                "lang_guess": lang_guess_expr(text_col, toks=F.col("__qtoks")),
            }
        )
        .drop("__qtoks")
    )
    kept = scored.filter(F.col("quality_score") >= quality_min)
    # Stage 4 — deterministic hash-bucket split (shuffle-free, stable
    # across runs and partitionings: bucket = md5(id) % 100).
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    )
    survivors = kept.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("test")),
    )
    dropped = (
        base.select(id_col).join(exact.select(id_col), id_col, "left_anti")
        .withColumn("stage", F.lit("exact_dup"))
        .unionByName(non_reps.withColumn("stage", F.lit("near_dup")))
        .unionByName(
            scored.filter(F.col("quality_score") < quality_min)
            .select(id_col).withColumn("stage", F.lit("low_quality"))
        )
    )
    # Audit ledger in TWO branches, not five: one aggregate of the cached
    # `exact` yields input AND exact_dedup (input = Σ duplicate-group
    # sizes — every raw row belongs to exactly one digest group, so the
    # sum over kept rows reproduces count(base) without re-scanning the
    # raw corpus), and one conditional-aggregate scan of the (cached)
    # post-dedup frame yields near_dedup, quality_floor AND final
    # (`final` == `quality_floor` by construction — the split stage only
    # appends a column). The former three-branch shape paid a full
    # column-pruned input scan per audit for a number the dedup window
    # had already seen (r10, guide §1.2 step 1).
    ex_counts = exact.agg(
        # coalesce: sum over an EMPTY corpus is NULL where count was 0.
        F.coalesce(F.sum("__grp_n"), F.lit(0).cast("bigint")).alias("input"),
        F.count(F.lit(1)).alias("exact_dedup"),
    ).selectExpr(
        "stack(2, 'input', input, 'exact_dedup', exact_dedup)"
        " AS (stage, n_rows)"
    )
    dd_counts = scored.agg(
        F.count(F.lit(1)).alias("near_dedup"),
        F.count(
            F.when(F.col("quality_score") >= quality_min, 1)
        ).alias("quality_floor"),
    ).selectExpr(
        "stack(3, 'near_dedup', near_dedup, 'quality_floor', quality_floor,"
        " 'final', quality_floor) AS (stage, n_rows)"
    )
    audit = ex_counts.unionByName(dd_counts)
    return {
        "survivors": survivors,
        "dropped": dropped,
        "near_dup_clusters": clusters,
        "audit": audit,
        "cached": [exact, deduped],
    }


__all__ = [
    "contracts_pipeline",
    "observe_discards",
    "documents_pipeline",
    "tables_pipeline",
    "curation_pipeline",
]
