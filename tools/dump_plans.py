"""Regenerate PLANS.md raw material: print `explain("formatted")` for the
plan-quality showcase queries.

Usage: python tools/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crz_scraper_spark.plans.registry import REGISTRY  # noqa: E402
from crz_scraper_spark.session import get_spark  # noqa: E402

SHOWCASE = [
    "stage2_contract_filter",
    "pricing_summary",
    "revenue_by_nation",
    "cosine_topk_bruteforce",
    "minhash_near_dup",
    "word_frequency",
    "forecast_revenue",
    "tf_idf_top_terms",
    "lonely_returning_supplier",
    "doc_chunking",
    "boilerplate_ngram_filter",
    "table_checksum",
    "bm25_search",
    "semantic_dedup",
    "dup_span_detect",
    "bloom_decontaminate",
    "epoch_shuffle",
    "line_dedup_reconstruct",
    "jsonl_ingest_roundtrip",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or SHOWCASE
    spark = get_spark("dump_plans", cpus=8)
    for n in names:
        fn, _ = REGISTRY[n]
        print(f"\n{'=' * 70}\n{n}\n{'=' * 70}")
        fn(spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main()
