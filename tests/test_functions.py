"""Unit tests for column-expression builders and operators, including the
reference-semantics traps from SURVEY.md §7 (non-overlapping substring
counts, first-wins dedup determinism, tokenizer ≡ regex-split)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import (
    subject_extract,
    substring_count,
    tokens_nonempty,
)
from crz_scraper_spark.operators.dedup import (
    char_shingles,
    first_wins_dedup,
    minhash_dedup,
    simhash,
)
from crz_scraper_spark.operators.similarity import cosine, cosine_topk


# --- substring_count must equal Python str.count (04_tag_text_contracts.py:118)
@pytest.mark.parametrize(
    "text,kw",
    [
        ("aaaa", "aa"),          # overlapping candidates -> non-overlapping count 2
        ("abcabcabc", "abc"),
        ("Sort the SORT sort", "sort"),
        ("", "x"),
        ("no hits here", "zz"),
        ("ababab", "abab"),      # str.count = 1
    ],
)
def test_substring_count_matches_python(spark, text, kw):
    df = spark.createDataFrame([Row(t=text)])
    got = df.select(substring_count("t", kw).alias("c")).first()["c"]
    assert got == text.lower().count(kw.lower())


def test_tokenize_matches_regex_split(spark):
    import re

    texts = ["Hello,  World! 42", "a-b_c", "", "  ", "čučoriedka Žaba"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r[0] for r in df.select(tokens_nonempty("text")).collect()]
    pat = re.compile(r"[^a-z0-9áäčďéíľĺňóôŕšťúýž]+")
    for t, toks in zip(texts, got):
        expected = [w for w in pat.split(t.lower()) if w != ""]
        assert toks == expected, t


def test_subject_extract_anchor_priority(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, t="xx predmet zmluvy: dodávka áut. úvodné ustanovenia tu"),
            Row(id=2, t="iba úvodné ustanovenia tu"),
            Row(id=3, t="nič"),
        ]
    )
    out = {
        r["id"]: r["s"]
        for r in df.select("id", subject_extract("t").alias("s")).collect()
    }
    assert out[1].startswith("predmet zmluvy")  # primary anchor wins
    assert out[2].startswith("úvodné ustanovenia")  # fallback anchor
    assert out[3] is None  # no anchor -> NULL


def test_first_wins_dedup_deterministic(spark):
    rows = [
        Row(k="a", idx=3, v="third"),
        Row(k="a", idx=1, v="first"),
        Row(k="a", idx=2, v="second"),
        Row(k="b", idx=10, v="only"),
    ]
    df = spark.createDataFrame(rows).repartition(8)
    out = first_wins_dedup(df, ["k"], [F.asc("idx")]).collect()
    got = {r["k"]: r["v"] for r in out}
    assert got == {"a": "first", "b": "only"}


def test_first_wins_dedup_agg_matches_window_form(spark):
    """r10: `first_wins_dedup_agg` is the min_by-aggregation tier for
    duplicate-heavy keyings (map-side partial reduction before the
    exchange — guide §2.3); the curation pipeline's exact stage uses it.
    Pin it row-identical, column-order-identical and type-identical to
    the window-form operator on a multi-key multi-order frame with
    string payloads; the trailing __grp_n is each kept row's group size,
    and the sizes add up to the input count (the curation audit's
    input-ledger contract)."""
    from crz_scraper_spark.operators.dedup import first_wins_dedup_agg

    rows = [
        Row(k1="a", k2=1, d="2021-02-01", idx=5, v="late"),
        Row(k1="a", k2=1, d="2021-01-01", idx=9, v="early-highidx"),
        Row(k1="a", k2=1, d="2021-01-01", idx=2, v="early-lowidx"),
        Row(k1="a", k2=2, d="2021-03-01", idx=1, v="other-subkey"),
        Row(k1="b", k2=1, d="2021-01-05", idx=7, v="solo"),
    ]
    df = spark.createDataFrame(rows).repartition(7)
    with_n = first_wins_dedup_agg(df, ["k1", "k2"], [F.col("d"), F.col("idx")])
    sizes = {(r["k1"], r["k2"]): r["__grp_n"] for r in with_n.collect()}
    assert sizes == {("a", 1): 3, ("a", 2): 1, ("b", 1): 1}
    assert sum(sizes.values()) == len(rows)
    got = with_n.drop("__grp_n")
    ref = first_wins_dedup(df, ["k1", "k2"], [F.asc("d"), F.asc("idx")])
    assert got.columns == ref.columns
    assert [f.dataType for f in got.schema] == [f.dataType for f in ref.schema]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # the aggregation tier reduces map-side: partial_min_by below the
    # exchange is the structural point of the tier
    plan = with_n._jdf.queryExecution().executedPlan().toString()
    assert "partial_min_by" in plan


def test_char_shingles(spark):
    df = spark.createDataFrame([Row(t="abcde")])
    got = df.select(char_shingles("t", 3).alias("s")).first()["s"]
    assert got == ["abc", "bcd", "cde"]


def test_minhash_finds_exact_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 10
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text=base),                     # exact dup
        Row(doc_id=3, text=base.replace("dog", "cat")),  # near dup
        Row(doc_id=4, text="completely different content about spark engines"),
    ]
    df = spark.createDataFrame(rows)
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert all(4 not in p for p in pairs)


def test_simhash_identical_docs_equal(spark):
    rows = [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="alpha beta gamma")]
    df = spark.createDataFrame(rows)
    hashes = [r["simhash"] for r in simhash(df, "doc_id", "text").collect()]
    assert hashes[0] == hashes[1]


def test_cosine_known_value(spark):
    df = spark.createDataFrame(
        [Row(a=[1.0, 0.0], b=[1.0, 0.0]), Row(a=[1.0, 0.0], b=[0.0, 1.0])]
    )
    got = [r["c"] for r in df.select(F.round(cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()]
    assert got == [1.0, 0.0]


def test_cosine_topk_excludes_self_and_ranks(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0)).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_filter_monotonicity(spark, sf_dir):
    """Raising the price threshold never adds rows (SURVEY §5.3)."""
    from crz_scraper_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_totalprice") >= 100000).count()
    hi = orders.filter(F.col("o_totalprice") >= 200000).count()
    assert hi <= lo


def test_dedup_idempotence(spark, sf_dir):
    from crz_scraper_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    once = first_wins_dedup(orders, ["o_custkey"], [F.asc("o_orderkey")])
    twice = first_wins_dedup(once, ["o_custkey"], [F.asc("o_orderkey")])
    assert once.count() == twice.count()


def test_containment_detects_embedded_doc(spark):
    """A short doc verbatim-embedded in a long one: containment = 1.0 even
    though Jaccard is far below any near-dup threshold (the asymmetric case
    rare-shingle blocking exists for). Unrelated docs produce no pair."""
    from crz_scraper_spark.operators.dedup import containment_pairs

    chunk = "solar panels convert photon flux into electric current daily"
    filler = " ".join(f"fillword{i}" for i in range(60))
    rows = [
        Row(doc_id=1, text=chunk),
        Row(doc_id=2, text=filler + " " + chunk),
        Row(doc_id=3, text="entirely unrelated content about spark engines"),
        Row(doc_id=4, text="another standalone document with private words"),
    ]
    out = containment_pairs(spark.createDataFrame(rows)).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert set(pairs) == {(1, 2)}
    hit = pairs[(1, 2)]
    assert hit["containment_ppm"] == 1_000_000
    assert hit["inter_cnt"] == hit["min_sz"]
    # the same pair's Jaccard would NOT clear a 0.8 near-dup bar:
    # |A∩B| / |A∪B| = min_sz / (union) << 0.8
    assert hit["min_sz"] < 0.5 * (60 + hit["min_sz"] - hit["inter_cnt"])


def test_containment_detects_higher_id_contained_doc(spark):
    """The contained doc has the HIGHER id and the host's K rarest
    df∈[2,max_df] shingles are all UNSHARED with it (they overlap a third
    doc and sort alphabetically first at equal df) — the pair is only
    reachable from the contained doc's own rare shingles, i.e. it requires
    both-direction candidate seeding."""
    from crz_scraper_spark.operators.dedup import containment_pairs

    boiler = " ".join(f"aboiler{i}" for i in range(10))
    chunk = " ".join(f"zchunk{i}" for i in range(10))
    rows = [
        Row(doc_id=1, text=boiler + " " + chunk),  # host (low id)
        Row(doc_id=2, text=chunk),  # contained, HIGHER id
        Row(doc_id=3, text=boiler + " " + " ".join(f"other{i}" for i in range(30))),
    ]
    out = containment_pairs(spark.createDataFrame(rows)).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    # host's 3 rarest shingles are the boiler ones (df=2, sort first), none
    # shared with doc 2 — a lower-id-only seed join would return {} here.
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)]["containment_ppm"] == 1_000_000


def test_containment_below_threshold_excluded(spark, monkeypatch):
    """Half-overlapping docs share rare shingles (candidates) but fall below
    the 0.8 containment bar — blocked-then-verified, not blocked-then-kept."""
    from crz_scraper_spark.operators import dedup
    from crz_scraper_spark.operators.dedup import containment_pairs

    a = " ".join(f"shared{i}" for i in range(10))
    rows = [
        Row(doc_id=1, text=a + " " + " ".join(f"lefty{i}" for i in range(10))),
        Row(doc_id=2, text=a + " " + " ".join(f"right{i}" for i in range(10))),
    ]
    df = spark.createDataFrame(rows)
    assert containment_pairs(df).count() == 0
    monkeypatch.setattr(dedup, "_MIN_CONTAINMENT_PPM", 300_000)
    loose = containment_pairs(df).collect()
    assert [(r["id_a"], r["id_b"]) for r in loose] == [(1, 2)]
