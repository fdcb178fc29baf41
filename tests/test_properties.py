"""Property tests (SURVEY.md §5.3): dedup idempotence, filter monotonicity,
tokenizer ≡ regex-split, substring-count ≡ Python str.count.

Hypothesis drives the inputs; each example round-trips one small DataFrame
through Spark, so example counts are kept low and deadlines off (a Spark job
is milliseconds of compute but ~100 ms of scheduling)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from crz_scraper_spark.functions.text import (
    WORD_SEPARATOR_RE,
    substring_count,
    tokens_nonempty,
)
from crz_scraper_spark.operators.dedup import first_wins_dedup

from tests.conftest import SF_DIR

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Slovak-ish alphabet plus separators/punctuation the reference sees.
_text = st.text(
    alphabet="aáäbcčdďeé fghiíjklĺľmnňoóôpqrŕsštťuúvwxyýzž 0123456789.,;|-\n\t",
    max_size=120,
)


@settings(**_SETTINGS)
@given(st.lists(_text, min_size=1, max_size=12))
def test_tokenizer_matches_regex_split(spark, texts):
    """F13: the Spark tokenizer ≡ Python lower + regex-split + drop-empty."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: r.toks
        for r in df.select("i", tokens_nonempty("t").alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        expected = [w for w in re.split(WORD_SEPARATOR_RE, t.lower()) if w != ""]
        assert got[i] == expected, (t, got[i], expected)


@settings(**_SETTINGS)
@given(st.lists(_text, min_size=1, max_size=8), st.sampled_from(["ab", "a", ".,", "xy"]))
def test_substring_count_matches_str_count(spark, texts, needle):
    """A1: the length-difference identity ≡ Python's non-overlapping
    str.count, both sides casefolded (04_tag_text_contracts.py:118)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {
        r.i: r.c
        for r in df.select("i", substring_count("t", needle).alias("c")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == t.lower().count(needle.lower()), (t, needle)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 5)),
        min_size=1,
        max_size=30,
    )
)
def test_first_wins_dedup_idempotent_and_deterministic(spark, rows):
    """A6/J5: dedup twice ≡ dedup once; survivor per key is the minimum
    under the explicit ordering regardless of input partitioning."""
    df = spark.createDataFrame(rows, "k int, v int, tie int").repartition(4)
    once = first_wins_dedup(df, keys=["k"], order_by=[F.asc("v"), F.asc("tie")])
    twice = first_wins_dedup(once, keys=["k"], order_by=[F.asc("v"), F.asc("tie")])
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice
    expected = {}
    for k, v, tie in rows:
        if k not in expected or (v, tie) < expected[k]:
            expected[k] = (v, tie)
    assert got_once == sorted((k, v, t) for k, (v, t) in expected.items())


@settings(**_SETTINGS)
@given(
    st.lists(st.floats(0, 1000, allow_nan=False), min_size=1, max_size=30),
    st.floats(0, 500, allow_nan=False),
    st.floats(0, 500, allow_nan=False),
)
def test_price_filter_monotonic(spark, prices, t1, t2):
    """P7: raising the threshold never adds rows (02_filter_by_CIN.py:236)."""
    lo, hi = sorted([t1, t2])
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)], "i int, price double"
    )
    keep_lo = {r.i for r in df.filter(F.col("price") >= lo).collect()}
    keep_hi = {r.i for r in df.filter(F.col("price") >= hi).collect()}
    assert keep_hi <= keep_lo


@given(
    texts=st.lists(
        st.text(
            st.characters(
                codec="utf-8", categories=("L", "N", "P", "Zs")
            ).filter(lambda c: c != "\x00"),
            max_size=60,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**_SETTINGS)
def test_pii_redaction_idempotent(spark, texts):
    """Redacting already-redacted text is a fixpoint: the replacement
    tokens contain no match for either PII pattern, so a second pass
    changes nothing (and counts drop to zero)."""
    from crz_scraper_spark.plans.curation_plans import _EMAIL_RE, _PHONE_RE

    df = spark.createDataFrame(
        [(i, t + f" user{i}@example.com +421-12345678") for i, t in enumerate(texts)],
        "doc_id bigint, text string",
    )
    once = df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("text"),
    )
    twice = once.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("text"),
    )
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    leftover = once.filter(
        F.col("text").rlike(_EMAIL_RE) | F.col("text").rlike(_PHONE_RE)
    ).count()
    assert leftover == 0


def test_stratified_sample_deterministic_and_bounded(spark):
    """Membership is a pure function of doc_id: two runs agree row-for-row,
    and each stratum's sampled count never exceeds its total."""
    from crz_scraper_spark.plans.curation_plans import stratified_sample

    a = sorted(map(tuple, stratified_sample(spark, SF_DIR).collect()))
    b = sorted(map(tuple, stratified_sample(spark, SF_DIR).collect()))
    assert a == b
    for _lang, n_docs, n_sampled in a:
        assert 0 <= n_sampled <= n_docs


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),   # key
                st.integers(min_value=0, max_value=2),   # partition
                st.integers(min_value=0, max_value=999), # value
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    )
)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_upsert_by_key_equals_dict_semantics(spark, tmp_path_factory, batches):
    """A sequence of upsert batches applied to a partitioned table equals
    plain last-write-wins dict replay (a key stays in its first-seen
    partition, matching the operator's no-key-movement contract)."""
    from crz_scraper_spark.operators.upsert import upsert_by_key

    tmp = tmp_path_factory.mktemp("upsert_prop")
    path = str(tmp / "tbl")
    expect: dict[int, tuple[str, int]] = {}
    schema = "k bigint, part string, v bigint"
    first = True
    for batch in batches:
        rows = {}
        for k, p, v in batch:  # last occurrence inside a batch wins
            part = expect.get(k, (f"p{p}",))[0]  # pin key to its partition
            rows[k] = (k, part, v)
        for k, (_, part, v) in rows.items():
            expect[k] = (part, v)
        df = spark.createDataFrame(list(rows.values()), schema)
        if first:
            df.write.partitionBy("part").parquet(path)
            first = False
        else:
            upsert_by_key(spark, path, df, key_cols=["k"], partition_col="part")
    got = {
        r["k"]: (r["part"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == expect


# Hostile CSV content: quotes, pipes, CR/LF, leading/trailing whitespace —
# everything the S7 sink must escape and the S3/S4 scan must reassemble.
_csv_cell = st.text(
    alphabet='abc 0123456789"|\n\r\t,\\\'',
    max_size=24,
)


@settings(**_SETTINGS)
@given(st.lists(_csv_cell, min_size=1, max_size=8))
def test_pipe_csv_roundtrip_arbitrary_content(spark, tmp_path_factory, cells):
    """write_pipe_csv → read_pipe_csv(multi_line=True) is lossless for ANY
    cell content: embedded pipes, double quotes, newlines, and carriage
    returns survive the quote/escape/multiline machinery byte-for-byte.
    (Cells that are empty read back as NULL — the reference's pandas
    `dtype=str` path has the same ''≈NaN ambiguity, SURVEY §7 Hard-2 —
    so the property normalizes '' to None on the expected side.)"""
    from crz_scraper_spark.sources.csv import read_pipe_csv, write_pipe_csv

    out = str(tmp_path_factory.mktemp("pipecsv"))
    rows = [(i, c) for i, c in enumerate(cells)]
    df = spark.createDataFrame(rows, "k bigint, payload string")
    write_pipe_csv(df, out)
    back = read_pipe_csv(
        spark, out, schema="k bigint, payload string", multi_line=True
    )
    got = {r["k"]: r["payload"] for r in back.collect()}
    want = {i: (c if c != "" else None) for i, c in rows}
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(_text, min_size=1, max_size=10))
def test_subject_extract_matches_python_reference(spark, texts):
    """subject_extract ≡ the reference's find-anchor-take-600 ladder
    (08_extract_subject.py:42-57) reimplemented in Python, on arbitrary
    text: first anchor wins, miss falls through, double miss -> NULL."""
    from crz_scraper_spark.functions.text import subject_extract

    anchors = ("predmet zmluvy", "úvodné ustanovenia")
    # Seed some anchor hits so the property exercises both branches.
    seeded = [
        (i, t if i % 3 else f"{t} Predmet Zmluvy: {t}")
        for i, t in enumerate(texts)
    ]

    def ref(t: str):
        low = t.lower()
        for a in anchors:
            pos = low.find(a)
            if pos != -1:
                return low[pos : pos + 600]
        return None

    df = spark.createDataFrame(seeded, "k bigint, text string")
    got = {
        r["k"]: r["subj"]
        for r in df.select(
            "k", subject_extract("text").alias("subj")
        ).collect()
    }
    want = {i: ref(t) for i, t in seeded}
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="abc0123456789_.", min_size=1, max_size=16),
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_natural_sort_matches_python_reference(spark, names):
    """natural_sort_key ordering ≡ the reference's digit/non-digit split
    with numeric comparison (04_convert_contracts_to_text.py:51-54), on
    arbitrary alphanumeric names."""
    import re

    from crz_scraper_spark.functions.text import natural_sort_key

    def ref_key(s: str):
        return [
            int(p) if p.isdigit() else p
            for p in re.findall(r"\d+|\D+", s)
        ]

    # Python can't compare int vs str: map each run to a (type, value)
    # tuple the way natural sort semantics define the order only when the
    # runs align in type; restrict comparison to a stable total order by
    # padding — the same trick the Spark key uses.
    def ref_key_total(s: str):
        return [
            p.zfill(20) if p.isdigit() else p
            for p in re.findall(r"\d+|\D+", s)
        ]

    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = [
        r["name"]
        for r in df.orderBy(natural_sort_key("name"), "name").collect()
    ]
    want = sorted(names, key=lambda s: (ref_key_total(s), s))
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet='ab čž"\\\n\r\t{}[]:,0京γ',
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_jsonl_roundtrip_arbitrary_content(spark, tmp_path_factory, texts):
    """Spark's JSON writer -> read_jsonl is lossless for arbitrary text payloads:
    JSON escaping keeps newlines/quotes/unicode inside ONE line per record
    (the line-splittability the 100 TB interchange format depends on), and
    every value survives byte-for-byte."""
    from pyspark.sql import types as T

    from crz_scraper_spark.sources.jsonl import read_jsonl, split_corrupt

    out = str(tmp_path_factory.mktemp("jsonl"))
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    df.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    clean, corrupt = split_corrupt(read_jsonl(spark, out, schema))
    assert corrupt.count() == 0
    got = {r["doc_id"]: r["text"] for r in clean.collect()}
    assert got == dict(rows)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee", "f", "g", "hh"]),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=2, max_value=10),
)
def test_heavy_hitters_equals_exact_on_random_multisets(spark, vals, den):
    """Misra–Gries two-pass heavy hitters must equal the exact
    GROUP BY/HAVING answer for ANY value distribution and threshold —
    the N/(m+1) candidate bound is a theorem, not a tendency. Random
    multisets + random thresholds probe boundary cases (counts exactly
    at N/den, single-value inputs, all-distinct inputs) the fixed
    fixtures don't."""
    from tests.reference import heavy_hitters

    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(4)
    got = {
        (r["v"], r["cnt"])
        for r in heavy_hitters(df, "v", freq_num=1, freq_den=den).collect()
    }
    n = len(vals)
    from collections import Counter

    exact = {
        (v, c) for v, c in Counter(vals).items() if c * den > n
    }
    assert got == exact
