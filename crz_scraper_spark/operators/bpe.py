"""Byte-pair-encoding tokenizer: the real-subword upgrade of
`textquality.token_count`'s BPE-ish regex estimate (the token-counting
surface a training-data pipeline budgets with).

Shape mirrors the repo's other trained-index operators (IVF/PQ): the merge
table is LEARNED DRIVER-SIDE on a bounded deterministic sample (classic
Sennrich et al. 2016 pair-count loop — vocabulary learning needs a sample,
not the corpus), then APPLIED distributed as an Arrow-batched pandas UDF
over a broadcast rank table. Application memoizes per distinct word — on
natural corpora the distinct-word set is tiny relative to the token
stream, so the merge loop runs once per word shape, not once per
occurrence.

Determinism: pair-count ties break to the lexicographically smallest pair
(an explicit (−count, pair) total order), so the same sample always yields
the same merge list and the operator reproduces across runs/retries/task
replays. Rows-only check (no SQL analog);
`tests/test_operators.py` pins the merge list and encodings against a
hand-computed reference.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_END = "</w>"


def learn_bpe(texts: Iterable[str], n_merges: int = 200) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the sample (lowercased whitespace
    words, char-level start symbols + end-of-word marker). Ties on pair
    count break to the lexicographically SMALLEST pair — a fixed total
    order, so the merge list is a pure function of the sample."""
    import re as _re

    split_re = _re.compile(r"\s+", _re.ASCII)  # match the JVM \s+ split
    word_freq: Counter = Counter()
    for t in texts:
        for w in split_re.split(t.lower()):
            if w:
                word_freq[w] += 1
    return learn_bpe_from_word_counts(word_freq.items(), n_merges)


def learn_bpe_from_word_counts(
    word_counts: Iterable[tuple[str, int]], n_merges: int = 200
) -> list[tuple[str, str]]:
    """The Sennrich pair-count loop over a (word, frequency) table — the
    form that scales: BPE learning needs only word FREQUENCIES, never the
    token stream, so a 100 TB corpus reduces to one distributed word-count
    aggregate whose distinct-word result (vocab-sized, millions at most)
    fits the driver. Same deterministic tie-break as `learn_bpe`."""
    word_freq: Counter = Counter()
    for w, c in word_counts:
        word_freq[w] += c
    # word -> tuple of current symbols
    seqs: dict[str, list[str]] = {
        w: [*w, _END] for w in word_freq
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: Counter = Counter()
        for w, freq in word_freq.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                pair_counts[(a, b)] += freq
        if not pair_counts:
            break
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        for w, s in seqs.items():
            if a not in s:
                continue
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges greedily by rank priority (standard BPE apply)."""
    s = [*word, _END]
    while len(s) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(s, s[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        _, i = min(ranked)
        s = s[:i] + [s[i] + s[i + 1]] + s[i + 2 :]
    return s


def bpe_token_count_udf(spark: SparkSession, merges: list[tuple[str, str]]):
    """Per-document BPE token count over the broadcast merge ranks, with a
    per-batch word memo (the merge loop runs once per distinct word)."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    import re as _re

    # ASCII \s+ to match the JVM side's split(lower(text), '\\s+') exactly:
    # Python's str.split()/unicode \s additionally split on \xa0 etc., which
    # would make n_bpe_tokens and the JVM-computed n_words disagree about
    # the word segmentation itself.
    split_re = _re.compile(r"\s+", _re.ASCII)

    @F.pandas_udf("long")
    def count_tokens(s: pd.Series) -> pd.Series:
        r = bc.value
        memo: dict[str, int] = {}

        def doc_tokens(text) -> int:
            if not isinstance(text, str):
                return 0
            n = 0
            for w in split_re.split(text.lower()):
                if not w:
                    continue
                c = memo.get(w)
                if c is None:
                    c = len(encode_word(w, r))
                    memo[w] = c
                n += c
            return n

        return s.map(doc_tokens)

    return count_tokens


def bpe_token_stats(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """Learn merges on the deterministic id-prefix sample, count BPE tokens
    corpus-wide. Output: (doc_id, n_words, n_bpe_tokens, chars_per_token_ppm).

    100 TB posture: learning reads 64 documents (bounded,
    driver-side — vocabulary training is index metadata, the FAISS-trainer
    rationale); application is one map-only scan with the rank table
    broadcast. chars_per_token_ppm is integer (chars*1e6 div tokens) — the
    fertility metric token-budget planning divides by.

    The sample is the 64 documents with the smallest
    xxhash64(id) — a deterministic pseudo-random pick that works on ANY id
    space (sparse, offset, string), unlike an `id < N` predicate which
    silently returns nothing off a dense 0-based space and would degrade
    every word to character-level tokens. Compiles to per-partition top-K
    + driver merge (TakeOrdered), not a global sort."""
    sample = [
        r[0]
        for r in docs.select("text", F.xxhash64("doc_id").alias("__h"))
        .orderBy("__h")
        .limit(64)
        .collect()
    ]
    if not sample:
        raise ValueError(
            "bpe_token_stats: empty training sample — the input corpus has "
            "no rows; merges learned from nothing would silently degrade "
            "every word to character-level tokens"
        )
    return _apply_bpe_stats(docs, spark, learn_bpe(sample))


def _apply_bpe_stats(docs, spark, merges) -> DataFrame:
    # asNondeterministic: semantically the count IS deterministic, but the
    # flag stops Catalyst substituting the UDF expression into downstream
    # filter predicates (e.g. the registry's n_bpe_tokens >= n_words
    # invariant), which would run the Arrow batch eval TWICE over the
    # corpus — measured as a second full ArrowEvalPython node in the plan.
    count_udf = bpe_token_count_udf(spark, merges).asNondeterministic()
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        count_udf(F.col("text")).alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("__chars"),
    ).select(
        "doc_id",
        "n_words",
        "n_bpe_tokens",
        F.expr(
            "CAST(__chars * 1000000 div greatest(n_bpe_tokens, 1) AS BIGINT)"
        ).alias("chars_per_token_ppm"),
    )


# Words of the corpus-wide count table that reach the driver.
_MAX_VOCAB = 65_536


def bpe_corpus_token_stats(docs: DataFrame, spark: SparkSession) -> DataFrame:
    """The exact-corpus form of `bpe_token_stats`: merges are learned from
    the FULL corpus's word frequencies instead of a document sample.

    100 TB posture: ONE distributed word-count aggregate (explode →
    partial+final hash agg — the same shape as `word_frequency`) reduces
    the token stream to its distinct-word table; only the top `_MAX_VOCAB`
    words by (count desc, word asc) — a deterministic total order — reach
    the driver, bounding memory regardless of corpus size. Truncation
    drops only tail words whose frequencies are too small to win a merge
    against head pairs, so for realistic Zipfian corpora the merge list
    equals the untruncated one. Application is unchanged: map-only scan,
    broadcast ranks, per-word memo."""
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
    counts = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_MAX_VOCAB)
        .collect()
    )
    if not counts:
        raise ValueError(
            "bpe_corpus_token_stats: empty corpus — no word frequencies to "
            "learn merges from"
        )
    merges = learn_bpe_from_word_counts((r["word"], r["cnt"]) for r in counts)
    return _apply_bpe_stats(docs, spark, merges)
