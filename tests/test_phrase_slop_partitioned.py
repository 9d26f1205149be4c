"""Sloppy-phrase semantics and the range-partitioned phrase evaluator.

Slop follows Lucene's PhraseQuery matchLength criterion (see
query/phrase.py module docstring): with pp_i = pos_i - slot_i, an
assignment matches when max(pp) - min(pp) <= slop. Hand vectors below pin
the canonical Lucene cases ("b a" needs slop 2; "a x b" needs slop 1).
The partitioned evaluator must return row-identical results to the
single-task path on a stress corpus whose stop token spans many chunked
posting rows.
"""

import random

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.phrase import (
    phrase_match,
    phrase_match_partitioned,
)

CFG = ComboConfig(["whitespace"])

DOCS = [
    (0, "a b c"),
    (1, "b a"),
    (2, "a x b"),
    (3, "a b y a b"),
    (4, "b x x a"),
    (5, "c c c"),
]


def _postings(spark, rows, block_size=4, max_blocks=None):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    kw = {}
    if max_blocks is not None:
        kw["max_blocks_per_row"] = max_blocks
    return posting_frame(stats, avgdl=4.0, block_size=block_size, **kw)


def _got(out):
    return {(r["query_id"], r["doc_id"]): r["n_matches"] for r in out.collect()}


@pytest.fixture(scope="module")
def tiny_postings(spark):
    p = _postings(spark, DOCS)
    p.frame.cache().count()
    return p


def test_slop0_is_exact_adjacency(spark, tiny_postings):
    got = _got(phrase_match(spark, tiny_postings, [(0, "a b")], CFG, slop=0))
    assert got == {(0, 0): 1, (0, 3): 2}


def test_slop1_allows_one_gap_not_transposition(spark, tiny_postings):
    got = _got(phrase_match(spark, tiny_postings, [(0, "a b")], CFG, slop=1))
    # doc 2 "a x b": spread 1 -> in; doc 1 "b a": spread 2 -> still out
    assert got == {(0, 0): 1, (0, 2): 1, (0, 3): 2}


def test_slop2_allows_transposition_but_not_far_swap(spark, tiny_postings):
    got = _got(phrase_match(spark, tiny_postings, [(0, "a b")], CFG, slop=2))
    # doc 1 "b a": pp spread 2 -> in at slop 2 (Lucene: transposition = 2);
    # doc 4 "b x x a": pp spread 4 -> still out
    assert got == {(0, 0): 1, (0, 1): 1, (0, 2): 1, (0, 3): 2}


def test_three_term_slop(spark, tiny_postings):
    # "a b c" exact only in doc 0; "c a b" slop 0 in doc 5? no ("c c c").
    got0 = _got(phrase_match(spark, tiny_postings, [(0, "a b c")], CFG, slop=0))
    assert got0 == {(0, 0): 1}
    # slop 1: doc 3 "a b y a b" has no c; still only doc 0
    got1 = _got(phrase_match(spark, tiny_postings, [(0, "a b c")], CFG, slop=1))
    assert got1 == {(0, 0): 1}


def test_missing_term_returns_no_rows(spark, tiny_postings):
    got = _got(phrase_match(spark, tiny_postings, [(0, "a zzz")], CFG, slop=3))
    assert got == {}


def test_repeated_term_phrase(spark, tiny_postings):
    got = _got(phrase_match(spark, tiny_postings, [(0, "c c")], CFG, slop=0))
    assert got == {(0, 5): 2}


@pytest.fixture(scope="module")
def stress(spark):
    """200 docs, tiny vocab with a stop token 'the' in nearly every doc;
    2-block posting rows force the stop term across many chunked rows."""
    rng = random.Random(7)
    vocab = ["the", "quick", "fox", "jumps", "over", "lazy", "dog", "a"]
    rows = []
    for i in range(200):
        n = rng.randint(4, 30)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        if rng.random() < 0.7:
            k = rng.randrange(max(1, n - 1))
            words[k:k + 2] = ["the", "quick"]
        rows.append((i * 7919 + 13, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    p = posting_frame(stats, avgdl=15.0, block_size=8,
                      max_blocks_per_row=2)
    p.frame.cache().count()
    return p


PHRASES = [(0, "the quick"), (1, "over the lazy"), (2, "the the"),
           (3, "quick fox jumps")]


@pytest.mark.parametrize("slop", [0, 2])
def test_partitioned_equals_single_task(spark, stress, slop):
    single = _got(phrase_match(spark, stress, PHRASES, CFG, slop=slop))
    part = _got(
        phrase_match_partitioned(
            spark, stress, PHRASES, CFG, slop=slop, range_bits=3
        )
    )
    assert part == single
    assert single  # stress corpus really produces matches
    # the whole multi-phrase batch with dl and sloppyFreq, row for row
    weighted = [
        sorted(tuple(r) for r in match(
            spark, stress, PHRASES, CFG, slop=slop,
            with_dl=True, with_weights=True, **kw,
        ).collect())
        for match, kw in ((phrase_match, {}),
                          (phrase_match_partitioned, {"range_bits": 3}))
    ]
    assert weighted[0] == weighted[1]
    assert {(q, d): n for q, d, n, _, _ in weighted[0]} == single


def test_partitioned_tiny_corpus_and_slop(spark, tiny_postings):
    for slop in (0, 1, 2):
        single = _got(
            phrase_match(spark, tiny_postings, [(0, "a b"), (1, "a b c")],
                         CFG, slop=slop)
        )
        part = _got(
            phrase_match_partitioned(
                spark, tiny_postings, [(0, "a b"), (1, "a b c")],
                CFG, slop=slop, range_bits=2,
            )
        )
        assert part == single


def test_phrase_prefix_match(spark):
    """match_phrase_prefix: trailing term expands as a prefix."""
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_prefix_match,
    )

    rows = [
        (0, "new york city"),
        (1, "new york citizens"),
        (2, "new york state"),
        (3, "old york city"),
        (4, "new yorkshire city"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats

    stats = build_term_stats(df, CFG)
    term_df = stats.groupBy("doc_id", "term").count().groupBy("term").count()
    term_df = term_df.withColumnRenamed("count", "df")
    p = _postings(spark, rows)
    got = _got(phrase_prefix_match(
        spark, p, term_df, [(0, "new york cit"), (1, "new yo"), (2, "zzz qq")], CFG
    ))
    # q0: "new york cit*" -> docs 0 (city) and 1 (citizens)
    assert {k for k in got if k[0] == 0} == {(0, 0), (0, 1)}
    # q1: "new yo*" -> york and yorkshire complete it: docs 0,1,2,4
    assert {k[1] for k in got if k[0] == 1} == {0, 1, 2, 4}
    # q2: unknown prefix -> nothing
    assert not any(k[0] == 2 for k in got)


def test_phrase_prefix_max_expansions_cap(spark):
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_prefix_match,
    )
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats

    # expansions are alphabetical: cap=1 keeps only 'ya' (not 'yb')
    rows = [(0, "go ya"), (1, "go yb")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    term_df = (
        stats.groupBy("doc_id", "term").count()
        .groupBy("term").count().withColumnRenamed("count", "df")
    )
    p = _postings(spark, rows)
    got = _got(phrase_prefix_match(
        spark, p, term_df, [(0, "go y")], CFG, max_expansions=1
    ))
    assert got == {(0, 0): 1}


def test_phrase_topk_scoring(spark):
    """Ranked phrase: idf-sum * tf-saturation over phrase frequency;
    more occurrences in a shorter doc must rank first."""
    import math

    from elasticsearch_analysis_combo_spark.query.phrase import phrase_topk

    rows = [
        (0, "a b x a b"),        # freq 2, dl 5
        (1, "a b x x x x x x"),  # freq 1, dl 8
        (2, "a x b"),            # no exact match
        (3, "c c c"),
    ]
    p = _postings(spark, rows)
    n_docs, avgdl = 4, (5 + 8 + 3 + 3) / 4.0
    out = phrase_topk(
        spark, p, [(0, "a b")], CFG, n_docs=n_docs, avgdl=avgdl, k=10
    ).collect()
    assert [r["doc_id"] for r in out] == [0, 1]
    assert [r["rank"] for r in out] == [1, 2]

    def idf(df):
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    # df(a)=3 (docs 0,1,2), df(b)=3
    def score(f, dl):
        return (idf(3) + idf(3)) * f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

    got = {r["doc_id"]: r["score"] for r in out}
    assert abs(got[0] - score(2, 5)) < 1e-9
    assert abs(got[1] - score(1, 8)) < 1e-9

    # equal phrase frequency and equal dl tie on score: ranks follow
    # doc_id ascending, and a k=1 cut keeps the smaller doc id
    tied = _postings(spark, [(7, "a b y"), (4, "a b z"), (9, "c c c")])
    out = phrase_topk(
        spark, tied, [(0, "a b")], CFG, n_docs=3, avgdl=3.0, k=10
    ).collect()
    assert [(r["rank"], r["doc_id"]) for r in out] == [(1, 4), (2, 7)]
    assert out[0]["score"] == out[1]["score"]
    top1 = phrase_topk(
        spark, tied, [(0, "a b")], CFG, n_docs=3, avgdl=3.0, k=1
    ).collect()
    assert [(r["rank"], r["doc_id"]) for r in top1] == [(1, 4)]


# ------------------------------------------------ sloppyFreq (round 5)

def _freqs(out):
    return {
        (r["query_id"], r["doc_id"]): round(r["sloppy_freq"], 9)
        for r in out.collect()
    }


def test_sloppy_freq_hand_vectors(spark, tiny_postings):
    """Lucene sloppyFreq: each anchor weighted 1/(matchLength+1) with
    matchLength its MINIMAL assignment span. 'a b' at slop 2: exact
    adjacency weighs 1, one gap 1/2, transposition 1/3."""
    out = phrase_match(
        spark, tiny_postings, [(0, "a b")], CFG, slop=2,
        with_dl=True, with_weights=True,
    )
    got = _freqs(out)
    assert got == {
        (0, 0): 1.0,                     # "a b c": span 0
        (0, 1): round(1.0 / 3.0, 9),     # "b a": span 2
        (0, 2): 0.5,                     # "a x b": span 1
        (0, 3): 2.0,                     # both anchors have a span-0 pick
    }


def test_sloppy_freq_slop0_equals_count(spark, tiny_postings):
    out = phrase_match(
        spark, tiny_postings, [(0, "a b")], CFG, slop=0,
        with_dl=True, with_weights=True,
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r["sloppy_freq"] == float(r["n_matches"])


def test_sloppy_freq_partitioned_identical(spark, tiny_postings):
    single = _freqs(phrase_match(
        spark, tiny_postings, [(0, "a b"), (1, "b c")], CFG, slop=2,
        with_dl=True, with_weights=True,
    ))
    part = _freqs(phrase_match_partitioned(
        spark, tiny_postings, [(0, "a b"), (1, "b c")], CFG, slop=2,
        range_bits=3, with_dl=True, with_weights=True,
    ))
    assert single == part


def test_sloppy_freq_scores_dsl_phrase(spark):
    """End-to-end: a DSL match_phrase with slop ranks the tighter match
    above the looser one even when counts tie (1/(ml+1) weighting) —
    same dl and idf for all three docs, so only sloppy_freq separates."""
    from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk

    rows = [
        (0, "alpha beta pad pad pad pad"),        # span 0 -> freq 1
        (1, "alpha gap beta pad pad pad"),        # span 1 -> freq 1/2
        (2, "beta alpha pad pad pad pad"),        # span 2 -> freq 1/3
        (3, "pad pad pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    post = _postings(spark, rows)
    out = dsl_topk(
        spark, stats, term_df, post,
        [(0, {"match_phrase": {"content": {"query": "alpha beta",
                                           "slop": 2}}})],
        CFG, n_docs=4, avgdl=6.0, k=10,
    ).collect()
    out.sort(key=lambda r: r["rank"])
    assert [r["doc_id"] for r in out] == [0, 1, 2]
    assert out[0]["score"] > out[1]["score"] > out[2]["score"]
