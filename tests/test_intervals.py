"""ES intervals query: Lucene minimal-interval semantics, hand vectors
+ the minimality-vs-span_near divergence pinned explicitly."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.intervals import (
    intervals_match,
)
from elasticsearch_analysis_combo_spark.query.spans import span_near_match

CFG = ComboConfig(["whitespace"])


@pytest.fixture(scope="module")
def postings(spark):
    rows = [
        (0, "a x b a b"),     # a:[1,4] b:[3,5] x:[2]
        (1, "a a b"),         # the minimality doc: 2 anchors, 1 interval
        (2, "b a"),           # reversed
        (3, "x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    post.frame.cache()
    return post


def _run(spark, postings, rule, range_bits=None):
    out = intervals_match(spark, postings, [(0, rule)], CFG,
                          range_bits=range_bits)
    return {r["doc_id"]: r["n_matches"] for r in out.collect()}


def test_match_ordered_minimality(spark, postings):
    got = _run(spark, postings,
               {"match": {"query": "a b", "ordered": True}})
    # doc 0: (1,3) and (4,5) both minimal; doc 1: (1,3) contains (2,3)
    # so ONE interval; doc 2 has no ordered occurrence
    assert got == {0: 2, 1: 1}
    # span_near counts BOTH doc-1 anchors — the divergence that makes
    # intervals a distinct operator
    sn = span_near_match(spark, postings, [(0, "a b")], CFG,
                         slop=10, in_order=True)
    assert {r["doc_id"]: r["n_matches"] for r in sn.collect()}[1] == 2


def test_match_ordered_max_gaps(spark, postings):
    got = _run(spark, postings,
               {"match": {"query": "a b", "ordered": True, "max_gaps": 0}})
    # doc 0 keeps only the adjacent (4,5); doc 1 keeps (2,3)
    assert got == {0: 1, 1: 1}


def test_match_unordered(spark, postings):
    got = _run(spark, postings, {"match": {"query": "a x"}})
    # doc 0: minimal intervals (1,2) and (2,4)
    assert got == {0: 2}
    tight = _run(spark, postings,
                 {"match": {"query": "a x", "max_gaps": 0}})
    assert tight == {0: 1}
    # unordered matches reversed docs too
    rev = _run(spark, postings, {"match": {"query": "a b", "max_gaps": 0}})
    assert rev == {0: 2, 1: 1, 2: 1}


def test_any_of_union_minimality(spark, postings):
    got = _run(spark, postings, {"any_of": {"intervals": [
        {"match": {"query": "x"}},
        {"match": {"query": "a b", "ordered": True}},
    ]}})
    # doc 0: x -> (2,2) kills the containing (1,3); (4,5) survives -> 2
    # doc 1: (2,3); doc 3: x -> (2,2)... x is at position 1 in "x y z"
    assert got == {0: 2, 1: 1, 3: 1}


def test_all_of_ordered_gaps(spark, postings):
    got = _run(spark, postings, {"all_of": {
        "ordered": True, "max_gaps": 0,
        "intervals": [{"match": {"query": "a"}},
                      {"match": {"query": "b"}}],
    }})
    # doc 0: chains (1,1)->(3,3) gap 1 (dropped), (4,4)->(5,5) gap 0;
    # doc 1: (1,1)->(3,3) gap 1 dropped, (2,2)->(3,3) gap 0 kept
    assert got == {0: 1, 1: 1}
    loose = _run(spark, postings, {"all_of": {
        "ordered": True,
        "intervals": [{"match": {"query": "a"}},
                      {"match": {"query": "b"}}],
    }})
    assert loose == {0: 2, 1: 1}


def test_partitioned_identical(spark, postings):
    rules = [
        {"match": {"query": "a b", "ordered": True, "max_gaps": 0}},
        {"any_of": {"intervals": [{"match": {"query": "x"}},
                                  {"match": {"query": "a b",
                                             "ordered": True}}]}},
        {"all_of": {"ordered": True, "max_gaps": 1,
                    "intervals": [{"match": {"query": "a"}},
                                  {"match": {"query": "b"}}]}},
    ]
    for rule in rules:
        assert _run(spark, postings, rule) == _run(
            spark, postings, rule, range_bits=2
        ), rule


def test_validation():
    from elasticsearch_analysis_combo_spark.query.intervals import _analyzed

    with pytest.raises(ValueError):
        _analyzed({"all_of": {"intervals": [{"match": {"query": "a"}}]}},
                  CFG)  # unordered all_of
    with pytest.raises(ValueError):
        _analyzed({"any_of": {"intervals": []}}, CFG)
    with pytest.raises(ValueError):
        _analyzed({"nope": {}}, CFG)


def test_prefix_and_wildcard_sources(spark, postings):
    # prefix 'a' expands to the one term 'a' -> its positions as
    # width-1 intervals: doc0 a:[1,4] -> 2, doc1 a:[1,2] -> 2, doc2 -> 1
    got = _run(spark, postings, {"prefix": {"prefix": "a"}})
    assert got == {0: 2, 1: 2, 2: 1}
    # wildcard over the x/y/z doc: '?' matches exactly-one-char terms —
    # a, b, x, y, z all match; doc3 has x y z -> 3 positions
    got = _run(spark, postings, {"wildcard": {"pattern": "?"}})
    assert got[3] == 3 and got[0] == 5
    # all_of(prefix, term-match) ordered: prefix-'a' interval then 'b'
    got = _run(spark, postings, {"all_of": {
        "ordered": True,
        "intervals": [{"prefix": {"prefix": "a"}},
                      {"match": {"query": "b"}}],
    }})
    # doc0: a@1->b@3, a@4->b@5 -> 2 (minimal); doc1: (2,3) only; doc2: none
    assert got == {0: 2, 1: 1}
    # expansion cap: max_expansions=1 keeps only the highest-df term
    out = intervals_match(
        spark, postings, [(0, {"wildcard": {"pattern": "?"}})], CFG,
        max_expansions=1,
    )
    got1 = {r["doc_id"]: r["n_matches"] for r in out.collect()}
    # highest-df single-char term is a or b (df 3 each; tie -> 'a')
    assert got1 == {0: 2, 1: 2, 2: 1}


def test_prefix_partitioned_identical(spark, postings):
    a = _run(spark, postings, {"any_of": {"intervals": [
        {"prefix": {"prefix": "a"}}, {"match": {"query": "z"}}]}})
    b = _run(spark, postings, {"any_of": {"intervals": [
        {"prefix": {"prefix": "a"}}, {"match": {"query": "z"}}]}},
        range_bits=2)
    assert a == b
