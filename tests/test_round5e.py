"""Round-5e: top-level span queries in the ES Query DSL — span_term /
span_or / span_near / span_first / span_not JSON nodes routed onto the
query/spans.py evaluators and BM25-scored as
``idf_sum(analyzed constituents) * satu(n_matches)`` (the
match_phrase_prefix route's fixed-constituent scoring; Lucene's
SpanScorer accumulates per-match sloppyFreq instead — documented
divergence in query/dsl.py::_eval_span_specs).

Reference scope: the host behind AnalysisComboPlugin.java:37-42 parses
span query nodes; this engine re-expresses them over the compressed
positional postings.
"""

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk

CFG = ComboConfig(["whitespace"])
K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        (0, "the quick brown fox jumps"),
        (1, "quick the fox brown quick"),
        (2, "the fox"),
        (3, "brown fox the quick the fox"),
        (4, "lazy dog sleeps"),
        (5, "fox fox the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG).cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    post.frame.cache()
    dfs = {r["term"]: int(r["df"]) for r in term_df.collect()}
    dls = {
        r["doc_id"]: int(r["dl"])
        for r in stats.select("doc_id", "dl").distinct().collect()
    }
    return stats, term_df, post, 6, avgdl, dfs, dls


def _run(spark, fixture, queries, k=10, **kw):
    stats, term_df, post, n_docs, avgdl = fixture[:5]
    out = dsl_topk(
        spark, stats, term_df, post, queries, CFG, n_docs, avgdl,
        k=k, **kw,
    )
    return {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in out.collect()
    }


def _expect_score(fixture, terms, doc_id, f):
    _, _, _, n_docs, avgdl, dfs, dls = fixture
    idf = sum(
        math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in dict.fromkeys(terms) if t in dfs
    )
    dl = dls[doc_id]
    return idf * f * (K1 + 1.0) / (f + K1 * (1.0 - B + B * dl / avgdl))


ST = lambda t: {"span_term": {"content": t}}  # noqa: E731


def test_span_near_ordered_route(spark, fixture):
    # "the" then "fox" strictly in order within slop 1 (window = slop +
    # n - 1 = 2 of the anchor): doc0 (the@1,fox@4 -> gap 2 > window? p
    # is 1-based: fox at 4, anchor 1, width 1+2-1... chain needs
    # fox.p <= the.p + 2) -> doc0 the@1 fox@4 NO; doc2 the@1 fox@2 YES;
    # doc3 the@3 fox@... fox@2(before),fox@6: 6 > 3+2 NO; the@5 fox@6 YES;
    # doc5 the@3, fox@1,2 (before only) NO; doc1 the@2 fox@3 YES
    res = _run(spark, fixture, [(0, {"span_near": {
        "clauses": [ST("the"), ST("fox")], "slop": 1, "in_order": True,
    }})])
    docs = {d for (_, d) in res}
    assert docs == {1, 2, 3}
    for d in docs:
        assert res[(0, d)][1] == pytest.approx(
            _expect_score(fixture, ["the", "fox"], d, 1.0)
        )


def test_span_or_and_term_routes(spark, fixture):
    # span_or(brown, lazy): n_matches = distinct positions holding any
    # clause term. doc0 brown@3 ->1; doc1 brown@4 ->1; doc3 brown@1 ->1;
    # doc4 lazy@1 ->1
    res = _run(spark, fixture, [
        (0, {"span_or": {"clauses": [ST("brown"), ST("lazy")]}}),
        (1, ST("quick")),  # bare span_term == one-clause span_or
    ])
    assert {d for (q, d) in res if q == 0} == {0, 1, 3, 4}
    assert res[(0, 4)][1] == pytest.approx(
        _expect_score(fixture, ["brown", "lazy"], 4, 1.0)
    )
    # doc1 has quick twice -> f=2
    assert {d for (q, d) in res if q == 1} == {0, 1, 3}
    assert res[(1, 1)][1] == pytest.approx(
        _expect_score(fixture, ["quick"], 1, 2.0)
    )


def test_span_first_route(spark, fixture):
    # span_first(match=span_or(fox), end=2): fox with position <= 2
    # (1-based; span end of token at p is p): doc2 fox@2, doc3 fox@2,
    # doc5 fox@1,2
    res = _run(spark, fixture, [(0, {"span_first": {
        "match": {"span_or": {"clauses": [ST("fox")]}}, "end": 2,
    }})])
    assert {d for (_, d) in res} == {2, 3, 5}
    assert res[(0, 5)][1] == pytest.approx(
        _expect_score(fixture, ["fox"], 5, 2.0)
    )


def test_span_not_route(spark, fixture):
    # include fox, exclude brown with post=1 (Lucene: an include span
    # at p dies iff an exclude span overlaps [p - pre, p + post]).
    # doc0 fox@4 brown@3: [4,5] misses 3 -> kept f=1; doc1 fox@3
    # brown@4: 4 in [3,4] -> fox dies -> doc drops; doc3 fox@2,6
    # brown@1: both intervals miss 1 -> kept f=2
    res = _run(spark, fixture, [(0, {"span_not": {
        "include": ST("fox"),
        "exclude": ST("brown"),
        "post": 1,
    }})])
    assert {d for (_, d) in res} == {0, 2, 3, 5}
    assert res[(0, 3)][1] == pytest.approx(
        _expect_score(fixture, ["fox"], 3, 2.0)
    )
    # idf/dl ride the INCLUDE side only
    assert res[(0, 5)][1] == pytest.approx(
        _expect_score(fixture, ["fox"], 5, 2.0)
    )


def test_span_partitioned_identity(spark, fixture):
    queries = [
        (0, {"span_near": {"clauses": [ST("the"), ST("fox")],
                           "slop": 1, "in_order": True}}),
        (1, {"span_or": {"clauses": [ST("brown"), ST("lazy")]}}),
        (2, {"span_first": {"match": ST("fox"), "end": 2}}),
        (3, {"span_not": {"include": ST("fox"), "exclude": ST("brown"),
                          "post": 1}}),
    ]
    single = _run(spark, fixture, queries)
    parts = _run(spark, fixture, queries, span_range_bits=2)
    assert single.keys() == parts.keys()
    for key in single:
        assert single[key][0] == parts[key][0]
        assert single[key][1] == pytest.approx(parts[key][1])


def test_span_mixed_with_match_batch(spark, fixture):
    res = _run(spark, fixture, [
        (0, ST("quick")),
        (1, {"match": {"content": "quick"}}),
    ])
    # span_term and match agree on membership; scores differ only in
    # that the span route's f is span count == tf here
    assert {d for (q, d) in res if q == 0} == {d for (q, d) in res if q == 1}


def test_span_errors(spark, fixture):
    stats, term_df, post, n_docs, avgdl = fixture[:5]
    with pytest.raises(ValueError, match="span_term"):
        _run(spark, fixture, [(0, {"span_near": {
            "clauses": [ST("the"), {"span_multi": {
                "match": {"prefix": {"content": "fo"}}}}],
        }})])
    with pytest.raises(ValueError, match="fields differ"):
        _run(spark, fixture, [(0, {"span_not": {
            "include": ST("fox"),
            "exclude": {"span_term": {"other": "brown"}},
        }})])
    with pytest.raises(ValueError, match="positional postings"):
        dsl_topk(spark, stats, term_df, None, [(0, ST("fox"))], CFG,
                 n_docs, avgdl)


# ---------------- function_score through the DSL ----------------


@pytest.fixture(scope="module")
def meta(spark):
    rows = [(0, 10.0), (1, 200.0), (2, 0.5), (3, 50.0), (5, 400.0)]
    # doc 4 has NO metadata row: base score must survive untouched
    return spark.createDataFrame(rows, "doc_id long, pop double")


def _run_meta(spark, fixture, meta, queries, k=10, **kw):
    stats, term_df, post, n_docs, avgdl = fixture[:5]
    out = dsl_topk(
        spark, stats, term_df, post, queries, CFG, n_docs, avgdl,
        doc_meta=meta, k=k, **kw,
    )
    return {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in out.collect()
    }


def test_function_score_fvf_equals_facade(spark, fixture, meta):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        function_score_topk,
    )

    stats, term_df, post, n_docs, avgdl = fixture[:5]
    dsl = _run_meta(spark, fixture, meta, [(0, {"function_score": {
        "query": {"match": {"content": "fox"}},
        "field_value_factor": {"field": "pop", "factor": 0.1,
                               "modifier": "log1p"},
        "boost_mode": "multiply",
    }})])
    ref = function_score_topk(
        spark, stats, term_df, [(0, "fox")], CFG, n_docs, avgdl,
        doc_meta=meta, field="pop", function="field_value_factor",
        factor=0.1, modifier="log1p", boost_mode="multiply", k=10,
    )
    ref_rows = {
        (r["query_id"], r["doc_id"]): r["score"] for r in ref.collect()
    }
    assert dsl.keys() == ref_rows.keys()
    for key in dsl:
        assert dsl[key][1] == pytest.approx(ref_rows[key], rel=1e-9)


def test_function_score_gauss_equals_facade(spark, fixture, meta):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        function_score_topk,
    )

    stats, term_df, post, n_docs, avgdl = fixture[:5]
    dsl = _run_meta(spark, fixture, meta, [(0, {"function_score": {
        "query": {"match": {"content": "fox"}},
        "gauss": {"pop": {"origin": 50.0, "scale": 100.0, "decay": 0.5}},
    }})])
    ref = function_score_topk(
        spark, stats, term_df, [(0, "fox")], CFG, n_docs, avgdl,
        doc_meta=meta, field="pop", function="gauss",
        origin=50.0, scale=100.0, decay=0.5, k=10,
    )
    ref_rows = {
        (r["query_id"], r["doc_id"]): r["score"] for r in ref.collect()
    }
    assert dsl.keys() == ref_rows.keys()
    for key in dsl:
        assert dsl[key][1] == pytest.approx(ref_rows[key], rel=1e-9)


def test_function_score_missing_and_sum(spark, fixture, meta):
    # boost_mode sum with missing=0: doc 4 (no meta row) gets +0
    base = _run_meta(spark, fixture, meta,
                     [(0, {"match": {"content": "fox"}})])
    fs = _run_meta(spark, fixture, meta, [(0, {"function_score": {
        "query": {"match": {"content": "fox"}},
        "field_value_factor": {"field": "pop", "factor": 1.0,
                               "modifier": "none", "missing": 0.0},
        "boost_mode": "sum",
    }})])
    pops = {0: 10.0, 1: 200.0, 2: 0.5, 3: 50.0, 5: 400.0}
    assert fs.keys() == base.keys()
    for (q, d) in base:
        assert fs[(q, d)][1] == pytest.approx(
            base[(q, d)][1] + pops.get(d, 0.0), rel=1e-9
        )


def test_function_score_reorders_before_topk(spark, fixture, meta):
    # k=2: the function can promote a doc outside the plain-BM25 top-2
    fs = _run_meta(spark, fixture, meta, [(0, {"function_score": {
        "query": {"match": {"content": "fox"}},
        "field_value_factor": {"field": "pop", "factor": 1.0,
                               "modifier": "none", "missing": 0.0},
        "boost_mode": "sum",
    }})], k=2)
    # pop dominates: docs 1 (200) and 5 (400) win regardless of BM25
    assert {d for (_, d) in fs} == {1, 5}


def test_function_score_guards(spark, fixture, meta):
    # the functions ARRAY routes since round 5i (tests/test_round5i.py);
    # unknown keys still raise
    with pytest.raises(ValueError, match="unsupported function_score"):
        _run_meta(spark, fixture, meta, [(0, {"function_score": {
            "query": {"match": {"content": "fox"}},
            "random_score": {"seed": 7},
        }})])
    with pytest.raises(ValueError, match="text-scoring inner"):
        _run_meta(spark, fixture, meta, [(0, {"function_score": {
            "query": {"constant_score": {
                "filter": {"term": {"pop": 1}}}},
            "gauss": {"pop": {"origin": 0, "scale": 1}},
        }})])
    with pytest.raises(ValueError, match="decay"):
        _run_meta(spark, fixture, meta, [(0, {"function_score": {
            "query": {"match": {"content": "fox"}},
            "gauss": {"pop": {"origin": 0, "scale": 1, "decay": 1.0}},
        }})])
    with pytest.raises(ValueError, match="requires doc_meta"):
        _run(spark, fixture, [(0, {"function_score": {
            "query": {"match": {"content": "fox"}},
            "gauss": {"pop": {"origin": 0, "scale": 1}},
        }})])


def test_script_score_sql_expression(spark, fixture, meta):
    base = _run_meta(spark, fixture, meta,
                     [(0, {"match": {"content": "fox"}})])
    ss = _run_meta(spark, fixture, meta, [(0, {"script_score": {
        "query": {"match": {"content": "fox"}},
        "script": {"source": "_score * sqrt(pop)"},
    }})])
    pops = {0: 10.0, 1: 200.0, 2: 0.5, 3: 50.0, 5: 400.0}
    assert ss.keys() == base.keys()
    for (q, d) in base:
        if d in pops:
            want = base[(q, d)][1] * math.sqrt(pops[d])
        else:
            want = base[(q, d)][1]  # null expr -> base score fallback
        assert ss[(q, d)][1] == pytest.approx(want, rel=1e-9)


def test_script_score_guards(spark, fixture, meta):
    with pytest.raises(ValueError, match="script source"):
        _run_meta(spark, fixture, meta, [(0, {"script_score": {
            "query": {"match": {"content": "fox"}},
            "script": {"source": ""},
        }})])
    with pytest.raises(ValueError, match="nested score-transform"):
        _run_meta(spark, fixture, meta, [(0, {"function_score": {
            "query": {"script_score": {
                "query": {"match": {"content": "fox"}},
                "script": {"source": "_score"}}},
            "gauss": {"pop": {"origin": 0, "scale": 1}},
        }})])


def test_boosting_route(spark, fixture, meta):
    base = _run_meta(spark, fixture, meta,
                     [(0, {"match": {"content": "fox"}})])
    bq = _run_meta(spark, fixture, meta, [(0, {"boosting": {
        "positive": {"match": {"content": "fox"}},
        "negative": {"range": {"pop": {"gte": 100}}},
        "negative_boost": 0.25,
    }})])
    pops = {0: 10.0, 1: 200.0, 2: 0.5, 3: 50.0, 5: 400.0}
    assert bq.keys() == base.keys()
    for (q, d) in base:
        factor = 0.25 if pops.get(d, 0) >= 100 else 1.0
        assert bq[(q, d)][1] == pytest.approx(
            base[(q, d)][1] * factor, rel=1e-9
        )


def test_boosting_guards(spark, fixture, meta):
    with pytest.raises(ValueError, match="negative_boost"):
        _run_meta(spark, fixture, meta, [(0, {"boosting": {
            "positive": {"match": {"content": "fox"}},
            "negative": {"term": {"pop": 10}},
            "negative_boost": 1.5,
        }})])
    # text negative -> compile_filter raises (unsupported filter leaf)
    with pytest.raises(ValueError):
        _run_meta(spark, fixture, meta, [(0, {"boosting": {
            "positive": {"match": {"content": "fox"}},
            "negative": {"match": {"content": "brown"}},
        }})])


# ---------------- intervals through the DSL ----------------


def test_intervals_route_matches_evaluator(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.intervals import (
        intervals_match,
    )

    stats, term_df, post, n_docs, avgdl = fixture[:5]
    rule = {"all_of": {"ordered": True, "max_gaps": 1, "intervals": [
        {"match": {"query": "the"}}, {"match": {"query": "fox"}}]}}
    res = _run(spark, fixture, [(0, {"intervals": {"content": rule}})])
    direct = {
        r["doc_id"]: r["n_matches"]
        for r in intervals_match(spark, post, [(0, rule)], CFG).collect()
    }
    assert {d for (_, d) in res} == set(direct)
    for d, f in direct.items():
        assert res[(0, d)][1] == pytest.approx(
            _expect_score(fixture, ["the", "fox"], d, float(f))
        )


def test_intervals_route_any_of_and_guard(spark, fixture):
    res = _run(spark, fixture, [(0, {"intervals": {"content": {
        "any_of": {"intervals": [{"match": {"query": "lazy"}},
                                 {"match": {"query": "jumps"}}]}}}})])
    assert {d for (_, d) in res} == {0, 4}
    with pytest.raises(ValueError, match="prefix/wildcard"):
        _run(spark, fixture, [(0, {"intervals": {"content": {
            "prefix": {"prefix": "fo"}}}})])
    stats, term_df, post, n_docs, avgdl = fixture[:5]
    with pytest.raises(ValueError, match="positional postings"):
        dsl_topk(spark, stats, term_df, None,
                 [(0, {"intervals": {"content": {
                     "match": {"query": "fox"}}}})],
                 CFG, n_docs, avgdl)


def test_span_within_containing_routes(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_containing_match,
        span_within_match,
    )

    stats, term_df, post, n_docs, avgdl = fixture[:5]
    big = {"span_near": {"clauses": [ST("the"), ST("fox")],
                         "slop": 2, "in_order": True}}
    res = _run(spark, fixture, [
        (0, {"span_within": {"little": ST("quick"), "big": big}}),
        (1, {"span_containing": {"little": ST("quick"), "big": big}}),
    ])
    for wkind, fn, qid in (("within", span_within_match, 0),
                           ("containing", span_containing_match, 1)):
        direct = {
            r["doc_id"]: r["n_matches"]
            for r in fn(spark, post, [(qid, "quick", "the fox")],
                        CFG, slop=2).collect()
        }
        got = {d for (q, d) in res if q == qid}
        assert got == set(direct), wkind
        for d, f in direct.items():
            assert res[(qid, d)][1] == pytest.approx(_expect_score(
                fixture, ["quick", "the", "fox"], d, float(f)
            )), wkind


def test_span_within_guards(spark, fixture):
    with pytest.raises(ValueError, match="must be span_near"):
        _run(spark, fixture, [(0, {"span_within": {
            "little": ST("quick"), "big": ST("the")}})])
    with pytest.raises(ValueError, match="must be ordered"):
        _run(spark, fixture, [(0, {"span_containing": {
            "little": ST("quick"),
            "big": {"span_near": {"clauses": [ST("the"), ST("fox")],
                                  "in_order": False}}}})])
