"""ES Query DSL compiler: filter compilation vectors + evaluator
equivalences against simple_query_string / phrase_match, and the
pre-rank (not post-rank) filter-context semantics."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.dsl import (
    compile_dsl,
    compile_filter,
    dsl_topk,
)
from elasticsearch_analysis_combo_spark.query.querystring import (
    simple_query_string_topk,
)

CFG = ComboConfig(["whitespace"])


# ------------------------------------------------------------ compile unit

def test_compile_filter_leaves():
    assert compile_filter({"term": {"lang": "en"}}) == "lang = 'en'"
    assert compile_filter({"term": {"n": {"value": 3}}}) == "n = 3"
    assert compile_filter({"terms": {"lang": ["en", "de"]}}) == (
        "lang IN ('en', 'de')"
    )
    assert compile_filter({"terms": {"lang": []}}) == "FALSE"
    assert compile_filter(
        {"range": {"doc_id": {"gte": 2, "lt": 10}}}
    ) == "(doc_id >= 2 AND doc_id < 10)"
    assert compile_filter({"exists": {"field": "lang"}}) == (
        "lang IS NOT NULL"
    )
    assert compile_filter({"ids": {"values": [1, 2]}}) == "doc_id IN (1, 2)"
    assert compile_filter({"match_all": {}}) == "TRUE"


def test_compile_filter_like_escaping():
    # quote doubling in string literals
    assert compile_filter({"term": {"lang": "o'b"}}) == "lang = 'o''b'"
    # prefix: literal %/_/! escaped with ! (portable escape char), % appended
    assert compile_filter({"prefix": {"source": "a%b_c!"}}) == (
        "source LIKE 'a!%b!_c!!%' ESCAPE '!'"
    )
    # wildcard: * -> %, ? -> _, literal %/_ escaped
    assert compile_filter({"wildcard": {"source": "w*x?y%z"}}) == (
        "source LIKE 'w%x_y!%z' ESCAPE '!'"
    )


def test_compile_filter_bool_and_errors():
    got = compile_filter({"bool": {
        "must": [{"term": {"lang": "en"}}],
        "should": [{"term": {"source": "a"}}, {"term": {"source": "b"}}],
        "must_not": [{"exists": {"field": "flag"}}],
    }})
    # shoulds are optional next to a must (no msm) -> AND of must+must_not
    assert got == "(lang = 'en' AND NOT (flag IS NOT NULL))"
    only_should = compile_filter({"bool": {
        "should": [{"term": {"a": 1}}, {"term": {"b": 2}}],
    }})
    assert only_should == "((a = 1 OR b = 2))"
    forced = compile_filter({"bool": {
        "must": [{"term": {"a": 1}}],
        "should": [{"term": {"b": 2}}],
        "minimum_should_match": 1,
    }})
    assert forced == "(a = 1 AND (b = 2))"
    # msm above the should count matches nothing (BooleanQuery rule)
    assert compile_filter({"bool": {"should": [{"term": {"a": 1}}],
                                    "minimum_should_match": 2}}) == "(FALSE)"
    # msm > 1 compiles to a NULL-safe indicator sum
    two_of_three = compile_filter({"bool": {
        "should": [{"term": {"a": 1}}, {"term": {"b": 2}},
                   {"term": {"c": 3}}],
        "minimum_should_match": 2,
    }})
    assert two_of_three == (
        "((((CASE WHEN a = 1 THEN 1 ELSE 0 END) + "
        "(CASE WHEN b = 2 THEN 1 ELSE 0 END) + "
        "(CASE WHEN c = 3 THEN 1 ELSE 0 END)) >= 2))"
    )
    # Lucene spec grammar: percentages (trunc toward zero) + negatives
    pct = compile_filter({"bool": {
        "should": [{"term": {"a": 1}}, {"term": {"b": 2}},
                   {"term": {"c": 3}}],
        "minimum_should_match": "67%",   # 3*67/100 = 2
    }})
    assert pct == two_of_three
    neg = compile_filter({"bool": {
        "should": [{"term": {"a": 1}}, {"term": {"b": 2}},
                   {"term": {"c": 3}}],
        "minimum_should_match": -1,      # 3 - 1 = 2
    }})
    assert neg == two_of_three
    # "-25%" of 3: trunc(3*-25/100) = 0, not < 0 -> required 0 ->
    # shoulds optional -> bool with only shoulds collapses to TRUE
    assert compile_filter({"bool": {
        "should": [{"term": {"a": 1}}, {"term": {"b": 2}},
                   {"term": {"c": 3}}],
        "minimum_should_match": "-25%",
    }}) == "TRUE"
    with pytest.raises(ValueError):
        compile_filter({"bool": {"should": [{"term": {"a": 1}}],
                                 "minimum_should_match": "3<90%"}})
    with pytest.raises(ValueError):
        compile_filter({"term": {"bad-field!": 1}})
    with pytest.raises(ValueError):
        compile_filter({"nope": {}})


def test_compile_dsl_roles():
    cq = compile_dsl({"bool": {
        "must": [{"match": {"content": "alpha"}}],
        "should": [{"match_phrase": {"content": {"query": "a b", "slop": 2}}}],
        "must_not": [{"fuzzy": {"content": {"value": "beta", "fuzziness": 1}}}],
        "filter": [{"term": {"lang": "en"}}, {"range": {"doc_id": {"lt": 9}}}],
    }})
    pq, fsql = cq.parsed, cq.filter_sql
    got = [(c.kind, c.role, c.text, c.fuzz, c.slop) for c in pq.clauses]
    assert got == [
        ("term", "must", "alpha", 0, 0),
        ("phrase", "should", "a b", 0, 2),
        ("fuzzy", "must_not", "beta", 1, 0),
    ]
    assert fsql == "lang = 'en' AND (doc_id < 9)"
    # match operator=and splits to per-token musts
    pq2 = compile_dsl({"bool": {"must": [
        {"match": {"content": {"query": "x y", "operator": "and"}}}
    ]}}).parsed
    assert [(c.role, c.text) for c in pq2.clauses] == [
        ("must", "x"), ("must", "y")
    ]
    with pytest.raises(ValueError):
        compile_dsl({"bool": {"should": [
            {"match": {"content": {"query": "x y", "operator": "and"}}}
        ]}})
    # msm spec grammar resolves to a plain int at compile time
    assert compile_dsl({"bool": {
        "should": [{"match": {"content": "x"}}],
        "minimum_should_match": 1,
    }}).msm == 1
    assert compile_dsl({"bool": {
        "should": [{"match": {"content": "x"}}, {"match": {"content": "y"}},
                   {"match": {"content": "z"}}],
        "minimum_should_match": "75%",   # 3*75/100 = 2
    }}).msm == 2
    assert compile_dsl({"bool": {
        "should": [{"match": {"content": "x"}}, {"match": {"content": "y"}},
                   {"match": {"content": "z"}}],
        "minimum_should_match": -1,      # 3 - 1 = 2
    }}).msm == 2
    with pytest.raises(ValueError):
        compile_dsl({"bool": {
            "should": [{"match": {"content": "x"}}],
            "minimum_should_match": "2<80%",
        }})


# --------------------------------------------------------------- evaluation

@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        (0, "alpha beta gamma", "en", "web"),
        (1, "alpha gamma", "en", "book"),
        (2, "beta gamma delta", "de", "web"),
        (3, "alpha beta slowpoke", "en", "web"),
        (4, "gamma delta epsilon", "de", "book"),
        (5, "beta alpha", "en", "web"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, content string, lang string, source string"
    )
    stats = build_term_stats(df, CFG).cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    post.frame.cache()
    meta = df.select("doc_id", "lang", "source")
    return stats, term_df, post, 6, avgdl, meta


def _run(spark, fixture, dsl, k=10):
    stats, term_df, post, n_docs, avgdl, meta = fixture
    return dsl_topk(
        spark, stats, term_df, post, [(0, dsl)], CFG, n_docs, avgdl,
        doc_meta=meta, k=k,
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["rank"], round(r["score"], 9)) for r in df.collect()
    )


def test_nested_scoring_bool_folds():
    # (a) all-must/must_not text bool under must splices up (AND assoc)
    cq = compile_dsl({"bool": {"must": [
        {"match": {"content": "alpha"}},
        {"bool": {
            "must": [{"match": {"content": "beta"}}],
            "must_not": [{"match": {"content": "gamma"}}],
            "filter": [{"term": {"lang": "en"}}],
        }},
    ]}})
    assert [(c.role, c.text) for c in cq.parsed.clauses] == [
        ("must", "alpha"), ("must", "beta"), ("must_not", "gamma"),
    ]
    assert cq.filter_sql == "(lang = 'en')"
    # (b) const-only nested bool under must: membership predicate with
    # ES's >= 1-should default + per-matching-should boosts kept
    cq = compile_dsl({"bool": {"must": [
        {"match": {"content": "alpha"}},
        {"bool": {"should": [
            {"term": {"lang": {"value": "en", "boost": 1.0}}},
            {"term": {"source": {"value": "s1", "boost": 0.5}}},
        ]}},
    ]}})
    assert cq.filter_sql == "((lang = 'en' OR source = 's1'))"
    assert cq.should_consts == [("lang = 'en'", "1.0"), ("source = 's1'", "0.5")]
    # (c) const-only nested bool under must_not negates into the filter
    cq = compile_dsl({"bool": {
        "must": [{"match": {"content": "alpha"}}],
        "must_not": [{"bool": {"should": [
            {"term": {"lang": "de"}},
            {"range": {"n_chars": {"lt": 100}}},
        ]}}],
    }})
    assert cq.filter_sql == "NOT (((lang = 'de' OR (n_chars < 100))))"
    # empty nested bool folds to TRUE membership (ES: matches all)
    cq = compile_dsl({"bool": {"must": [{"bool": {}}]}})
    assert cq.filter_sql == "TRUE"
    # unsound folds raise rather than mis-score
    with pytest.raises(ValueError, match="under should"):
        compile_dsl({"bool": {
            "must": [{"match": {"content": "alpha"}}],
            "should": [{"bool": {"must": [{"term": {"lang": "en"}}]}}],
        }})
    with pytest.raises(ValueError, match="text clauses"):
        compile_dsl({"bool": {"must": [
            {"bool": {"should": [{"match": {"content": "beta"}}]}},
        ]}})


def test_dsl_matches_simple_query_string(spark, fixture):
    stats, term_df, post, n_docs, avgdl, _ = fixture
    cases = [
        ({"match": {"content": "alpha delta"}}, "alpha delta"),
        ({"bool": {"must": [{"match": {"content": "alpha"}}],
                   "must_not": [{"match": {"content": "slowpoke"}}]}},
         "+alpha -slowpoke"),
        ({"bool": {"must": [
            {"match": {"content": {"query": "alpha gamma",
                                   "operator": "and"}}}]}},
         "+alpha +gamma"),
        ({"bool": {"should": [{"match_phrase": {"content": "alpha beta"}},
                              {"match": {"content": "delta"}}]}},
         '"alpha beta" delta'),
        ({"bool": {"must": [{"prefix": {"content": "ga"}}]}}, "+ga*"),
    ]
    for dsl, qs in cases:
        got = _run(spark, fixture, dsl)
        want = simple_query_string_topk(
            spark, stats, term_df, post, [(0, qs)], CFG, n_docs, avgdl, k=10,
        )
        assert _rows(got) == _rows(want), (dsl, qs)


def test_dsl_phrase_slop(spark, fixture):
    # "alpha gamma" within slop 1 matches doc 0 (alpha beta gamma) and
    # doc 1 (adjacent); slop 0 only doc 1
    tight = _run(spark, fixture,
                 {"match_phrase": {"content": "alpha gamma"}})
    loose = _run(spark, fixture,
                 {"match_phrase": {"content": {"query": "alpha gamma",
                                               "slop": 1}}})
    assert {r["doc_id"] for r in tight.collect()} == {1}
    assert {r["doc_id"] for r in loose.collect()} == {0, 1}


def test_dsl_filter_is_pre_rank(spark, fixture):
    # top-1 for "gamma" unfiltered is some doc; with a filter excluding
    # it, the hit must be the best SURVIVOR, not empty (post-rank filter
    # would return nothing at k=1)
    full = _run(spark, fixture, {"match": {"content": "gamma"}}, k=1)
    top_doc = full.collect()[0]["doc_id"]
    dsl = {"bool": {
        "must": [{"match": {"content": "gamma"}}],
        "filter": [{"bool": {"must_not": [
            {"ids": {"values": [int(top_doc)]}}]}}],
    }}
    got = _run(spark, fixture, dsl, k=1).collect()
    assert len(got) == 1 and got[0]["doc_id"] != top_doc
    # and the filtered ranking equals filter-then-rank over the full set
    full_all = _run(spark, fixture, {"match": {"content": "gamma"}}, k=10)
    survivors = [
        r["doc_id"] for r in full_all.collect() if r["doc_id"] != top_doc
    ]
    got_all = _run(spark, fixture, dsl, k=10)
    assert [r["doc_id"] for r in
            got_all.orderBy("rank").collect()] == survivors


def test_dsl_term_filter_and_match_all(spark, fixture):
    got = _run(spark, fixture, {"bool": {
        "must": [{"match": {"content": "beta"}}],
        "filter": [{"term": {"lang": "de"}},
                   {"term": {"source": "web"}}],
    }})
    assert {r["doc_id"] for r in got.collect()} == {2}
    # pure filter: match_all + filter -> constant score, doc_id order
    pure = _run(spark, fixture, {"bool": {
        "filter": [{"term": {"source": "book"}}],
    }})
    rows = pure.orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [(1, 1.0), (4, 1.0)]


def test_dsl_filter_requires_meta(spark, fixture):
    stats, term_df, post, n_docs, avgdl, _ = fixture
    with pytest.raises(ValueError):
        dsl_topk(
            spark, stats, term_df, post,
            [(0, {"bool": {"filter": [{"term": {"lang": "en"}}]}})],
            CFG, n_docs, avgdl, doc_meta=None,
        )


# ------------------------------------------------------------- knn + rrf

def test_knn_search_filter_and_validation(spark):
    from elasticsearch_analysis_combo_spark.query.dsl import knn_search

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in
          emb.filter("vec_id = 3").collect()[0]["embedding"]]
    got = knn_search(emb, {"field": "embedding", "query_vector": qv,
                           "k": 5, "filter": {"range": {"label": {"lt": 5}}}})
    rows = got.collect()
    assert len(rows) == 5
    labels = {r["label"] for r in
              emb.filter(F.col("vec_id").isin([x["vec_id"] for x in rows]))
              .collect()}
    assert all(l < 5 for l in labels)  # pre-filter semantics
    with pytest.raises(ValueError):
        knn_search(emb, {"field": "wrong", "query_vector": qv})
    with pytest.raises(ValueError):
        knn_search(emb, {"query_vector": qv}, mode="hnsw")


def test_rrf_hybrid_fusion(spark):
    from elasticsearch_analysis_combo_spark.query.dsl import rrf_hybrid

    a = spark.createDataFrame(
        [(0, 1, 100), (0, 2, 101), (0, 3, 102)],
        "query_id int, rank int, doc_id long",
    )
    b = spark.createDataFrame(
        [(0, 1, 101), (0, 2, 103)],
        "query_id int, rank int, doc_id long",
    )
    got = {r["doc_id"]: (r["rank"], round(r["rrf_score"], 9), r["n_rankers"])
           for r in rrf_hybrid([a, b], k=10, rank_constant=60).collect()}
    # doc 101: 1/62 + 1/61; doc 100: 1/61; doc 103: 1/62; doc 102: 1/63
    s101 = 1 / 62 + 1 / 61
    assert got[101] == (1, round(s101, 9), 2)
    assert got[100][0] == 2 and got[103][0] == 3 and got[102][0] == 4
    with pytest.raises(ValueError):
        rrf_hybrid([])


# -------------------------------------------------- constant_score + pinned

def test_constant_score(spark, fixture):
    got = _run(spark, fixture, {"constant_score": {
        "filter": {"term": {"source": "book"}}, "boost": 2.5,
    }})
    rows = got.orderBy("rank").collect()
    assert [(r["doc_id"], r["score"]) for r in rows] == [(1, 2.5), (4, 2.5)]


def test_pinned_query(spark, fixture):
    organic = _run(spark, fixture, {"match": {"content": "gamma"}})
    org_ids = [r["doc_id"] for r in organic.orderBy("rank").collect()]
    pin = [org_ids[-1], 5]  # one organic hit promoted + one non-matching doc
    got = _run(spark, fixture, {"pinned": {
        "ids": pin, "organic": {"match": {"content": "gamma"}},
    }}).orderBy("rank").collect()
    got_ids = [r["doc_id"] for r in got]
    # pinned first in given order (even doc 5, which never matches gamma),
    # then the organic order with the promoted doc removed
    assert got_ids == pin + [d for d in org_ids if d not in pin]
    assert got[0]["score"] > got[1]["score"] > got[2]["score"]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_compile_const_leaves_in_scoring_bool():
    cq = compile_dsl({"bool": {
        "must": [{"match": {"content": "alpha"}},
                 {"term": {"lang": {"value": "en", "boost": 2.0}}}],
        "must_not": [{"exists": {"field": "source"}}],
    }})
    assert [c.text for c in cq.parsed.clauses] == ["alpha"]
    assert cq.filter_sql == "lang = 'en' AND NOT (source IS NOT NULL)"
    assert cq.const_offset == 2.0
    # lone constant leaf in query position: pure membership at boost
    lone = compile_dsl({"terms": {"source": ["web", "book"], "boost": 3.0}})
    assert not lone.parsed.clauses
    assert lone.filter_sql == "source IN ('web', 'book')"
    assert lone.const_offset == 3.0
    # should-consts next to text clauses compile (round 5); the two
    # combinations that would break exactness still raise
    mixed = compile_dsl({"bool": {
        "must": [{"match": {"content": "alpha"}}],
        "should": [{"term": {"lang": "en"}}],
    }})
    assert mixed.should_consts == [("lang = 'en'", "1.0")]
    assert mixed.has_must_text
    with pytest.raises(ValueError):  # msm + const-should-next-to-text
        compile_dsl({"bool": {
            "must": [{"match": {"content": "alpha"}}],
            "should": [{"term": {"lang": "en"}},
                       {"match": {"content": "beta"}}],
            "minimum_should_match": 1,
        }})
    with pytest.raises(ValueError):  # should-only text + const + must_not
        compile_dsl({"bool": {
            "should": [{"match": {"content": "alpha"}},
                       {"term": {"lang": "en"}}],
            "must_not": [{"match": {"content": "beta"}}],
        }})


def test_wrapper_and_match_none(spark, fixture):
    import base64
    import json as _json

    inner = {"match": {"content": "gamma"}}
    wrapped = {"wrapper": {"query": base64.b64encode(
        _json.dumps(inner).encode()).decode()}}
    assert _rows(_run(spark, fixture, wrapped)) == _rows(
        _run(spark, fixture, inner))
    assert _run(spark, fixture, {"match_none": {}}).count() == 0


def test_const_must_offset_shifts_scores_not_ranks(spark, fixture):
    plain = _run(spark, fixture, {"bool": {
        "must": [{"match": {"content": "gamma"}}],
        "filter": [{"term": {"lang": "en"}}],
    }}).orderBy("rank").collect()
    boosted = _run(spark, fixture, {"bool": {
        "must": [{"match": {"content": "gamma"}},
                 {"term": {"lang": {"value": "en", "boost": 2.0}}}],
    }}).orderBy("rank").collect()
    assert [r["doc_id"] for r in boosted] == [r["doc_id"] for r in plain]
    for pb, pp in zip(boosted, plain):
        assert pb["score"] == pytest.approx(pp["score"] + 2.0)


def test_pure_should_const_scoring(spark, fixture):
    got = _run(spark, fixture, {"bool": {"should": [
        {"term": {"lang": {"value": "en", "boost": 1.0}}},
        {"term": {"source": {"value": "web", "boost": 0.5}}},
    ]}}).orderBy("rank").collect()
    # en+web docs (0,3,5) score 2.5; en-only (1) 2.0; web-only (2) 1.5;
    # doc 4 (de book) matches neither should -> excluded
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (0, 2.5), (3, 2.5), (5, 2.5), (1, 2.0), (2, 1.5),
    ]


def test_dis_max_takes_max_of_subqueries(spark, fixture):
    got = _run(spark, fixture, {"dis_max": {"queries": [
        {"match": {"content": "alpha"}},
        {"match": {"content": "delta"}},
    ]}})
    a = _run(spark, fixture, {"match": {"content": "alpha"}})
    d = _run(spark, fixture, {"match": {"content": "delta"}})
    best = {}
    for df in (a, d):
        for r in df.collect():
            best[r["doc_id"]] = max(
                best.get(r["doc_id"], 0.0), r["score"])
    want = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = got.orderBy("rank").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in rows] == [
        (did, round(s, 9)) for did, s in want
    ]
    # tie_breaker > 0 blends max + tb * sum(others) over the full sub
    # hit sets — replayed here from the subs' own unranked scores
    tb = 0.3
    got_tb = _run(spark, fixture, {"dis_max": {"queries": [
        {"match": {"content": "alpha"}},
        {"match": {"content": "delta"}},
    ], "tie_breaker": tb}})
    per_doc: dict[int, list[float]] = {}
    for df in (a, d):
        for r in df.collect():
            per_doc.setdefault(r["doc_id"], []).append(r["score"])
    blend = {
        did: max(ss) + tb * (sum(ss) - max(ss))
        for did, ss in per_doc.items()
    }
    want_tb = sorted(blend.items(), key=lambda kv: (-kv[1], kv[0]))
    rows_tb = got_tb.orderBy("rank").collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in rows_tb] == [
        (did, round(s, 9)) for did, s in want_tb
    ]
    # a constant sub under tb > 0 is rejected (top-k-cut membership
    # would make the blend inexact)
    with pytest.raises(ValueError):
        _run(spark, fixture, {"dis_max": {
            "queries": [{"match": {"content": "alpha"}},
                        {"term": {"lang": "en"}}],
            "tie_breaker": 0.3,
        }})


def test_retriever_tree(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.dsl import (
        retriever_search,
    )

    stats, term_df, post, n_docs, avgdl, meta = fixture
    emb = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)], i % 2)
         for i in range(6)],
        "vec_id long, embedding array<float>, label int",
    )
    tree = {"rrf": {"retrievers": [
        {"standard": {"query": {"match": {"content": "gamma"}}}},
        {"knn": {"field": "embedding",
                 "query_vector": [1.0, 0.0, 0.0, 0.0], "k": 5}},
    ]}}
    out = retriever_search(
        spark, stats, term_df, post, tree, CFG, n_docs, avgdl,
        emb=emb, doc_meta=meta, k=5,
    ).collect()
    assert out and [r["rank"] for r in sorted(
        out, key=lambda r: r["rank"])] == list(range(1, len(out) + 1))
    # doc 0: knn rank 1 AND a bm25 gamma hit -> fused by two rankers
    bm = retriever_search(
        spark, stats, term_df, post,
        {"standard": {"query": {"match": {"content": "gamma"}}}},
        CFG, n_docs, avgdl, doc_meta=meta, k=5,
    ).collect()
    bm_rank = {r["doc_id"]: r["rank"] for r in bm}
    if 0 in bm_rank:
        want0 = 1.0 / 61 + 1.0 / (60 + bm_rank[0])
        got0 = [r["score"] for r in out if r["doc_id"] == 0][0]
        assert got0 == pytest.approx(want0)
    # a knn-only doc scores exactly one reciprocal term
    knn_only = [r for r in out if r["doc_id"] not in bm_rank]
    for r in knn_only:
        assert r["score"] == pytest.approx(1.0 / (60 + 1), abs=0.02)
    with pytest.raises(ValueError):
        retriever_search(
            spark, stats, term_df, post, {"nope": {}}, CFG, n_docs,
            avgdl, k=5,
        )
    with pytest.raises(ValueError):
        retriever_search(
            spark, stats, term_df, post,
            {"knn": {"query_vector": [1.0], "field": "embedding"}},
            CFG, n_docs, avgdl, k=5,
        )


def test_minimum_should_match_scoring_bool(spark, fixture):
    # shoulds: alpha (docs 0,1,3,5), delta (2,4), epsilon (4)
    q = {"bool": {"should": [
        {"match": {"content": "alpha"}},
        {"match": {"content": "delta"}},
        {"match": {"content": "epsilon"}},
    ]}}
    base = {r["doc_id"] for r in _run(spark, fixture, q).collect()}
    assert base == {0, 1, 2, 3, 4, 5}
    q2 = dict(q)
    q2 = {"bool": dict(q["bool"], minimum_should_match=2)}
    got2 = {r["doc_id"] for r in _run(spark, fixture, q2).collect()}
    assert got2 == {4}  # only doc 4 matches delta AND epsilon
    q3 = {"bool": dict(q["bool"], minimum_should_match=3)}
    assert _run(spark, fixture, q3).count() == 0
    # a multi-term OR match counts as ONE should clause (ES semantics)
    q4 = {"bool": {"should": [
        {"match": {"content": "alpha delta"}},
        {"match": {"content": "epsilon"}},
    ], "minimum_should_match": 2}}
    got4 = {r["doc_id"] for r in _run(spark, fixture, q4).collect()}
    assert got4 == {4}  # delta (via clause 1) + epsilon (clause 2)
    # msm with must: must gates AND >= msm shoulds must hit
    q5 = {"bool": {
        "must": [{"match": {"content": "gamma"}}],
        "should": [{"match": {"content": "alpha"}},
                   {"match": {"content": "delta"}}],
        "minimum_should_match": 1,
    }}
    got5 = {r["doc_id"] for r in _run(spark, fixture, q5).collect()}
    # gamma docs: 0,1,2,4; of those, alpha|delta: 0,1,2,4 all match >=1
    assert got5 == {0, 1, 2, 4}


def test_should_const_next_to_text(spark, fixture):
    # must-text + const should: membership = text hits; en docs +1.0
    plain = {r["doc_id"]: r["score"] for r in _run(spark, fixture, {
        "bool": {"must": [{"match": {"content": "gamma"}}]}
    }).collect()}
    boosted = {r["doc_id"]: r["score"] for r in _run(spark, fixture, {
        "bool": {"must": [{"match": {"content": "gamma"}}],
                 "should": [{"term": {"lang": {"value": "en",
                                               "boost": 1.0}}}]}
    }).collect()}
    assert set(boosted) == set(plain)  # membership unchanged
    for did, s in boosted.items():
        want = plain[did] + (1.0 if did in (0, 1, 3, 5) else 0.0)
        assert s == pytest.approx(want)
    # should-only text + const should: const-only docs join membership
    got = {r["doc_id"]: r["score"] for r in _run(spark, fixture, {
        "bool": {"should": [
            {"match": {"content": "epsilon"}},
            {"term": {"source": {"value": "book", "boost": 0.5}}},
        ]}
    }).collect()}
    eps = {r["doc_id"]: r["score"] for r in _run(spark, fixture, {
        "match": {"content": "epsilon"}
    }).collect()}
    # epsilon: doc 4 (book -> +0.5); const-only members: doc 1 (book)
    assert set(got) == {1, 4}
    assert got[4] == pytest.approx(eps[4] + 0.5)
    assert got[1] == pytest.approx(0.5)
    # filter context still gates const-only members
    got_f = {r["doc_id"] for r in _run(spark, fixture, {
        "bool": {"should": [
            {"match": {"content": "epsilon"}},
            {"term": {"source": {"value": "book", "boost": 0.5}}},
        ], "filter": [{"term": {"lang": "de"}}]}
    }).collect()}
    assert got_f == {4}  # doc 1 is en -> filtered out


def test_query_string_and_match_bool_prefix_routes(spark, fixture):
    # query_string routes onto the simple_query_string parser: identical
    # results on the shared grammar
    a = _run(spark, fixture, {"query_string": {"query": "+alpha beta"}})
    b = _run(spark, fixture,
             {"simple_query_string": {"query": "+alpha beta"}})
    assert _rows(a) == _rows(b) and _rows(a)
    # Lucene-only syntax raises instead of being read as literal terms
    for bad in ("content:alpha", "alpha AND beta", "(alpha beta)"):
        with pytest.raises(ValueError):
            compile_dsl({"query_string": {"query": bad}})
    # match_bool_prefix route == the standalone evaluator
    from elasticsearch_analysis_combo_spark.query.boolean import (
        match_bool_prefix_topk,
    )

    stats, term_df, post, n_docs, avgdl, _ = fixture
    want = match_bool_prefix_topk(
        spark, stats, term_df, [(0, "alpha gam")], CFG, n_docs, avgdl,
        k=10,
    )
    got = _run(spark, fixture, {"match_bool_prefix": {"content": "alpha gam"}})
    assert _rows(got) == _rows(want) and _rows(got)
