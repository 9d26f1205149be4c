"""Round-5i: multi_match type=phrase (per-field match_phrase over
positional sub-indexes, dis-max blended — exact for any tie_breaker
because each field scores its FULL phrase match set) and the
function_score ``functions`` ARRAY (filter-gated weight / fvf / gauss
entries, score_mode multiply|sum|max|min, max_boost cap, boost_mode
multiply|sum|replace; a non-matching function is EXCLUDED — ES rule).

Reference scope: the host behind AnalysisComboPlugin.java:37-42 parses
multi_match / function_score request bodies; this engine re-expresses
them over per-field compressed positional postings and one metadata
join + codegen CASE projection.
"""

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.dsl import (
    _parse_function_score,
    dsl_topk,
)
from elasticsearch_analysis_combo_spark.query.multifield import (
    field_corpus_stats,
    multi_match_phrase_topk,
)
from elasticsearch_analysis_combo_spark.query.phrase import phrase_topk

CFG = ComboConfig(["whitespace"])
K1, B = 1.2, 0.75


def _positional_postings(stats, avgdl):
    return posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)


@pytest.fixture(scope="module")
def fielded(spark):
    """Two-field corpus where 'quick fox' occurs in title only (doc 0),
    body only (doc 1), BOTH fields (doc 2), twice in body (doc 3), and
    nowhere (doc 4)."""
    rows = [
        (0, "quick fox runs", "the lazy dog sleeps all day"),
        (1, "morning news report", "a quick fox jumped the fence"),
        (2, "quick fox alert", "watch the quick fox by the barn"),
        (3, "daily digest", "quick fox here and quick fox there"),
        (4, "slow turtle", "nothing to see in this text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    out = {}
    for f in ("title", "body"):
        stats = build_term_stats(df, CFG, content_col=f).cache()
        stats.count()
        n, avgdl = field_corpus_stats(stats)
        post = _positional_postings(stats, avgdl)
        post.frame.cache()
        out[f] = (stats, post, n, avgdl)
    return out


def _blend_rows(out):
    return {
        (r["query_id"], r["doc_id"]): (r["rank"], round(r["score"], 9))
        for r in out.collect()
    }


def _field_scores(spark, fielded, field, queries, slop=0):
    _, post, n, avgdl = fielded[field]
    rows = phrase_topk(
        spark, post, queries, CFG, n_docs=n, avgdl=avgdl,
        k1=K1, b=B, k=None, slop=slop,
    ).collect()
    return {(r["query_id"], r["doc_id"]): r["score"] for r in rows}


def test_multi_match_phrase_single_field_identity(spark, fielded):
    """One field == plain ranked match_phrase on that field."""
    _, post, n, avgdl = fielded["body"]
    queries = [(0, "quick fox")]
    solo = phrase_topk(spark, post, queries, CFG, n_docs=n, avgdl=avgdl,
                       k1=K1, b=B, k=10, slop=0)
    blended = multi_match_phrase_topk(
        spark, {"body": post}, {"body": (n, avgdl)}, queries, CFG, k=10,
        k1=K1, b=B,
    )
    srows = {(r["query_id"], r["doc_id"]): (r["rank"], round(r["score"], 9))
             for r in solo.collect()}
    assert srows == _blend_rows(blended)
    assert set(d for (_, d) in srows) == {1, 2, 3}


@pytest.mark.parametrize("tb", [0.0, 0.5, 1.0])
def test_multi_match_phrase_blend(spark, fielded, tb):
    """Blend = max + tb*(sum-max) over boosted per-field FULL match
    sets; doc 2 (both fields) is where tb>0 visibly adds the losing
    field's contribution."""
    queries = [(0, "quick fox"), (1, "zzz qqq")]
    boosts = {"title": 2.0, "body": 1.0}
    t = _field_scores(spark, fielded, "title", queries)
    bo = _field_scores(spark, fielded, "body", queries)
    postings = {f: fielded[f][1] for f in fielded}
    meta = {f: (fielded[f][2], fielded[f][3]) for f in fielded}
    out = multi_match_phrase_topk(
        spark, postings, meta, queries, CFG, boosts=boosts,
        tie_breaker=tb, k=10, k1=K1, b=B,
    )
    got = _blend_rows(out)
    # expected: per-doc boosted field scores blended
    exp = {}
    for (qid, d) in set(t) | set(bo):
        vals = []
        if (qid, d) in t:
            vals.append(2.0 * t[(qid, d)])
        if (qid, d) in bo:
            vals.append(1.0 * bo[(qid, d)])
        exp[(qid, d)] = max(vals) + tb * (sum(vals) - max(vals))
    assert set(got) == set(exp)
    for key, (rank, score) in got.items():
        assert score == pytest.approx(exp[key], rel=1e-9)
    # no hits at all for the no-match query
    assert not any(qid == 1 for (qid, _) in got)
    # doc 2 matches in both fields: tb lifts it monotonically
    if tb > 0:
        both = got[(0, 2)][1]
        assert both > max(2.0 * t[(0, 2)], bo[(0, 2)]) - 1e-12


def test_multi_match_phrase_engine_route(spark, fielded, tmp_path):
    """MultiFieldSearchEngine.search_dsl type=phrase routes to the
    blend and honors field^boost syntax."""
    from elasticsearch_analysis_combo_spark.engine import (
        MultiFieldSearchEngine,
    )

    rows = [
        (0, "quick fox runs", "the lazy dog sleeps all day"),
        (1, "morning news report", "a quick fox jumped the fence"),
        (2, "quick fox alert", "watch the quick fox by the barn"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, title string, body string"
    )
    eng = MultiFieldSearchEngine(spark, CFG, str(tmp_path / "mf"))
    eng.index(docs, field_cols={"title": "title", "body": "body"})
    out = eng.search_dsl(
        {"multi_match": {"query": "quick fox", "type": "phrase",
                         "fields": ["title^2", "body"],
                         "tie_breaker": 0.3}},
        k=5,
    )
    direct = eng.multi_match_phrase(
        "quick fox", boosts={"title": 2.0, "body": 1.0},
        tie_breaker=0.3, k=5,
    )
    assert _blend_rows(out) == _blend_rows(direct)
    got = _blend_rows(out)
    assert {d for (_, d) in got} == {0, 1, 2}
    # doc 2 (phrase in BOTH fields, boosted title) must rank first
    assert got[(0, 2)][0] == 1


@pytest.mark.parametrize("tb", [0.0, 0.5])
def test_multi_match_phrase_partitioned_identity(spark, fielded, tb):
    """The doc-range-partitioned per-field scoring path
    (_phrase_scores_partitioned: fan-out kernel + external idf*satu
    projection) is row-identical to the single-task phrase_topk path —
    incl. a mixed per-field dict (big body partitioned, small title
    not)."""
    queries = [(0, "quick fox"), (1, "zzz qqq")]
    postings = {f: fielded[f][1] for f in fielded}
    meta = {f: (fielded[f][2], fielded[f][3]) for f in fielded}
    boosts = {"title": 2.0, "body": 1.0}
    kw = dict(boosts=boosts, tie_breaker=tb, k=10, k1=K1, b=B)
    single = multi_match_phrase_topk(
        spark, postings, meta, queries, CFG, partitioned=False, **kw)
    part = multi_match_phrase_topk(
        spark, postings, meta, queries, CFG, partitioned=True,
        range_bits=2, **kw)
    mixed = multi_match_phrase_topk(
        spark, postings, meta, queries, CFG,
        partitioned={"body": True}, range_bits=2, **kw)
    s = _blend_rows(single)
    assert s == _blend_rows(part)
    assert s == _blend_rows(mixed)


def test_multi_match_phrase_slop_passthrough(spark, fielded):
    """slop routes through to the per-field evaluators: 'fox quick'
    reversed matches nothing at slop 0/1 but does at slop 2 (Lucene
    transposition cost)."""
    postings = {f: fielded[f][1] for f in fielded}
    meta = {f: (fielded[f][2], fielded[f][3]) for f in fielded}
    queries = [(0, "fox quick")]
    at0 = multi_match_phrase_topk(spark, postings, meta, queries, CFG,
                                  k=10, slop=0, k1=K1, b=B)
    at2 = multi_match_phrase_topk(spark, postings, meta, queries, CFG,
                                  k=10, slop=2, k1=K1, b=B)
    assert at0.count() == 0
    assert at2.count() > 0


def test_multi_match_bool_prefix_blend(spark, fielded):
    """Per-field match_bool_prefix (full term + per-FIELD capped prefix
    expansion) dis-max blended; expansion dictionaries differ per field
    ('qui' expands in both; 'jum' only in body)."""
    from elasticsearch_analysis_combo_spark.query.boolean import (
        match_bool_prefix_topk,
    )
    from elasticsearch_analysis_combo_spark.query.multifield import (
        multi_match_bool_prefix_topk,
    )

    queries = [(0, "quick fo"), (1, "the jum")]
    tb = 0.4
    boosts = {"title": 2.0, "body": 1.0}
    stats = {f: fielded[f][0] for f in fielded}
    tdfs = {
        f: s.groupBy("term").agg(F.count("*").alias("df"))
        for f, s in stats.items()
    }
    meta = {f: (fielded[f][2], fielded[f][3]) for f in fielded}
    out = multi_match_bool_prefix_topk(
        spark, stats, tdfs, meta, queries, CFG, boosts=boosts,
        tie_breaker=tb, k=10, k1=K1, b=B,
    )
    got = _blend_rows(out)
    # expected from per-field full (k=None) runs
    exp = {}
    for f, boost in boosts.items():
        rows = match_bool_prefix_topk(
            spark, stats[f], tdfs[f], queries, CFG, meta[f][0],
            meta[f][1], k=None, k1=K1, b=B,
        ).collect()
        for r in rows:
            exp.setdefault((r["query_id"], r["doc_id"]), []).append(
                boost * r["score"]
            )
    want = {
        key: max(v) + tb * (sum(v) - max(v)) for key, v in exp.items()
    }
    assert set(got) == set(want)
    for key, (_, score) in got.items():
        assert score == pytest.approx(want[key], rel=1e-9)


def test_multi_match_phrase_prefix_blend(spark, fielded):
    """Per-field match_phrase_prefix scoring (idf over FIXED
    constituents x satu(anchors), field-local dl) dis-max blended;
    'quick fo' completes via fox in title (doc 0, 2) and body
    (docs 1, 2, 3)."""
    from elasticsearch_analysis_combo_spark.query.multifield import (
        multi_match_phrase_prefix_topk,
    )
    import math

    queries = [(0, "quick fo")]
    tb = 0.4
    boosts = {"title": 2.0, "body": 1.0}
    stats = {f: fielded[f][0] for f in fielded}
    tdfs = {
        f: s.groupBy("term").agg(F.count("*").alias("df"))
        for f, s in stats.items()
    }
    meta = {f: (fielded[f][2], fielded[f][3]) for f in fielded}
    postings = {f: fielded[f][1] for f in fielded}
    out = multi_match_phrase_prefix_topk(
        spark, postings, tdfs, stats, meta, queries, CFG,
        boosts=boosts, tie_breaker=tb, k=10, k1=K1, b=B,
    )
    got = _blend_rows(out)
    # hand expectation: per field, anchors where 'quick' is followed by
    # a 'fo%' token; idf over ['quick'] only; dl of the doc in-field
    import collections
    exp = collections.defaultdict(list)
    texts = {
        "title": {0: "quick fox runs", 1: "morning news report",
                  2: "quick fox alert", 3: "daily digest",
                  4: "slow turtle"},
        "body": {0: "the lazy dog sleeps all day",
                 1: "a quick fox jumped the fence",
                 2: "watch the quick fox by the barn",
                 3: "quick fox here and quick fox there",
                 4: "nothing to see in this text"},
    }
    for f, boost in boosts.items():
        n, avgdl = meta[f]
        docs = texts[f]
        df_quick = sum("quick" in t.split() for t in docs.values())
        idf = math.log(1.0 + (n - df_quick + 0.5) / (df_quick + 0.5))
        for d_, t in docs.items():
            toks = t.split()
            anchors = sum(
                1 for i, w in enumerate(toks[:-1])
                if w == "quick" and toks[i + 1].startswith("fo")
            )
            if anchors:
                dl = len(toks)
                s = idf * anchors * (K1 + 1.0) / (
                    anchors + K1 * (1.0 - B + B * dl / avgdl))
                exp[(0, d_)].append(boost * s)
    want = {key: max(v) + tb * (sum(v) - max(v)) for key, v in exp.items()}
    assert set(got) == set(want)
    for key, (_, score) in got.items():
        assert score == pytest.approx(want[key], rel=1e-9)


def test_multi_match_phrase_prefix_engine_route(spark, tmp_path):
    from elasticsearch_analysis_combo_spark.engine import (
        MultiFieldSearchEngine,
    )

    docs = spark.createDataFrame(
        [(0, "quick fox runs", "the lazy dog"),
         (1, "morning report", "a quick fox jumped")],
        "doc_id long, title string, body string",
    )
    eng = MultiFieldSearchEngine(spark, CFG, str(tmp_path / "mfpp"))
    eng.index(docs, field_cols={"title": "title", "body": "body"})
    out = eng.search_dsl(
        {"multi_match": {"query": "quick fo", "type": "phrase_prefix",
                         "fields": ["title^2", "body"]}},
        k=5,
    )
    direct = eng.multi_match_phrase_prefix(
        "quick fo", boosts={"title": 2.0, "body": 1.0}, k=5,
    )
    assert _blend_rows(out) == _blend_rows(direct)
    assert {d for (_, d) in _blend_rows(out)} == {0, 1}
    with pytest.raises(ValueError, match=">= 2 analyzed"):
        eng.multi_match_phrase_prefix("quick")


def test_multi_match_bool_prefix_engine_route(spark, tmp_path):
    from elasticsearch_analysis_combo_spark.engine import (
        MultiFieldSearchEngine,
    )

    docs = spark.createDataFrame(
        [(0, "quick fox runs", "the lazy dog"),
         (1, "morning report", "a quick fox jumped")],
        "doc_id long, title string, body string",
    )
    eng = MultiFieldSearchEngine(spark, CFG, str(tmp_path / "mfbp"))
    eng.index(docs, field_cols={"title": "title", "body": "body"})
    out = eng.search_dsl(
        {"multi_match": {"query": "quick fo", "type": "bool_prefix",
                         "fields": ["title^2", "body"]}},
        k=5,
    )
    direct = eng.multi_match_bool_prefix(
        "quick fo", boosts={"title": 2.0, "body": 1.0}, k=5,
    )
    assert _blend_rows(out) == _blend_rows(direct)
    assert {d for (_, d) in _blend_rows(out)} == {0, 1}


# ------------------------------------------------- function_score functions[]

@pytest.fixture(scope="module")
def fs_fixture(spark):
    rows = [
        (0, "alpha beta"),
        (1, "alpha alpha gamma"),
        (2, "alpha delta"),
        (3, "beta gamma"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG).cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    meta = spark.createDataFrame(
        [(0, 10.0, "en"), (1, 200.0, "de"), (2, 50.0, "en"),
         (3, 400.0, "fr")],
        "doc_id long, n_chars double, lang string",
    )
    return stats, term_df, 4, avgdl, meta


def _fs_run(spark, fs_fixture, body, k=10):
    stats, term_df, n_docs, avgdl, meta = fs_fixture
    out = dsl_topk(
        spark, stats, term_df, None, [(0, body)], CFG, n_docs, avgdl,
        doc_meta=meta, k=k, k1=K1, b=B,
    )
    return {r["doc_id"]: r["score"] for r in out.collect()}


def _fs_base(spark, fs_fixture):
    return _fs_run(spark, fs_fixture, {"match": {"content": "alpha"}})


def test_functions_array_sum_filter_gating_max_boost(spark, fs_fixture):
    """score_mode sum: matched entries add (weight for weight-only,
    weighted value otherwise); non-matching filters EXCLUDE the entry;
    the summed function score caps at max_boost before multiplying."""
    base = _fs_base(spark, fs_fixture)
    got = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"filter": {"term": {"lang": "en"}}, "weight": 2.0},
            {"field_value_factor": {"field": "n_chars", "factor": 0.01},
             "weight": 0.5},
        ],
        "score_mode": "sum",
        "boost_mode": "multiply",
        "max_boost": 2.25}})
    n_chars = {0: 10.0, 1: 200.0, 2: 50.0}
    lang_en = {0, 2}
    for d, s in base.items():
        fs = (2.0 if d in lang_en else 0.0) + 0.5 * (0.01 * n_chars[d])
        assert got[d] == pytest.approx(s * min(fs, 2.25), rel=1e-9)


def test_functions_array_multiply_and_max(spark, fs_fixture):
    base = _fs_base(spark, fs_fixture)
    got_mul = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"weight": 3.0},
            {"filter": {"range": {"n_chars": {"gte": 100}}},
             "weight": 0.5},
        ]}})  # default score_mode/boost_mode: multiply
    for d, s in base.items():
        fs = 3.0 * (0.5 if d == 1 else 1.0)
        assert got_mul[d] == pytest.approx(s * fs, rel=1e-9)
    got_max = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"field_value_factor": {"field": "n_chars", "factor": 0.01}},
            {"weight": 1.5},
        ],
        "score_mode": "max"}})
    n_chars = {0: 10.0, 1: 200.0, 2: 50.0}
    for d, s in base.items():
        fs = max(0.01 * n_chars[d], 1.5)
        assert got_max[d] == pytest.approx(s * fs, rel=1e-9)


def test_functions_array_no_match_passthrough_and_replace(spark, fs_fixture):
    """No matching function -> the query score passes through unchanged
    (ES rule), for multiply AND replace boost modes."""
    base = _fs_base(spark, fs_fixture)
    got = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"filter": {"term": {"lang": "xx"}}, "weight": 9.0},
        ]}})
    assert got == pytest.approx(base, rel=1e-9)
    got_rep = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"filter": {"term": {"lang": "en"}}, "weight": 9.0},
        ],
        "boost_mode": "replace"}})
    for d, s in base.items():
        exp = 9.0 if d in (0, 2) else s
        assert got_rep[d] == pytest.approx(exp, rel=1e-9)


def test_functions_array_gauss_entry(spark, fs_fixture):
    base = _fs_base(spark, fs_fixture)
    got = _fs_run(spark, fs_fixture, {"function_score": {
        "query": {"match": {"content": "alpha"}},
        "functions": [
            {"gauss": {"n_chars": {"origin": 50.0, "scale": 100.0,
                                   "decay": 0.5}}, "weight": 2.0},
        ]}})
    sigma2 = -(100.0 ** 2) / (2.0 * math.log(0.5))
    n_chars = {0: 10.0, 1: 200.0, 2: 50.0}
    for d, s in base.items():
        g = math.exp(-((n_chars[d] - 50.0) ** 2) / (2.0 * sigma2))
        assert got[d] == pytest.approx(s * 2.0 * g, rel=1e-9)


# ------------------------------------------- aggs compiler significant_text

def test_aggs_compiler_significant_text(spark):
    """significant_text through dsl_search_aggs: whitespace tokens
    deduped per doc, JLH fg (query match set) vs bg (pre-query
    universe), min_doc_count prune, standalone-only options raise."""
    from elasticsearch_analysis_combo_spark.query.aggcompiler import (
        dsl_search_aggs,
    )

    rows = spark.createDataFrame(
        [(0, "crash disk error", "en"),
         (1, "crash kernel panic", "en"),
         (2, "crash disk full", "en"),
         (3, "sunny day outside", "fr"),
         (4, "warm sunny day", "fr"),
         (5, "crash day", "fr")],
        "doc_id long, text string, lang string",
    )
    body = {"query": {"term": {"lang": "en"}},
            "aggs": {"st": {"significant_text": {
                "field": "text", "size": 3, "min_doc_count": 2}}}}
    out = dsl_search_aggs(rows, body)
    got = {(r["agg"], r["key"], r["metric"]): r["value"]
           for r in out.collect()}
    # crash: fg 3/3 vs bg 4/6 -> (1 - 2/3) * (1 / (2/3)) = 0.5
    assert got[("st", "crash", "doc_count")] == 3.0
    assert got[("st", "crash", "bg_count")] == 4.0
    assert got[("st", "crash", "score")] == pytest.approx(0.5)
    # disk: fg 2/3 vs bg 2/6 -> (1/3) * 2 = 2/3
    assert got[("st", "disk", "doc_count")] == 2.0
    assert got[("st", "disk", "score")] == pytest.approx(2.0 / 3.0)
    # min_doc_count=2 prunes every fg-count-1 token
    assert {k for (_, k, _) in got} == {"crash", "disk"}
    with pytest.raises(ValueError, match="standalone-only"):
        dsl_search_aggs(rows, {"aggs": {"st": {"significant_text": {
            "field": "text", "filter_duplicate_text": True}}}})
    with pytest.raises(ValueError, match="sub-aggs"):
        dsl_search_aggs(rows, {"aggs": {"st": {
            "significant_text": {"field": "text"},
            "aggs": {"m": {"avg": {"field": "doc_id"}}}}}})


def test_functions_array_parse_errors():
    ok_inner = {"query": {"match": {"content": "alpha"}}}
    with pytest.raises(ValueError, match="score_mode"):
        _parse_function_score({**ok_inner, "functions": [{"weight": 1.0}],
                               "score_mode": "avg"})
    with pytest.raises(ValueError, match="must not be empty"):
        _parse_function_score({**ok_inner, "functions": []})
    with pytest.raises(ValueError, match="functions\\[\\] keys"):
        _parse_function_score({**ok_inner, "functions": [
            {"script_score": {"script": "1"}}]})
    with pytest.raises(ValueError, match="boost_mode"):
        _parse_function_score({**ok_inner, "functions": [{"weight": 1.0}],
                               "boost_mode": "avg"})
    with pytest.raises(ValueError, match="at most one function"):
        _parse_function_score({**ok_inner, "functions": [
            {"field_value_factor": {"field": "x"},
             "gauss": {"x": {"origin": 0.0, "scale": 1.0}}}]})
    # single-function shorthand still rejects stray keys
    with pytest.raises(ValueError, match="unsupported function_score"):
        _parse_function_score({**ok_inner, "min_score": 1.0,
                               "functions": [{"weight": 1.0}]})
