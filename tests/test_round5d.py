"""Round-5d: wildcard/regexp SCORING-context clauses in the ES Query
DSL — capped dictionary expansion -> BM25 sum through the shared clause
evaluator (the same treatment prefix clauses get).

Reference scope: the host behind AnalysisComboPlugin.java:37-42 parses
wildcard/regexp query nodes; this engine re-expresses them over the
distributed term dictionary.
"""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.dsl import compile_dsl, dsl_topk
from elasticsearch_analysis_combo_spark.query.querystring import (
    wildcard_regex,
)

CFG = ComboConfig(["whitespace"])


@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        (0, "alpha beta gamma", "en"),
        (1, "alpha gamma", "en"),
        (2, "beta gamma delta", "de"),
        (3, "alpha beta slowpoke", "en"),
        (4, "gamma delta epsilon", "de"),
        (5, "beta alpha", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    stats = build_term_stats(df, CFG).cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    post.frame.cache()
    meta = df.select("doc_id", "lang")
    return stats, term_df, post, 6, avgdl, meta


def _run(spark, fixture, dsl, k=10, **kw):
    stats, term_df, post, n_docs, avgdl, meta = fixture
    return dsl_topk(
        spark, stats, term_df, post, [(0, dsl)], CFG, n_docs, avgdl,
        doc_meta=meta, k=k, **kw,
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["rank"], round(r["score"], 9)) for r in df.collect()
    )


def test_wildcard_regex_translation():
    assert wildcard_regex("a*b?c") == "^a.*b.c$"
    assert wildcard_regex("x.y") == "^x\\.y$"


def test_wildcard_scoring_equals_prefix(spark, fixture):
    # a trailing-* wildcard expands to the identical dictionary set as
    # the prefix clause, so scores match exactly
    wc = _rows(_run(spark, fixture, {"wildcard": {"content": "gamm*"}}))
    pf = _rows(_run(spark, fixture, {"prefix": {"content": "gamm"}}))
    assert wc == pf and wc  # non-empty


def test_wildcard_single_term_equals_match(spark, fixture):
    # "?amma" matches exactly the vocab term "gamma"
    wc = _rows(_run(spark, fixture, {"wildcard": {"content": "?amma"}}))
    m = _rows(_run(spark, fixture, {"match": {"content": "gamma"}}))
    assert wc == m and wc


def test_regexp_scoring_equals_term_sum(spark, fixture):
    # "al.*|be.*" expands to {alpha, beta}; BM25 sum over the expansion
    # equals the two-term OR match
    rx = _rows(_run(
        spark, fixture, {"regexp": {"content": {"value": "al.*|be.*"}}}
    ))
    m = _rows(_run(spark, fixture, {"match": {"content": "alpha beta"}}))
    assert rx == m and rx


def test_wildcard_must_not_excludes(spark, fixture):
    got = _rows(_run(spark, fixture, {"bool": {
        "must": [{"match": {"content": "alpha"}}],
        "must_not": [{"wildcard": {"content": "slow*"}}],
    }}))
    docs = {d for d, _, _ in got}
    assert docs == {0, 1, 5}  # doc 3 has slowpoke


def test_wildcard_expansion_cap(spark, fixture):
    # "*" matches the whole vocabulary; max_expansions=2 keeps the first
    # 2 terms in dictionary order (alpha, beta) — score == match on them
    capped = _rows(_run(
        spark, fixture, {"wildcard": {"content": "*"}}, max_expansions=2
    ))
    m = _rows(_run(spark, fixture, {"match": {"content": "alpha beta"}}))
    assert capped == m and capped


def test_compile_dsl_accepts_multiterm_kinds():
    cq = compile_dsl({"bool": {
        "should": [
            {"wildcard": {"content": "ga*"}},
            {"regexp": {"content": {"value": "d.*a"}}},
        ],
    }})
    kinds = sorted(c.kind for c in cq.parsed.clauses)
    assert kinds == ["regexp", "wildcard"]


# ---------------------------------------------------------------- aggs v2

from elasticsearch_analysis_combo_spark.query.aggcompiler import (  # noqa: E402
    dsl_aggs,
    dsl_search_aggs,
)


@pytest.fixture(scope="module")
def sales(spark):
    rows = [
        # (doc_id, status, prio, price, qty, ts)
        (1, "O", "HI", 10.0, 1, "2024-01-01 00:00:00"),
        (2, "O", "HI", 30.0, 3, "2024-01-05 00:00:00"),
        (3, "O", "LO", 50.0, 2, "2024-02-10 00:00:00"),
        (4, "F", "HI", 100.0, 1, "2024-02-15 00:00:00"),
        (5, "F", "LO", 200.0, 4, "2024-03-01 00:00:00"),
        (6, "P", "LO", 300.0, 5, "2024-03-20 00:00:00"),
        (7, "P", None, None, None, "2024-03-25 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, status string, prio string, price double, "
        "qty long, ts string",
    )
    return df.withColumn("ts", F.to_timestamp("ts"))


def _avals(df):
    return {
        (r["agg"], r["key"], r["metric"]): r["value"] for r in df.collect()
    }


def test_extended_stats_metric(sales):
    out = _avals(dsl_aggs(sales, {
        "t": {"terms": {"field": "status", "size": 10},
              "aggs": {"es": {"extended_stats": {"field": "price"}}}},
    }))
    assert out[("t", "O", "es.count")] == 3.0
    assert out[("t", "O", "es.sum")] == 90.0
    assert out[("t", "O", "es.sum_of_squares")] == 3500.0
    assert abs(out[("t", "O", "es.variance")] - (3500.0 / 3 - 900.0)) < 1e-9


def test_weighted_avg_metric(sales):
    out = _avals(dsl_aggs(sales, {
        "w": {"weighted_avg": {"value": {"field": "price"},
                               "weight": {"field": "qty"}}},
    }))
    assert abs(out[("w", "", "w")] - 2600.0 / 16.0) < 1e-9


def test_multi_terms_bucket(sales):
    out = _avals(dsl_aggs(sales, {
        "mt": {"multi_terms": {"terms": [{"field": "status"},
                                         {"field": "prio"}],
                               "size": 2}},
    }))
    # doc 7 drops (null prio); top-2 by count desc, key asc: O|HI(2), F|HI(1)
    assert set(out) == {("mt", "O|HI", "doc_count"),
                        ("mt", "F|HI", "doc_count")}
    assert out[("mt", "O|HI", "doc_count")] == 2.0


def test_date_range_bucket(sales):
    out = _avals(dsl_aggs(sales, {
        "dr": {"date_range": {"field": "ts", "ranges": [
            {"to": "2024-02-01 00:00:00", "key": "jan"},
            {"from": "2024-02-01 00:00:00", "to": "2024-03-10 00:00:00",
             "key": "feb"},
            {"from": "2024-03-10 00:00:00", "key": "mar"},
        ]}},
    }))
    assert out[("dr", "jan", "doc_count")] == 2.0
    assert out[("dr", "feb", "doc_count")] == 3.0
    assert out[("dr", "mar", "doc_count")] == 2.0


def test_derivative_and_cumulative_sum(sales):
    out = _avals(dsl_aggs(sales, {
        "h": {"histogram": {"field": "price", "interval": 100.0},
              "aggs": {"cum": {"cumulative_sum": {"buckets_path": "_count"}},
                       "d": {"derivative": {"buckets_path": "_count"}}}},
    }))
    assert out[("h", "0.0000", "cum")] == 3.0
    assert out[("h", "100.0000", "cum")] == 4.0
    assert out[("h", "300.0000", "cum")] == 6.0
    assert out[("h", "0.0000", "d")] is None
    assert out[("h", "100.0000", "d")] == -2.0
    assert out[("h", "300.0000", "d")] == 0.0


def test_bucket_script_and_selector(sales):
    out = _avals(dsl_aggs(sales, {
        "t": {"terms": {"field": "status", "size": 10},
              "aggs": {"total": {"sum": {"field": "price"}},
                       "per_doc": {"bucket_script": {
                           "buckets_path": {"s": "total", "c": "_count"},
                           "script": "s / c"}}}},
    }))
    assert out[("t", "O", "per_doc")] == 30.0
    assert out[("t", "P", "per_doc")] == 150.0  # 300 / 2 docs
    sel = _avals(dsl_aggs(sales, {
        "t": {"terms": {"field": "status", "size": 10},
              "aggs": {"keep": {"bucket_selector": {
                           "buckets_path": {"c": "_count"},
                           "script": "c >= 3"}},
                       "p": {"terms": {"field": "prio", "size": 10}}}},
    }))
    tops = {k[1] for k in sel if k[0] == "t"}
    assert tops == {"O"}
    # children semi-join the surviving buckets
    inner = {k[1] for k in sel if k[0] == "t>p"}
    assert inner == {"O|HI", "O|LO"}


def test_sibling_pipeline_aggs(sales):
    out = _avals(dsl_aggs(sales, {
        "t": {"terms": {"field": "status", "size": 10},
              "aggs": {"s": {"sum": {"field": "price"}}}},
        "avg_s": {"avg_bucket": {"buckets_path": "t>s"}},
        "cstats": {"stats_bucket": {"buckets_path": "t>_count"}},
    }))
    assert abs(out[("avg_s", "", "avg_s")] - 230.0) < 1e-9  # (90+300+300)/3
    assert out[("cstats", "", "cstats.min")] == 2.0
    assert out[("cstats", "", "cstats.max")] == 3.0
    assert out[("cstats", "", "cstats.sum")] == 7.0


def test_nested_sibling_pipeline(sales):
    out = _avals(dsl_aggs(sales, {
        "t": {"terms": {"field": "status", "size": 10},
              "aggs": {
                  "p": {"terms": {"field": "prio", "size": 10}},
                  "avg_p": {"avg_bucket": {"buckets_path": "p>_count"}},
              }},
    }))
    assert abs(out[("t>avg_p", "O", "avg_p")] - 1.5) < 1e-9  # HI 2, LO 1
    assert out[("t>avg_p", "F", "avg_p")] == 1.0
    assert out[("t>avg_p", "P", "avg_p")] == 1.0


def test_global_bucket_escapes_query(sales):
    out = _avals(dsl_search_aggs(sales, {
        "query": {"term": {"status": "O"}},
        "aggs": {
            "filtered_max": {"max": {"field": "price"}},
            "all": {"global": {},
                    "aggs": {"mx": {"max": {"field": "price"}}}},
        },
    }))
    assert out[("filtered_max", "", "filtered_max")] == 50.0
    assert out[("all", "", "doc_count")] == 7.0
    assert out[("all>mx", "", "mx")] == 300.0


# ------------------------------------------------- DSL mpp / mlt routing

import math


def test_dsl_match_phrase_prefix_scores(spark, fixture):
    # "beta gamm*" -> fixed constituent [beta], prefix expands to {gamma};
    # matches docs with adjacent "beta gamma": 0 and 2 (doc 1 has a gap)
    got = _run(spark, fixture, {"match_phrase_prefix": {"content": "beta gamm"}})
    rows = {r["doc_id"]: r["score"] for r in got.collect()}
    assert set(rows) == {0, 2}
    # score = idf(beta) * satu(n_matches=1) with dl of the doc
    n, k1, b = 6, 1.2, 0.75
    stats, term_df, post, n_docs, avgdl, meta = fixture
    idf_beta = math.log(1.0 + (n - 4 + 0.5) / (4 + 0.5))  # beta in 4 docs
    for d, dl in ((0, 3.0), (2, 3.0)):
        want = idf_beta * 1 * (k1 + 1) / (1 + k1 * (1 - b + b * dl / avgdl))
        assert abs(rows[d] - want) < 1e-9


def test_dsl_match_phrase_prefix_single_term_raises(spark, fixture):
    with pytest.raises(ValueError):
        _run(spark, fixture, {"match_phrase_prefix": {"content": "gamm"}})


def test_dsl_more_like_this_matches_direct(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.morelikethis import (
        more_like_this,
    )

    stats, term_df, post, n_docs, avgdl, meta = fixture
    via_dsl = _rows(_run(spark, fixture, {"more_like_this": {
        "like": {"_id": 0}, "min_doc_freq": 1}}))
    direct = sorted(
        (r["doc_id"], r["rank"], round(r["score"], 9))
        for r in more_like_this(
            spark, stats, term_df, [0], n_docs, avgdl, min_doc_freq=1,
            k=10,
        ).collect()
    )
    assert via_dsl == direct and via_dsl
    # the seed never appears in its own results
    assert 0 not in {d for d, _, _ in via_dsl}


# ------------------------------------------------ body rescore + global

from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine  # noqa: E402


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    docs = [
        (1, "spark merges the index segments", "en", 10),
        (2, "the index holds spark postings", "en", 20),
        (3, "nothing relevant here at all", "de", 30),
        (4, "spark index spark index always", "en", 40),
        (5, "segments compact under merge pressure", "de", 50),
    ]
    corpus = spark.createDataFrame(
        docs, "doc_id long, content string, lang string, n_chars long"
    )
    e = ComboSearchEngine(
        spark, ComboConfig(["whitespace"]),
        str(tmp_path_factory.mktemp("r5d") / "idx"), salt_shards=2,
    )
    e.index(corpus)
    e._doc_meta = corpus.select("doc_id", "lang", "n_chars")
    return e


def test_search_aggs_rescore_section_matches_facade(eng):
    body = {
        "query": {"match": {"content": "spark index"}},
        "size": 5,
        "rescore": {
            "window_size": 10,
            "query": {"rescore_query":
                      {"match_phrase": {"content": "spark index"}},
                      "rescore_query_weight": 3.0},
        },
    }
    hits, _ = eng.search_aggs(body, eng._doc_meta)
    direct = eng.rescore(
        "spark index", window_size=10, rescore_weight=3.0, k=5,
        rescore_query="spark index",
    )
    got = sorted((r["doc_id"], r["rank"]) for r in hits.collect())
    want = sorted((r["doc_id"], r["rank"]) for r in direct.collect())
    assert got == want and got
    # doc 4 has "spark index" twice adjacent -> the phrase boost keeps
    # it on top
    top = min(hits.collect(), key=lambda r: r["rank"])
    assert top["doc_id"] == 4


def test_rescore_distinct_phrase_changes_ranking(eng):
    # same base query, rescoring by a phrase only doc 1 contains
    boosted = eng.rescore(
        "index segments", window_size=10, rescore_weight=5.0, k=5,
        rescore_query="index segments",
    )
    top = min(boosted.collect(), key=lambda r: r["rank"])
    assert top["doc_id"] == 1


def test_search_aggs_global_agg_through_facade(eng):
    body = {
        "query": {"match": {"content": "spark"}},
        "size": 0,
        "aggs": {
            "langs": {"terms": {"field": "lang", "size": 5}},
            "all": {"global": {},
                    "aggs": {"n": {"value_count": {"field": "doc_id"}}}},
        },
    }
    hits, aggs = eng.search_aggs(body, eng._doc_meta)
    out = {(r["agg"], r["key"], r["metric"]): r["value"]
           for r in aggs.collect()}
    assert out[("langs", "en", "doc_count")] == 3.0  # spark docs 1,2,4
    assert ("langs", "de", "doc_count") not in out
    assert out[("all", "", "doc_count")] == 5.0  # global escapes query
    assert out[("all>n", "", "n")] == 5.0


def test_significant_terms_field(sales):
    # fg = price >= 100 -> docs 4,5,6 (statuses F,F,P); bg = all 7
    out = _avals(dsl_search_aggs(sales, {
        "query": {"range": {"price": {"gte": 100}}},
        "aggs": {"sig": {"significant_terms": {
            "field": "status", "size": 5, "min_doc_count": 1}}},
    }))
    # F: fg 2/3 vs bg 2/7 -> jlh (2/3 - 2/7) * ((2/3)/(2/7))
    want_f = (2 / 3 - 2 / 7) * ((2 / 3) / (2 / 7))
    assert abs(out[("sig", "F", "score")] - want_f) < 1e-9
    assert out[("sig", "F", "doc_count")] == 2.0
    assert out[("sig", "F", "bg_count")] == 2.0
    # O never appears in fg -> no row (fg join is inner)
    assert ("sig", "O", "score") not in out


def test_percentile_ranks_metric(sales):
    # prices 10,30,50,100,200,300 (null dropped): <=50 -> 3/6, <=250 -> 5/6
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "pr": {"percentile_ranks": {"field": "price",
                                    "values": [50.0, 250.0]}},
    }}))
    assert out[("pr", "", "pr.50")] == pytest.approx(100.0 * 3 / 6)
    assert out[("pr", "", "pr.250")] == pytest.approx(100.0 * 5 / 6)


def test_boxplot_metric_grouped(sales):
    # boxplot under terms(status): exact quartiles (percentile_cont)
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "t": {"terms": {"field": "status", "size": 5},
              "aggs": {"bp": {"boxplot": {"field": "price"}}}},
    }}))
    # O: 10,30,50 -> q1=20, q2=30, q3=40; min 10 max 50
    assert out[("t", "O", "bp.min")] == 10.0
    assert out[("t", "O", "bp.q1")] == pytest.approx(20.0)
    assert out[("t", "O", "bp.q2")] == pytest.approx(30.0)
    assert out[("t", "O", "bp.q3")] == pytest.approx(40.0)
    assert out[("t", "O", "bp.max")] == 50.0
    # P: 300 (null dropped) -> all five collapse to 300
    for m in ("min", "q1", "q2", "q3", "max"):
        assert out[("t", "P", f"bp.{m}")] == 300.0


def test_percentile_ranks_in_filters_conditional(sales):
    # inside a filters bucket the field wraps in when(pred): the probe
    # counts only the bucket's rows (O: 10,30,50 -> <=30 is 2/3)
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "f": {"filters": {"filters": {"open": "status = 'O'"}},
              "aggs": {"pr": {"percentile_ranks": {
                  "field": "price", "values": [30.0]}}}},
    }}))
    assert out[("f", "open", "pr.30")] == pytest.approx(100.0 * 2 / 3)


def test_search_aggs_from_and_min_score(eng):
    base = {"query": {"match": {"content": "spark index"}}, "size": 10}
    hits, _ = eng.search_aggs(base, eng._doc_meta)
    all_rows = sorted(
        (r["rank"], r["doc_id"], r["score"]) for r in hits.collect()
    )
    # from=1, size=2 -> global ranks 2..3 of the same ranking
    page, _ = eng.search_aggs(dict(base, **{"from": 1, "size": 2}),
                              eng._doc_meta)
    got = sorted((r["rank"], r["doc_id"], r["score"])
                 for r in page.collect())
    assert got == all_rows[1:3]
    # min_score at the 2nd hit's score keeps exactly the rank prefix
    cut = all_rows[1][2]
    ms, _ = eng.search_aggs(dict(base, min_score=cut), eng._doc_meta)
    got = sorted((r["rank"], r["doc_id"]) for r in ms.collect())
    assert got == [(r, d) for r, d, s in all_rows if s >= cut]


def test_search_aggs_min_score_guards(eng):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_score with aggs"):
        eng.search_aggs({"query": {"match": {"content": "spark"}},
                         "min_score": 1.0,
                         "aggs": {"l": {"terms": {"field": "lang"}}}},
                        eng._doc_meta)
    with _pytest.raises(ValueError, match="search_after instead"):
        eng.search_aggs({"query": {"match": {"content": "spark"}},
                         "from": 5, "sort": [{"n_chars": "asc"}]},
                        eng._doc_meta)


def test_search_aggs_collapse_section(eng):
    body = {"query": {"match": {"content": "spark index"}},
            "collapse": {"field": "lang"}, "size": 5}
    hits, _ = eng.search_aggs(body, eng._doc_meta)
    direct = eng.search_collapse("spark index", eng._doc_meta, "lang", k=5)
    got = sorted((r["rank"], r["doc_id"], round(r["score"], 9))
                 for r in hits.collect())
    want = sorted((r["rank"], r["doc_id"], round(r["score"], 9))
                  for r in direct.collect())
    assert got == want and got
    # one hit per lang value
    langs = [r["collapse_value"] for r in hits.collect()]
    assert len(langs) == len(set(langs))


def test_rare_terms_bucket(sales):
    # each prio count: HI=3, LO=3, null dropped; doc_id as pseudo-keys:
    # use status: O=3, F=2, P=2 -> max_doc_count=2 keeps F and P
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "rare": {"rare_terms": {"field": "status", "max_doc_count": 2},
                 "aggs": {"s": {"sum": {"field": "price"}}}},
    }}))
    keys = {k[1] for k in out if k[0] == "rare"}
    assert keys == {"F", "P"}
    assert out[("rare", "F", "doc_count")] == 2.0
    assert out[("rare", "F", "s")] == 300.0
    assert ("rare", "O", "doc_count") not in out


def test_top_metrics_metric(sales):
    # per status, the price of the max-qty row (qty unique per status:
    # O qtys 1,3,2 -> max 3 is doc2 price 30; F 1,4 -> doc5 price 200;
    # P 5,null -> doc6 price 300)
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "t": {"terms": {"field": "status", "size": 5},
              "aggs": {"tm": {"top_metrics": {
                  "metrics": {"field": "price"},
                  "sort": {"qty": "desc"}}}}},
    }}))
    assert out[("t", "O", "tm.price")] == 30.0
    assert out[("t", "F", "tm.price")] == 200.0
    assert out[("t", "P", "tm.price")] == 300.0


def test_date_histogram_fixed_interval(sales):
    # 12h epoch buckets: all ts are midnight, so each lands at its own
    # day's 00:00 bucket; 30m over a synthetic minute spread
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "h12": {"date_histogram": {"field": "ts",
                                   "fixed_interval": "12h"}},
    }}))
    assert out[("h12", "2024-01-01 00:00:00", "doc_count")] == 1.0
    assert out[("h12", "2024-03-20 00:00:00", "doc_count")] == 1.0
    assert sum(v for k, v in out.items()
               if k[0] == "h12" and k[2] == "doc_count") == 7.0


def test_filters_other_bucket_misplaced_raises(sales):
    # other_bucket_key belongs INSIDE the filters body; a node-level
    # placement is malformed and must raise, never silently mis-execute
    with pytest.raises(ValueError, match="exactly one type"):
        dsl_search_aggs(sales, {"aggs": {
            "f": {"filters": {"filters": {"open": "status = 'O'"}},
                  "other_bucket_key": "rest"},
        }}).collect()


def test_filters_other_bucket_inside_body(sales):
    out = _avals(dsl_search_aggs(sales, {"aggs": {
        "f": {"filters": {"filters": {"open": "status = 'O'",
                                      "filled": "status = 'F'"},
                          "other_bucket_key": "rest"}},
    }}))
    assert out[("f", "open", "doc_count")] == 3.0
    assert out[("f", "filled", "doc_count")] == 2.0
    assert out[("f", "rest", "doc_count")] == 2.0  # the two P docs


def test_composite_bucket_paging(sales):
    body = {"aggs": {"c": {
        "composite": {"sources": [
            {"st": {"terms": {"field": "status"}}},
            {"pr": {"terms": {"field": "prio"}}}],
            "size": 2},
        "aggs": {"s": {"sum": {"field": "price"}}}}}}
    out = _avals(dsl_search_aggs(sales, body))
    # asc tuple order: (F,HI), (F,LO) are the first two composite keys
    keys = sorted({k[1] for k in out if k[0] == "c"})
    assert keys == ["F|HI", "F|LO"]
    assert out[("c", "F|HI", "doc_count")] == 1.0
    assert out[("c", "F|HI", "s")] == 100.0
    # page 2 via after: strictly after (F, LO)
    body["aggs"]["c"]["composite"]["after"] = {"st": "F", "pr": "LO"}
    out2 = _avals(dsl_search_aggs(sales, body))
    keys2 = sorted({k[1] for k in out2 if k[0] == "c"})
    assert keys2 == ["O|HI", "O|LO"]
    # null prio doc (7) never appears on any page
    assert not any(k[1].endswith("|") for k in out2)


def test_composite_histogram_source(sales):
    out = _avals(dsl_search_aggs(sales, {"aggs": {"c": {
        "composite": {"sources": [
            {"band": {"histogram": {"field": "price",
                                    "interval": 100.0}}}],
            "size": 10}}}}))
    assert out[("c", "0.0000", "doc_count")] == 3.0  # 10,30,50
    assert out[("c", "100.0000", "doc_count")] == 1.0
    assert out[("c", "300.0000", "doc_count")] == 1.0


def test_composite_guards(sales):
    with pytest.raises(ValueError, match="must be metrics"):
        dsl_search_aggs(sales, {"aggs": {"c": {
            "composite": {"sources": [
                {"st": {"terms": {"field": "status"}}}]},
            "aggs": {"t": {"terms": {"field": "prio"}}}}}}).collect()
    with pytest.raises(ValueError, match="order must be asc"):
        dsl_search_aggs(sales, {"aggs": {"c": {
            "composite": {"sources": [
                {"st": {"terms": {"field": "status",
                                  "order": "desc"}}}]}}}}).collect()
