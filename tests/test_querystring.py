"""simple_query_string parser + evaluation semantics."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.querystring import (
    parse_simple_query_string,
    simple_query_string_topk,
)

CFG = ComboConfig(["whitespace"])


def test_parser_roles_and_kinds():
    pq = parse_simple_query_string('+alpha -beta "gamma delta" eps* -"x y"')
    got = [(c.kind, c.role, c.text) for c in pq.clauses]
    assert got == [
        ("term", "must", "alpha"),
        ("term", "must_not", "beta"),
        ("phrase", "should", "gamma delta"),
        ("prefix", "should", "eps"),
        ("phrase", "must_not", "x y"),
    ]


def test_parser_default_operator_and():
    pq = parse_simple_query_string("alpha beta", default_operator="and")
    assert [(c.role) for c in pq.clauses] == ["must", "must"]
    with pytest.raises(ValueError):
        parse_simple_query_string("x", default_operator="nope")


@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha gamma"),
        (2, "beta gamma delta"),
        (3, "alpha beta slowpoke"),
        (4, "gamma delta epsilon"),
        (5, "beta alpha"),  # reversed phrase
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG).cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = 6
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    post.frame.cache()
    return stats, term_df, post, n_docs, avgdl


def _docs_of(spark, fixture, text, default_operator="or"):
    stats, term_df, post, n_docs, avgdl = fixture
    out = simple_query_string_topk(
        spark, stats, term_df, post, [(0, text)], CFG, n_docs, avgdl,
        default_operator=default_operator, k=10,
    )
    return {r["doc_id"] for r in out.collect()}


def test_must_and_not(spark, fixture):
    assert _docs_of(spark, fixture, "+alpha -slowpoke") == {0, 1, 5}
    # default OR: any of the terms
    assert _docs_of(spark, fixture, "alpha delta") == {0, 1, 2, 3, 4, 5}
    # default AND: all terms
    assert _docs_of(spark, fixture, "alpha gamma",
                    default_operator="and") == {0, 1}


def test_phrase_filter_and_exclusion(spark, fixture):
    # phrase requires adjacency in order: doc 5 is "beta alpha"
    assert _docs_of(spark, fixture, '+"alpha beta"') == {0, 3}
    assert _docs_of(spark, fixture, '-"alpha beta" alpha') == {1, 5}
    # plain phrase (should role) still filters nothing out but scores:
    # docs matching any scoring term appear, phrase only filters when must
    got = _docs_of(spark, fixture, '"alpha beta"')
    assert got == {0, 3}  # should-phrase with no other clause: must-like


def test_prefix_clause(spark, fixture):
    assert _docs_of(spark, fixture, "+slow*") == {3}
    assert _docs_of(spark, fixture, "eps*") == {4}


def test_must_prefix_with_terms(spark, fixture):
    # must-prefix filters, extra should widens scoring but not match set
    assert _docs_of(spark, fixture, "+delt* alpha") == {2, 4}


def test_empty_must_clause_dropped(spark):
    """A must clause that analyzes to zero terms (stopword under a
    stop-stripping analyzer) is dropped, not a veto on the whole query."""
    cfg = ComboConfig(["standard"])  # lowercase + English stopword strip
    rows = [(0, "alpha beta"), (1, "beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, cfg).cache()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    out = simple_query_string_topk(
        spark, stats, term_df, None, [(0, "+the +alpha")], cfg,
        n_docs=2, avgdl=2.0, k=10,
    )
    assert {r["doc_id"] for r in out.collect()} == {0}
    # all-stopword must phrase is dropped the same way
    out2 = simple_query_string_topk(
        spark, stats, term_df, None, [(0, '+"the of" +alpha')], cfg,
        n_docs=2, avgdl=2.0, k=10,
    )
    assert {r["doc_id"] for r in out2.collect()} == {0}


def test_query_id_range_guard(spark, fixture):
    stats, term_df, post, n_docs, avgdl = fixture
    with pytest.raises(ValueError):
        simple_query_string_topk(
            spark, stats, term_df, post, [(1 << 22, "alpha")], CFG,
            n_docs, avgdl,
        )


def test_fuzzy_clause(spark, fixture):
    # "alpa~1" is one edit from "alpha"
    assert _docs_of(spark, fixture, "+alpa~1") == {0, 1, 3, 5}
    # fuzziness 0 degrades to an exact term
    assert _docs_of(spark, fixture, "+alpha~0") == {0, 1, 3, 5}
    # must_not fuzzy excludes the expansion's matches
    assert _docs_of(spark, fixture, "gamma -alpa~1") == {2, 4}


def test_parser_fuzzy():
    pq = parse_simple_query_string("alpa~1 +beta~2 word~0")
    got = [(c.kind, c.role, c.text, c.fuzz) for c in pq.clauses]
    assert got == [
        ("fuzzy", "should", "alpa", 1),
        ("fuzzy", "must", "beta", 2),
        ("term", "should", "word", 0),
    ]


def test_prefix_expansion_cap_and_no_driver_collect(spark):
    """The round-3 verdict's scale-killer: a 1-char prefix over the full
    vocabulary must (a) cap at max_expansions in dictionary order and
    (b) never collect the expansion to the driver — the expansion stays
    a distributed join table."""
    from pyspark.sql import DataFrame

    # 30 vocabulary terms under prefix 'x' across 10 docs
    rows = [
        (d, " ".join(f"x{d:02d}{j}" for j in range(3)) + " common")
        for d in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG).cache()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = 4.0

    orig_collect = DataFrame.collect

    def guarded(self, *a, **kw):
        raise AssertionError("driver-side collect during plan build")

    DataFrame.collect = guarded
    try:
        out = simple_query_string_topk(
            spark, stats, term_df, None, [(0, "x*")], CFG,
            n_docs=10, avgdl=avgdl, k=20, max_expansions=6,
        )
    finally:
        DataFrame.collect = orig_collect
    got = out.collect()
    # dictionary order: x000,x001,x002 (doc 0), x010,x011,x012 (doc 1) —
    # the first 6 expansions cover exactly docs 0 and 1
    assert {r["doc_id"] for r in got} == {0, 1}
    # uncapped: every doc matches
    out_all = simple_query_string_topk(
        spark, stats, term_df, None, [(0, "x*")], CFG,
        n_docs=10, avgdl=avgdl, k=20, max_expansions=1000,
    )
    assert {r["doc_id"] for r in out_all.collect()} == set(range(10))


def test_phrase_clause_scores_by_phrase_freq(spark, fixture):
    """A should-phrase scores with Lucene PhraseQuery algebra
    (idf_sum * satu(n_matches)), not by scattered constituents."""
    import math

    stats, term_df, post, n_docs, avgdl = fixture
    out = simple_query_string_topk(
        spark, stats, term_df, post, [(0, '"alpha beta"')], CFG,
        n_docs, avgdl, k=10,
    )
    got = {r["doc_id"]: r["score"] for r in out.collect()}
    dfs = {r["term"]: r["df"] for r in term_df.collect()}
    dls = {
        r["doc_id"]: r["dl"]
        for r in stats.select("doc_id", "dl").distinct().collect()
    }
    idf_sum = sum(
        math.log(1 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in ("alpha", "beta")
    )
    exp = {}
    for d in (0, 3):  # the two docs with the exact phrase, 1 anchor each
        f = 1.0
        exp[d] = idf_sum * f * 2.2 / (f + 1.2 * (1 - 0.75 + 0.75 * dls[d] / avgdl))
    assert set(got) == {0, 3}
    for d in exp:
        assert got[d] == pytest.approx(exp[d], rel=1e-9)


def test_partitioned_phrases_identical_and_dl_carried(spark, fixture):
    """partitioned_phrases routes phrase clauses through the doc-range
    fan-out evaluator (with_dl) — rows and scores identical to the
    single-task path; phrase hits carry dl so no stats re-scan joins it
    back."""
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match,
        phrase_match_partitioned,
    )

    stats, term_df, post, n_docs, avgdl = fixture
    for text in ('"alpha beta" gamma', '+"alpha beta" -delta'):
        a = simple_query_string_topk(
            spark, stats, term_df, post, [(0, text)], CFG, n_docs, avgdl,
            k=10,
        ).collect()
        b = simple_query_string_topk(
            spark, stats, term_df, post, [(0, text)], CFG, n_docs, avgdl,
            k=10, partitioned_phrases=True, range_bits=2,
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # dl on the hits equals the indexed document length, on BOTH paths
    dls = {
        r["doc_id"]: r["dl"]
        for r in stats.select("doc_id", "dl").distinct().collect()
    }
    for hits in (
        phrase_match(spark, post, [(0, "alpha beta")], CFG, with_dl=True),
        phrase_match_partitioned(
            spark, post, [(0, "alpha beta")], CFG, range_bits=2, with_dl=True
        ),
    ):
        rows = hits.collect()
        assert {r["doc_id"] for r in rows} == {0, 3}
        for r in rows:
            assert r["dl"] == dls[r["doc_id"]]
