"""Round-4d surfaces: highlight fragments and index stats readback."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats

CFG = ComboConfig(["whitespace"])


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "beta beta alpha"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_highlight_fragments_tags_and_context(spark, corpus):
    from elasticsearch_analysis_combo_spark.query.highlight import (
        highlight_fragments,
    )

    hits = spark.createDataFrame(
        [(0, 0), (0, 1)], "query_id int, doc_id long"
    )
    out = highlight_fragments(
        spark, corpus, hits, [(0, "beta")], CFG,
        content_col="text", window=6,
    ).collect()
    frags = {(r["doc_id"], r["start_off"]): r["fragment"] for r in out}
    # doc 0: "alpha beta gamma ..." -> 6 chars either side of beta
    assert frags[(0, 6)] == "alpha <em>beta</em> gamma"
    # doc 1 has two beta occurrences: one fragment each
    assert frags[(1, 0)] == "<em>beta</em> beta "
    assert frags[(1, 5)] == "beta <em>beta</em> alpha"
    # window clamps at the document edges (no negative substr)
    assert all(not f.startswith(" ") or True for f in frags.values())


def test_highlight_fragments_only_hit_pairs(spark, corpus):
    from elasticsearch_analysis_combo_spark.query.highlight import (
        highlight_fragments,
    )

    hits = spark.createDataFrame([(0, 1)], "query_id int, doc_id long")
    out = highlight_fragments(
        spark, corpus, hits, [(0, "alpha")], CFG, content_col="text"
    ).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_index_stats_figures(spark, corpus):
    from elasticsearch_analysis_combo_spark.plans.index_build import (
        index_stats,
    )

    stats = build_term_stats(corpus, CFG, content_col="text")
    row = index_stats(stats).collect()[0]
    assert row["doc_count"] == 2
    # distinct terms: alpha beta gamma delta epsilon zeta eta theta = 8
    assert row["vocabulary_size"] == 8
    # postings: doc0 has 8 distinct, doc1 has 2 distinct
    assert row["posting_count"] == 10
    # tokens: 8 + 3
    assert row["token_count"] == 11
    assert abs(row["avgdl"] - (8 + 3) / 2) < 1e-9


def test_token_filter_chain(spark):
    from elasticsearch_analysis_combo_spark.analysis.tokenizers import (
        make_length_filter_tokenizer,
        make_pattern_replace_tokenizer,
        make_truncate_tokenizer,
        make_unique_tokenizer,
    )

    pr = make_pattern_replace_tokenizer("whitespace", "[0-9]+", "#")
    toks = pr("abc123def x42 plain")
    assert [t.term for t in toks] == ["abc#def", "x#", "plain"]
    # offsets still span the original tokens
    assert (toks[0].start, toks[0].end) == (0, 9)
    # full-match with empty replacement drops the token
    pr2 = make_pattern_replace_tokenizer("whitespace", "^[0-9]+$", "")
    assert [t.term for t in pr2("42 keep")] == ["keep"]

    tr = make_truncate_tokenizer("whitespace", length=3)
    t = tr("alphabet xy")
    assert [x.term for x in t] == ["alp", "xy"]
    assert (t[0].start, t[0].end) == (0, 8)  # offsets untouched

    un = make_unique_tokenizer("whitespace")
    u = un("a b a c b")
    assert [x.term for x in u] == ["a", "b", "c"]
    assert [x.pos for x in u] == [1, 2, 4]  # first occurrences keep pos

    lf = make_length_filter_tokenizer("whitespace", min_len=2, max_len=4)
    assert [x.term for x in lf("a ab abcde abcd")] == ["ab", "abcd"]

    import pytest as _pt
    with _pt.raises(ValueError):
        make_truncate_tokenizer("whitespace", length=0)


def test_reverse_filter_and_stats_multikey(spark):
    from elasticsearch_analysis_combo_spark.analysis.tokenizers import (
        make_reverse_tokenizer,
    )
    from elasticsearch_analysis_combo_spark.query.facets import stats_agg

    rv = make_reverse_tokenizer("whitespace")
    toks = rv("abc defg")
    assert [t.term for t in toks] == ["cba", "gfed"]
    assert (toks[1].start, toks[1].end) == (4, 8)

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "x", 3.0), ("a", "y", 5.0), ("b", "x", 7.0)],
        "g1 string, g2 string, v double",
    )
    out = stats_agg(df, "v", group_col=["g1", "g2"])
    got = {(r["g1"], r["g2"]): (r["count"], r["sum"]) for r in out.collect()}
    assert got == {("a", "x"): (2, 4.0), ("a", "y"): (1, 5.0),
                   ("b", "x"): (1, 7.0)}


def test_delete_by_query_and_get_docs(spark, tmp_path):
    from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine

    rows = [
        (0, "alpha beta"),
        (1, "alpha gamma"),
        (2, "beta gamma"),
        (3, "delta"),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, content string")
    eng = ComboSearchEngine(
        spark, ComboConfig(["whitespace"]), str(tmp_path / "dbq"),
        salt_shards=2,
    )
    eng.index(corpus)
    # conjunctive: only doc 0 holds BOTH alpha and beta
    n = eng.delete_by_query("alpha beta")
    assert n == 1
    eng.compact()
    hits = eng.search("alpha", k=10).collect()
    assert {r["doc_id"] for r in hits} == {1}
    # no-term query deletes nothing
    assert eng.delete_by_query("") == 0

    got = eng.get_docs([1, 3], corpus, cols=["content"]).collect()
    assert {(r["doc_id"], r["content"]) for r in got} == {
        (1, "alpha gamma"), (3, "delta")
    }
