"""span_near (ordered / unordered proximity) unit vectors + equivalences."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.phrase import phrase_match
from elasticsearch_analysis_combo_spark.query.spans import (
    span_near_match,
    span_near_match_partitioned,
)

CFG = ComboConfig(["whitespace"])


def _postings(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    return posting_frame(stats, avgdl=10.0, block_size=16,
                         with_positions=True)


@pytest.fixture(scope="module")
def post(spark):
    rows = [
        (0, "alpha beta gamma"),          # adjacent in order
        (1, "beta alpha"),                # reversed, adjacent
        (2, "alpha x y z beta"),          # gap of 3
        (3, "alpha x beta alpha beta"),   # adjacent pair at (3,4) only
        (4, "gamma delta"),               # missing terms
        (5, "beta x x alpha"),            # reversed, gap 2
    ]
    p = _postings(spark, rows)
    p.frame.cache().count()
    return p


def _rows(out):
    return {
        (r["query_id"], r["doc_id"]): r["n_matches"]
        for r in out.collect()
    }


def test_ordered_slop0_is_adjacency(spark, post):
    got = _rows(span_near_match(spark, post, [(0, "alpha beta")], CFG,
                                slop=0, in_order=True))
    assert got == {(0, 0): 1, (0, 3): 1}


def test_ordered_slop_allows_gap_not_reorder(spark, post):
    got = _rows(span_near_match(spark, post, [(0, "alpha beta")], CFG,
                                slop=3, in_order=True))
    # doc 2: gap 3 matches at slop 3; docs 1 and 5 are reversed -> no;
    # doc 3: anchors at alpha positions 0 and 3 both chain
    assert got == {(0, 0): 1, (0, 2): 1, (0, 3): 2}


def test_unordered_accepts_reversal(spark, post):
    got = _rows(span_near_match(spark, post, [(0, "alpha beta")], CFG,
                                slop=0, in_order=False))
    # width = slop + n - 1 = 1: adjacent pairs in either order
    assert (0, 0) in got and (0, 1) in got and (0, 3) in got
    assert (0, 2) not in got and (0, 5) not in got
    wide = _rows(span_near_match(spark, post, [(0, "alpha beta")], CFG,
                                 slop=2, in_order=False))
    assert (0, 5) in wide  # reversed gap-2 fits width 3


def test_three_term_chain(spark, post):
    got = _rows(span_near_match(spark, post, [(0, "alpha beta gamma")], CFG,
                                slop=0, in_order=True))
    assert got == {(0, 0): 1}
    none = _rows(span_near_match(spark, post, [(0, "gamma beta alpha")], CFG,
                                 slop=0, in_order=True))
    assert none == {}


def test_ordered_slop0_equals_phrase_on_distinct_terms(spark):
    """For distinct-term queries, in_order slop=0 forces consecutive
    positions — identical match set to exact phrase_match."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stats = build_term_stats(docs, CFG, content_col="text")
    post = posting_frame(stats, avgdl=50.0, block_size=64,
                         with_positions=True)
    post.frame.cache()
    qs = [(0, "value table"), (1, "fast merge")]
    span = _rows(span_near_match(spark, post, qs, CFG, slop=0, in_order=True))
    phrase = _rows(phrase_match(spark, post, qs, CFG, slop=0))
    assert span == phrase


def test_partitioned_equals_single_task(spark):
    """Doc-range fan-out returns identical rows to the one-task-per-query
    evaluator, both orders, on a real corpus with stop-word terms."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stats = build_term_stats(docs, CFG, content_col="text")
    post = posting_frame(stats, avgdl=50.0, block_size=64,
                         with_positions=True)
    post.frame.cache()
    qs = [(0, "the value"), (1, "fast merge batch")]
    for in_order in (True, False):
        single = _rows(span_near_match(
            spark, post, qs, CFG, slop=2, in_order=in_order))
        part = _rows(span_near_match_partitioned(
            spark, post, qs, CFG, slop=2, in_order=in_order, range_bits=3))
        assert part == single and single


# ---------------------------------------------------------------------------
# span_or / span_first / span_not (round 4)


def test_span_or_union_positions(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import span_or_match

    got = _rows(span_or_match(spark, post, [(0, "alpha gamma")], CFG))
    assert got == {
        (0, 0): 2,  # alpha@0 + gamma@2
        (0, 1): 1,
        (0, 2): 1,
        (0, 3): 2,  # alpha@0, alpha@3
        (0, 4): 1,  # gamma@0
        (0, 5): 1,
    }


def test_span_or_missing_term_still_unions(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import span_or_match

    got = _rows(span_or_match(spark, post, [(0, "zzz gamma")], CFG))
    assert got == {(0, 0): 1, (0, 4): 1}
    assert _rows(span_or_match(spark, post, [(1, "zzz")], CFG)) == {}


def test_span_first_end_boundary(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_first_match,
    )

    # positions are 1-based; span end of the token at position p is p,
    # so end=2 admits beta within the first two tokens
    got = _rows(span_first_match(spark, post, [(0, "beta")], CFG, end=2))
    assert got == {(0, 0): 1, (0, 1): 1, (0, 5): 1}
    # end=1: only the very first token qualifies
    got1 = _rows(span_first_match(spark, post, [(0, "beta")], CFG, end=1))
    assert got1 == {(0, 1): 1, (0, 5): 1}


def test_span_not_post_window(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import span_not_match

    # alpha NOT immediately followed by beta (post=1)
    got = _rows(
        span_not_match(spark, post, [(0, "alpha", "beta")], CFG, pre=0, post=1)
    )
    assert got == {(0, 1): 1, (0, 2): 1, (0, 3): 1, (0, 5): 1}
    # pre=1: alpha NOT immediately preceded by beta — d1 drops out now
    got2 = _rows(
        span_not_match(spark, post, [(0, "alpha", "beta")], CFG, pre=1, post=0)
    )
    assert (0, 1) not in got2 and (0, 0) in got2


def test_span_not_empty_exclude_is_span_or(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_not_match,
        span_or_match,
    )

    a = _rows(span_not_match(spark, post, [(0, "alpha", "zzz")], CFG))
    b = _rows(span_or_match(spark, post, [(0, "alpha")], CFG))
    assert a == b


def test_span_family_partitioned_equals_single(spark, post):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_first_match,
        span_not_match,
        span_or_match,
    )

    assert _rows(
        span_or_match(spark, post, [(0, "alpha gamma")], CFG, range_bits=2)
    ) == _rows(span_or_match(spark, post, [(0, "alpha gamma")], CFG))
    assert _rows(
        span_first_match(spark, post, [(0, "beta")], CFG, end=2, range_bits=2)
    ) == _rows(span_first_match(spark, post, [(0, "beta")], CFG, end=2))
    assert _rows(
        span_not_match(
            spark, post, [(0, "alpha", "beta")], CFG, post=1, range_bits=2
        )
    ) == _rows(
        span_not_match(spark, post, [(0, "alpha", "beta")], CFG, post=1)
    )
