"""function_score (field_value_factor / gauss) and phrase rescore."""

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk
from elasticsearch_analysis_combo_spark.query.functionscore import (
    function_score_topk,
    rescore_phrase_topk,
)

CFG = ComboConfig(["whitespace"])


@pytest.fixture(scope="module")
def fixture(spark):
    rows = [
        (0, "alpha beta", 10.0),
        (1, "alpha alpha", 100.0),
        (2, "alpha gamma", 1000.0),
        (3, "beta alpha delta", 50.0),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, wt double")
    stats = build_term_stats(corpus, CFG, content_col="text").cache()
    stats.count()
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = stats.select("doc_id", "dl").distinct().agg(
        F.avg("dl")
    ).collect()[0][0]
    return corpus, stats, term_df, 4, avgdl


def test_field_value_factor_reorders(spark, fixture):
    corpus, stats, term_df, n, avgdl = fixture
    out = function_score_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        function="field_value_factor", factor=1.0, modifier="log1p",
        boost_mode="multiply", k=4,
    ).collect()
    # verify the exact combined value for the winner
    base = {
        r["doc_id"]: r["score"]
        for r in bm25_exhaustive_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, k=10
        ).collect()
    }
    wts = {0: 10.0, 1: 100.0, 2: 1000.0, 3: 50.0}
    expect = {d: s * math.log1p(wts[d]) for d, s in base.items()}
    got = {r["doc_id"]: r["score"] for r in out}
    for d in got:
        assert abs(got[d] - expect[d]) < 1e-9
    # ranking follows the combined score
    order = [r["doc_id"] for r in out]
    assert order == sorted(expect, key=lambda d: (-round(expect[d], 6), d))


def test_gauss_decay_prefers_origin(spark, fixture):
    corpus, stats, term_df, n, avgdl = fixture
    out = function_score_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        function="gauss", origin=50.0, scale=30.0, decay=0.5, k=4,
    ).collect()
    assert out[0]["doc_id"] == 3  # wt exactly at origin
    with pytest.raises(ValueError):
        function_score_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus,
            "wt", function="nope",
        )


def test_gauss_invalid_decay_raises(spark, fixture):
    corpus, stats, term_df, n, avgdl = fixture
    for bad in (1.0, 0.0, 1.5, -0.2):
        with pytest.raises(ValueError, match="decay"):
            function_score_topk(
                spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl,
                corpus, "wt", function="gauss", decay=bad,
            )


def test_missing_meta_rows_keep_base_score(spark, fixture):
    """Docs without a doc_meta row are never dropped: gauss keeps the
    base score (decay 1.0); fvf without `missing` keeps the base score;
    fvf with `missing` uses it as the field value."""
    corpus, stats, term_df, n, avgdl = fixture
    partial = corpus.filter(F.col("doc_id") != 1)  # doc 1 has no meta row
    base = {
        r["doc_id"]: round(r["score"], 9)
        for r in bm25_exhaustive_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, k=10
        ).collect()
    }
    g = function_score_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, partial,
        "wt", function="gauss", origin=50.0, scale=30.0, decay=0.5, k=10,
    ).collect()
    got = {r["doc_id"]: round(r["score"], 9) for r in g}
    assert 1 in got and abs(got[1] - base[1]) < 1e-6
    fv = function_score_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, partial,
        "wt", function="field_value_factor", factor=1.0, modifier="log1p",
        k=10, missing=100.0,
    ).collect()
    got_fv = {r["doc_id"]: round(r["score"], 9) for r in fv}
    assert abs(got_fv[1] - base[1] * math.log1p(100.0)) < 1e-6


def test_rescore_boosts_phrase_docs(spark, fixture):
    corpus, stats, term_df, n, avgdl = fixture
    post = posting_frame(stats, avgdl=avgdl, block_size=16,
                         with_positions=True)
    out = rescore_phrase_topk(
        spark, post, stats, term_df, [(0, "alpha beta")], CFG, n, avgdl,
        window_size=10, rescore_weight=10.0, k=4,
    ).collect()
    # doc 0 contains the exact phrase "alpha beta" -> massive boost wins;
    # doc 3 has "beta alpha" (reversed) -> no boost
    assert out[0]["doc_id"] == 0
    scores = {r["doc_id"]: r["score"] for r in out}
    assert scores[0] > scores[3] + 5.0


# ---------------------------------------------------------------------------
# rank_feature / distance_feature (round 4)


def test_rank_feature_saturation_values(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        rank_feature_topk,
    )

    corpus, stats, term_df, n, avgdl = fixture
    out = rank_feature_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        function="saturation", pivot=100.0, boost=2.0, k=4,
    ).collect()
    base = {
        r["doc_id"]: r["score"]
        for r in bm25_exhaustive_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, k=10
        ).collect()
    }
    wts = {0: 10.0, 1: 100.0, 2: 1000.0, 3: 50.0}
    got = {r["doc_id"]: r["score"] for r in out}
    for d, s in got.items():
        exp = base[d] + 2.0 * wts[d] / (wts[d] + 100.0)
        assert abs(s - round(exp, 6)) < 1e-6


def test_rank_feature_log_and_sigmoid_and_missing(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        rank_feature_topk,
    )

    corpus, stats, term_df, n, avgdl = fixture
    # drop doc 2's feature row: it must keep its base score (gain 0)
    meta = corpus.filter("doc_id <> 2")
    out = rank_feature_topk(
        spark, stats, term_df, [(0, "gamma")], CFG, n, avgdl, meta, "wt",
        function="log", scaling_factor=1.0, boost=1.0, k=4,
    ).collect()
    base = {
        r["doc_id"]: r["score"]
        for r in bm25_exhaustive_topk(
            spark, stats, term_df, [(0, "gamma")], CFG, n, avgdl, k=10
        ).collect()
    }
    got = {r["doc_id"]: r["score"] for r in out}
    assert abs(got[2] - round(base[2], 6)) < 1e-6  # missing => +0
    # sigmoid with exponent 1 == saturation
    s1 = rank_feature_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        function="sigmoid", pivot=100.0, exponent=1.0, boost=2.0, k=4,
    ).collect()
    s2 = rank_feature_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        function="saturation", pivot=100.0, boost=2.0, k=4,
    ).collect()
    assert {(r["doc_id"], r["score"]) for r in s1} == {
        (r["doc_id"], r["score"]) for r in s2
    }


def test_distance_feature_halves_at_pivot(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        distance_feature_topk,
    )

    corpus, stats, term_df, n, avgdl = fixture
    out = distance_feature_topk(
        spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus, "wt",
        origin=100.0, pivot=50.0, boost=4.0, k=4,
    ).collect()
    base = {
        r["doc_id"]: r["score"]
        for r in bm25_exhaustive_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, k=10
        ).collect()
    }
    wts = {0: 10.0, 1: 100.0, 2: 1000.0, 3: 50.0}
    got = {r["doc_id"]: r["score"] for r in out}
    for d, s in got.items():
        exp = base[d] + 4.0 * 50.0 / (50.0 + abs(wts[d] - 100.0))
        assert abs(s - round(exp, 6)) < 1e-6
    # doc at the origin gets the full boost; at distance=pivot, half
    assert abs((got[1] - base[1]) - 4.0) < 1e-6
    assert abs((got[3] - base[3]) - 2.0) < 1e-6


def test_feature_validation(spark, fixture):
    from elasticsearch_analysis_combo_spark.query.functionscore import (
        distance_feature_topk,
        rank_feature_topk,
    )

    corpus, stats, term_df, n, avgdl = fixture
    with pytest.raises(ValueError):
        rank_feature_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus,
            "wt", pivot=0.0,
        )
    with pytest.raises(ValueError):
        distance_feature_topk(
            spark, stats, term_df, [(0, "alpha")], CFG, n, avgdl, corpus,
            "wt", origin=0.0, pivot=-1.0,
        )
