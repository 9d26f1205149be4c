"""Round-4e additions: span_within/span_containing, sibling/serial/
bucket_sort pipeline aggs, string_stats + median_absolute_deviation,
Gopher repetition stats, SemDeDup semantic dedup."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.spans import (
    span_containing_match,
    span_within_match,
)

CFG = ComboConfig(["whitespace"])


def _postings(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, CFG)
    return posting_frame(stats, avgdl=10.0, block_size=16,
                         with_positions=True)


@pytest.fixture(scope="module")
def wpost(spark):
    rows = [
        (0, "a b c"),            # big span (1,2); little c@3 outside
        (1, "a c b"),            # big span (1,3) @slop1; c@2 inside
        (2, "c a b c"),          # big span (2,3); c@1, c@4 outside
        (3, "a b"),              # no little term -> out of space
        (4, "a c b x a b"),      # spans (1,3) and (5,6); c@2 in first only
        (5, "c c c"),            # no big terms
    ]
    p = _postings(spark, rows)
    p.frame.cache().count()
    return p


def _rows(out):
    return {(r["query_id"], r["doc_id"]): r["n_matches"] for r in out.collect()}


QW = [(0, "c", "a b")]


def test_span_within_vectors(spark, wpost):
    got = _rows(span_within_match(spark, wpost, QW, CFG, slop=1))
    assert got == {(0, 1): 1, (0, 4): 1}


def test_span_containing_vectors(spark, wpost):
    got = _rows(span_containing_match(spark, wpost, QW, CFG, slop=1))
    assert got == {(0, 1): 1, (0, 4): 1}


def test_span_within_slop0_excludes_gapped_big(spark, wpost):
    # at slop 0 the only big spans are adjacent "a b" (docs 0, 2, 4@5-6);
    # no little c position falls inside any of them
    got = _rows(span_within_match(spark, wpost, QW, CFG, slop=0))
    assert got == {}


def test_span_family_partitioned_identical(spark, wpost):
    plain_w = _rows(span_within_match(spark, wpost, QW, CFG, slop=1))
    part_w = _rows(
        span_within_match(spark, wpost, QW, CFG, slop=1, range_bits=2)
    )
    assert plain_w == part_w
    plain_c = _rows(span_containing_match(spark, wpost, QW, CFG, slop=1))
    part_c = _rows(
        span_containing_match(spark, wpost, QW, CFG, slop=1, range_bits=2)
    )
    assert plain_c == part_c


def test_span_containing_counts_spans_not_littles(spark):
    # one big span holding TWO littles counts once for containing,
    # twice for within
    p = _postings(spark, [(0, "a c c b")])
    w = _rows(span_within_match(spark, p, QW, CFG, slop=2))
    c = _rows(span_containing_match(spark, p, QW, CFG, slop=2))
    assert w == {(0, 0): 2}
    assert c == {(0, 0): 1}


# ---------------------------------------------------------------------------
# pipeline agg extensions


@pytest.fixture(scope="module")
def buckets(spark):
    rows = [
        ("x", 1, 10.0), ("x", 2, 30.0), ("x", 3, 20.0),
        ("y", 1, 5.0), ("y", 3, 7.0),
    ]
    return spark.createDataFrame(rows, "g string, b int, v double")


def test_sibling_bucket_stats(spark, buckets):
    from elasticsearch_analysis_combo_spark.query.facets import (
        sibling_bucket_stats,
    )

    got = {
        r["g"]: r.asDict()
        for r in sibling_bucket_stats(buckets, "v", group_col="g").collect()
    }
    assert got["x"]["bucket_count"] == 3
    assert got["x"]["min_bucket"] == 10.0
    assert got["x"]["max_bucket"] == 30.0
    assert got["x"]["avg_bucket"] == 20.0
    assert got["x"]["sum_bucket"] == 60.0
    assert got["y"]["sum_bucket"] == 12.0


def test_serial_diff(spark, buckets):
    from elasticsearch_analysis_combo_spark.query.facets import serial_diff_agg

    got = {
        (r["g"], r["b"]): r["serial_diff"]
        for r in serial_diff_agg(
            buckets, "v", "b", lag=1, group_col="g"
        ).collect()
    }
    assert got[("x", 1)] is None
    assert got[("x", 2)] == 20.0
    assert got[("x", 3)] == -10.0
    assert got[("y", 3)] == 2.0


def test_bucket_selector_and_sort(spark, buckets):
    from elasticsearch_analysis_combo_spark.query.facets import (
        bucket_selector_agg,
        bucket_sort_agg,
    )

    kept = bucket_selector_agg(buckets, "v >= 7.0")
    assert kept.count() == 4
    ranked = bucket_sort_agg(
        kept, "v", desc=True, size=1, group_col="g", tiebreak_col="b"
    )
    got = {(r["g"], r["b"], r["bucket_rank"]) for r in ranked.collect()}
    assert got == {("x", 2, 1), ("y", 3, 1)}


def test_string_stats_entropy(spark):
    from elasticsearch_analysis_combo_spark.query.facets import string_stats_agg

    df = spark.createDataFrame([("aab",), ("b",)], "s string")
    r = string_stats_agg(df, "s").collect()[0]
    assert r["count"] == 2
    assert r["min_length"] == 1
    assert r["max_length"] == 3
    assert r["avg_length"] == 2.0
    assert abs(r["entropy"] - 1.0) < 1e-12  # a:2, b:2 -> 1 bit/char


def test_median_abs_deviation(spark):
    from elasticsearch_analysis_combo_spark.query.facets import (
        median_abs_deviation_agg,
    )

    df = spark.createDataFrame([(float(x),) for x in (1, 2, 3, 4)], "v double")
    r = median_abs_deviation_agg(df, "v").collect()[0]
    assert r["median"] == 2.5
    assert r["mad"] == 1.0


# ---------------------------------------------------------------------------
# repetition stats


def test_repetition_stats(spark):
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [(0, "x y x y z"), (1, "a a a a a a"), (2, "p q")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(docs).collect()}
    # doc 0: top 2-gram "x y" x2 -> 6 chars of 9; no 5-gram dups
    assert got[0]["n_tokens"] == 5
    assert abs(got[0]["dup_token_frac"] - (1 - 3 / 5)) < 1e-12
    assert abs(got[0]["top_ngram_char_frac"] - 6 / 9) < 1e-12
    assert got[0]["dup_ngram_char_frac"] == 0.0
    # doc 1: "a a" x5 -> 15/11; 5-gram "a a a a a" x2 -> 18/11
    assert abs(got[1]["top_ngram_char_frac"] - 15 / 11) < 1e-12
    assert abs(got[1]["dup_ngram_char_frac"] - 18 / 11) < 1e-12
    assert abs(got[1]["dup_token_frac"] - (1 - 1 / 6)) < 1e-12
    # doc 2: shorter than 5 tokens -> no 5-grams, one 2-gram occurrence
    assert abs(got[2]["top_ngram_char_frac"] - 3 / 3) < 1e-12
    assert got[2]["dup_ngram_char_frac"] == 0.0


# ---------------------------------------------------------------------------
# semantic dedup


def _rand_emb(spark, n=30, dim=8, seed=5):
    rng = np.random.RandomState(seed)
    mat = rng.standard_normal((n, dim))
    # plant two near-duplicate pairs
    mat[7] = mat[3] + 0.01 * rng.standard_normal(dim)
    mat[21] = mat[14] + 0.01 * rng.standard_normal(dim)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"),
        mat,
    )


def _np_cosine_pairs(mat, threshold):
    m = np.asarray(mat, dtype=np.float32).astype(np.float64)
    nrm = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = nrm @ nrm.T
    out = {}
    n = m.shape[0]
    for i in range(n):
        for j in range(i + 1, n):
            if sims[i, j] >= threshold:
                out[(i, j)] = sims[i, j]
    return out


def test_semantic_dedup_single_cell_is_brute_force(spark):
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb, mat = _rand_emb(spark)
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, threshold=0.8, n_cells=1).collect()
    }
    want = _np_cosine_pairs(mat, 0.8)
    assert set(got) == set(want)
    assert {(3, 7), (14, 21)} <= set(got)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_semantic_dedup_cells_subset_of_brute_force(spark):
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    emb, mat = _rand_emb(spark)
    got = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in semantic_dedup_pairs(emb, threshold=0.5, n_cells=4).collect()
    }
    want = _np_cosine_pairs(mat, 0.5)
    assert set(got) <= set(want)
    # planted near-identical pairs land in the same cell
    assert {(3, 7), (14, 21)} <= set(got)


# ---------------------------------------------------------------------------
# geotile / missing / global


def test_geotile_grid_known_tiles(spark):
    from elasticsearch_analysis_combo_spark.query.geo import geotile_grid_agg

    pts = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.0, 0.1), (2, 89.9, 179.9), (3, -89.9, -179.9)],
        "id long, lat double, lon double",
    )
    got = {
        (r["tile_x"], r["tile_y"]): r
        for r in geotile_grid_agg(pts, "lat", "lon", precision=2).collect()
    }
    # equator/greenwich points land in tile (2,2) of the 4x4 grid
    assert got[(2, 2)]["doc_count"] == 2
    assert abs(got[(2, 2)]["centroid_lon"] - 0.05) < 1e-12
    # out-of-mercator-domain lats clamp into the edge rows
    assert got[(3, 0)]["doc_count"] == 1
    assert got[(0, 3)]["doc_count"] == 1
    with pytest.raises(ValueError):
        geotile_grid_agg(pts, "lat", "lon", precision=31)


def test_missing_and_global(spark):
    from elasticsearch_analysis_combo_spark.query.facets import (
        global_agg,
        missing_agg,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("b", None), ("b", None)],
        "g string, v double",
    )
    got = {r["g"]: r["doc_count"] for r in missing_agg(df, "v", "g").collect()}
    assert got == {"a": 1, "b": 2}
    g = global_agg(df, {"n": "count(*)", "s": "sum(v)"}).collect()[0]
    assert g["n"] == 4 and g["s"] == 1.0


# ---------------------------------------------------------------------------
# PII scrubbing + corpus-level line dedup


def test_scrub_pii(spark):
    from elasticsearch_analysis_combo_spark.operators.pipeline import scrub_pii

    df = spark.createDataFrame(
        [(0, "mail bob@example.com ip 10.0.0.1 tel +1 555-123-4567 end"),
         (1, "clean text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in scrub_pii(df).collect()}
    assert got[0] == "mail <EMAIL> ip <IP> tel <PHONE> end"
    assert got[1] == "clean text"


def test_dedup_lines(spark):
    from elasticsearch_analysis_combo_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (0, "alpha one. shared sentence. beta"),
            (1, "shared sentence. gamma two"),
            (2, "delta. delta. unique tail"),
            (3, "shared sentence"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in dedup_lines(df).collect()}
    # first occurrence (doc 0) keeps the shared sentence; docs 1 and 3
    # lose it; within-doc repeat in doc 2 collapses to one
    assert got[0] == "alpha one. shared sentence. beta"
    assert got[1] == "gamma two"
    assert got[2] == "delta. unique tail"
    assert got[3] == ""


def test_dedup_lines_min_len_exempts_short_units(spark):
    from elasticsearch_analysis_combo_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [(0, "ok. a very long repeated sentence"),
         (1, "ok. a very long repeated sentence")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in dedup_lines(df, min_len=5).collect()
    }
    assert got[0] == "ok. a very long repeated sentence"
    assert got[1] == "ok"  # short unit exempt, long one deduped


# ---------------------------------------------------------------------------
# engine facade: span_within / span_containing


def test_engine_span_within_containing(spark, tmp_path):
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
    from elasticsearch_analysis_combo_spark.sources.corpus import (
        generate_corpus,
        ingest,
    )

    corpus = ingest(generate_corpus(spark, 60))
    cfg = ComboConfig(["whitespace"])
    eng = ComboSearchEngine(spark, cfg, str(tmp_path / "idxwc"), salt_shards=2)
    eng.index(corpus)
    w = eng.span_within("return", "the if", slop=3).collect()
    c = eng.span_containing("return", "the if", slop=3).collect()
    # dual outputs agree on the matching doc set
    assert {r["doc_id"] for r in w} == {r["doc_id"] for r in c}
    part = eng.span_within("return", "the if", slop=3,
                           partitioned=True).collect()
    assert {(r["doc_id"], r["n_matches"]) for r in w} == {
        (r["doc_id"], r["n_matches"]) for r in part
    }
