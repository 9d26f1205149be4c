"""Round-4i additions: n-gram LM perplexity quality scoring,
geo_polygon / geo_bounds, normalize / cumulative_cardinality /
moving_percentiles pipeline aggs, scripted_metric, and the
children / reverse_nested relation aggregations."""

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.operators.text_quality import (
    ngram_lm_perplexity,
)
from elasticsearch_analysis_combo_spark.query.facets import (
    cumulative_cardinality_agg,
    moving_percentiles_agg,
    normalize_agg,
    scripted_metric_agg,
)
from elasticsearch_analysis_combo_spark.query.geo import (
    geo_bounds_agg,
    geo_polygon,
)
from elasticsearch_analysis_combo_spark.query.relations import (
    children_agg,
    reverse_nested_agg,
)

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- ngram_lm_perplexity


def test_lm_perplexity_hand_computed(spark):
    # corpus: "a b a b" and "a c" -> bigrams ab, ba, ab | ac
    # c2: (a,b)=2 (b,a)=1 (a,c)=1 ; c1: a=3, b=1 ; V = {a,b,c} = 3
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r
        for r in ngram_lm_perplexity(docs, add_k=0.5).collect()
    }
    k, v = 0.5, 3
    p_ab = (2 + k) / (3 + k * v)
    p_ba = (1 + k) / (1 + k * v)
    p_ac = (1 + k) / (3 + k * v)
    lp1 = (2 * math.log(p_ab) + math.log(p_ba)) / 3
    lp2 = math.log(p_ac)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["logprob_per_token"] == pytest.approx(lp1, abs=1e-6)
    assert out[1]["perplexity"] == pytest.approx(
        math.exp(-round(lp1, 6)), abs=0.01
    )
    assert out[2]["n_bigrams"] == 1
    assert out[2]["logprob_per_token"] == pytest.approx(lp2, abs=1e-6)


def test_lm_perplexity_single_token_doc_omitted(spark):
    docs = spark.createDataFrame(
        [(1, "only"), (2, "two words")], "doc_id int, text string"
    )
    ids = {r["doc_id"] for r in ngram_lm_perplexity(docs).collect()}
    assert ids == {2}


def test_lm_perplexity_external_train_unseen_floor(spark):
    train = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    score = spark.createDataFrame(
        [(9, "z q")], "doc_id int, text string"
    )
    out = ngram_lm_perplexity(score, add_k=0.5, train=train).collect()
    # unseen w1: ln(k / (0 + k*V)) = -ln(V), V = {a, b} = 2
    assert out[0]["logprob_per_token"] == pytest.approx(
        -math.log(2), abs=1e-6
    )


# ----------------------------------------------------------------- geo


def test_geo_polygon_square_and_concave(spark):
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 5.0, 5.0), (3, 0.9, 0.1), (4, -0.5, 0.5)],
        "id int, lat double, lon double",
    )
    square = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    got = {r["id"] for r in geo_polygon(pts, "lat", "lon", square).collect()}
    assert got == {1, 3}
    # concave "L": (0,0)-(2,0)-(2,1)-(1,1)-(1,2)-(0,2); (1.5,1.5) is
    # inside the bounding box but OUTSIDE the L
    ell = [(0.0, 0.0), (0.0, 2.0), (1.0, 2.0), (1.0, 1.0), (2.0, 1.0),
           (2.0, 0.0)]
    pts2 = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 1.5, 0.5), (3, 1.5, 1.5), (4, 0.5, 1.5)],
        "id int, lat double, lon double",
    )
    got2 = {r["id"] for r in geo_polygon(pts2, "lat", "lon", ell).collect()}
    assert got2 == {1, 2, 4}


def test_geo_polygon_needs_three_vertices(spark):
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "id int, lat double, lon double")
    with pytest.raises(ValueError):
        geo_polygon(pts, "lat", "lon", [(0.0, 0.0), (1.0, 1.0)])


def test_geo_bounds(spark):
    pts = spark.createDataFrame(
        [("a", 1.0, -5.0), ("a", 3.0, 7.0), ("b", -2.0, 0.0)],
        "g string, lat double, lon double",
    )
    rows = {r["g"]: r for r in
            geo_bounds_agg(pts, "lat", "lon", group_col="g").collect()}
    assert rows["a"]["top_left_lat"] == 3.0
    assert rows["a"]["top_left_lon"] == -5.0
    assert rows["a"]["bottom_right_lat"] == 1.0
    assert rows["a"]["bottom_right_lon"] == 7.0
    assert rows["b"]["top_left_lat"] == -2.0


# -------------------------------------------------------- pipeline aggs


@pytest.fixture(scope="module")
def buckets(spark):
    return spark.createDataFrame(
        [("x", 1, 10.0), ("x", 2, 30.0), ("x", 3, 20.0),
         ("y", 1, 5.0), ("y", 2, 5.0)],
        "g string, b int, v double",
    )


def test_normalize_methods(spark, buckets):
    r01 = {(r["g"], r["b"]): r["normalized"] for r in normalize_agg(
        buckets, "v", "rescale_0_1", group_col="g").collect()}
    assert r01[("x", 1)] == 0.0
    assert r01[("x", 2)] == 1.0
    assert r01[("x", 3)] == 0.5
    assert r01[("y", 1)] is None  # zero range -> null, as ES
    pos = {(r["g"], r["b"]): r["normalized"] for r in normalize_agg(
        buckets, "v", "percent_of_sum", group_col="g").collect()}
    assert pos[("x", 2)] == 0.5
    assert pos[("y", 1)] == 0.5
    zs = {(r["g"], r["b"]): r["normalized"] for r in normalize_agg(
        buckets, "v", "z_score", group_col="g").collect()}
    assert zs[("x", 2)] == pytest.approx(
        (30 - 20) / math.sqrt(200 / 3), abs=1e-6
    )
    sm = {(r["g"], r["b"]): r["normalized"] for r in normalize_agg(
        buckets, "v", "softmax", group_col="g").collect()}
    assert sm[("y", 1)] == 0.5
    with pytest.raises(ValueError):
        normalize_agg(buckets, "v", "nope")


def test_cumulative_cardinality(spark):
    rows = spark.createDataFrame(
        [("d1", "u1"), ("d1", "u2"), ("d2", "u1"), ("d3", "u3"),
         ("d2", "u2")],
        "b string, u string",
    )
    out = {r["b"]: (r["new_keys"], r["cumulative_cardinality"])
           for r in cumulative_cardinality_agg(rows, "b", "u").collect()}
    # d2 has no NEW users but stays on the spine with carry-over
    assert out == {"d1": (2, 2), "d2": (0, 2), "d3": (1, 3)}


def test_moving_percentiles_matches_quantile_cont(spark, buckets):
    import duckdb

    out = moving_percentiles_agg(
        buckets, "v", "b", window=2, percents=[50.0], group_col="g"
    ).collect()
    got = {(r["g"], r["b"]): r["p50"] for r in out}
    want = {
        (g, b): round(p, 6)
        for g, b, p in duckdb.sql(
            "SELECT g, b, quantile_cont(v, 0.5) OVER "
            "(PARTITION BY g ORDER BY b ROWS BETWEEN 1 PRECEDING AND "
            "CURRENT ROW) FROM (VALUES ('x',1,10.0),('x',2,30.0),"
            "('x',3,20.0),('y',1,5.0),('y',2,5.0)) t(g,b,v)"
        ).fetchall()
    }
    assert got == want


# ------------------------------------------------------ scripted_metric


def test_scripted_metric_sum_sq(spark):
    rows = spark.createDataFrame(
        [("a", 2.0), ("a", 3.0), ("b", 4.0)], "g string, v double"
    ).repartition(4)
    out = {r["g"]: r["ss"] for r in scripted_metric_agg(
        rows, "g",
        lambda pdf: {"wsum": float((pdf["v"] ** 2).sum()),
                     "n": int(len(pdf))},
        lambda states: round(float(states["wsum"].sum()), 6),
        state_schema="wsum double, n long",
        value_name="ss",
    ).collect()}
    assert out == {"a": 13.0, "b": 16.0}


# ------------------------------------------------------- relation aggs


def test_children_agg(spark):
    parents = spark.createDataFrame(
        [(1, "O"), (2, "F"), (3, "O")], "pk int, status string"
    )
    children = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 30.0), (9, 99.0)], "ck int, q double"
    )
    out = {r["status"]: (r["doc_count"], r["avg_q"]) for r in children_agg(
        parents, children, "pk", "ck", "status",
        metric_exprs={"avg_q": "avg(q)"},
    ).collect()}
    # orphan child (ck=9) drops; parent 3 has no children -> no bucket row
    assert out == {"O": (2, 15.0), "F": (1, 30.0)}


def test_reverse_nested_counts_parents(spark):
    df = spark.createDataFrame(
        [(1, [("t1", 5), ("t1", 7)]), (2, [("t1", 1), ("t2", 9)])],
        "id int, items array<struct<tag:string, n:int>>",
    )
    out = {r["key"]: r["doc_count"] for r in reverse_nested_agg(
        df, "items", "x.tag", "id").collect()}
    # tag t1 occurs 3x across 2 parents -> parent count 2 (not 3)
    assert out == {"t1": 2, "t2": 1}
    # pred drops doc 2's (t1, 1) item, so t1 keys only parent 1
    filt = {r["key"]: r["doc_count"] for r in reverse_nested_agg(
        df, "items", "x.tag", "id", pred="x.n >= 5").collect()}
    assert filt == {"t1": 1, "t2": 1}


# --------------------------------------- gate parity on real testdata


def test_gate_parity_round4i(spark):
    """Every round-4i gate matches its DuckDB oracle at sf0.001 —
    the same comparison the driver runs (rows + values)."""
    import duckdb

    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NULL"  # pandas renders SQL NULL as NaN
            return f"{v:.9g}"
        return str(v)

    for name in ["lm_perplexity", "pipeline_aggs2", "scripted_metric",
                 "geo_family", "agg_family3", "parent_child"]:
        sdf = q[name](spark, SF)
        cols = sorted(sdf.columns)
        spark_rows = sorted(
            tuple(canon(row[c]) for c in cols)
            for row in sdf.collect()
        )
        ora = con.execute(o[name]).df()
        assert sorted(ora.columns.tolist()) == cols, name
        oracle_rows = sorted(
            tuple(canon(v) for v in row)
            for row in ora[cols].itertuples(index=False)
        )
        assert len(spark_rows) == len(oracle_rows), (
            name, len(spark_rows), len(oracle_rows))
        if spark_rows != oracle_rows:
            diff = [
                (a, b)
                for a, b in zip(spark_rows, oracle_rows)
                if a != b
            ][:5]
            raise AssertionError(f"{name}: value mismatch, e.g. {diff}")


# ------------------------------------------------------------ span_multi


def _sm_postings(spark, rows):
    from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
    from elasticsearch_analysis_combo_spark.analysis.udfs import (
        build_term_stats,
    )
    from elasticsearch_analysis_combo_spark.operators.postings import (
        posting_frame,
    )

    df = spark.createDataFrame(rows, "doc_id long, content string")
    stats = build_term_stats(df, ComboConfig(["whitespace"]))
    post = posting_frame(stats, avgdl=10.0, block_size=16,
                         with_positions=True)
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    return post, term_df


def test_wildcard_regex_translation():
    from elasticsearch_analysis_combo_spark.query.spans import (
        _wildcard_regex,
    )

    assert _wildcard_regex("bat*") == "^bat.*$"
    assert _wildcard_regex("b?t") == "^b.t$"
    assert _wildcard_regex("a.c*") == r"^a\.c.*$"  # dot escaped


def test_union_decoded_merges_and_dedupes():
    import numpy as np

    from elasticsearch_analysis_combo_spark.query.spans import (
        _union_decoded,
    )

    # term a: doc 1 pos [2, 5]; doc 3 pos [1]  — dl 10/30
    # term b: doc 1 pos [5, 7]; doc 2 pos [4]  — dl 10/20
    decoded = {
        "a": (np.array([1, 3], dtype=np.int64),
              np.array([0, 2, 3], dtype=np.int64),
              np.array([2, 5, 1], dtype=np.int64),
              np.array([10, 30], dtype=np.int64)),
        "b": (np.array([1, 2], dtype=np.int64),
              np.array([0, 2, 3], dtype=np.int64),
              np.array([5, 7, 4], dtype=np.int64),
              np.array([10, 20], dtype=np.int64)),
    }
    docs, offs, pos, dls = _union_decoded(decoded, ["a", "b"])
    assert docs.tolist() == [1, 2, 3]
    assert offs.tolist() == [0, 3, 4, 5]
    assert pos.tolist() == [2, 5, 7, 4, 1]  # doc 1: pos 5 deduped
    assert dls.tolist() == [10, 20, 30]
    # missing/empty members are skipped; all-empty -> empty pseudo-term
    e = _union_decoded(decoded, ["zzz"])
    assert e[0].size == 0 and e[1].tolist() == [0]


def test_span_multi_prefix_equals_expanded_span_near(spark):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_multi_near_match,
        span_near_match,
    )
    from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig

    rows = [
        (0, "value near customer now"),
        (1, "customer takes a value"),
        (2, "valley far from customer"),
        (3, "value alone"),
    ]
    post, term_df = _sm_postings(spark, rows)
    post.frame.cache().count()
    # prefix val -> {value, valley}: doc 0 and 2 match within slop 2
    out = span_multi_near_match(
        spark, post, term_df,
        {0: [("prefix", "val"), ("term", "customer")]},
        slop=2, in_order=True,
    )
    got = {(r["query_id"], r["doc_id"]): r["n_matches"]
           for r in out.collect()}
    assert got == {(0, 0): 1, (0, 2): 1}
    # single-expansion prefix must equal plain span_near on the term
    one = span_multi_near_match(
        spark, post, term_df,
        {0: [("prefix", "valu"), ("term", "customer")]},
        slop=2, in_order=True,
    )
    ref = span_near_match(
        spark, post, [(0, "value customer")], ComboConfig(["whitespace"]),
        slop=2, in_order=True,
    )
    assert sorted(map(tuple, one.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_span_multi_fuzzy_and_cap(spark):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_multi_near_match,
    )

    rows = [
        (0, "merge the batch"),
        (1, "marge the batch"),
        (2, "miracle the batch"),
    ]
    post, term_df = _sm_postings(spark, rows)
    out = span_multi_near_match(
        spark, post, term_df,
        {0: [("fuzzy", ("merge", 1)), ("term", "batch")]},
        slop=1, in_order=True,
    )
    docs = {r["doc_id"] for r in out.collect()}
    assert docs == {0, 1}  # miracle is beyond distance 1
    # cap: max_expansions=1 keeps only the best candidate (dist asc ->
    # exact term wins)
    capped = span_multi_near_match(
        spark, post, term_df,
        {0: [("fuzzy", ("merge", 1)), ("term", "batch")]},
        slop=1, in_order=True, max_expansions=1,
    )
    assert {r["doc_id"] for r in capped.collect()} == {0}


def test_span_multi_empty_expansion_matches_nothing(spark):
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_multi_near_match,
    )

    rows = [(0, "value customer")]
    post, term_df = _sm_postings(spark, rows)
    out = span_multi_near_match(
        spark, post, term_df,
        {0: [("prefix", "zzz"), ("term", "customer")]},
        slop=5, in_order=False,
    )
    assert out.count() == 0
