"""Round-6 optimization internals: the changes must be result-invariant.

Covers: tiny_df (driver-held LocalFrame, LocalTableScan once planned)
value/schema parity with classic createDataFrame and with a JVM round
trip (collect/count/toPandas/toArrow), the operators applied to result
frames, and its refusal of unsafe casts, WAND's
position-stripped block structs, and the ngram_lm_perplexity self-train
restructure (doc_tf-derived c2 must score identically to an
explicitly-passed train corpus, which still uses the independent
aggregation path).
"""

import io
from contextlib import redirect_stdout

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.query.phrase import (
    PHRASE_DL_SCHEMA,
    PHRASE_DL_W_SCHEMA,
    PHRASE_SCHEMA,
)
from elasticsearch_analysis_combo_spark.query.wand import TOPK_SCHEMA
from elasticsearch_analysis_combo_spark.tinydf import tiny_df


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(0, "a"), (1, "b"), (2, None)], "query_id int, term string"),
        ([(5, 1.5, 7)], "q int, score double, d long"),
        ([], "query_id int, term string"),
        ([("x", [1, 2]), ("y", [])], "k string, xs array<int>"),
    ],
)
def test_tiny_df_matches_createdataframe(spark, rows, schema):
    a = tiny_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize(
    "rows,schema,error",
    [
        ([(2**40,)], "x int", PySparkValueError),
        ([(1.7,)], "x long", PySparkTypeError),
    ],
)
def test_tiny_df_rejects_unsafe_casts(spark, rows, schema, error):
    # an overflowing or lossy value must raise, not be silently cast
    with pytest.raises(error):
        tiny_df(spark, rows, schema).collect()


def test_tiny_df_is_local_table_scan(spark):
    # an empty pandas frame would plan as a Python-RDD scan; no rows too
    # must stay a LocalTableScan
    for rows in ([(1, "x")], []):
        p = _plan(tiny_df(spark, rows, "query_id int, term string"))
        assert "LocalTableScan" in p
        assert "Scan ExistingRDD" not in p


_BIG = 2**63 - 1  # doc ids are signed 64-bit hashes
RESULT_CASES = {
    "topk": (TOPK_SCHEMA, [(0, 1, -_BIG, 3.25), (0, 2, _BIG, 1.0), (3, 1, 5, 0.0)]),
    # phrase, span and intervals results
    "phrase": (PHRASE_SCHEMA, [(0, 11, 2), (1, -4, 1), (1, 9, 7)]),
    "phrase-dl": (PHRASE_DL_SCHEMA, [(0, 11, 2, 40), (2, _BIG, 1, 1)]),
    "phrase-dl-w": (
        PHRASE_DL_W_SCHEMA, [(0, 11, 2, 40, 0.75), (2, -_BIG, 1, 3, 1.0)]
    ),
    # phrase_topk with k=None (with k it is TOPK_SCHEMA)
    "phrase-scored": (
        "query_id int, doc_id long, score double", [(0, 5, 1.5), (4, 6, 0.25)]
    ),
    "empty": (PHRASE_SCHEMA, []),
}
TINY_CASES = {
    "nullable": ("query_id int, term string", [(0, "a"), (1, "b"), (2, None)]),
    "mixed": ("q int, score double, d long", [(5, 1.5, 7)]),
    "no-rows": ("query_id int, term string", []),
    "array": ("k string, xs array<int>", [("x", [1, 2]), ("y", [])]),
}


def _assert_same_as_jvm(frame):
    """Every action answered from the held Arrow table equals the same
    action after a JVM round trip of the frame, Python types included."""
    rows, n = frame.collect(), frame.count()
    pdf, table = frame.toPandas(), frame.toArrow()
    assert "_jdf" not in frame.__dict__
    jvm = frame.select("*")
    want = jvm.collect()
    assert [(r.__fields__, tuple(r), [type(v) for v in r]) for r in rows] == [
        (r.__fields__, tuple(r), [type(v) for v in r]) for r in want
    ]
    assert n == jvm.count() == len(want)
    pd.testing.assert_frame_equal(pdf, jvm.toPandas())
    assert table.equals(jvm.toArrow())
    assert frame.schema == jvm.schema


@pytest.mark.parametrize("case", [*RESULT_CASES, *TINY_CASES])
def test_local_frame_actions_match_jvm_round_trip(spark, case):
    schema, rows = {**RESULT_CASES, **TINY_CASES}[case]
    _assert_same_as_jvm(tiny_df(spark, rows, schema))


@pytest.mark.parametrize("case", list(RESULT_CASES))
def test_local_frame_from_columns_matches_jvm_round_trip(spark, case):
    # positional_eval hands its result over as numpy columns
    schema, rows = RESULT_CASES[case]
    frame = tiny_df(spark, rows, schema)
    local = tiny_df(spark, pd.DataFrame({
        name: np.array([r[i] for r in rows])
        for i, name in enumerate(frame.columns)
    }), schema)
    assert local.collect() == frame.collect()
    _assert_same_as_jvm(local)


def test_local_frame_operators_match_plain_frame(spark, tmp_path):
    """Each operator the package applies to a result frame gives a
    LocalFrame's rows, the same as a plain (JVM-built) frame's."""
    rows = [(0, 1, 7, 2.5), (0, 2, -3, 1.0), (1, 1, 2**62, 0.5), (1, 2, 9, 0.25)]
    src = spark.createDataFrame(
        [(7, "a"), (-3, "b"), (2**62, "c"), (8, "d")], "doc_id long, content string"
    )
    ops = {
        # engine.search(fetch_from=...)
        "broadcast-join": lambda f: src.join(F.broadcast(f), "doc_id").select(
            "query_id", "rank", "doc_id", "score", "content"),
        "unionByName": lambda f: f.unionByName(f.filter("rank = 1")),
        "unionByName-other": lambda f: src.select(
            F.lit(9).alias("query_id"), F.lit(1).alias("rank"), "doc_id",
            F.lit(0.0).alias("score")).unionByName(f),
        "filter": lambda f: f.filter(F.col("score") > 0.3),
        "orderBy": lambda f: f.orderBy(F.desc("score")),
        "limit": lambda f: f.limit(2),
    }
    plain = spark.createDataFrame(rows, TOPK_SCHEMA)
    for name, op in ops.items():
        got = op(tiny_df(spark, rows, TOPK_SCHEMA)).collect()
        want = op(plain).collect()
        if name == "orderBy":
            assert got == want, name
        else:
            assert sorted(got) == sorted(want), name
    local = tiny_df(spark, rows, TOPK_SCHEMA)
    assert local.take(2) == plain.take(2)
    assert local.first() == plain.first()
    assert local.head() == plain.head()
    cached = tiny_df(spark, rows, TOPK_SCHEMA).cache()
    assert cached.is_cached and cached.storageLevel.useMemory
    assert cached.filter("rank = 2").collect() == plain.filter("rank = 2").collect()
    cached.unpersist()
    local.write.parquet(str(tmp_path / "local"))
    plain.write.parquet(str(tmp_path / "plain"))
    assert sorted(spark.read.parquet(str(tmp_path / "local")).collect()) == sorted(
        spark.read.parquet(str(tmp_path / "plain")).collect()
    )


def test_wand_blocks_sans_positions_fields(spark, tmp_path):
    from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
    from elasticsearch_analysis_combo_spark.operators.postings import (
        blocks_sans_positions,
        build_postings,
        doc_table,
    )
    from elasticsearch_analysis_combo_spark.sources.corpus import documents_as_corpus

    corpus = documents_as_corpus(spark, "/root/testdata/sf0.001")
    stats = build_term_stats(corpus, ComboConfig(["whitespace"]))
    stats.write.mode("overwrite").parquet(str(tmp_path / "ts"))
    stats = spark.read.parquet(str(tmp_path / "ts"))
    build_postings(
        stats, doc_table(stats), avgdl=100.0, hot_terms=None, salt_shards=1
    ).write.mode("overwrite").parquet(str(tmp_path / "postings"))
    postings = spark.read.parquet(str(tmp_path / "postings"))
    stripped = postings.withColumn("blocks", blocks_sans_positions())
    # struct loses exactly pos_data; every other field value is unchanged
    full = postings.selectExpr("term", "run_idx", "explode(blocks) b").selectExpr(
        "term", "run_idx", "b.first_doc", "b.last_doc", "b.n", "b.max_impact", "b.data"
    )
    slim = stripped.selectExpr("term", "run_idx", "explode(blocks) b").selectExpr(
        "term", "run_idx", "b.first_doc", "b.last_doc", "b.n", "b.max_impact", "b.data"
    )
    assert "pos_data" not in stripped.schema["blocks"].dataType.elementType.names
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, slim.collect()))
    # and the pruned scan never reads positions
    p = _plan(stripped.filter(F.col("term") == "the"))
    assert "pos_data" not in p


def test_lm_perplexity_selftrain_equals_explicit_train(spark):
    """train=None (doc_tf-derived c2, the r6 restructure) must score
    byte-identically to train=df (the independent-aggregation path)."""
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        ngram_lm_perplexity,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    a = ngram_lm_perplexity(docs, text_col="text")
    b = ngram_lm_perplexity(docs, text_col="text", train=docs)
    ra = {r["doc_id"]: (r["n_bigrams"], r["logprob_per_token"], r["perplexity"])
          for r in a.collect()}
    rb = {r["doc_id"]: (r["n_bigrams"], r["logprob_per_token"], r["perplexity"])
          for r in b.collect()}
    assert ra == rb and len(ra) > 0
