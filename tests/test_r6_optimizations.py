"""Round-6 optimization internals: the changes must be result-invariant.

Covers: tiny_df (LocalTableScan dimension frames) value/schema parity with
classic createDataFrame and its refusal of unsafe casts, WAND's
position-stripped block structs, and the ngram_lm_perplexity self-train
restructure (doc_tf-derived c2 must score identically to an
explicitly-passed train corpus, which still uses the independent
aggregation path).
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import functions as F

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
