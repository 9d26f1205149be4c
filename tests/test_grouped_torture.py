"""Carry-logic torture for grouped_map_sorted: tiny Arrow batches force
groups to straddle batch boundaries constantly; results must equal a plain
groupBy aggregation regardless."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.operators import grouped as grouped_mod
from elasticsearch_analysis_combo_spark.operators.grouped import grouped_map_sorted


def test_grouped_map_batched_mode_tiny_arrow_batches(spark, monkeypatch):
    """fn(cols, starts, ends) is called once per chunk; group results must
    still equal a plain groupBy under constant batch-boundary straddling
    and 3-row output batches."""
    monkeypatch.setattr(grouped_mod, "OUT_BATCH_ROWS", 3)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        rng = random.Random(9)
        rows = []
        for g in range(300):
            for _ in range(rng.randint(1, 9)):
                rows.append((f"g{g:04d}", rng.randint(-5, 5)))
        df = spark.createDataFrame(rows, "key string, v long")

        schema = T.StructType([
            T.StructField("key", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("vsum", T.LongType()),
            T.StructField("vfirst", T.LongType()),
        ])

        def fn(cols, starts, ends):
            out = []
            for s, e in zip(starts.tolist(), ends.tolist()):
                v = cols["v"][s:e]
                out.append((cols["key"][s], int(e - s), int(v.sum()), int(v[0])))
            return out

        got = {
            r["key"]: (r["n"], r["vsum"], r["vfirst"])
            for r in grouped_map_sorted(df, ["key"], ["v"], fn, schema).collect()
        }
        exp = {
            r["key"]: (r["n"], r["vsum"], r["vmin"])
            for r in df.groupBy("key").agg(
                F.count("*").alias("n"), F.sum("v").alias("vsum"),
                F.min("v").alias("vmin"),
            ).collect()
        }
        assert got == exp
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_near_duplicates_pipeline(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight again"),
        (1, "the quick brown fox jumps over the lazy dog tonight again"),
        (2, "the quick brown fox jumps over the lazy cat tonight again"),
        (3, "completely different words about spark and indexes here now"),
        (4, "another unrelated document about winnowing fingerprints forever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from elasticsearch_analysis_combo_spark.operators.dedup import near_duplicates

    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in near_duplicates(df, k=3, threshold=0.5).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) in out and 0.5 <= out[(0, 2)] < 1.0
    assert all(a in (0, 1, 2) and b in (0, 1, 2) for a, b in out)
