"""Streaming incremental ingest (generations + compaction) and positional
phrase matching."""

import numpy as np
import pytest

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.query.phrase import phrase_match
from elasticsearch_analysis_combo_spark.sources.corpus import (
    CORPUS_SCHEMA,
    generate_corpus,
    ingest,
)
from elasticsearch_analysis_combo_spark.streaming.ingest import (
    publish_compacted,
    start_incremental_ingest,
    stream_corpus,
)

from tests.oracle import build_oracle_index

CFG = ComboConfig(["whitespace", "standard"], deduplication=True)


def test_incremental_ingest_equals_batch(spark, tmp_path):
    drop_dir = str(tmp_path / "drop")
    idx_dir = str(tmp_path / "idx")
    full = ingest(generate_corpus(spark, 120)).cache()
    a = full.filter("pmod(doc_id, 2) = 0")
    b = full.filter("pmod(doc_id, 2) = 1")
    schema = full.schema

    # batch 1 lands, stream drains it
    a.write.mode("overwrite").parquet(f"{drop_dir}/batch1")
    stream = stream_corpus(spark, f"{drop_dir}/*", schema)
    q = start_incremental_ingest(stream, CFG, idx_dir)
    q.awaitTermination(120)

    # batch 2 lands later; a NEW availableNow query resumes from the same
    # checkpoint and must process ONLY the new files (exactly-once)
    b.write.mode("overwrite").parquet(f"{drop_dir}/batch2")
    stream2 = stream_corpus(spark, f"{drop_dir}/*", schema)
    q2 = start_incremental_ingest(stream2, CFG, idx_dir)
    q2.awaitTermination(120)

    idx = publish_compacted(spark, CFG, idx_dir, salt_shards=4)
    docs = [(r["doc_id"], r["content"], r["lang"])
            for r in full.select("doc_id", "content", "lang").collect()]
    exp_postings, exp_dl, exp_n, exp_avgdl = build_oracle_index(docs, CFG)
    assert idx.meta.n_docs == exp_n
    assert abs(idx.meta.avgdl - exp_avgdl) < 1e-9
    got = {(r["term"], r["df"], r["cf"]) for r in idx.postings().collect()}
    exp = {
        (t, len(pl), sum(tf for tf, _ in pl.values()))
        for t, pl in exp_postings.items()
    }
    assert got == exp


def test_reingested_doc_last_writer_wins(spark, tmp_path):
    """A doc re-ingested with new content in a later generation must fully
    replace its earlier postings (no duplicate postings, no inflated df)."""
    drop_dir = str(tmp_path / "drop")
    idx_dir = str(tmp_path / "idx")
    full = ingest(generate_corpus(spark, 60)).cache()
    schema = full.schema

    full.write.mode("overwrite").parquet(f"{drop_dir}/batch1")
    q = start_incremental_ingest(stream_corpus(spark, f"{drop_dir}/*", schema), CFG, idx_dir)
    q.awaitTermination(120)

    # update half the docs: new content, same doc_ids
    from pyspark.sql import functions as F
    updated = full.filter("pmod(doc_id, 2) = 0").withColumn(
        "content", F.concat(F.lit("updated rewrite "), F.col("content"))
    )
    updated.write.mode("overwrite").parquet(f"{drop_dir}/batch2")
    q2 = start_incremental_ingest(stream_corpus(spark, f"{drop_dir}/*", schema), CFG, idx_dir)
    q2.awaitTermination(120)

    idx = publish_compacted(spark, CFG, idx_dir, salt_shards=4)
    final = full.filter("pmod(doc_id, 2) = 1").unionByName(updated)
    docs = [(r["doc_id"], r["content"], r["lang"])
            for r in final.select("doc_id", "content", "lang").collect()]
    exp_postings, _, exp_n, exp_avgdl = build_oracle_index(docs, CFG)
    assert idx.meta.n_docs == exp_n             # no doc counted twice
    assert abs(idx.meta.avgdl - exp_avgdl) < 1e-9
    got = {(r["term"], r["df"], r["cf"]) for r in idx.postings().collect()}
    exp = {(t, len(pl), sum(tf for tf, _ in pl.values()))
           for t, pl in exp_postings.items()}
    assert got == exp


def test_publish_compacted_serves_wand(spark, tmp_path):
    """publish_compacted atomically installs a servable index: WAND over it
    equals WAND over a batch-built index of the same docs."""
    from elasticsearch_analysis_combo_spark.plans.index_build import build_index
    from elasticsearch_analysis_combo_spark.query.wand import wand_topk

    drop_dir = str(tmp_path / "drop")
    inc_dir = str(tmp_path / "inc_idx")
    batch_dir = str(tmp_path / "batch_idx")
    corpus = ingest(generate_corpus(spark, 80)).cache()

    corpus.write.mode("overwrite").parquet(f"{drop_dir}/b1")
    q = start_incremental_ingest(
        stream_corpus(spark, f"{drop_dir}/*", corpus.schema), CFG, inc_dir
    )
    q.awaitTermination(120)
    inc_idx = publish_compacted(spark, CFG, inc_dir, salt_shards=4)

    batch_idx = build_index(spark, corpus, CFG, batch_dir, salt_shards=4)
    queries = [(0, "merge segment"), (1, "the if return"), (2, "getFooBar")]
    a = wand_topk(spark, inc_idx, queries, CFG, k=10).collect()
    bq = wand_topk(spark, batch_idx, queries, CFG, k=10).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, bq))
    for ra, rb in zip(sorted(a, key=key), sorted(bq, key=key)):
        assert abs(ra["score"] - rb["score"]) < 1e-9


def test_publish_compacted_is_a_whole_index(spark, tmp_path):
    """A streamed index carries every table build_index writes, so the
    dictionary, doc stats, prefix phrases and batch maintenance all work
    on it, with the same contents as a batch build of the same docs."""
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
    from elasticsearch_analysis_combo_spark.plans.index_build import build_index

    drop_dir = str(tmp_path / "drop")
    inc_dir = str(tmp_path / "inc_idx")
    corpus = ingest(generate_corpus(spark, 40)).cache()
    corpus.write.mode("overwrite").parquet(f"{drop_dir}/b1")
    q = start_incremental_ingest(
        stream_corpus(spark, f"{drop_dir}/*", corpus.schema), CFG, inc_dir
    )
    q.awaitTermination(120)
    inc = publish_compacted(spark, CFG, inc_dir, salt_shards=4)
    batch = build_index(spark, corpus, CFG, str(tmp_path / "batch_idx"),
                        salt_shards=4)

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert rows(inc.term_df(), ["term", "df", "cf"]) == rows(
        batch.term_df(), ["term", "df", "cf"])
    assert rows(inc.doc_stats(), ["doc_id", "dl"]) == rows(
        batch.doc_stats(), ["doc_id", "dl"])
    assert rows(inc.term_stats(), ["doc_id", "term", "tf"]) == rows(
        batch.term_stats(), ["doc_id", "term", "tf"])

    eng = ComboSearchEngine(spark, CFG, inc_dir, salt_shards=4)
    words = corpus.first()["content"].split()
    prefix = f"{words[0]} {words[1][:2]}"
    hits = rows(eng.phrase_prefix(prefix), ["query_id", "doc_id"])
    assert hits
    assert hits == rows(
        ComboSearchEngine(spark, CFG, batch.index_dir).phrase_prefix(prefix),
        ["query_id", "doc_id"],
    )

    victim = corpus.first()["doc_id"]
    eng.delete([victim])
    after = eng.compact()
    assert after.meta.n_docs == inc.meta.n_docs - 1
    assert victim not in {r["doc_id"] for r in after.doc_stats().collect()}


def test_changed_corpus_rebuilds_not_resumes(spark, tmp_path):
    """build_index into an existing index_dir with DIFFERENT data must
    rebuild (auto input fingerprint), not silently resume the stale index."""
    from elasticsearch_analysis_combo_spark.plans.index_build import build_index

    idx_dir = str(tmp_path / "idx")
    c1 = ingest(generate_corpus(spark, 40, seed=1)).cache()
    c2 = ingest(generate_corpus(spark, 55, seed=2)).cache()
    i1 = build_index(spark, c1, CFG, idx_dir, salt_shards=2)
    assert i1.meta.n_docs == 40
    i2 = build_index(spark, c2, CFG, idx_dir, salt_shards=2)
    assert i2.meta.n_docs == 55
    terms2 = {r["term"] for r in i2.term_df().collect()}
    from tests.oracle import build_oracle_index as boi
    docs2 = [(r["doc_id"], r["content"], r["lang"])
             for r in c2.select("doc_id", "content", "lang").collect()]
    assert terms2 == set(boi(docs2, CFG)[0].keys())


def test_stateful_first_seen_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: state persists across micro-batches —
    a later batch with a smaller doc_id for a known hash re-emits, a larger
    one doesn't; final min per hash equals batch SQL."""
    from pyspark.sql import functions as F

    from elasticsearch_analysis_combo_spark.streaming.stateful import (
        stateful_first_seen,
    )

    drop = str(tmp_path / "drop")
    rows1 = [(50, "alpha beta"), (60, "gamma delta"), (70, "alpha beta")]
    rows2 = [(10, "alpha beta"), (90, "gamma delta"), (40, "epsilon zeta")]
    spark.createDataFrame(rows1, "doc_id long, text string").write.parquet(f"{drop}/b1")
    spark.createDataFrame(rows2, "doc_id long, text string").write.parquet(f"{drop}/b2")

    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).format("parquet").load(f"{drop}/*")
    keyed = stream.select(
        F.sha2(F.col("text"), 256).alias("content_hash"), F.col("doc_id")
    )
    q = (
        stateful_first_seen(keyed)
        .writeStream.outputMode("update").format("memory")
        .queryName("sf_seen_tmp")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["content_hash"]: r["doc_id"]
        for r in spark.table("sf_seen_tmp")
        .groupBy("content_hash").agg(F.min("doc_id").alias("doc_id")).collect()
    }
    import hashlib

    def h(t):
        return hashlib.sha256(t.encode()).hexdigest()

    assert got[h("alpha beta")] == 10
    assert got[h("gamma delta")] == 60
    assert got[h("epsilon zeta")] == 40


def test_phrase_match(spark, tmp_path):
    rows = [
        (0, "merge the segment then merge the segment again"),
        (1, "segment merge is not the merge segment"),
        (2, "merge merge segment"),
        (3, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
    from elasticsearch_analysis_combo_spark.operators.postings import (
        posting_frame,
    )

    cfg = ComboConfig(["whitespace"])
    stats = build_term_stats(docs, cfg)
    postings = posting_frame(stats, avgdl=7.0, block_size=4)
    out = phrase_match(
        spark, postings, [(0, "merge the segment"), (1, "merge segment"), (2, "zzz qqq")], cfg
    ).collect()
    got = {(r["query_id"], r["doc_id"]): r["n_matches"] for r in out}
    assert got[(0, 0)] == 2          # phrase occurs twice in doc 0
    assert (0, 1) not in got
    assert got[(1, 1)] == 1          # "merge segment" tail of doc 1
    assert got[(1, 2)] == 1
    assert not any(q == 2 for q, _ in got)  # unseen phrase -> no rows
