"""Per-stage isolation bench + plan capture (guide §1.1/§1.4/§7.2).

NOT the frozen driver bench (`bench.py` is the measured contract and stays
untouched): this harness replays the same stages with
  * `.explain("formatted")` dumped per stage (--explain-dir, --suffix) for
    the plans/r06 before/after evidence,
  * optional repeated timing per stage with `setJobDescription` labels,
  * noop-sink isolation where a stage's bench form would otherwise
    entangle sink cost.

Usage:
  python bench_extra.py --explain-dir plans/r06 --suffix after --repeats 3
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig  # noqa: E402
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats  # noqa: E402
from elasticsearch_analysis_combo_spark.operators.postings import (  # noqa: E402
    PostingFrame,
    build_postings,
    doc_table,
)
from elasticsearch_analysis_combo_spark.session import get_spark  # noqa: E402
from elasticsearch_analysis_combo_spark.sources.corpus import documents_as_corpus  # noqa: E402

QUERIES = [
    (0, "spark query engine"), (1, "window merge batch"),
    (2, "the a value table"), (3, "customer order line"),
    (4, "hash join stream"), (5, "fast slow scan"),
    (6, "key column group"), (7, "sort filter part"),
    (8, "big small data"), (9, "agg row vector"),
]
CFG = ComboConfig(["whitespace"])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--stages", default=None,
                    help="comma-separated stage filter")
    args = ap.parse_args()
    only = set(args.stages.split(",")) if args.stages else None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    corpus = documents_as_corpus(spark, sf_dir)
    n_docs = corpus.count()
    timings: dict[str, list[float]] = {}

    def dump_plan(name: str, df) -> None:
        if args.explain_dir:
            import contextlib
            import io

            os.makedirs(args.explain_dir, exist_ok=True)
            p = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(p, "w") as fh:
                fh.write(buf.getvalue())

    def run(name: str, mk, action=None, plan_df=None) -> None:
        """mk() -> DataFrame; action(df) consumes it (default collect).

        A FRESH DataFrame is built per repeat: re-collecting the same
        object reuses its already-materialized AQE query stages (shuffle
        outputs stay registered), which under-times everything after
        rep 1 — bench.py's own loops rebuild per iteration for the same
        reason."""
        if only and name not in only:
            return
        df = mk()
        dump_plan(name, plan_df if plan_df is not None else df)
        for i in range(args.repeats):
            fresh = df if i == 0 else mk()
            sc.setJobDescription(name)
            t0 = time.time()
            (action or (lambda d: d.collect()))(fresh)
            timings.setdefault(name, []).append(time.time() - t0)
        sc.setJobDescription(None)

    # ---- index build (plan capture on the two written frames) ----
    out_dir = tempfile.mkdtemp(prefix="bx_idx_")
    build_reps = []
    for rep in range(args.repeats if (not only or "index_build" in only) else 0):
        d = tempfile.mkdtemp(prefix=f"bx_idx_{rep}_")
        sc.setJobDescription("index_build")
        t0 = time.time()
        stats = build_term_stats(corpus, CFG, content_col="content")
        stats.write.mode("overwrite").parquet(f"{d}/term_stats")
        stats = spark.read.parquet(f"{d}/term_stats")
        from concurrent.futures import ThreadPoolExecutor

        def _docstats():
            docs = doc_table(stats)
            return docs, float(docs.dl.sum()) / max(docs.dl.size, 1)

        def _hot():
            frac = 0.05
            thresh = max(4 * 128, n_docs // 10)
            return [r["term"] for r in stats.sample(frac, seed=42)
                    .groupBy("term").agg(F.count("*").alias("df"))
                    .filter(F.col("df") >= max(4, int(thresh * frac)))
                    .collect()]

        with ThreadPoolExecutor(2) as ex:
            f1, f2 = ex.submit(_docstats), ex.submit(_hot)
            (docs, avgdl), hot_list = f1.result(), f2.result()
        n_idx = int(docs.doc_ids.size)
        hot = spark.createDataFrame([(t,) for t in hot_list] or [("",)],
                                    "term string")
        postings_df = build_postings(stats, docs, avgdl=avgdl, hot_terms=hot,
                                     salt_shards=8, with_positions=True)
        postings_df.write.mode("overwrite").parquet(f"{d}/postings")
        build_reps.append(time.time() - t0)
        out_dir = d
        if rep == 0:
            dump_plan("index_term_stats", build_term_stats(
                corpus, CFG, content_col="content"))
            dump_plan("index_postings", postings_df)
    if build_reps:
        timings["index_build"] = build_reps
    else:
        # stages-only run still needs an index
        d = tempfile.mkdtemp(prefix="bx_idx_once_")
        stats = build_term_stats(corpus, CFG, content_col="content")
        stats.write.mode("overwrite").parquet(f"{d}/term_stats")
        stats = spark.read.parquet(f"{d}/term_stats")
        docs = doc_table(stats)
        n_idx = int(docs.doc_ids.size)
        avgdl = float(docs.dl.sum()) / max(n_idx, 1)
        hot_list = [r["term"] for r in stats.sample(0.05, seed=42)
                    .groupBy("term").agg(F.count("*").alias("df"))
                    .filter(F.col("df") >= max(4, int(max(512, n_docs // 10) * 0.05)))
                    .collect()]
        hot = spark.createDataFrame([(t,) for t in hot_list] or [("",)],
                                    "term string")
        build_postings(stats, docs, avgdl=avgdl, hot_terms=hot, salt_shards=8,
                       with_positions=True).write.mode("overwrite").parquet(
            f"{d}/postings")
        out_dir = d
    stats = spark.read.parquet(f"{out_dir}/term_stats")
    postings = PostingFrame(spark.read.parquet(f"{out_dir}/postings"), docs)
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))

    from elasticsearch_analysis_combo_spark.query.wand import (
        wand_topk_from_postings, wand_topk_partitioned,
    )
    from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk

    run("wand_topk", lambda: wand_topk_from_postings(
        spark, postings, QUERIES, CFG, n_docs=n_idx, avgdl=avgdl, k=10))
    run("wand_partitioned", lambda: wand_topk_partitioned(
        spark, postings, QUERIES, CFG, n_docs=n_idx, avgdl=avgdl, k=10,
        range_bits=3))
    run("exhaustive_topk", lambda: bm25_exhaustive_topk(
        spark, stats, term_df, QUERIES, CFG, n_idx, avgdl, k=10))

    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match_partitioned,
    )
    phrases = [(0, "the value"), (1, "value table"), (2, "customer order line")]
    run("phrase_partitioned", lambda: phrase_match_partitioned(
        spark, postings, phrases, CFG, slop=1, range_bits=3),
        action=lambda d: d.count())

    from elasticsearch_analysis_combo_spark.query.querystring import (
        simple_query_string_topk,
    )
    qs_queries = [(0, "s* join"), (1, '"value table" +spark'), (2, "qery~2 data")]
    run("query_string", lambda: simple_query_string_topk(
        spark, stats, term_df, postings, qs_queries, CFG, n_idx, avgdl,
        k=10, max_expansions=50))

    from elasticsearch_analysis_combo_spark.query.intervals import intervals_match
    iv_rules = [(0, {"match": {"query": "value table", "ordered": True,
                               "max_gaps": 3}}),
                (1, {"match": {"query": "data batch", "max_gaps": 6}})]
    run("intervals", lambda: intervals_match(
        spark, postings, iv_rules, CFG, range_bits=3),
        action=lambda d: d.count())

    from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk
    dsl_meta = corpus.select(F.col("doc_id"), F.length("content").alias("n_chars"))
    dsl_reqs = [(0, {"bool": {"must": [{"match": {"content": "value"}}],
                             "should": [{"match_phrase": {"content": "value table"}}],
                             "filter": [{"range": {"n_chars": {"gte": 100}}}]}})]
    run("es_dsl", lambda: dsl_topk(
        spark, stats, term_df, postings, dsl_reqs, CFG, n_idx, avgdl,
        doc_meta=dsl_meta, k=10, partitioned_phrases=True, range_bits=3))

    from elasticsearch_analysis_combo_spark.query.aggcompiler import dsl_search_aggs
    meta = corpus.select(
        "doc_id", F.length("content").alias("n_chars"),
        F.pmod(F.xxhash64("doc_id"), F.lit(20)).cast("string").alias("shard"))
    aggs_body = {
        "query": {"range": {"n_chars": {"gte": 50}}},
        "aggs": {
            "by_shard": {"terms": {"field": "shard", "size": 10,
                                   "order": {"avg_len": "desc"}},
                         "aggs": {"avg_len": {"avg": {"field": "n_chars"}},
                                  "len_hist": {"histogram": {"field": "n_chars",
                                                             "interval": 200.0}}}},
            "len_stats": {"stats": {"field": "n_chars"}},
        },
    }
    run("es_aggs", lambda: dsl_search_aggs(meta, aggs_body))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from elasticsearch_analysis_combo_spark.operators.dedup import (
        minhash_lsh_candidates, duplicate_spans,
    )
    run("minhash_lsh", lambda: minhash_lsh_candidates(
        docs, k=3, num_hashes=32, bands=8), action=lambda d: d.count())

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = emb.limit(10).collect()
    ann_queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                   for r in qrows]
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        brute_force_cosine_topk, semantic_dedup_pairs,
    )
    run("ann_cosine", lambda: brute_force_cosine_topk(emb, ann_queries, k=10))

    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        lang_id, quality_score, repetition_stats, ngram_lm_perplexity,
    )
    text_col = "text" if "text" in docs.columns else "content"

    def _ql(_):
        quality_score(docs).count()
        lang_id(docs).count()
    run("quality_lang", lambda: None, action=_ql,
        plan_df=quality_score(docs))

    from elasticsearch_analysis_combo_spark.operators.pipeline import (
        curate_corpus, pack_sequences,
    )
    run("curate", lambda: curate_corpus(
        docs, text_col=text_col, min_quality=0.5, dedup=True),
        action=lambda d: d.count())
    run("pack", lambda: pack_sequences(
        docs.select("doc_id", "n_chars"), "n_chars", budget=2048, n_buckets=32),
        action=lambda d: d.count())
    run("repetition", lambda: repetition_stats(docs, text_col=text_col).agg(
        F.sum("top_ngram_char_frac"), F.sum("dup_ngram_char_frac")))
    run("semantic_dedup", lambda: semantic_dedup_pairs(
        emb, threshold=0.3, n_cells=32, seed=42), action=lambda d: d.count())
    run("lm_perplexity", lambda: ngram_lm_perplexity(
        docs, text_col=text_col).agg(F.sum("logprob_per_token")))

    from elasticsearch_analysis_combo_spark.query.spans import span_multi_near_match
    sm_clauses = {0: [("prefix", "val"), ("term", "the")],
                  1: [("term", "data"), ("fuzzy", ("batch", 1))]}
    run("span_multi", lambda: span_multi_near_match(
        spark, postings, term_df, sm_clauses, slop=6, in_order=False,
        max_expansions=20, range_bits=3), action=lambda d: d.count())
    run("dup_spans", lambda: duplicate_spans(docs, text_col=text_col, window=4),
        action=lambda d: d.count())

    out = {
        "stage_medians": {k: round(statistics.median(v), 3)
                          for k, v in timings.items()},
        "stage_samples": {k: [round(x, 3) for x in v]
                          for k, v in timings.items()},
        "repeats": args.repeats,
        "sf": sf_dir, "cpus": cpus, "n_docs": n_docs,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
