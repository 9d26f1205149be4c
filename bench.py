"""Benchmark harness: headline pipeline timings at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {<step>: sec, ...}, "sf": ...,
   "index_files_per_sec": ..., "wand_p50_sec": ..., "n_docs": ...}

Steps:
  index_build      — combo analysis -> term stats -> build_postings ->
                     posting parquet (full pipeline)
  wand_topk        — block-max WAND BM25 top-10, batch of 10 queries
  exhaustive_topk  — same queries, exhaustive scorer (WAND baseline)
  minhash_lsh      — near-dup candidates over documents
  ann_cosine       — brute-force cosine top-10, 10 query vectors
  quality_lang     — quality + language-ID scan
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig  # noqa: E402
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats  # noqa: E402
from elasticsearch_analysis_combo_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_candidates,
)
from elasticsearch_analysis_combo_spark.operators.postings import (  # noqa: E402
    PostingFrame,
    build_postings,
    doc_table,
)
from elasticsearch_analysis_combo_spark.operators.similarity import (  # noqa: E402
    brute_force_cosine_topk,
)
from elasticsearch_analysis_combo_spark.operators.text_quality import (  # noqa: E402
    lang_id,
    quality_score,
)
from elasticsearch_analysis_combo_spark.query.bm25 import (  # noqa: E402
    bm25_exhaustive_topk,
)
from elasticsearch_analysis_combo_spark.query.wand import (  # noqa: E402
    wand_topk_from_postings,
)
from elasticsearch_analysis_combo_spark.session import get_spark  # noqa: E402
from elasticsearch_analysis_combo_spark.sources.corpus import (  # noqa: E402
    documents_as_corpus,
)

QUERIES = [
    (0, "spark query engine"),
    (1, "window merge batch"),
    (2, "the a value table"),
    (3, "customer order line"),
    (4, "hash join stream"),
    (5, "fast slow scan"),
    (6, "key column group"),
    (7, "sort filter part"),
    (8, "big small data"),
    (9, "agg row vector"),
]

# for SPARK_GRAFT_CORPUS=synthetic:* — terms drawn from the generated code
# corpus vocabulary (stop-token-heavy q2 is the WAND stress case)
QUERIES_SYNTH = [
    (0, "merge index segment"),
    (1, "token stream cache"),
    (2, "the if return"),
    (3, "parse_buffer getShard"),
    (4, "query score doc"),
    (5, "reader writer combo"),
    (6, "position offset"),
    (7, "build cache shard"),
    (8, "import class def"),
    (9, "analyzer term post"),
]

CFG = ComboConfig(["whitespace"])


def _burn(n: int) -> int:
    h = b"x" * 64
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return 1


def host_calibration(cpus: int) -> dict:
    """Quick shared-host ceiling probe, stamped into the bench JSON so
    driver-day numbers self-normalize (VERDICT r4 #9): 64 equal sha256-burn
    tasks at 8 procs vs `cpus` procs. ceiling_efficiency is the attainable
    8->cpus efficiency for embarrassingly parallel pure-CPU work on THIS
    host TODAY — Spark numbers recorded alongside it can be compared across
    rounds by dividing out same-day host contention. ~4 s overhead."""
    def run(procs: int) -> float:
        t0 = time.time()
        with mp.Pool(procs) as p:
            p.map(_burn, [200_000] * 64)
        return time.time() - t0

    n_small = min(8, cpus)
    t_s, t_b = run(n_small), run(cpus)
    speedup = t_s / t_b if t_b else 0.0
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = None
    return {
        "procs": [n_small, cpus],
        "t_small": round(t_s, 2),
        "t_big": round(t_b, 2),
        "ceiling_efficiency": round(speedup / (cpus / n_small), 3)
        if cpus > n_small else 1.0,
        "load1_before": load1,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # SPARK_GRAFT_CORPUS=synthetic:<n> benchmarks the generated code corpus
    # (FIXTURES.md bench scale) instead of the sf documents table
    corpus_spec = os.environ.get("SPARK_GRAFT_CORPUS", "sf")
    calibration = host_calibration(cpus)
    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    if corpus_spec.startswith("synthetic"):
        from elasticsearch_analysis_combo_spark.sources.corpus import (
            generate_corpus,
            ingest,
        )

        n = int(corpus_spec.split(":")[1]) if ":" in corpus_spec else 100_000
        gen_dir = tempfile.mkdtemp(prefix="bench_corpus_")
        generate_corpus(spark, n).write.mode("overwrite").parquet(gen_dir)
        corpus = ingest(spark.read.parquet(gen_dir))
    else:
        corpus = documents_as_corpus(spark, sf_dir)
    n_docs = corpus.count()
    queries = QUERIES_SYNTH if corpus_spec.startswith("synthetic") else QUERIES

    # --- index build (full pipeline, posting table written) ---
    # best-of-N to de-noise shared-host variance (scaling protocol sets
    # SPARK_GRAFT_REPEATS=2+; throughput uses the min wall time)
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "1"))
    build_times = []
    for rep in range(repeats):
        out_dir = tempfile.mkdtemp(prefix=f"bench_idx_{rep}_")
        t0 = time.time()
        stats = build_term_stats(corpus, CFG, content_col="content")
        stats.write.mode("overwrite").parquet(f"{out_dir}/term_stats")
        stats = spark.read.parquet(f"{out_dir}/term_stats")
        # doc stats (exact — BM25 constants) and hot-term detection (sampled
        # — skew detection needs magnitude, not exactness) run as concurrent
        # Spark jobs to overlap their scheduling barriers
        from concurrent.futures import ThreadPoolExecutor

        def _docstats():
            docs = doc_table(stats)
            return docs, float(docs.dl.sum()) / max(docs.dl.size, 1)

        def _hot():
            # mirror build_index's default salting threshold (df >=
            # n_docs/10): salting exists for terms whose posting list
            # overwhelms ONE task — a lower cutoff routes ordinary terms
            # through the hot shards (a second shuffle + totals join) for
            # no benefit
            frac = 0.05
            thresh = max(4 * 128, n_docs // 10)
            return [
                r["term"]
                for r in stats.sample(frac, seed=42)
                .groupBy("term").agg(F.count("*").alias("df"))
                .filter(F.col("df") >= max(4, int(thresh * frac)))
                .collect()
            ]

        with ThreadPoolExecutor(2) as ex:
            f1, f2 = ex.submit(_docstats), ex.submit(_hot)
            (docs, avgdl), hot_list = f1.result(), f2.result()
        n_idx = int(docs.doc_ids.size)
        hot = spark.createDataFrame([(t,) for t in hot_list] or [("",)], "term string")
        postings = build_postings(stats, docs, avgdl=avgdl, hot_terms=hot,
                                  salt_shards=8, with_positions=True)
        # already term-clustered+sorted per partition (grouped_map_sorted)
        postings.write.mode("overwrite").parquet(f"{out_dir}/postings")
        build_times.append(time.time() - t0)
    timings["index_build"] = min(build_times)
    postings = PostingFrame(spark.read.parquet(f"{out_dir}/postings"), docs)

    # --- WAND batch + per-batch repeats for a stable p50 ---
    wand_times = []
    for _ in range(3):
        t0 = time.time()
        wand_topk_from_postings(
            spark, postings, queries, CFG, n_docs=n_idx, avgdl=avgdl, k=10
        ).collect()
        wand_times.append(time.time() - t0)
    timings["wand_topk"] = statistics.median(wand_times)

    # range-partitioned WAND (the hot-term fan-out path)
    from elasticsearch_analysis_combo_spark.query.wand import wand_topk_partitioned

    part_times = []
    for _ in range(3):
        t0 = time.time()
        wand_topk_partitioned(
            spark, postings, queries, CFG, n_docs=n_idx, avgdl=avgdl, k=10,
            range_bits=3,
        ).collect()
        part_times.append(time.time() - t0)
    timings["wand_partitioned"] = statistics.median(part_times)

    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    t0 = time.time()
    bm25_exhaustive_topk(
        spark, stats, term_df, queries, CFG, n_idx, avgdl, k=10
    ).collect()
    timings["exhaustive_topk"] = time.time() - t0

    # --- phrase (range-partitioned evaluator; stop-token-heavy phrases) ---
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match_partitioned,
    )

    phrases = (
        [(0, "the if"), (1, "token stream"), (2, "merge index segment")]
        if corpus_spec.startswith("synthetic")
        else [(0, "the value"), (1, "value table"), (2, "customer order line")]
    )
    ph_times = []
    for _ in range(3):
        t0 = time.time()
        phrase_match_partitioned(
            spark, postings, phrases, CFG, slop=1, range_bits=3
        ).count()
        ph_times.append(time.time() - t0)
    timings["phrase_partitioned"] = statistics.median(ph_times)

    # --- simple_query_string (distributed capped expansions + phrase
    # frequency scoring; prefix/fuzzy/phrase mix is the stress shape) ---
    from elasticsearch_analysis_combo_spark.query.querystring import (
        simple_query_string_topk,
    )

    qs_queries = (
        [(0, "s* merge"), (1, '"token stream" +cache'), (2, "qery~2 score")]
        if corpus_spec.startswith("synthetic")
        else [(0, "s* join"), (1, '"value table" +spark'), (2, "qery~2 data")]
    )
    qs_times = []
    for _ in range(3):
        t0 = time.time()
        simple_query_string_topk(
            spark, stats, term_df, postings, qs_queries, CFG, n_idx, avgdl,
            k=10, max_expansions=50,
        ).collect()
        qs_times.append(time.time() - t0)
    timings["query_string"] = statistics.median(qs_times)

    # --- intervals (minimal-interval algebra over the positional index) ---
    from elasticsearch_analysis_combo_spark.query.intervals import (
        intervals_match,
    )

    iv_rules = (
        [(0, {"match": {"query": "token stream", "ordered": True,
                        "max_gaps": 3}}),
         (1, {"match": {"query": "the if", "max_gaps": 6}})]
        if corpus_spec.startswith("synthetic")
        else [(0, {"match": {"query": "value table", "ordered": True,
                             "max_gaps": 3}}),
              (1, {"match": {"query": "data batch", "max_gaps": 6}})]
    )
    iv_times = []
    for _ in range(3):
        t0 = time.time()
        intervals_match(spark, postings, iv_rules, CFG, range_bits=3).count()
        iv_times.append(time.time() - t0)
    timings["intervals"] = statistics.median(iv_times)

    # --- ES Query DSL (compiled bool + pre-rank filter semi-join) ---
    from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk

    dsl_meta = corpus.select(
        F.col("doc_id"), F.length("content").alias("n_chars")
    )
    dsl_reqs = (
        [(0, {"bool": {"must": [{"match": {"content": "the"}}],
                       "should": [{"match_phrase": {"content":
                                                    "token stream"}}],
                       "filter": [{"range": {"n_chars": {"gte": 100}}}]}})]
        if corpus_spec.startswith("synthetic")
        else [(0, {"bool": {"must": [{"match": {"content": "value"}}],
                            "should": [{"match_phrase": {"content":
                                                         "value table"}}],
                            "filter": [{"range": {"n_chars":
                                                  {"gte": 100}}}]}})]
    )
    dsl_times = []
    for _ in range(3):
        t0 = time.time()
        dsl_topk(
            spark, stats, term_df, postings, dsl_reqs, CFG, n_idx, avgdl,
            doc_meta=dsl_meta, k=10, partitioned_phrases=True, range_bits=3,
        ).collect()
        dsl_times.append(time.time() - t0)
    timings["es_dsl"] = statistics.median(dsl_times)

    # --- ES aggs-tree compiler over the corpus metadata ---
    from elasticsearch_analysis_combo_spark.query.aggcompiler import (
        dsl_search_aggs,
    )

    meta = corpus.select(
        "doc_id", F.length("content").alias("n_chars"),
        F.pmod(F.xxhash64("doc_id"), F.lit(20)).cast("string")
          .alias("shard"),
    )
    aggs_body = {
        "query": {"range": {"n_chars": {"gte": 50}}},
        "aggs": {
            "by_shard": {
                "terms": {"field": "shard", "size": 10,
                          "order": {"avg_len": "desc"}},
                "aggs": {"avg_len": {"avg": {"field": "n_chars"}},
                         "len_hist": {"histogram": {"field": "n_chars",
                                                    "interval": 200.0}}},
            },
            "len_stats": {"stats": {"field": "n_chars"}},
        },
    }
    ag_times = []
    for _ in range(3):
        t0 = time.time()
        dsl_search_aggs(meta, aggs_body).collect()
        ag_times.append(time.time() - t0)
    timings["es_aggs"] = statistics.median(ag_times)

    # --- training-data ops ---
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    minhash_lsh_candidates(docs, k=3, num_hashes=32, bands=8).count()
    timings["minhash_lsh"] = time.time() - t0

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = emb.limit(10).collect()
    ann_queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    t0 = time.time()
    brute_force_cosine_topk(emb, ann_queries, k=10).collect()
    timings["ann_cosine"] = time.time() - t0

    t0 = time.time()
    quality_score(docs).count()
    lang_id(docs).count()
    timings["quality_lang"] = time.time() - t0

    # --- round-4 ops: curation chain + deterministic packing ---
    from elasticsearch_analysis_combo_spark.operators.pipeline import (
        curate_corpus,
        pack_sequences,
    )

    text_col = "text" if "text" in docs.columns else "content"
    t0 = time.time()
    curate_corpus(
        docs, text_col=text_col, min_quality=0.5, dedup=True
    ).count()
    timings["curate"] = time.time() - t0
    tok_col = "n_chars" if "n_chars" in docs.columns else None
    if tok_col:
        t0 = time.time()
        pack_sequences(
            docs.select("doc_id", tok_col), tok_col, budget=2048,
            n_buckets=32,
        ).count()
        timings["pack"] = time.time() - t0

    # --- round-4e ops: Gopher repetition filters + SemDeDup ---
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        semantic_dedup_pairs,
    )
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        repetition_stats,
    )

    t0 = time.time()
    # sum a joined column: count() alone would let Catalyst eliminate
    # the unique-key left joins and skip the gram aggregations entirely
    repetition_stats(docs, text_col=text_col).agg(
        F.sum("top_ngram_char_frac"), F.sum("dup_ngram_char_frac")
    ).collect()
    timings["repetition"] = time.time() - t0
    t0 = time.time()
    semantic_dedup_pairs(emb, threshold=0.3, n_cells=32, seed=42).count()
    timings["semantic_dedup"] = time.time() - t0

    # --- round-4i ops: bigram-LM perplexity + span_multi ---
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        ngram_lm_perplexity,
    )
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_multi_near_match,
    )

    t0 = time.time()
    # sum scores so Catalyst can't elide the model join
    ngram_lm_perplexity(docs, text_col=text_col).agg(
        F.sum("logprob_per_token")
    ).collect()
    timings["lm_perplexity"] = time.time() - t0

    sm_clauses = (
        {0: [("prefix", "tok"), ("term", "the")],
         1: [("term", "if"), ("fuzzy", ("token", 1))]}
        if corpus_spec.startswith("synthetic")
        else {0: [("prefix", "val"), ("term", "the")],
              1: [("term", "data"), ("fuzzy", ("batch", 1))]}
    )
    sm_times = []
    for _ in range(3):
        t0 = time.time()
        span_multi_near_match(
            spark, postings, term_df, sm_clauses, slop=6, in_order=False,
            max_expansions=20, range_bits=3,
        ).count()
        sm_times.append(time.time() - t0)
    timings["span_multi"] = statistics.median(sm_times)

    # --- round-4j op: ExactSubstr repeated-passage dedup ---
    from elasticsearch_analysis_combo_spark.operators.dedup import (
        duplicate_spans,
    )

    t0 = time.time()
    duplicate_spans(docs, text_col=text_col, window=4).count()
    timings["dup_spans"] = time.time() - t0

    total = sum(timings.values())
    result = {
        "metric": "pipeline_bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "corpus": corpus_spec,
        "index_files_per_sec": round(n_docs / timings["index_build"], 2),
        "wand_p50_sec": round(statistics.median(wand_times), 3),
        "wand_per_query_sec": round(statistics.median(wand_times) / len(queries), 4),
        "host_calibration": calibration,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
