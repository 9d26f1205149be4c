"""End-to-end index build + query tests (SURVEY.md §7 M2-M4):

* distributed posting build == pure-Python oracle postings (B2-B5 roundtrip
  through build_postings and the block compression)
* exhaustive Spark BM25 top-k == oracle top-k (rank + score, 1e-9)
* WAND top-k == exhaustive top-k on every query (B8 invariant)
* resume-from-checkpoint == fresh run (B6)
"""

import shutil

import numpy as np
import pytest

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.postings import (
    decode_segment_blocks,
    term_blocks_from_rows,
)
from elasticsearch_analysis_combo_spark.plans.index_build import build_index
from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk
from elasticsearch_analysis_combo_spark.query.wand import wand_topk
from elasticsearch_analysis_combo_spark.sources.corpus import (
    generate_corpus,
    ingest,
)

from tests.oracle import build_oracle_index, oracle_topk

CFG = ComboConfig(["whitespace", "standard", "identifier"], deduplication=True)

QUERIES = [
    (0, "getFooBar"),                  # camelCase, identifier-only hit
    (1, "merge segment"),              # multi-term
    (2, "the if return"),              # stop-token heavy (WAND stress)
    (3, "schöner Köln"),               # non-ASCII
    (4, "cache"),                      # single common term
    (5, "zzz_no_such_term"),           # no hits
    (6, 'token_stream "query"'),       # snake_case + quoted literal
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    idx_dir = str(tmp_path_factory.mktemp("index"))
    corpus = ingest(generate_corpus(spark, 300)).cache()
    rows = corpus.select("doc_id", "content", "lang").collect()
    docs = [(r["doc_id"], r["content"], r["lang"]) for r in rows]
    index = build_index(
        spark, corpus, CFG, idx_dir, salt_shards=4, block_size=64
    )
    return index, docs, idx_dir, corpus


def test_postings_match_oracle(built):
    index, docs, *_ = built
    postings, doc_len, n_docs, avgdl = build_oracle_index(docs, CFG)
    assert index.meta.n_docs == n_docs
    assert abs(index.meta.avgdl - avgdl) < 1e-9

    rows = index.postings().collect()
    # hot terms may span multiple bounded (term, run_idx) rows
    by_term: dict[str, list] = {}
    for row in rows:
        by_term.setdefault(row["term"], []).append(row)
    assert len(by_term) == len(postings)
    for term, trows in by_term.items():
        exp = postings[term]
        assert all(r["df"] == len(exp) for r in trows)  # term totals per run
        blocks = term_blocks_from_rows(
            [r["run_idx"] for r in trows], [r["blocks"] for r in trows]
        )
        doc_ids, tfs, dls, pos = decode_segment_blocks(blocks, True)
        # sorted ascending, unique (comparison, not np.diff — int64 gaps
        # between hash docIDs overflow subtraction)
        assert (doc_ids[1:] > doc_ids[:-1]).all()
        got = {int(d): (int(t), list(map(int, p))) for d, t, p in zip(doc_ids, tfs, pos)}
        assert got == {d: (tf, ps) for d, (tf, ps) in exp.items()}
        # dl consistency
        for d, l in zip(doc_ids, dls):
            assert doc_len[int(d)] == int(l)


def test_exhaustive_matches_oracle(built, spark):
    index, docs, *_ = built
    got = bm25_exhaustive_topk(
        spark, index.term_stats(), index.term_df(), QUERIES, CFG,
        index.meta.n_docs, index.meta.avgdl, k=10,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext in QUERIES:
        exp = oracle_topk(docs, CFG, qtext, k=10)
        have = sorted(by_q.get(qid, []))
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in exp], qtext
        for (_, _, s1), (_, _, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9


def test_wand_matches_exhaustive(built, spark):
    index, docs, *_ = built
    got = wand_topk(spark, index, QUERIES, CFG, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, qtext in QUERIES:
        exp = oracle_topk(docs, CFG, qtext, k=10)
        have = sorted(by_q.get(qid, []))
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in exp], qtext
        for (_, _, s1), (_, _, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9


def test_wand_k_larger_than_hits(built, spark):
    index, docs, *_ = built
    got = wand_topk(spark, index, [(0, "getFooBar")], CFG, k=10_000).collect()
    exp = oracle_topk(docs, CFG, "getFooBar", k=10_000)
    assert len(got) == len(exp)


def test_resume_from_checkpoint_equals_fresh(built, spark):
    index, docs, idx_dir, corpus = built
    # resume: same fingerprint -> all stages are cache hits, same results
    index2 = build_index(spark, corpus, CFG, idx_dir, salt_shards=4, block_size=64)
    p1 = {(r["term"], r["df"], r["cf"]) for r in index.postings().collect()}
    p2 = {(r["term"], r["df"], r["cf"]) for r in index2.postings().collect()}
    assert p1 == p2
    man = index2.__class__  # noqa: F841 (handle exists)
    # metrics file recorded resume hits
    with open(f"{idx_dir}/metrics.jsonl") as f:
        events = [line for line in f if "resume_hit" in line]
    assert len(events) >= 4


def test_partial_resume_rebuilds_missing_stage(built, spark):
    index, docs, idx_dir, corpus = built
    shutil.rmtree(f"{idx_dir}/postings")
    import os
    os.remove(f"{idx_dir}/postings.manifest.json")
    index3 = build_index(spark, corpus, CFG, idx_dir, salt_shards=4, block_size=64)
    assert index3.postings().select("term").distinct().count() == len(
        build_oracle_index(docs, CFG)[0]
    )


def test_search_and_phrase_issue_one_job_each(built, spark):
    """engine.search (one query or a 32-query batch) and the positional
    queries (phrase, hit or miss, ranked phrase, span_near, span_or,
    intervals) each fetch their terms' posting rows with one Spark job and
    score them in the calling process; collecting the result issues no
    further job."""
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine

    from tests.test_checkpoint_lineage import _jobs

    _, docs, idx_dir, _ = built
    engine = ComboSearchEngine(spark, CFG, idx_dir)
    engine.idx.postings()  # the handle reads the table's schema once
    batch = [(i, " ".join(docs[i][1].split()[:3])) for i in range(32)]
    out = {}
    requests = {
        "search": lambda: engine.search("merge segment").collect(),
        "batch": lambda: engine.search(batch).collect(),
        "phrase": lambda: engine.phrase("def the").collect(),
        "phrase-miss": lambda: engine.phrase("def zzz_no_such_term").collect(),
        "phrase-ranked": lambda: engine.phrase_ranked("def the").collect(),
        "span-near": lambda: engine.span_near("def the", slop=2).collect(),
        "span-or": lambda: engine.span_or("merge segment").collect(),
        "intervals": lambda: engine.intervals(
            {"match": {"query": "def the", "max_gaps": 2}}
        ).collect(),
    }
    for name, request in requests.items():
        n = _jobs(spark, f"request-{name}", lambda: out.update({name: request()}))
        assert n == 1, (name, n)
    assert out["search"] and out["phrase"] and not out["phrase-miss"]
    assert out["phrase-ranked"] and out["span-near"] and out["span-or"]
    assert out["intervals"]
    assert {r["query_id"] for r in out["batch"]} == set(range(32))
