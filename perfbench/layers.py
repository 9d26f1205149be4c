"""Per-layer counts, read from the index's own tables and metrics file.

Counts are exact and repeat for a given seed; they are taken outside the
timed region (traced runs only), so they cost the end-to-end numbers
nothing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.query.bm25 import analyze_queries
from elasticsearch_analysis_combo_spark.query.phrase import analyze_phrases
from elasticsearch_analysis_combo_spark.query.wand import config_from_meta

TABLES = ("postings", "term_stats", "doc_stats", "term_df")
BUILD_STAGES = ("term_stats", "doc_stats", "term_df", "postings")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def table_dirs(idx) -> list[str]:
    return [idx.meta.table_dir(idx.index_dir, t) for t in TABLES]


def index_bytes(idx) -> int:
    """On-disk bytes of the tables the published generation serves."""
    return sum(dir_bytes(d) for d in table_dirs(idx))


def stage_records(index_dir: str) -> dict[str, dict]:
    """Last ``built`` record per build stage from ``metrics.jsonl``."""
    out = {}
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec.get("event") == "built" and rec["stage"] in BUILD_STAGES:
                out[rec["stage"]] = rec
    return out


def add_stage_spans(tracer, index_span, index_dir: str) -> None:
    """Children of the ``index`` span, one per build stage. A stage's wall
    covers its compute + parquet write and ends before its lineage pass,
    whose end is the record's ``created_at``; placing the child at
    [created_at - wall, created_at] keeps it inside the true stage
    interval, so the parent's self time is build wall minus stage walls:
    the input fingerprint scan plus the lineage and checksum passes."""
    if index_span is None:
        return
    for stage, rec in stage_records(index_dir).items():
        name = "analysis.term_stats" if stage == "term_stats" else (
            "postings.build" if stage == "postings" else f"index_build.{stage}")
        end = rec["created_at"]
        tracer.add_child(index_span, name, end - rec["wall_sec"], end)


def build_counts(idx) -> dict[str, float]:
    """Work counts of the analysis, postings and codec layers."""
    meta = idx.meta
    post = idx.postings().agg(
        F.count("*").alias("rows"),
        F.sum(F.size("blocks")).alias("blocks"),
        F.expr("sum(aggregate(blocks, 0L, (acc, b) -> acc + length(b.data)"
               " + coalesce(length(b.pos_data), 0)))").alias("bytes"),
    ).collect()[0]
    # same default threshold build_index applies when none is passed
    hot_df = max(4 * meta.block_size, meta.n_docs // 10)
    tdf = idx.term_df().agg(
        F.sum("df").alias("postings"),
        F.sum(F.when(F.col("df") >= hot_df, 1).otherwise(0)).alias("hot"),
    ).collect()[0]
    tokens = idx.doc_stats().agg(F.sum("dl")).collect()[0][0] or 0
    n_postings = int(tdf["postings"] or 0)
    return {
        "analysis.tokens": float(tokens),
        "analysis.term_rows": float(n_postings),
        "postings.rows": float(post["rows"]),
        "postings.blocks": float(post["blocks"] or 0),
        "postings.hot_terms": float(tdf["hot"] or 0),
        "postings.bytes": float(post["bytes"] or 0),
        "codec.bytes_per_posting": (post["bytes"] or 0) / max(n_postings, 1),
    }


def content_bytes(docs) -> int:
    return int(docs.agg(F.sum(F.octet_length("content"))).collect()[0][0] or 0)


def dedup_keep_frac(sample: list[tuple[str, str]], config: ComboConfig) -> float:
    """Tokens the combo merge keeps with deduplication on, over tokens the
    sub-analyzers emit (deduplication off), on a fixed doc sample."""
    plain = ComboConfig(config.sub_analyzers, deduplication=False,
                        name=config.name)
    kept = sum(len(analyze_text(t, config, lg)) for t, lg in sample)
    emitted = sum(len(analyze_text(t, plain, lg)) for t, lg in sample)
    return kept / max(emitted, 1)


def term_block_stats(idx, terms: list[str]) -> dict[str, tuple[int, int]]:
    """term -> (postings, position bytes) summed over its posting blocks."""
    if not terms:
        return {}
    rows = idx.postings().filter(F.col("term").isin(terms)).groupBy("term").agg(
        F.sum(F.expr("aggregate(blocks, 0L, (acc, b) -> acc + b.n)")).alias("n"),
        F.sum(F.expr("aggregate(blocks, 0L, (acc, b) -> acc"
                     " + coalesce(length(b.pos_data), 0))")).alias("pos"),
    ).collect()
    return {r["term"]: (int(r["n"]), int(r["pos"])) for r in rows}


def wand_postings(idx, texts: list[str]) -> list[int]:
    """Per query text: postings across the query's terms (sum of block
    ``n``), the work block-max WAND may have to examine."""
    config = config_from_meta(idx.meta.config)
    qterms = analyze_queries(list(enumerate(texts)), config)
    stats = term_block_stats(idx, sorted({t for _, t in qterms}))
    per = [0] * len(texts)
    for qid, term in qterms:
        per[qid] += stats.get(term, (0, 0))[0]
    return per


def phrase_pos_bytes(idx, texts: list[str]) -> list[int]:
    """Per phrase text: position-stream bytes of the phrase's terms."""
    config = config_from_meta(idx.meta.config)
    slots = analyze_phrases(list(enumerate(texts)), config)
    stats = term_block_stats(idx, sorted({t for _, _, t in slots}))
    per = [0] * len(texts)
    for qid, term in sorted({(q, t) for q, _, t in slots}):
        per[qid] += stats.get(term, (0, 0))[1]
    return per


def affected_terms(idx, touched_ids: list[int],
                   new_docs: list[tuple[str, str]]) -> float:
    """Share of the vocabulary an incremental compact must re-encode: terms
    of the touched docs' current rows plus terms of the replacement
    content, over the current vocabulary size."""
    config = config_from_meta(idx.meta.config)
    old = {r["term"] for r in idx.term_stats()
           .filter(F.col("doc_id").isin(touched_ids))
           .select("term").distinct().collect()}
    new = {tok.term for text, lg in new_docs
           for tok in analyze_text(text, config, lg)}
    return len(old | new) / max(idx.term_df().count(), 1)
