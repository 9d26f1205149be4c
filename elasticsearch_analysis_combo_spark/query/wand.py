"""Block-max WAND top-k over compressed postings (SURVEY.md §2 B8).

Standard published algorithm (Broder et al. 2003 WAND; Ding & Suel 2011
block-max refinement) implemented from scratch in numpy over this engine's
posting blocks. The reference's host (Lucene/ES) performs the equivalent
role for the plugin's merged token streams.

Exactness invariant (north_rule: rank-identical docIDs and scores): the
result must equal exhaustive evaluation. Three properties guarantee it:

* pruning compares upper bounds against the current k-th best with
  ``<=`` only when skipping docs whose *total* score is bounded — the deep
  pointer is capped at ``next_cursor.cur - 1`` so no doc with contributions
  outside the pivot prefix is ever skipped (the classic unsound-skip bug);
* candidates enter a heap ordered by (score, -ordinal), so ties resolve as
  (score desc, doc_id asc), identical to the exhaustive path's window sort
  (ordinals number the docs in doc_id order);
* per-doc scores sum cursor contributions in ascending term order, fixed
  and reproducible (the pure-Python oracle sums the same way; the Spark
  exhaustive path is compared at 1e-9).

Cursors walk doc ordinals (the block headers and gaps code them); each
posting's ``dl`` is gathered from the doc table's norms by ordinal, and
the winners' ordinals map back to doc ids at the end.

Distribution: the batch's distinct query terms' posting rows (compressed
blocks, positions left unread) are fetched once into the calling process,
and each query is scored there; per-query work is WAND-pruned. A
published index is read with pyarrow (``InvertedIndex.term_blocks``), so
the request runs no Spark job; a ``PostingFrame`` is fetched with one.
Past ``PARTITIONED_THRESHOLD`` docs the engine uses
:func:`wand_topk_partitioned`, one task per (query, doc-range).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.codec import (
    bm25_impact,
    decode_block,
)
from elasticsearch_analysis_combo_spark.operators.postings import (
    DocTable,
    PostingFrame,
    doc_range,
    posting_scan,
    range_starts,
)
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.bm25 import analyze_queries

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

MAX_DOC = (1 << 63) - 1


class _PostingCursor:
    """Lazy block-decoding cursor over one term's posting blocks, in doc
    ordinal space; ``norms`` is the doc table's dl by ordinal.

    ``doc_range=(lo, hi_incl)`` restricts the cursor to ordinals inside
    the closed interval — used by the range-partitioned evaluator, where a
    boundary block is shipped to both adjacent ranges and each task must
    emit its own range's docs exactly once. Trimming happens at decode
    time; block headers stay untouched, so header-based bounds remain
    (sound) over-estimates."""

    __slots__ = ("term", "idf", "blocks", "ub", "norms", "avgdl", "k1", "b",
                 "bi", "i", "docs", "impacts", "cur", "lo", "hi")

    def __init__(self, term: str, idf: float, blocks: list,
                 norms: np.ndarray, avgdl: float, k1: float, b: float,
                 doc_range: tuple[int, int] | None = None):
        self.term = term
        self.idf = idf
        self.blocks = blocks
        self.norms = norms
        self.avgdl, self.k1, self.b = avgdl, k1, b
        self.lo, self.hi = doc_range if doc_range else (0, MAX_DOC)
        self.ub = idf * max(bl["max_impact"] for bl in blocks)
        self.bi = -1
        self._load_block(0)

    def _load_block(self, bi: int) -> None:
        # skips blocks left empty by range trimming (at most the first and
        # last block of a range's list overlap the boundary)
        while bi < len(self.blocks):
            bl = self.blocks[bi]
            d, t = decode_block(bytes(bl["data"]), int(bl["n"]))
            if self.lo > int(d[0]) or self.hi < int(d[-1]):
                s = int(np.searchsorted(d, self.lo, side="left"))
                e = int(np.searchsorted(d, self.hi, side="right"))
                d, t = d[s:e], t[s:e]
            if d.size:
                self.bi = bi
                self.i = 0
                self.docs = d
                self.impacts = self.idf * bm25_impact(
                    t, self.norms[d], self.avgdl, self.k1, self.b
                )
                self.cur = int(d[0])
                return
            bi += 1
        self.bi = len(self.blocks)
        self.docs = None
        self.cur = MAX_DOC

    def block_max(self) -> float:
        return self.idf * self.blocks[self.bi]["max_impact"]

    def block_last(self) -> int:
        return int(self.blocks[self.bi]["last_doc"])

    def block_bound(self, target: int) -> tuple[float, int]:
        """(idf-scaled max impact, last_doc) of the first block whose range
        reaches ``target`` — header scan only, no decode. The bound is valid
        for every doc in [target, last_doc] of this list (docs before the
        block's first_doc contribute 0 <= max). Returns (0, MAX_DOC) when
        the list has no docs >= target."""
        bi = self.bi
        blocks = self.blocks
        while bi < len(blocks) and int(blocks[bi]["last_doc"]) < target:
            bi += 1
        if bi >= len(blocks):
            return 0.0, MAX_DOC
        bl = blocks[bi]
        return self.idf * bl["max_impact"], int(bl["last_doc"])

    def score(self) -> float:
        return float(self.impacts[self.i])

    def advance(self) -> None:
        self.i += 1
        if self.i >= self.docs.size:
            self._load_block(self.bi + 1)
        else:
            self.cur = int(self.docs[self.i])

    def seek(self, target: int) -> None:
        """First posting with doc >= target (block skip + in-block bisect);
        skipped blocks are never decoded. Loops because a range-trimmed
        block's decoded docs can end before its header's last_doc."""
        while self.cur < target:
            if self.docs is not None and int(self.docs[-1]) >= target:
                self.i = int(np.searchsorted(self.docs, target, side="left"))
                self.cur = int(self.docs[self.i])
                return
            bi = self.bi + 1
            while bi < len(self.blocks) and int(self.blocks[bi]["last_doc"]) < target:
                bi += 1
            self._load_block(bi)
            if self.docs is None:
                return


# Below this many postings per task, the vectorized dense evaluator beats
# the cursor loop outright: decoding + scoring 2M postings is a few numpy
# passes (~100ms), while the per-pivot Python loop over the same volume
# takes seconds — and stop-token-heavy queries (the scale worst case) are
# exactly where block-max pruning can't skip much. Above it, block-max
# skipping starts paying for itself (selective queries over huge lists).
DENSE_EVAL_MAX_POSTINGS = 2_000_000


def _dense_topk(
    postings_by_term: dict[str, tuple[float, list]],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    norms: np.ndarray,
    doc_range: tuple[int, int] | None = None,
) -> list[tuple[int, float]]:
    """Exact vectorized evaluation: decode every block, accumulate per-doc
    scores in ascending-term order — the SAME summation order as the
    cursor path, so scores are bit-identical to WAND's — and take the
    (score desc, ordinal asc) top-k as (ordinal, score)."""
    lo, hi = doc_range if doc_range else (0, MAX_DOC)
    decoded = []
    all_docs = []
    for term in sorted(postings_by_term):
        idf, blocks = postings_by_term[term]
        ds, tfs = [], []
        for bl in blocks:
            if int(bl["last_doc"]) < lo or int(bl["first_doc"]) > hi:
                continue
            d, t = decode_block(bytes(bl["data"]), int(bl["n"]))
            if lo > int(d[0]) or hi < int(d[-1]):
                s = int(np.searchsorted(d, lo, side="left"))
                e = int(np.searchsorted(d, hi, side="right"))
                d, t = d[s:e], t[s:e]
            if d.size:
                ds.append(d)
                tfs.append(t)
        if not ds:
            continue
        d = np.concatenate(ds)
        decoded.append((idf, d, np.concatenate(tfs)))
        all_docs.append(d)
    if not all_docs:
        return []
    docs_u = np.unique(np.concatenate(all_docs))
    acc = np.zeros(docs_u.size, dtype=np.float64)
    for idf, d, t in decoded:
        acc[np.searchsorted(docs_u, d)] += idf * bm25_impact(
            t, norms[d], avgdl, k1, b
        )
    order = np.lexsort((docs_u, -acc))[:k]
    return [(int(docs_u[i]), float(acc[i])) for i in order]


def wand_topk_single(
    postings_by_term: dict[str, tuple[float, list]],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    docs: DocTable,
    doc_range: tuple[int, int] | None = None,
    dense_max_postings: int = DENSE_EVAL_MAX_POSTINGS,
) -> list[tuple[int, float]]:
    """Top-k for one query (or one (query, doc-range) task): block-max
    WAND with a dense-evaluation dispatch.

    postings_by_term: term -> (idf, blocks), the blocks coded over the
    ordinals of ``docs``. Returns [(doc_id, score)] sorted by (score desc,
    doc_id asc), length <= k. ``doc_range`` restricts evaluation to the
    ordinals in the closed interval (range-partitioned evaluation:
    per-range results are exact, so the global top-k is the top-k of the
    per-range unions). Tasks whose total posting count is at most
    ``dense_max_postings`` run the vectorized exact evaluator
    (bit-identical scores, same tie order); pass 0 to force the cursor
    path."""
    est = sum(
        int(bl["n"])
        for _idf, blocks in postings_by_term.values()
        for bl in blocks
    )
    if est <= dense_max_postings:
        top = _dense_topk(postings_by_term, k, avgdl, k1, b, docs.dl,
                          doc_range)
        return [(int(docs.doc_ids[o]), s) for o, s in top]
    cursors = [
        _PostingCursor(term, idf, blocks, docs.dl, avgdl, k1, b, doc_range)
        for term, (idf, blocks) in sorted(postings_by_term.items())
        if blocks
    ]
    # heap of (score, -doc_id): heap[0] is the current k-th best; a candidate
    # wins on higher score, or equal score and smaller doc_id
    heap: list[tuple[float, int]] = []

    while True:
        cursors = [c for c in cursors if c.cur != MAX_DOC]
        if not cursors:
            break
        # stable sort on (cur, term): deterministic tie order => per-doc
        # scores always sum in ascending-term order
        cursors.sort(key=lambda c: (c.cur, c.term))
        th = heap[0][0] if len(heap) >= k else float("-inf")
        # pivot: smallest prefix whose global-UB sum can beat the threshold
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc > th:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = cursors[pivot].cur
        while pivot + 1 < len(cursors) and cursors[pivot + 1].cur == pivot_doc:
            pivot += 1
        prefix = cursors[: pivot + 1]
        # block-max refinement over the blocks ALIGNED to the pivot: each
        # cursor's bound comes from its first block reaching pivot_doc
        # (a cursor's *current* block may end before the pivot, and a later
        # block with a higher max could contain it — using current blocks
        # here would skip the pivot unsoundly)
        bm = 0.0
        boundary = MAX_DOC
        for c in prefix:
            mi, bl = c.block_bound(pivot_doc)
            bm += mi
            if bl < boundary:
                boundary = bl
        if len(heap) >= k and bm <= th:
            # No doc in [pivot_doc, boundary] can beat the threshold
            # (boundary >= pivot_doc by alignment). Cap the deep pointer at
            # next cursor's doc - 1: docs beyond that may score via suffix
            # cursors and must not be skipped.
            if pivot + 1 < len(cursors):
                boundary = min(boundary, cursors[pivot + 1].cur - 1)
            target = max(boundary, pivot_doc) + 1
            for c in prefix:
                c.seek(target)
            continue
        if cursors[0].cur == pivot_doc:
            # fully aligned: exact-score pivot_doc (ascending-term order)
            score = 0.0
            for c in prefix:
                score += c.score()
            for c in prefix:
                c.advance()
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
        else:
            # align: advance pre-pivot cursors up to the pivot doc
            for c in cursors[:pivot]:
                if c.cur < pivot_doc:
                    c.seek(pivot_doc)
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(int(docs.doc_ids[-o]), s) for s, o in out]


def config_from_meta(meta_config: dict) -> ComboConfig:
    subs = [
        config_from_meta(s) if isinstance(s, dict) else s
        for s in meta_config["sub_analyzers"]
    ]
    return ComboConfig(
        subs,
        deduplication=meta_config["deduplication"],
        name=meta_config.get("name", "combo"),
    )


def wand_topk(
    spark: SparkSession,
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    config: ComboConfig | None = None,
    k: int = 10,
) -> DataFrame:
    """Block-max WAND over a built index, its posting rows read in process
    from the handle's generation (no Spark job)."""
    meta = index.meta
    if config is None:
        config = config_from_meta(meta.config)
    return wand_topk_from_postings(
        spark, index, queries, config,
        n_docs=meta.n_docs, avgdl=meta.avgdl, k1=meta.k1, b=meta.b, k=k,
    )


def wand_topk_from_postings(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Block-max WAND over a published index or a ``PostingFrame``
    (materialized table or freshly-built pipeline output, with its doc
    table): the posting rows of the batch's distinct terms are fetched
    once and every query is scored in the calling process by
    :func:`wand_topk_single` (dense-dispatched below
    ``DENSE_EVAL_MAX_POSTINGS`` postings). An :class:`InvertedIndex` is read
    with pyarrow and runs no Spark job; a ``PostingFrame`` is fetched with
    one. Returns a driver-held ``tinydf.LocalFrame``: collecting it builds
    no JVM plan."""
    terms_by_q: dict[int, set[str]] = {}
    for qid, term in analyze_queries(queries, config):
        terms_by_q.setdefault(qid, set()).add(term)
    all_terms = set().union(*terms_by_q.values())
    fetched = postings.term_blocks(all_terms)
    docs = postings.docs()
    by_term = {
        term: (float(np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))), blocks)
        for term, (df_t, blocks) in fetched.items()
    }
    rows = []
    for qid in sorted(terms_by_q):
        q_terms = {t: by_term[t] for t in terms_by_q[qid] if t in by_term}
        if not q_terms:
            continue
        top = wand_topk_single(q_terms, k, avgdl, k1, b, docs)
        rows.extend((qid, rank, d, s) for rank, (d, s) in enumerate(top, 1))
    return tiny_df(spark, rows, TOPK_SCHEMA)


def wand_topk_partitioned(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
    range_bits: int = 4,
) -> DataFrame:
    """Range-partitioned block-max WAND: one task per (query, doc-range).

    The fetch-and-score evaluator concentrates a stop-word query's whole
    posting volume in the calling process; here the doc ordinals are split
    into 2^range_bits equal ranges (``postings.range_starts``), each task
    runs exact WAND restricted to its range, and the global top-k is a
    window over the per-range top-ks (exact: every global winner is a
    local winner in its own range). Each task carries the doc table.

    Shipping is block-granular: each compressed block goes to exactly the
    ranges its [first_doc, last_doc] span overlaps — hot terms' blocks are
    narrow (~1 range each, so the volume splits ~evenly), while a rare
    term's single wide block replicates to all ranges (tiny, bounded cost).
    Boundary blocks are decoded in both neighbors and trimmed by the
    cursor's doc_range, so each doc is scored exactly once."""
    qrows = analyze_queries(queries, config)
    qterms = tiny_df(spark, qrows, "query_id int, term string")
    # positions are pruned before the block explode + range fan-out, where
    # boundary blocks replicate to two ranges, so the saving compounds
    plists = posting_scan(postings.postings(), {t for _, t in qrows})
    docs = postings.docs()
    starts = range_starts(range_bits, docs.doc_ids.size)

    bx = (
        plists.select("term", "df", F.explode("blocks").alias("block"))
        .withColumn("rs", doc_range(F.col("block.first_doc"), starts[1:-1]))
        .withColumn("re", doc_range(F.col("block.last_doc"), starts[1:-1]))
        .select(
            "term", "df", "block",
            F.explode(F.sequence("rs", "re")).alias("range_id"),
        )
    )
    joined = bx.join(F.broadcast(qterms), "term")

    def run_range(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        range_id = int(pdf["range_id"].iloc[0])
        lo, hi_incl = int(starts[range_id]), int(starts[range_id + 1]) - 1
        by_term_rows: dict[str, list] = {}
        for term, df_t, block in zip(pdf["term"], pdf["df"], pdf["block"]):
            by_term_rows.setdefault(term, []).append((float(df_t), block))
        by_term = {}
        for term, rows in by_term_rows.items():
            df_t = rows[0][0]
            blocks = sorted((bl for _, bl in rows), key=lambda b_: b_["first_doc"])
            idf = float(np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)))
            by_term[term] = (idf, blocks)
        top = wand_topk_single(by_term, k, avgdl, k1, b, docs,
                               doc_range=(lo, hi_incl))
        return pd.DataFrame(
            {
                "query_id": np.full(len(top), qid, dtype="int32"),
                "rank": np.arange(1, len(top) + 1, dtype="int32"),
                "doc_id": np.array([d for d, _ in top], dtype="int64"),
                "score": np.array([s for _, s in top], dtype="float64"),
            }
        )

    local = joined.groupBy("query_id", "range_id").applyInPandas(
        run_range, TOPK_SCHEMA
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
