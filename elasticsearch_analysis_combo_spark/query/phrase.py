"""Phrase matching (exact and sloppy) over the positional posting index.

This is what the posting ``positions`` payload exists for (SURVEY.md §1.3:
absolute positions are "what BM25 positions/phrase data need"). A phrase
"w1 w2 ... wn" matches where the terms' absolute positions are consecutive
(pos_{i+1} = pos_i + 1 — same definition Lucene's exact PhraseQuery uses
over its position postings).

Sloppy matching (``slop=N``) uses Lucene's PhraseQuery matchLength
criterion: writing pp_i = pos_i - slot_i ("phrase position"), a slot
assignment matches when max(pp) - min(pp) <= slop — so "b a" matches the
phrase "a b" at slop 2 (one transposition = two position moves) and
"a x b" matches at slop 1, exactly as Lucene scores them. ``n_matches``
counts the distinct first-slot occurrences that participate in at least
one valid assignment; at slop=0 this reduces to the exact-adjacency count.
(Simplification vs Lucene: repeated query terms may align to the same
occurrence; Lucene forces distinct positions for repeated terms.)

Evaluation is fully batch-vectorized — no per-doc Python loop. Each
slot's postings become sorted int64 keys ``common_doc_index * 2^31 +
(pp + 2^30)``; a valid anchor is a slot-0 key for which every other slot
has a key inside the anchor's slop window, checked with two searchsorted
passes per (slot, window-offset) over the whole candidate batch.

Two physical strategies, mirroring WAND (query/wand.py):

* ``positional_eval`` — the batch's distinct terms' compressed posting
  rows are fetched once into the calling process, decoded once, and
  every query is matched there. A published index is read with pyarrow
  (no Spark job); a ``PostingFrame`` is fetched with one Spark job.
  Every positional query runs on it: ``phrase_match`` and its prefix
  and shingle variants, the ranked ``phrase_topk``, the span family
  (query/spans.py) and ``intervals`` (query/intervals.py). Fine for
  selective terms.
* ``range_partitioned_positional_eval`` (``phrase_match_partitioned``,
  and ``positional_eval`` given ``range_bits``) — one task per
  (query, doc-range): each
  compressed block ships only to the doc-ordinal ranges its [first_doc,
  last_doc] span overlaps, every range intersects positions for its own
  docs, and the union of ranges is the answer (ranges partition the doc
  space, so no global dedup is needed). This is the scale-safe path for
  stop-word phrases ("of the") whose two posting lists would otherwise
  concentrate in a single Python worker.
"""

from __future__ import annotations

import functools
import operator
from bisect import bisect_left
from itertools import takewhile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.operators.codec import (
    decode_block,
    decode_positions_flat,
)
from elasticsearch_analysis_combo_spark.operators.postings import (
    DocTable,
    PostingFrame,
    decode_segment_blocks_flat,
    doc_range,
    range_starts,
)
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex

PHRASE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_matches", T.LongType()),
    ]
)

# with_dl=True variant: the matcher already holds every hit doc's length
# (decoded alongside positions), so emitting it costs nothing and saves
# consumers a term_stats re-scan + distinct + join just to recover dl
# (the simple_query_string phrase scorer needs dl for the BM25 length
# normalization).
PHRASE_DL_SCHEMA = T.StructType(
    PHRASE_SCHEMA.fields + [T.StructField("dl", T.LongType())]
)

# with_weights=True variant (requires with_dl): adds the Lucene
# sloppyFreq column — sum over matching anchors of 1/(matchLength+1),
# matchLength the anchor's minimal assignment span (see _match_phrase).
# At slop=0 sloppy_freq == n_matches exactly.
PHRASE_DL_W_SCHEMA = T.StructType(
    PHRASE_DL_SCHEMA.fields + [T.StructField("sloppy_freq", T.DoubleType())]
)

# key packing: doc-index band of 2^31, positions biased by 2^30 so pp
# (position minus slot) stays positive. Bounds asserted in _match_phrase.
_POS_BIAS = 1 << 30
_BAND = np.int64(1 << 31)


def analyze_phrases(
    queries: list[tuple[int, str]], config: ComboConfig
) -> list[tuple[int, int, str]]:
    """(query_id, text) -> (query_id, slot, term) rows; slot is the term's
    order in the phrase (repeated terms keep their slots)."""
    out = []
    for qid, text in queries:
        toks = analyze_text(text, config)
        for slot, t in enumerate(toks):
            out.append((qid, slot, t.term))
    return out


def _phrase_slots(
    queries: list[tuple[int, str]], config: ComboConfig
) -> dict[int, list[tuple[int, object]]]:
    """query_id -> the analyzed phrase's (slot, term) list."""
    slots_by_q: dict[int, list[tuple[int, object]]] = {}
    for qid, slot, term in analyze_phrases(queries, config):
        slots_by_q.setdefault(qid, []).append((slot, term))
    return slots_by_q


def _slot_keys(docs, offs, pos_flat, common, slot: int) -> np.ndarray:
    """Sorted unique keys (common_idx * BAND + pos - slot + BIAS) for one
    slot, restricted to the common docs. Vectorized gather (no per-doc
    loop): per-common-doc position slices are flattened via repeat/cumsum
    index arithmetic."""
    idx = np.searchsorted(docs, common)
    starts = offs[idx]
    lens = (offs[idx + 1] - starts).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    out_off = np.cumsum(lens) - lens
    gidx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(out_off, lens)
        + np.repeat(starts, lens)
    )
    cidx = np.repeat(np.arange(common.size, dtype=np.int64), lens)
    pp = pos_flat[gidx].astype(np.int64) - slot + _POS_BIAS
    keys = cidx * _BAND + pp
    # sorted by construction (cidx ascending, positions ascending per doc);
    # dedupe adjacent repeats (same term emitted at one position by several
    # sub-analyzers when deduplication=False)
    if keys.size > 1:
        keep = np.empty(keys.size, dtype=bool)
        keep[0] = True
        np.not_equal(keys[1:], keys[:-1], out=keep[1:])
        keys = keys[keep]
    return keys


def _group(t) -> tuple:
    """Normalize a slot's term spec (str or iterable of str) to a tuple —
    a multi-term group means 'any of these terms completes this slot'
    (the match_phrase_prefix expansion)."""
    return (t,) if isinstance(t, str) else tuple(t)


def _match_phrase(
    decoded: dict[str, tuple],
    slots: list[tuple[int, object]],
    slop: int = 0,
    want_dl: bool = False,
    want_weights: bool = False,
):
    """Batch phrase evaluation. ``decoded``: term -> (docs, offs, pos_flat,
    dls) with docs sorted unique, offs the per-doc prefix offsets into
    pos_flat, dls the per-doc lengths. A slot's term spec may be a GROUP
    (tuple of terms): any member occurrence fills the slot. Returns
    (doc_ids, n_matches[, dls][, sloppy_freq]) for matching docs.

    With ``want_weights`` each anchor additionally gets its MINIMAL
    matchLength (the smallest max(pp)-min(pp) over valid slot
    assignments anchored at that first-slot occurrence, found by probing
    window spans s=0..slop in ascending order — the first s that covers
    every slot is the minimum, because any assignment of span s fits a
    size-s window containing the anchor) and the per-doc ``sloppy_freq``
    is ``sum over anchors of 1/(matchLength+1)`` — Lucene's sloppyFreq
    weighting (SloppyPhraseMatcher slop factor) applied to this
    evaluator's anchor-based match set. At slop=0 every matchLength is 0
    and sloppy_freq == n_matches."""
    empty = (np.zeros(0, dtype=np.int64),) * (2 + want_dl + want_weights)
    groups = [_group(t) for _, t in sorted(slots)]
    slot_ids = [s for s, _ in sorted(slots)]
    # per-slot doc sets: union over the group's members
    slot_docs = []
    for g in groups:
        ds = [decoded[t][0] for t in g if t in decoded and decoded[t][0].size]
        if not ds:
            return empty
        slot_docs.append(
            ds[0] if len(ds) == 1 else np.unique(np.concatenate(ds))
        )
    common = slot_docs[0]
    for d in slot_docs[1:]:
        common = np.intersect1d(common, d, assume_unique=True)
        if common.size == 0:
            return empty
    assert common.size < (1 << 32), "phrase candidate set exceeds key space"
    keys_by_slot = []
    for slot, g in zip(slot_ids, groups):
        parts = []
        for t in g:
            if t not in decoded or decoded[t][0].size == 0:
                continue
            docs, offs, pos_flat = decoded[t][:3]
            if pos_flat.size:
                assert int(pos_flat.max()) < _POS_BIAS - slop - 1, (
                    "document positions exceed phrase key space"
                )
            # group members may miss some common docs; restrict to present
            if len(g) == 1:
                sub = common
            else:
                idx = np.searchsorted(docs, common)
                idx_c = np.minimum(idx, docs.size - 1)
                sub = common[docs[idx_c] == common]
            if sub.size == 0:
                continue
            k = _slot_keys(docs, offs, pos_flat, sub, slot)
            if len(g) > 1 and sub.size != common.size:
                # remap member-local doc indices to common-wide indices
                remap = np.searchsorted(common, sub)
                k = remap[(k // _BAND).astype(np.int64)] * _BAND + (k % _BAND)
            parts.append(k)
        if not parts:
            return empty
        keys = parts[0] if len(parts) == 1 else np.unique(np.concatenate(parts))
        keys_by_slot.append(keys)
    anchors = keys_by_slot[0]
    if anchors.size == 0:
        return empty
    if want_weights:
        # ascending-span probe: best[i] = minimal matchLength for anchor i
        # (slop+1 = no valid assignment). O(slop^2/2) searchsorted passes
        # over the anchor batch — slop is a small query constant.
        best = np.full(anchors.size, slop + 1, dtype=np.int64)
        for s in range(0, slop + 1):
            pending = best > slop  # unmatched so far (any earlier s < this s)
            if not pending.any():
                break
            for m in range(-s, 1):
                ok = pending.copy()
                for keys in keys_by_slot[1:]:
                    lo = anchors + m
                    hi = anchors + m + s
                    left = np.searchsorted(keys, lo, side="left")
                    right = np.searchsorted(keys, hi, side="right")
                    ok &= left < right
                    if not ok.any():
                        break
                best[ok] = s
                pending &= ~ok
                if not pending.any():
                    break
        valid = best <= slop
    else:
        valid = np.zeros(anchors.size, dtype=bool)
        for m in range(-slop, 1):
            ok = np.ones(anchors.size, dtype=bool)
            for keys in keys_by_slot[1:]:
                lo = anchors + m
                hi = anchors + m + slop
                left = np.searchsorted(keys, lo, side="left")
                right = np.searchsorted(keys, hi, side="right")
                ok &= left < right
                if not ok.any():
                    break
            valid |= ok
            if valid.all():
                break
    if not valid.any():
        return empty
    cidx = (anchors[valid] // _BAND).astype(np.int64)
    counts = np.bincount(cidx, minlength=common.size)
    hit = counts > 0
    out_docs, out_counts = common[hit], counts[hit]
    freq_out = None
    if want_weights:
        freq = np.bincount(
            cidx, weights=1.0 / (best[valid] + 1.0), minlength=common.size
        )
        freq_out = freq[hit]
    if not want_dl:
        return (
            (out_docs, out_counts, freq_out) if want_weights
            else (out_docs, out_counts)
        )
    # dl per matched doc, from whichever slot-0 member carries it
    dls_out = np.zeros(out_docs.size, dtype=np.int64)
    for t in groups[0]:
        if t not in decoded:
            continue
        docs, dls = decoded[t][0], decoded[t][3]
        idx = np.searchsorted(docs, out_docs)
        idx_c = np.minimum(idx, docs.size - 1)
        present = docs[idx_c] == out_docs
        dls_out[present] = dls[idx_c[present]]
    if want_weights:
        return out_docs, out_counts, dls_out, freq_out
    return out_docs, out_counts, dls_out


def _decode_blocks(blocks: list, docs: DocTable) -> tuple:
    """(docs, offs, pos_flat, dls) of one term's doc-sorted block list."""
    d, t, l, pos_flat = decode_segment_blocks_flat(blocks, docs, True)
    offs = np.concatenate([[0], np.cumsum(t.astype(np.int64))])
    return d, offs, pos_flat, l


def phrase_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    slop: int = 0,
    with_dl: bool = False,
    with_weights: bool = False,
) -> DataFrame:
    """(query_id, doc_id, n_matches[, dl][, sloppy_freq]) for every doc
    containing the phrase (within ``slop`` position moves — see module
    docstring). ``with_weights`` (requires ``with_dl``) adds Lucene's
    sloppyFreq (1/(matchLength+1) per anchor, summed). The batch's
    distinct terms' posting rows are fetched and decoded once and every
    phrase is matched in the calling process (:func:`positional_eval`:
    no Spark job for a published index) and returned as a driver-held
    ``tinydf.LocalFrame``. Use :func:`phrase_match_partitioned` for
    stop-word phrases over very large indexes."""
    return _slots_eval(
        spark, postings, _phrase_slots(queries, config), slop, with_dl,
        with_weights,
    )


def phrase_match_docs(
    spark: SparkSession,
    term_stats: DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    allowed: DataFrame,
    slop: int = 0,
) -> DataFrame:
    """Phrase matching restricted to an ``allowed`` (query_id, doc_id)
    candidate set, evaluated straight from the per-doc term stats
    (pre-packed ``pos_data``) — no posting-block fetch at all. Cost is
    O(|allowed| x phrase terms) rows, the right shape when candidates are
    already known and few (a rescore window): a corpus-wide stop-word
    phrase never decodes beyond the candidates."""
    qrows = analyze_phrases(queries, config)
    if not qrows:
        return tiny_df(spark, [], PHRASE_SCHEMA)
    qterms = tiny_df(spark,
        sorted({(qid, t) for qid, _, t in qrows}), "query_id int, term string"
    )
    slots_by_q: dict[int, list[tuple[int, str]]] = {}
    for qid, slot, term in qrows:
        slots_by_q.setdefault(qid, []).append((slot, term))
    all_terms = sorted({t for _, _, t in qrows})
    sel = (
        # literal isin pushes into the stats scan; the broadcast join
        # alone would read every row group
        term_stats.filter(F.col("term").isin(all_terms))
        .join(F.broadcast(qterms), "term")
        .join(
            F.broadcast(allowed.select("query_id", "doc_id").distinct()),
            ["query_id", "doc_id"],
        )
        .select("query_id", "term", "doc_id", "tf", "pos_data")
    )

    def run_query(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        decoded = {}
        for term, grp in pdf.groupby("term", sort=False):
            order = np.argsort(grp["doc_id"].to_numpy(), kind="stable")
            docs = grp["doc_id"].to_numpy()[order]
            tfs = grp["tf"].to_numpy().astype(np.int64)[order]
            pos_parts = [
                decode_positions_flat(
                    bytes(pd_), np.asarray([int(t_)], dtype=np.int64)
                )
                for pd_, t_ in zip(
                    grp["pos_data"].to_numpy()[order], tfs
                )
            ]
            pos_flat = (
                np.concatenate(pos_parts) if pos_parts
                else np.zeros(0, dtype=np.int64)
            )
            offs = np.concatenate([[0], np.cumsum(tfs)])
            decoded[term] = (docs, offs, pos_flat, np.zeros(docs.size, np.int64))
        docs, counts = _match_phrase(decoded, slots_by_q[qid], slop)
        return pd.DataFrame(
            {
                "query_id": pd.Series(np.full(docs.size, qid), dtype="int32"),
                "doc_id": pd.Series(docs, dtype="int64"),
                "n_matches": pd.Series(counts, dtype="int64"),
            }
        )

    return sel.groupBy("query_id").applyInPandas(run_query, PHRASE_SCHEMA)


def range_partitioned_positional_eval(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    qterm_rows: list[tuple[int, str]],
    match_fn,
    range_bits: int = 4,
    want_dl: bool = False,
    want_weights: bool = False,
) -> DataFrame:
    """Shared doc-range fan-out for positional matchers (phrase, span).

    The doc ordinals split into 2^range_bits equal ranges
    (``postings.range_starts``); each compressed block ships only to the
    ranges its [first_doc, last_doc] span overlaps (hot terms' blocks are
    narrow, so their volume splits ~evenly across ranges); each task
    decodes, trims boundary blocks to its own closed range, gathers doc
    ids and lengths through the doc table it carries, and calls
    ``match_fn(qid, decoded) -> (docs, counts)`` with the same decoded
    shape as :func:`phrase_match`. Docs partition across ranges, so the
    union of per-range results is the exact global answer. With
    ``want_dl`` the matcher must return ``(docs, counts, dls)`` and the
    output gains a ``dl`` column (docs partition across ranges, so per-doc
    lengths are emitted exactly once). ``want_weights`` (requires
    ``want_dl``) expects ``(docs, counts, dls, freq)`` and adds the
    ``sloppy_freq`` column — per-doc sums are exact because each doc's
    anchors all live in its own range."""
    if want_weights and not want_dl:
        raise ValueError("want_weights requires want_dl")
    schema = (
        PHRASE_DL_W_SCHEMA if want_weights
        else PHRASE_DL_SCHEMA if want_dl else PHRASE_SCHEMA
    )
    if not qterm_rows:
        return tiny_df(spark, [], schema)
    qterms = tiny_df(spark,
        sorted(set(qterm_rows)), "query_id int, term string"
    )
    all_terms = sorted({t for _, t in qterm_rows})
    plists = postings.postings().filter(F.col("term").isin(all_terms))
    table = postings.docs()
    starts = range_starts(range_bits, table.doc_ids.size)

    bx = (
        plists.select("term", F.explode("blocks").alias("block"))
        .withColumn("rs", doc_range(F.col("block.first_doc"), starts[1:-1]))
        .withColumn("re", doc_range(F.col("block.last_doc"), starts[1:-1]))
        .select(
            "term", "block",
            F.explode(F.sequence("rs", "re")).alias("range_id"),
        )
    )
    joined = bx.join(F.broadcast(qterms), "term")

    def run_range(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        range_id = int(pdf["range_id"].iloc[0])
        lo, hi_incl = int(starts[range_id]), int(starts[range_id + 1]) - 1
        blocks_by_term: dict[str, list] = {}
        for term, block in zip(pdf["term"], pdf["block"]):
            blocks_by_term.setdefault(term, []).append(block)
        decoded = {}
        for term, blocks in blocks_by_term.items():
            # posting runs partition the doc space in order, so sorting
            # blocks by first_doc reconstructs global doc order
            blocks.sort(key=lambda b_: b_["first_doc"])
            ds, ts, ps = [], [], []
            for bl in blocks:
                d, t = decode_block(bytes(bl["data"]), int(bl["n"]))
                p = decode_positions_flat(bytes(bl["pos_data"]), t)
                mask = (d >= lo) & (d <= hi_incl)
                if not mask.all():
                    p = p[np.repeat(mask, t)]
                    d, t = d[mask], t[mask]
                if d.size:
                    ds.append(d)
                    ts.append(t)
                    ps.append(p)
            if not ds:
                continue
            d = np.concatenate(ds)
            t = np.concatenate(ts)
            offs = np.concatenate([[0], np.cumsum(t.astype(np.int64))])
            decoded[term] = (
                table.doc_ids[d], offs, np.concatenate(ps), table.dl[d]
            )
        res = match_fn(qid, decoded)
        docs, counts = res[0], res[1]
        out = {
            "query_id": pd.Series(np.full(docs.size, qid), dtype="int32"),
            "doc_id": pd.Series(docs, dtype="int64"),
            "n_matches": pd.Series(counts, dtype="int64"),
        }
        if want_dl:
            out["dl"] = pd.Series(res[2], dtype="int64")
        if want_weights:
            out["sloppy_freq"] = pd.Series(res[3], dtype="float64")
        return pd.DataFrame(out)

    return joined.groupBy("query_id", "range_id").applyInPandas(
        run_range, schema
    )


def phrase_match_partitioned(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    slop: int = 0,
    range_bits: int = 4,
    with_dl: bool = False,
    with_weights: bool = False,
) -> DataFrame:
    """Range-partitioned phrase matching: one task per (query, doc-range),
    identical rows to :func:`phrase_match` (see
    :func:`range_partitioned_positional_eval`) — the scale-safe path for
    stop-word phrases whose posting lists would concentrate in one task."""
    return _slots_eval(
        spark, postings, _phrase_slots(queries, config), slop, with_dl,
        with_weights, range_bits,
    )


def shingle_phrase_slots(
    queries: list[tuple[int, str]],
    config: ComboConfig,
    size: int = 2,
    sep: str = " ",
) -> dict[int, list[tuple[int, str]]]:
    """Analyze each phrase with the BASE ``config`` and rewrite it into
    word-shingle slots: phrase terms t0..tn-1 become the n-size+1 shingle
    terms sep.join(t[i:i+size]) at slots 0..n-size. Consecutive phrase
    start positions map to consecutive shingle positions (the shingle
    sits at its first word's position — analysis.tokenizers.
    make_word_shingle_tokenizer), so the standard positional kernel
    evaluates shingle slots unchanged. Raises ValueError for phrases with
    fewer than ``size`` analyzed terms — those can't use the shingle
    index; callers fall back to :func:`phrase_match`."""
    slots_by_q: dict[int, list[tuple[int, str]]] = {}
    for qid, st in _phrase_slots(queries, config).items():
        terms = [t for _, t in sorted(st)]
        if len(terms) < size:
            raise ValueError(
                f"phrase {qid} analyzes to {len(terms)} term(s); the "
                f"size-{size} shingle index needs >= {size} — fall back "
                "to phrase_match"
            )
        slots_by_q[qid] = [
            (i, sep.join(terms[i:i + size]))
            for i in range(len(terms) - size + 1)
        ]
    return slots_by_q


def phrase_match_shingles(
    spark: SparkSession,
    shingle_postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    size: int = 2,
    sep: str = " ",
    partitioned: bool = False,
    range_bits: int = 4,
) -> DataFrame:
    """Lucene ``index_phrases``-style accelerated EXACT phrase matching:
    rows identical to :func:`phrase_match` at slop=0, evaluated against a
    side index of word ``size``-grams (build the postings from
    ``make_word_shingle_tokenizer(base)`` over the same corpus). The win
    at scale: a stop-word phrase's unigram posting lists cover most of the
    corpus, but its shingles ("to be", "of the") are orders of magnitude
    rarer — the scan, decode, and kernel all shrink by the unigram/shingle
    df ratio, and n_matches is exact because every size-gram of the phrase
    must appear at consecutive positions with the anchor count equal to
    the phrase-start count. Slop is unsupported by construction (shingles
    fix adjacency); ``config`` must be the single gap-free base analyzer
    the shingle index was built over."""
    slots_by_q = shingle_phrase_slots(queries, config, size, sep)
    return _slots_eval(
        spark, shingle_postings, slots_by_q, 0,
        range_bits=range_bits if partitioned else None,
    )


def positional_eval(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    terms_by_q: dict[int, list[str]],
    matcher,
    schema: T.StructType = PHRASE_SCHEMA,
    range_bits: int | None = None,
) -> DataFrame:
    """Shared evaluator of every positional query: phrase, span,
    intervals and ranked phrase. ``terms_by_q`` maps a query id to the
    terms its matcher reads; a query without terms yields no rows.

    The batch's distinct terms' posting rows are fetched once and each
    term is decoded once, doc ids and lengths gathered through the doc
    table (``postings.docs()``): an :class:`InvertedIndex` is read in
    process with pyarrow (``InvertedIndex.term_blocks``, no Spark job), a
    ``PostingFrame`` with one Spark job. Then ``matcher(qid,
    decoded, df)`` runs for every query in qid order in the calling
    process, with ``decoded``: term -> (docs, offs, pos_flat, dls) and
    ``df``: term -> document frequency. The matcher returns one array per
    ``schema`` field after ``query_id``; the columns leave through
    :func:`tiny_df` as a driver-held ``LocalFrame`` (collecting it builds
    no JVM plan). With ``range_bits`` the queries fan out per (query,
    doc-range) instead, through :func:`range_partitioned_positional_eval` (the scale
    path, which scans the posting table with Spark and where ``df`` is
    None)."""
    terms_by_q = {q: ts for q, ts in terms_by_q.items() if ts}
    if range_bits is not None:
        return range_partitioned_positional_eval(
            spark, postings,
            [(q, t) for q, ts in terms_by_q.items() for t in ts],
            lambda qid, decoded: matcher(qid, decoded, None),
            range_bits=range_bits,
            want_dl="dl" in schema.names,
            want_weights="sloppy_freq" in schema.names,
        )
    terms = {t for ts in terms_by_q.values() for t in ts}
    if not terms:
        return tiny_df(spark, [], schema)
    fetched = postings.term_blocks(terms, positions=True)
    docs = postings.docs()
    decoded = {
        term: _decode_blocks(bls, docs) for term, (_, bls) in fetched.items()
    }
    df = {term: df_t for term, (df_t, _) in fetched.items()}
    cols = [[] for _ in schema.fields]
    for qid in sorted(terms_by_q):
        res = matcher(qid, decoded, df)
        cols[0].append(np.full(res[0].size, qid))
        for col, arr in zip(cols[1:], res):
            col.append(arr)
    return tiny_df(spark, pd.DataFrame({
        f.name: np.concatenate(col)
        for f, col in zip(schema.fields, cols)
    }), schema)


def _slots_eval(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    slots_by_q: dict[int, list[tuple[int, object]]],
    slop: int,
    with_dl: bool = False,
    with_weights: bool = False,
    range_bits: int | None = None,
) -> DataFrame:
    """:func:`positional_eval` over prepared phrase slot specs (plain
    terms or expansion groups)."""
    if with_weights and not with_dl:
        raise ValueError("with_weights requires with_dl")
    return positional_eval(
        spark, postings,
        {
            qid: [t for _, spec in slots for t in _group(spec)]
            for qid, slots in slots_by_q.items()
        },
        lambda qid, decoded, _df: _match_phrase(
            decoded, slots_by_q[qid], slop,
            want_dl=with_dl, want_weights=with_weights,
        ),
        PHRASE_DL_W_SCHEMA if with_weights
        else PHRASE_DL_SCHEMA if with_dl else PHRASE_SCHEMA,
        range_bits,
    )


def prefix_expansions(
    sorted_terms: list[str], prefix: str, max_expansions: int
) -> list[str]:
    """The first ``max_expansions`` of ``sorted_terms`` (code-point
    order) that start with ``prefix``: those terms are contiguous from the
    prefix's insertion point."""
    i = bisect_left(sorted_terms, prefix)
    return list(takewhile(
        lambda t: t.startswith(prefix),
        sorted_terms[i:i + max(max_expansions, 0)],
    ))


def phrase_prefix_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    term_df: InvertedIndex | DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    slop: int = 0,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the phrase's LAST term matches as a
    prefix, expanded to at most ``max_expansions`` vocabulary terms (in
    dictionary order, as ES caps its expansion — deterministic here:
    code-point order, which is Spark's binary string order). A doc matches
    when any expansion completes the phrase; ``n_matches`` counts distinct
    first-slot anchors valid for at least one expansion. The expansion
    runs over the term DICTIONARY (:func:`prefix_expansions`): an
    :class:`InvertedIndex` supplies its sorted vocabulary, read once per
    handle; a ``term_df`` DataFrame supplies only the terms matching some
    prefix, with one collect (the startswith filters push into the scan).
    The posting fetch reads only the expanded terms' rows."""
    qrows = analyze_phrases(queries, config)
    if not qrows:
        return tiny_df(spark, [], PHRASE_SCHEMA)
    terms_by_q: dict[int, list[str]] = {}
    for qid, slot, term in sorted(qrows):
        terms_by_q.setdefault(qid, []).append(term)
    prefixes = sorted({terms[-1] for terms in terms_by_q.values()})
    if isinstance(term_df, InvertedIndex):
        vocab = term_df.vocabulary()
    else:
        vocab = sorted({
            r["term"] for r in term_df.filter(functools.reduce(
                operator.or_, (F.col("term").startswith(p) for p in prefixes)
            )).select("term").collect()
        })
    slots_by_q: dict[int, list[tuple[int, object]]] = {}
    for qid, terms in terms_by_q.items():
        exp = prefix_expansions(vocab, terms[-1], max_expansions)
        if not exp:
            continue
        slots = [(i, t) for i, t in enumerate(terms[:-1])]
        slots.append((len(terms) - 1, tuple(exp)))
        slots_by_q[qid] = slots
    return _slots_eval(spark, postings, slots_by_q, slop)


def phrase_topk(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
    k: int | None = 10,
    slop: int = 0,
) -> DataFrame:
    """Ranked phrase query (ES ``match_phrase``): BM25 scoring with the
    PHRASE frequency as tf, Lucene PhraseQuery-style — score =
    [sum over slots of idf(term)] * satu(freq), satu(f) =
    f*(k1+1)/(f + k1*(1-b+b*dl/avgdl)), idf the Lucene BM25 idf. freq is
    this engine's n_matches (distinct matching anchors; = exact phrase
    occurrences at slop 0). Returns (query_id, rank, doc_id, score), ranked
    by (-score, doc_id); evaluated by :func:`positional_eval` (no Spark
    job for a published index), with idf from the fetched df and the
    top-k cut in the calling process.

    ``k=None`` skips the rank cut and returns the FULL scored match set
    (query_id, doc_id, score) — the building block multi_match
    type=phrase needs: a per-field top-k cut before the dis-max blend
    would lose losing-field contributions when tie_breaker > 0, and the
    phrase match set (docs containing the phrase) is small by
    construction, so shipping it whole is the cheap exact path."""
    slots_by_q = _phrase_slots(queries, config)

    def score(qid, decoded, df):
        docs, counts, dls = _match_phrase(
            decoded, slots_by_q[qid], slop, want_dl=True
        )
        idf_sum = 0.0
        for _slot, term in slots_by_q[qid]:
            df_t = df.get(term, 0.0)
            idf_sum += float(np.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5)))
        f = counts.astype(np.float64)
        sat = f * (k1 + 1.0) / (
            f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl)
        )
        scores = idf_sum * sat
        if k is None:
            return docs, scores
        top = np.lexsort((docs, -scores))[:k]
        return np.arange(1, top.size + 1), docs[top], scores[top]

    return positional_eval(
        spark, postings,
        {qid: [t for _, t in slots] for qid, slots in slots_by_q.items()},
        score,
        T.StructType.fromDDL(
            "query_id int, doc_id long, score double" if k is None
            else "query_id int, rank int, doc_id long, score double"
        ),
    )
