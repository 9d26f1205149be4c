"""Span-near queries (Lucene SpanNearQuery over single-term clauses).

The remaining positional query family of the host: n terms must co-occur
inside a bounded window, ordered or not (ES ``span_near`` with
``in_order``). For single-position clauses the Lucene criterion reduces
to: positions p_1..p_n (one per clause) with
``(max(p) - min(p) + 1) - n <= slop``; ``in_order`` additionally requires
strictly increasing p_i in clause order.

Evaluation is the same batch-vectorized shape as query/phrase.py — no
per-doc Python loop:

* in_order: greedy chaining. For every anchor position of clause 1, the
  smallest next-clause position strictly greater is chosen with one
  ``searchsorted`` per clause (greedy minimizes the chain's end, so it is
  exact), then the window slack check is one vectorized compare.
  ``n_matches`` = number of clause-1 anchors starting a valid chain.
* unordered: every position p (of any clause) is tested as the window
  minimum — clause u matches iff it has a position in
  ``[p, p + slop + n - 1]``, two ``searchsorted`` per (anchor-clause,
  other-clause) pair. ``n_matches`` = distinct valid window-minimum
  positions. (Windows are not required to be minimal; any doc with a
  valid window reports >= 1.)

Physical plan: every span query runs on ``phrase.positional_eval``, the
evaluator ``phrase_match`` uses — the batch's distinct terms' compressed
posting rows are fetched once (in process with pyarrow for a published
index, with one Spark job for a ``PostingFrame``), each term is decoded
once, and every query is matched in the calling process. ``range_bits``
switches to the doc-range fan-out for stop-word-grade terms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.operators.postings import PostingFrame
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.phrase import (
    _BAND,
    _POS_BIAS,
    _slot_keys,
    positional_eval,
)


def _term_keys(decoded, term, common):
    """Sorted int64 keys (common_idx * BAND + pos + BIAS) for one term
    restricted to the common docs — phrase's ``_slot_keys`` gather at
    slot 0. The uniform ``_POS_BIAS`` offset is harmless here: every use
    in ``_match_span`` is a key difference, a window probe (both sides
    shifted equally), or a band extraction (pos + BIAS < BAND)."""
    docs, offs, pos_flat, _ = decoded[term]
    return _slot_keys(docs, offs, pos_flat, common, slot=0)


def _match_span(
    decoded: dict[str, tuple],
    terms: list[str],
    slop: int,
    in_order: bool,
):
    """(doc_ids, n_matches) for the span-near query over decoded postings."""
    empty = (np.zeros(0, dtype=np.int64),) * 2
    n = len(terms)
    for t in terms:
        if t not in decoded or decoded[t][0].size == 0:
            return empty
    common = decoded[terms[0]][0]
    for t in terms[1:]:
        common = np.intersect1d(common, decoded[t][0], assume_unique=True)
        if common.size == 0:
            return empty
    keys = [_term_keys(decoded, t, common) for t in terms]
    if any(k.size == 0 for k in keys):
        return empty
    width = slop + n - 1  # max(pos) - min(pos) allowed

    if in_order:
        anchors = keys[0]
        cur = anchors.copy()
        ok = np.ones(anchors.size, dtype=bool)
        for ks in keys[1:]:
            idx = np.searchsorted(ks, cur + 1, side="left")
            has = idx < ks.size
            nxt = ks[np.minimum(idx, ks.size - 1)]
            ok &= has & ((nxt // _BAND) == (anchors // _BAND))
            cur = nxt
        ok &= (cur - anchors) <= width  # same band where ok holds
        valid = anchors[ok]
    else:
        parts = []
        for i in range(n):
            anchors = keys[i]
            ok = np.ones(anchors.size, dtype=bool)
            for j in range(n):
                if j == i:
                    continue
                lo = np.searchsorted(keys[j], anchors, side="left")
                hi = np.searchsorted(keys[j], anchors + width, side="right")
                ok &= lo < hi
                if not ok.any():
                    break
            # window must stay inside the anchor's doc (positions < 2^30,
            # width tiny -> anchors + width cannot cross the 2^31 band)
            parts.append(anchors[ok])
        valid = np.unique(np.concatenate(parts)) if parts else np.zeros(
            0, dtype=np.int64
        )
    if valid.size == 0:
        return empty
    cidx = (valid // _BAND).astype(np.int64)
    counts = np.bincount(cidx, minlength=common.size)
    hit = counts > 0
    return common[hit], counts[hit]


def _union_docs(decoded, terms):
    """Sorted union of the doc arrays of the terms present in the gather."""
    ds = [
        decoded[t][0]
        for t in terms
        if t in decoded and decoded[t][0].size
    ]
    if not ds:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(ds))


def _keys_in_space(decoded, term, space):
    """Banded position keys for ALL of ``term``'s postings, mapped into
    the doc-index space ``space`` (a sorted superset-or-overlap doc
    array): docs outside ``space`` are dropped, the rest band at their
    ``space`` index so keys from different terms are directly
    comparable/mergeable."""
    if term not in decoded:
        return np.zeros(0, dtype=np.int64)
    docs, offs, pos_flat, _ = decoded[term]
    if docs.size == 0 or space.size == 0:
        return np.zeros(0, dtype=np.int64)
    sub = docs[np.isin(docs, space, assume_unique=True)]
    if sub.size == 0:
        return np.zeros(0, dtype=np.int64)
    keys = _slot_keys(docs, offs, pos_flat, sub, slot=0)
    cmap = np.searchsorted(space, sub).astype(np.int64)
    return cmap[keys // _BAND] * _BAND + keys % _BAND


def _docs_counts(space, keys):
    """(doc_ids, n_matches) from surviving banded keys."""
    empty = (np.zeros(0, dtype=np.int64),) * 2
    if keys.size == 0:
        return empty
    counts = np.bincount(
        (keys // _BAND).astype(np.int64), minlength=space.size
    )
    hit = counts > 0
    return space[hit], counts[hit]


def _match_span_or(decoded, terms):
    """Lucene SpanOrQuery over single-term clauses: the span set is the
    union of every clause's positions; ``n_matches`` counts matching
    spans (distinct positions holding any clause term)."""
    space = _union_docs(decoded, terms)
    if space.size == 0:
        return _docs_counts(space, np.zeros(0, dtype=np.int64))
    keys = [_keys_in_space(decoded, t, space) for t in terms]
    keys = [k for k in keys if k.size]
    allk = (
        np.unique(np.concatenate(keys))
        if keys
        else np.zeros(0, dtype=np.int64)
    )
    return _docs_counts(space, allk)


def _match_span_first(decoded, terms, end):
    """Lucene SpanFirstQuery over a span_or of single-term clauses:
    keep spans whose END position <= ``end``. This engine's positions
    are 1-based (posInc accumulation from 0), so a token at stored
    position p occupies 0-based [p-1, p) — its Lucene span end IS p,
    and the boundary check is ``p <= end`` (end=1 admits exactly the
    first token, matching ES)."""
    space = _union_docs(decoded, terms)
    if space.size == 0:
        return _docs_counts(space, np.zeros(0, dtype=np.int64))
    keys = [_keys_in_space(decoded, t, space) for t in terms]
    keys = [k for k in keys if k.size]
    allk = (
        np.unique(np.concatenate(keys))
        if keys
        else np.zeros(0, dtype=np.int64)
    )
    pos = allk % _BAND - _POS_BIAS
    return _docs_counts(space, allk[pos <= end])


def _match_span_not(decoded, inc_terms, exc_terms, pre=0, post=0):
    """Lucene SpanNotQuery: include spans (span_or of ``inc_terms``)
    that do NOT overlap any exclude span expanded by ``pre`` positions
    before / ``post`` after — for single-position spans, an include
    position p dies iff an exclude position lies in [p - pre, p + post].
    Vectorized: two searchsorted probes against the merged exclude keys
    (band arithmetic is safe: pre/post << 2^30 position bias, so probes
    never cross a doc band)."""
    space = _union_docs(decoded, inc_terms)
    if space.size == 0:
        return _docs_counts(space, np.zeros(0, dtype=np.int64))
    inck = [_keys_in_space(decoded, t, space) for t in inc_terms]
    inck = [k for k in inck if k.size]
    allk = (
        np.unique(np.concatenate(inck))
        if inck
        else np.zeros(0, dtype=np.int64)
    )
    if allk.size == 0:
        return _docs_counts(space, allk)
    exck = [_keys_in_space(decoded, t, space) for t in exc_terms]
    exck = [k for k in exck if k.size]
    if exck:
        exc_all = np.unique(np.concatenate(exck))
        lo = np.searchsorted(exc_all, allk - pre, side="left")
        hi = np.searchsorted(exc_all, allk + post, side="right")
        allk = allk[lo >= hi]
    return _docs_counts(space, allk)


def analyze_span_terms(
    queries: list[tuple[int, str]], config: ComboConfig
) -> dict[int, list[str]]:
    """Query text -> ordered clause terms (one clause per analyzed token;
    duplicate terms collapse to one clause, keeping first position —
    span clauses are distinct terms)."""
    out: dict[int, list[str]] = {}
    for qid, text in queries:
        seen, terms = set(), []
        for t in analyze_text(text, config):
            if t.term not in seen:
                seen.add(t.term)
                terms.append(t.term)
        out[qid] = terms
    return out


def span_near_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    slop: int = 0,
    in_order: bool = True,
) -> DataFrame:
    """(query_id, doc_id, n_matches) for docs where the query's terms
    co-occur within the slop window (see module docstring), evaluated by
    :func:`positional_eval`, like phrase_match."""
    terms_by_q = analyze_span_terms(queries, config)
    return positional_eval(
        spark, postings, terms_by_q,
        lambda qid, decoded, _df: _match_span(
            decoded, terms_by_q[qid], slop, in_order
        ),
    )


def span_or_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    range_bits: int | None = None,
) -> DataFrame:
    """ES/Lucene ``span_or`` over single-term clauses: docs holding ANY
    clause term; ``n_matches`` = distinct positions holding any clause
    term (the union span set)."""
    terms_by_q = analyze_span_terms(queries, config)
    return positional_eval(
        spark, postings, terms_by_q,
        lambda qid, decoded, _df: _match_span_or(decoded, terms_by_q[qid]),
        range_bits=range_bits,
    )


def span_first_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    end: int,
    range_bits: int | None = None,
) -> DataFrame:
    """ES/Lucene ``span_first``: spans of the inner span_or whose end
    position <= ``end`` — 'term near the start of the field' (stored
    positions are 1-based, so a token at position p has span end p)."""
    terms_by_q = analyze_span_terms(queries, config)
    return positional_eval(
        spark, postings, terms_by_q,
        lambda qid, decoded, _df: _match_span_first(
            decoded, terms_by_q[qid], end
        ),
        range_bits=range_bits,
    )


def span_not_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str, str]],
    config: ComboConfig,
    pre: int = 0,
    post: int = 0,
    range_bits: int | None = None,
) -> DataFrame:
    """ES/Lucene ``span_not``: include spans (span_or of the include
    text's terms) that do not fall within [-pre, +post] positions of any
    exclude span. Queries are (qid, include_text, exclude_text); docs
    where every include span is excluded drop out entirely."""
    inc_by_q = analyze_span_terms(
        [(qid, inc) for qid, inc, _ in queries], config
    )
    exc_by_q = analyze_span_terms(
        [(qid, exc) for qid, _, exc in queries], config
    )
    all_by_q = {
        qid: sorted(set(inc_by_q.get(qid, [])) | set(exc_by_q.get(qid, [])))
        for qid, _, _ in queries
        if inc_by_q.get(qid)
    }
    return positional_eval(
        spark, postings, all_by_q,
        lambda qid, decoded, _df: _match_span_not(
            decoded, inc_by_q[qid], exc_by_q.get(qid, []), pre=pre, post=post
        ),
        range_bits=range_bits,
    )


def span_near_match_partitioned(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    slop: int = 0,
    in_order: bool = True,
    range_bits: int = 4,
) -> DataFrame:
    """Range-partitioned span_near: one task per (query, doc-range) — the
    scale-safe path for stop-word-grade clause terms, identical rows to
    :func:`span_near_match` (window matching is per-doc, and docs
    partition across ranges)."""
    terms_by_q = analyze_span_terms(queries, config)
    return positional_eval(
        spark, postings, terms_by_q,
        lambda qid, decoded, _df: _match_span(
            decoded, terms_by_q[qid], slop, in_order
        ),
        range_bits=range_bits,
    )


def _near_extents(decoded, terms, slop, space):
    """(start_keys, end_keys) of ordered span_near chains over ``terms``,
    restricted to docs in ``space`` and banded in ``space`` index space
    (directly comparable with ``_keys_in_space`` output). One greedy
    minimal-end chain per clause-1 anchor — exact for span existence,
    and the canonical span set this engine defines for the
    within/containing family (for each anchor, the greedy chain is the
    SHORTEST valid span starting there, which is the Lucene-enumerated
    one). Starts are strictly increasing (anchors are distinct sorted
    positions), so the output is sorted by start key."""
    empty = (np.zeros(0, dtype=np.int64),) * 2
    n = len(terms)
    keys = [_keys_in_space(decoded, t, space) for t in terms]
    if any(k.size == 0 for k in keys):
        return empty
    width = slop + n - 1
    anchors = keys[0]
    cur = anchors.copy()
    ok = np.ones(anchors.size, dtype=bool)
    for ks in keys[1:]:
        idx = np.searchsorted(ks, cur + 1, side="left")
        has = idx < ks.size
        nxt = ks[np.minimum(idx, ks.size - 1)]
        ok &= has & ((nxt // _BAND) == (anchors // _BAND))
        cur = nxt
    ok &= (cur - anchors) <= width
    return anchors[ok], cur[ok]


def _within_space(decoded, little_terms, big_terms):
    """Candidate doc space for within/containing: docs holding ALL big
    clause terms AND at least one little clause term."""
    empty = np.zeros(0, dtype=np.int64)
    big_docs = None
    for t in big_terms:
        if t not in decoded or decoded[t][0].size == 0:
            return empty
        d = decoded[t][0]
        big_docs = d if big_docs is None else np.intersect1d(
            big_docs, d, assume_unique=True
        )
        if big_docs.size == 0:
            return empty
    little_docs = _union_docs(decoded, little_terms)
    return np.intersect1d(big_docs, little_docs, assume_unique=True)


def _match_span_within(decoded, little_terms, big_terms, slop):
    """Lucene SpanWithinQuery: little spans (span_or of single-term
    clauses) lying fully inside some big span (ordered span_near of
    ``big_terms`` with ``slop``). Positions are 1-based, so a little
    token at position p (0-based span [p-1, p)) is within big span
    [s, e] iff s <= p <= e. ``n_matches`` = distinct contained little
    positions. Containment test is vectorized: big spans sorted by
    start, running max of ends, one searchsorted per little key."""
    empty = (np.zeros(0, dtype=np.int64),) * 2
    space = _within_space(decoded, little_terms, big_terms)
    if space.size == 0:
        return empty
    s, e = _near_extents(decoded, big_terms, slop, space)
    if s.size == 0:
        return empty
    lks = [_keys_in_space(decoded, t, space) for t in little_terms]
    lks = [k for k in lks if k.size]
    if not lks:
        return empty
    lk = np.unique(np.concatenate(lks))
    # exists big span with s <= k and e >= k  <=>  running-max of ends
    # over spans starting at or before k reaches k (cross-band safe:
    # earlier-band ends are always < later-band keys)
    maxe = np.maximum.accumulate(e)
    idx = np.searchsorted(s, lk, side="right")
    has = idx > 0
    contained = np.zeros(lk.size, dtype=bool)
    contained[has] = maxe[idx[has] - 1] >= lk[has]
    return _docs_counts(space, lk[contained])


def _match_span_containing(decoded, little_terms, big_terms, slop):
    """Lucene SpanContainingQuery: big spans (ordered span_near) that
    contain at least one little span. ``n_matches`` = number of such
    big spans (anchors are distinct, so greedy spans are distinct)."""
    empty = (np.zeros(0, dtype=np.int64),) * 2
    space = _within_space(decoded, little_terms, big_terms)
    if space.size == 0:
        return empty
    s, e = _near_extents(decoded, big_terms, slop, space)
    if s.size == 0:
        return empty
    lks = [_keys_in_space(decoded, t, space) for t in little_terms]
    lks = [k for k in lks if k.size]
    if not lks:
        return empty
    lk = np.unique(np.concatenate(lks))
    lo = np.searchsorted(lk, s, side="left")
    hi = np.searchsorted(lk, e, side="right")
    return _docs_counts(space, s[lo < hi])


def _within_family_terms(
    queries: list[tuple[int, str, str]], config: ComboConfig
):
    little_by_q = analyze_span_terms(
        [(qid, lt) for qid, lt, _ in queries], config
    )
    big_by_q = analyze_span_terms(
        [(qid, bt) for qid, _, bt in queries], config
    )
    all_by_q = {
        qid: sorted(set(little_by_q.get(qid, [])) | set(big_by_q.get(qid, [])))
        for qid, _, _ in queries
        if little_by_q.get(qid) and big_by_q.get(qid)
    }
    return little_by_q, big_by_q, all_by_q


def span_within_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str, str]],
    config: ComboConfig,
    slop: int = 0,
    range_bits: int | None = None,
) -> DataFrame:
    """ES/Lucene ``span_within``: little spans enclosed by a big span.
    Queries are (qid, little_text, big_text); the little clause is a
    span_or over its analyzed terms, the big clause an ORDERED span_near
    over its analyzed terms with ``slop``. Same gather/fan-out harness
    as the rest of the span family (matching is per-doc, so the
    doc-range partitioned path is exact)."""
    little_by_q, big_by_q, all_by_q = _within_family_terms(queries, config)
    return positional_eval(
        spark, postings, all_by_q,
        lambda qid, decoded, _df: _match_span_within(
            decoded, little_by_q[qid], big_by_q[qid], slop
        ),
        range_bits=range_bits,
    )


def span_containing_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str, str]],
    config: ComboConfig,
    slop: int = 0,
    range_bits: int | None = None,
) -> DataFrame:
    """ES/Lucene ``span_containing``: big spans (ordered span_near with
    ``slop``) that enclose at least one little span. Queries are
    (qid, little_text, big_text) — same clause shapes as
    :func:`span_within_match`, dual output side."""
    little_by_q, big_by_q, all_by_q = _within_family_terms(queries, config)
    return positional_eval(
        spark, postings, all_by_q,
        lambda qid, decoded, _df: _match_span_containing(
            decoded, little_by_q[qid], big_by_q[qid], slop
        ),
        range_bits=range_bits,
    )


def _union_decoded(decoded: dict[str, tuple], terms: list[str]) -> tuple:
    """Merge member terms' postings into ONE pseudo-term with the
    standard decoded layout (docs, offs, pos_flat, dls): per-doc sorted
    position UNION, duplicate (doc, pos) pairs collapsed — the Lucene
    SpanMultiTermQueryWrapper disjunction, built vectorized from the
    already-decoded member arrays (one lexsort, no per-doc loop)."""
    empty = (
        np.zeros(0, dtype=np.int64),
        np.zeros(1, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
        np.zeros(0, dtype=np.int64),
    )
    ds, ps, dl_docs, dl_vals = [], [], [], []
    for t in terms:
        if t not in decoded or decoded[t][0].size == 0:
            continue
        docs, offs, pos_flat, dls = decoded[t]
        counts = np.diff(offs).astype(np.int64)
        ds.append(np.repeat(docs, counts))
        ps.append(pos_flat.astype(np.int64))
        dl_docs.append(docs)
        dl_vals.append(np.asarray(dls, dtype=np.int64))
    if not ds:
        return empty
    d = np.concatenate(ds)
    p = np.concatenate(ps)
    order = np.lexsort((p, d))
    d, p = d[order], p[order]
    keep = np.ones(d.size, dtype=bool)
    keep[1:] = (d[1:] != d[:-1]) | (p[1:] != p[:-1])
    d, p = d[keep], p[keep]
    udocs, starts = np.unique(d, return_index=True)
    offs = np.append(starts, d.size).astype(np.int64)
    # per-doc dl from whichever member carries the doc (dl is a document
    # property, identical across members)
    md = np.concatenate(dl_docs)
    mv = np.concatenate(dl_vals)
    o = np.argsort(md, kind="stable")
    md, mv = md[o], mv[o]
    dls = mv[np.searchsorted(md, udocs)]
    return udocs, offs, p, dls


def _wildcard_regex(pattern: str) -> str:
    """ES wildcard -> anchored Java/RE2 regex (* = any run, ? = one)."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def span_multi_near_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    term_df: DataFrame,
    clauses_by_q: dict[int, list[tuple[str, object]]],
    slop: int = 0,
    in_order: bool = True,
    max_expansions: int = 20,
    range_bits: int | None = None,
) -> DataFrame:
    """ES ``span_multi`` inside ``span_near``: each clause is either
    ``("term", t)`` or a multi-term pattern — ``("prefix", p)``,
    ``("wildcard", w)`` (``*``/``?``), ``("fuzzy", (t, n))`` — whose
    dictionary expansions act as ONE disjunctive span clause
    (SpanMultiTermQueryWrapper).

    Expansion runs as one DISTRIBUTED job over the term dictionary with
    a per-clause ``row_number`` cap at ``max_expansions`` (df desc, term
    asc — ES's top_terms rewrite order); only the <= clauses *
    max_expansions winning terms come back to the driver (ES caps the
    same way; an uncapped collect would be the 100 TB killer). Matching
    reuses the span harness: member postings gather like any terms, the
    clause's union is built in-kernel (:func:`_union_decoded`), and the
    existing ordered/unordered window criterion runs unchanged —
    including the doc-range fan-out when ``range_bits`` is set."""
    from functools import reduce

    multi = [
        (qid, ci, kind, pat)
        for qid, clauses in clauses_by_q.items()
        for ci, (kind, pat) in enumerate(clauses)
        if kind != "term"
    ]
    expansions: dict[tuple[int, int], list[str]] = {}
    if multi:
        parts = []
        for qid, ci, kind, pat in multi:
            if kind == "prefix":
                cond = F.col("term").startswith(pat)
                dist = F.lit(0)
            elif kind == "wildcard":
                cond = F.col("term").rlike(_wildcard_regex(pat))
                dist = F.lit(0)
            elif kind == "fuzzy":
                base, n = pat
                cond = (
                    F.abs(F.length("term") - len(base)) <= int(n)
                ) & (F.levenshtein(F.col("term"), F.lit(base)) <= int(n))
                dist = F.levenshtein(F.col("term"), F.lit(base))
            else:
                raise ValueError(f"unknown span_multi clause kind {kind!r}")
            parts.append(
                term_df.filter(cond).select(
                    F.lit(qid).alias("qid"),
                    F.lit(ci).alias("ci"),
                    "term",
                    "df",
                    dist.alias("dist"),
                )
            )
        from pyspark.sql import Window

        u = reduce(lambda a, b: a.unionByName(b), parts)
        w = Window.partitionBy("qid", "ci").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term")
        )
        rows = (
            u.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= int(max_expansions))
            .select("qid", "ci", "term")
            .collect()
        )
        for r in rows:
            expansions.setdefault((r["qid"], r["ci"]), []).append(r["term"])

    qid_terms: dict[int, list[str]] = {}
    for qid, clauses in clauses_by_q.items():
        terms: list[str] = []
        for ci, (kind, pat) in enumerate(clauses):
            if kind == "term":
                terms.append(pat)
            else:
                terms.extend(expansions.get((qid, ci), []))
        qid_terms[qid] = sorted(set(terms))

    def matcher(qid, decoded, _df):
        d2 = dict(decoded)
        names = []
        for ci, (kind, pat) in enumerate(clauses_by_q[qid]):
            if kind == "term":
                names.append(pat)
            else:
                pseudo = f"\x00mc{ci}"
                d2[pseudo] = _union_decoded(
                    decoded, expansions.get((qid, ci), [])
                )
                names.append(pseudo)
        return _match_span(d2, names, slop, in_order)

    return positional_eval(
        spark, postings, qid_terms, matcher, range_bits=range_bits
    )
