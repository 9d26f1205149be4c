"""ES ``intervals`` query: Lucene MINIMAL-INTERVAL semantics over the
positional postings — the proximity query family ES added on top of the
older span queries.

Supported rule tree (the documented subset; all raise on anything else):

* ``{"match": {"query": text, "ordered": bool, "max_gaps": int}}`` —
  minimal intervals containing one occurrence of every analyzed term
  (in order when ``ordered``), then filtered to width - n_terms <=
  ``max_gaps`` (-1 = unlimited, the ES default).
* ``{"any_of": {"intervals": [rules]}}`` — union of the children's
  interval sets, re-minimalized (Lucene's disjunction source).
* ``{"all_of": {"intervals": [rules], "ordered": true, "max_gaps": N}}``
  — combined spans holding one interval from each child, in order and
  non-overlapping, with the BETWEEN-child gap total <= ``max_gaps``;
  ``ordered: false`` all_of is not implemented (documented). The gap
  filter applies to the per-anchor candidate chains BEFORE the
  minimality scan (for single-position children — match leaves over one
  term — this is provably equivalent to Lucene's filter-after-minimal
  order, since containment then implies gap ordering; for multi-term
  interval children the two orders can diverge on pathological inputs).
* ``{"prefix": {"prefix": p}}`` / ``{"wildcard": {"pattern": w}}`` —
  Lucene's multi-term interval sources: the dictionary expansion
  (:func:`top_terms_expansions` over the term dictionary's ``(term,
  df)`` pairs, capped at ``max_expansions`` in ES's top_terms order df
  desc / term asc) acts as one single-position disjunction source; each
  matched term occurrence is a width-1 minimal interval, composable
  under any_of/all_of like any leaf.

Minimality (no returned interval contains another) is what separates
this from ``span_near``: positions ``a=[1,2], b=[3]`` give span_near
two ordered matches (anchors 1 and 2) but ONE interval (2,3) — (1,3)
contains it. Order of operations matches Lucene: a source produces its
minimal stream first, THEN ``max_gaps`` filters it (a wide minimal
interval is dropped, never replaced by a wider non-minimal one).

Evaluation shape: the span family's evaluator
(``phrase.positional_eval`` — one fetch of the batch's compressed
posting rows, in process for a published index, each term decoded once,
every query matched in the calling process), with the whole kernel
vectorized ACROSS DOCS in banded-key
space (key = doc_index * BAND + position): searchsorted chains for
ordered leaves, per-start covering ends for unordered, same-band checks
confining every window to one doc, and minimality as ONE global
suffix-min scan — the
band bits dominate the key, so a later doc's end key can never falsely
shadow an earlier doc's interval. No per-doc Python loop anywhere. The
``range_bits`` doc-range fan-out is exact (all rules are per-doc).

Reference scope note: the reference plugin delegates querying to its ES
host (AnalysisComboPlugin.java:37-42); this re-expresses the host's
intervals surface.
"""

from __future__ import annotations

import functools
import operator
import re
from bisect import bisect_left
from itertools import takewhile

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
    positional_eval,
)
from elasticsearch_analysis_combo_spark.query.spans import (
    _docs_counts,
    _keys_in_space,
    _wildcard_regex,
)


def _analyzed(rule: dict, config: ComboConfig) -> dict:
    """Normalize a rule tree: analyze match texts to ordered term lists
    (duplicates collapse, keep-first) and validate the rule shapes."""
    if not isinstance(rule, dict) or len(rule) != 1:
        raise ValueError(f"rule must have exactly one key: {rule!r}")
    kind, body = next(iter(rule.items()))
    if kind == "match":
        seen, terms = set(), []
        for t in analyze_text(body["query"], config):
            if t.term not in seen:
                seen.add(t.term)
                terms.append(t.term)
        return {
            "kind": "match",
            "terms": terms,
            "ordered": bool(body.get("ordered", False)),
            "max_gaps": int(body.get("max_gaps", -1)),
        }
    if kind == "any_of":
        kids = [_analyzed(r, config) for r in body["intervals"]]
        if not kids:
            raise ValueError("any_of needs at least one child")
        return {"kind": "any_of", "children": kids}
    if kind == "all_of":
        if not body.get("ordered", False):
            raise ValueError("all_of requires ordered: true (documented)")
        kids = [_analyzed(r, config) for r in body["intervals"]]
        if not kids:
            raise ValueError("all_of needs at least one child")
        return {
            "kind": "all_of",
            "children": kids,
            "max_gaps": int(body.get("max_gaps", -1)),
        }
    if kind == "prefix":
        return {"kind": "multi", "mkind": "prefix",
                "pat": body["prefix"], "terms": []}
    if kind == "wildcard":
        return {"kind": "multi", "mkind": "wildcard",
                "pat": body["pattern"], "terms": []}
    raise ValueError(f"unsupported intervals rule: {kind}")


def _rule_terms(rule: dict) -> set[str]:
    if rule["kind"] in ("match", "multi"):
        return set(rule["terms"])
    return set().union(*(_rule_terms(c) for c in rule["children"]))


def _multi_leaves(rule: dict, acc: list) -> list:
    if rule["kind"] == "multi":
        acc.append(rule)
    elif rule["kind"] in ("any_of", "all_of"):
        for c in rule["children"]:
            _multi_leaves(c, acc)
    return acc


def top_terms_expansions(
    term_dfs: list[tuple[str, int]], leaf: dict, max_expansions: int
) -> list[str]:
    """A prefix / wildcard leaf's expansion over the code-point-sorted
    ``(term, df)`` pairs of a term dictionary: the first
    ``max_expansions`` matching terms in ES's top_terms order (df desc,
    term asc), returned sorted. Matches share the pattern's literal
    prefix, so they are contiguous from its insertion point."""
    pat = leaf["pat"]
    if leaf["mkind"] == "prefix":
        lit, rx = pat, None
    else:
        lit, rx = re.split(r"[*?]", pat, maxsplit=1)[0], re.compile(
            _wildcard_regex(pat)
        )
    hits = [
        (t, df) for t, df in takewhile(
            lambda p: p[0].startswith(lit),
            term_dfs[bisect_left(term_dfs, (lit,)):],
        )
        if rx is None or rx.match(t)
    ]
    top = sorted(hits, key=lambda p: (-p[1], p[0]))[:max(max_expansions, 0)]
    return sorted(t for t, _ in top)


def _multi_term_dfs(
    postings: InvertedIndex | PostingFrame, leaves: list[dict]
) -> list[tuple[str, int]]:
    """The sorted ``(term, df)`` pairs the multi-term ``leaves`` expand
    over: a handle's whole dictionary (``term_df``, read with pyarrow
    once per handle), or the posting rows of a ``PostingFrame`` that
    match some leaf, with one collect (no shuffle)."""
    if isinstance(postings, InvertedIndex):
        return postings.term_dfs()
    cond = functools.reduce(operator.or_, (
        F.col("term").startswith(leaf["pat"]) if leaf["mkind"] == "prefix"
        else F.col("term").rlike(_wildcard_regex(leaf["pat"]))
        for leaf in leaves
    ))
    rows = postings.postings().filter(cond).select("term", "df").collect()
    return sorted({(r["term"], int(r["df"])) for r in rows})


_EMPTY_IV = np.zeros((0, 2), dtype=np.int64)


def _minimalize(s: np.ndarray, e: np.ndarray) -> np.ndarray:
    """(k, 2) minimal intervals from candidate (s, e) arrays: sort by
    start, keep min end per start, then keep rows whose end is strictly
    below every later row's end (suffix-min scan) — with starts strictly
    ascending, row i contains row j>i iff e_j <= e_i."""
    if s.size == 0:
        return _EMPTY_IV
    order = np.lexsort((e, s))
    s, e = s[order], e[order]
    first = np.ones(s.size, dtype=bool)
    first[1:] = s[1:] != s[:-1]  # min e per start (sorted by e within s)
    s, e = s[first], e[first]
    if s.size > 1:
        suffix = np.minimum.accumulate(e[::-1])[::-1]
        keep = np.ones(s.size, dtype=bool)
        keep[:-1] = e[:-1] < suffix[1:]
        s, e = s[keep], e[keep]
    return np.stack([s, e], axis=1)


def _match_ivs(rule: dict, keys: dict[str, np.ndarray]) -> np.ndarray:
    """Minimal intervals of a match leaf, in BANDED-KEY space (key =
    doc_index * BAND + position + BIAS, the span family's encoding):
    every step is vectorized across ALL candidate docs at once — the
    same-band checks confine chains and covering windows to one doc,
    and key differences equal position differences within a band."""
    terms = rule["terms"]
    lists = [keys.get(t) for t in terms]
    if not terms or any(k is None or k.size == 0 for k in lists):
        return _EMPTY_IV
    if len(terms) == 1:
        iv = np.stack([lists[0], lists[0]], axis=1)
    elif rule["ordered"]:
        anchors = lists[0]
        cur = anchors.copy()
        ok = np.ones(anchors.size, dtype=bool)
        for ks in lists[1:]:
            idx = np.searchsorted(ks, cur + 1)
            has = idx < ks.size
            cur = ks[np.minimum(idx, ks.size - 1)]
            ok &= has & ((cur // _BAND) == (anchors // _BAND))
        iv = _minimalize(anchors[ok], cur[ok])
    else:
        # every occurrence of any term is a candidate start; the
        # minimal covering interval from start s ends at the max over
        # terms of that term's first occurrence >= s (same doc)
        starts = np.unique(np.concatenate(lists))
        ends = np.full(starts.size, -1, dtype=np.int64)
        ok = np.ones(starts.size, dtype=bool)
        for ks in lists:
            idx = np.searchsorted(ks, starts)
            has = idx < ks.size
            nxt = ks[np.minimum(idx, ks.size - 1)]
            ok &= has & ((nxt // _BAND) == (starts // _BAND))
            ends = np.maximum(ends, nxt)
        iv = _minimalize(starts[ok], ends[ok])
    if rule["max_gaps"] >= 0 and iv.size:
        width_ok = (iv[:, 1] - iv[:, 0] + 1 - len(terms)) <= rule["max_gaps"]
        iv = iv[width_ok]
    return iv


def _all_of_ivs(rule: dict, keys: dict[str, np.ndarray]) -> np.ndarray:
    kids = [_eval_rule(c, keys) for c in rule["children"]]
    if any(k.shape[0] == 0 for k in kids):
        return _EMPTY_IV
    anchors_s = kids[0][:, 0]
    cur_end = kids[0][:, 1].copy()
    gaps = np.zeros(anchors_s.size, dtype=np.int64)
    ok = np.ones(anchors_s.size, dtype=bool)
    for child in kids[1:]:
        # minimal lists sorted by start are also sorted by end within a
        # band, so the first child interval starting past cur_end (same
        # band) is the greedy pick
        idx = np.searchsorted(child[:, 0], cur_end + 1)
        has = idx < child.shape[0]
        idx = np.minimum(idx, child.shape[0] - 1)
        ok &= has & ((child[idx, 0] // _BAND) == (anchors_s // _BAND))
        gaps += child[idx, 0] - cur_end - 1
        cur_end = child[idx, 1]
    if rule["max_gaps"] >= 0:
        ok &= gaps <= rule["max_gaps"]
    return _minimalize(anchors_s[ok], cur_end[ok])


def _eval_rule(rule: dict, keys: dict[str, np.ndarray]) -> np.ndarray:
    if rule["kind"] == "match":
        return _match_ivs(rule, keys)
    if rule["kind"] == "multi":
        # every occurrence of any expanded term is a width-1 interval —
        # all minimal by construction (equal-width intervals can't
        # contain each other); positions dedupe across members
        lists = [
            keys[t] for t in rule["terms"]
            if keys.get(t) is not None and keys[t].size
        ]
        if not lists:
            return _EMPTY_IV
        ks = np.unique(np.concatenate(lists))
        return np.stack([ks, ks], axis=1)
    if rule["kind"] == "all_of":
        return _all_of_ivs(rule, keys)
    kids = [_eval_rule(c, keys) for c in rule["children"]]
    allv = np.concatenate(kids, axis=0)
    return _minimalize(allv[:, 0], allv[:, 1])


def _candidate_docs(rule: dict, decoded: dict) -> np.ndarray:
    """Docs that can possibly match: term-doc intersection under
    match/all_of, union under any_of — prunes the per-doc kernel to the
    same doc set a conjunctive gather would visit."""
    empty = np.zeros(0, dtype=np.int64)
    if rule["kind"] == "match":
        docs = None
        for t in rule["terms"]:
            d = decoded.get(t)
            if d is None or d[0].size == 0:
                return empty
            docs = d[0] if docs is None else np.intersect1d(
                docs, d[0], assume_unique=True
            )
        return empty if docs is None else docs
    if rule["kind"] == "multi":
        ds = [
            decoded[t][0] for t in rule["terms"]
            if t in decoded and decoded[t][0].size
        ]
        return np.unique(np.concatenate(ds)) if ds else empty
    kids = [_candidate_docs(c, decoded) for c in rule["children"]]
    if rule["kind"] == "all_of":
        docs = kids[0]
        for k in kids[1:]:
            docs = np.intersect1d(docs, k, assume_unique=True)
        return docs
    return np.unique(np.concatenate(kids))


def intervals_match(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    queries: list[tuple[int, dict]],
    config: ComboConfig,
    range_bits: int | None = None,
    max_expansions: int = 20,
) -> DataFrame:
    """(query_id, doc_id, n_matches) where ``n_matches`` counts the
    rule tree's minimal intervals in the doc. Same evaluation harness
    (and doc-range fan-out scale path) as the span family. prefix /
    wildcard sources expand over the term dictionary
    (:func:`top_terms_expansions`), capped at ``max_expansions`` per leaf
    in ES's top_terms order: a handle runs no Spark job for it."""
    rules = {qid: _analyzed(rule, config) for qid, rule in queries}
    multis: list = []
    for rule in rules.values():
        _multi_leaves(rule, multis)
    if multis:
        term_dfs = _multi_term_dfs(postings, multis)
        for leaf in multis:
            leaf["terms"] = top_terms_expansions(
                term_dfs, leaf, max_expansions
            )
    qid_terms = {
        qid: sorted(_rule_terms(rule)) for qid, rule in rules.items()
    }

    def matcher(qid, decoded, _df):
        empty = (np.zeros(0, dtype=np.int64),) * 2
        rule = rules[qid]
        cand = _candidate_docs(rule, decoded)
        if cand.size == 0:
            return empty
        keys = {
            t: _keys_in_space(decoded, t, cand) for t in qid_terms[qid]
        }
        iv = _eval_rule(rule, keys)
        if iv.shape[0] == 0:
            return empty
        return _docs_counts(cand, iv[:, 0])

    return positional_eval(
        spark, postings, qid_terms, matcher, range_bits=range_bits
    )
