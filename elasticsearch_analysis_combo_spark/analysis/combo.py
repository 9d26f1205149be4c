"""Combo analysis: N sub-analyzers merged position-by-position.

Functional core of the engine's analysis stage. Re-expresses, with identical
observable semantics, the reference's priority-queue merge:

* merge order — the reference's min-heap pops streams ordered by
  (position, startOffset, endOffset) (PositionedTokenStream.java:89-118,
  ComboTokenStream.java:98-126, KEEP_STREAM_IF_SAME_POSITION=false at :42).
  We produce the same sequence with a single stable sort on the total key
  ``(pos, start, end, analyzer_idx)`` — see SURVEY.md §2 determinism note:
  whenever the 3-part reference key differs the order is identical; residual
  ties are attribute-equal tokens whose relative order cannot affect
  positions, offsets, term frequencies, or dedup outcome.
* position increment re-derivation — emitted posInc = max(0, pos - last)
  (ComboTokenStream.java:108).
* same-position dedup — optional; a token whose term already appeared at the
  same absolute position is dropped, keeping the first under the sort order
  (ES UniqueTokenFilter(onlyOnSamePosition=true) wired at
  ComboAnalyzer.java:266-267; golden vector TestComboAnalyzer.java:69-82).
* config surface — ``sub_analyzers`` required (ComboAnalyzerWrapper.java:74-76
  raises), unknown analyzer names are warned about and skipped
  (ComboAnalyzerWrapper.java:78-85), combos nest (cascade golden vector
  TestComboAnalyzer.java:101-116), repeated analyzers are allowed
  (TestComboAnalyzer.java:85-98) — trivially safe here because tokenizers are
  pure functions, which also obsoletes the reference's caching/reuse
  machinery (CachingTokenStream.java, ReusableTokenStreamComponents.java).
"""

from __future__ import annotations

import functools
import itertools
import logging
from dataclasses import dataclass
from typing import Callable, Sequence, Union

import numpy as np
import pandas as pd

from elasticsearch_analysis_combo_spark.analysis.tokenizers import (
    ANALYZER_REGISTRY,
    FAST_TERM_POS_REGISTRY,
    LANG_DEFAULT,
    LANG_DISPATCH,
    Token,
    TokenizerFn,
)

logger = logging.getLogger(__name__)

SubAnalyzer = Union[str, "ComboConfig", TokenizerFn]


@dataclass(frozen=True)
class ComboConfig:
    """Engine-side equivalent of the reference's dynamic settings
    ``{type: combo, sub_analyzers: [...], deduplication: bool}``
    (ComboAnalyzerWrapper.java:72-95). ``tokenstream_caching`` has no
    equivalent — streams are always materialized, vectorized."""

    sub_analyzers: tuple = ()
    deduplication: bool = False
    name: str = "combo"

    def __post_init__(self):
        if not self.sub_analyzers:
            raise ValueError(
                "Analyzer of type combo, must have a \"sub_analyzers\" list "
                "property (reference: ComboAnalyzerWrapper.java:74-76)"
            )
        object.__setattr__(self, "sub_analyzers", tuple(self.sub_analyzers))


def _resolve(sub: SubAnalyzer) -> Callable[[str, str | None], list[Token]] | None:
    """Resolve one sub-analyzer to a ``(text, lang) -> [Token]`` callable.
    Unknown names are skipped with a warning (ComboAnalyzerWrapper.java:78-85)."""
    if isinstance(sub, ComboConfig):
        fns = resolve_config(sub)

        def run_nested(text: str, lang: str | None, _fns=fns, _cfg=sub):
            return merge_token_lists(
                [f(text, lang) for f in _fns], deduplication=_cfg.deduplication
            )

        return run_nested
    if isinstance(sub, str):
        if sub == "lang":
            def run_lang(text: str, lang: str | None):
                name = LANG_DISPATCH.get(lang or "", LANG_DEFAULT)
                return ANALYZER_REGISTRY[name](text)
            return run_lang
        fn = ANALYZER_REGISTRY.get(sub)
        if fn is None:
            logger.warning(
                "combo analyzer: sub-analyzer %r not found, skipping "
                "(reference behavior: ComboAnalyzerWrapper.java:78-85)", sub
            )
            return None
        return lambda text, lang, _fn=fn: _fn(text)
    # raw callable (e.g. replay fixture)
    return lambda text, lang, _fn=sub: _fn(text)


def resolve_config(config: ComboConfig) -> list[Callable]:
    fns = [_resolve(s) for s in config.sub_analyzers]
    return [f for f in fns if f is not None]


def merge_token_lists(
    streams: Sequence[list[Token]], deduplication: bool = False
) -> list[Token]:
    """K-way merge of N already-position-absolute token lists.

    The reference does this lazily with a PriorityQueue
    (ComboTokenStream.java:98-126); each input stream is non-decreasing in
    (pos, start, end), so a global stable sort by the total key
    (pos, start, end, analyzer_idx) yields the same emission order wherever
    the reference's 3-part comparator determines it."""
    merged: list[tuple[int, int, int, int, Token]] = []
    for aidx, toks in enumerate(streams):
        if not toks:  # failed/empty sub-analyzer slot tolerated
            continue  # (reference: ComboTokenStream.java:56,85)
        for t in toks:
            merged.append((t.pos, t.start, t.end, aidx, t))
    merged.sort(key=lambda e: e[:4])
    out = [e[4] for e in merged]
    if deduplication:
        seen: set[tuple[int, str]] = set()
        kept = []
        for t in out:
            k = (t.pos, t.term)
            if k in seen:
                continue
            seen.add(k)
            kept.append(t)
        out = kept
    return out


def analyze_text(
    text: str, config: ComboConfig, lang: str | None = None
) -> list[Token]:
    """Run the full combo analysis over one text. Tokens carry absolute
    positions; use :func:`to_pos_increments` for the Lucene-style view."""
    fns = resolve_config(config)
    return merge_token_lists(
        [f(text, lang) for f in fns], deduplication=config.deduplication
    )


def analyze_batch(
    texts: Sequence[str],
    config: ComboConfig,
    langs: Sequence[str | None] | None = None,
) -> list[list[Token]]:
    """Batch entry point used by the pandas UDFs: resolve the config once
    per Arrow batch (the analogue of the reference's per-thread analyzer
    reuse, ComboAnalyzer.java:74-76 — setup amortized per batch, not per
    row)."""
    fns = resolve_config(config)
    dedup = config.deduplication
    if langs is None:
        langs = [None] * len(texts)
    return [
        merge_token_lists([f(t, lg) for f in fns], deduplication=dedup)
        if t is not None else []
        for t, lg in zip(texts, langs)
    ]


def to_pos_increments(tokens: list[Token]) -> list[int]:
    """Re-delta-encode absolute positions exactly as the merged stream does:
    posInc = max(0, pos - lastPosition), lastPosition starting at 0
    (reference: ComboTokenStream.java:108)."""
    out = []
    last = 0
    for t in tokens:
        out.append(max(0, t.pos - last))
        last = t.pos
    return out


def _leaf_term_pos(sub: SubAnalyzer) -> Callable | None:
    """One leaf as ``(text, lang) -> (terms, positions | None)``, None
    meaning 1..n: its FAST_TERM_POS_REGISTRY variant when it has one,
    else its Token tokenizer's terms and positions. ``lang`` dispatches
    per document; unknown names are skipped as in :func:`_resolve`."""
    if sub == "lang":
        targets = {n: _leaf_term_pos(n)
                   for n in {LANG_DEFAULT, *LANG_DISPATCH.values()}}

        def run_lang(text: str, lang: str | None, _t=targets):
            return _t[LANG_DISPATCH.get(lang or "", LANG_DEFAULT)](text, lang)
        return run_lang
    fast = FAST_TERM_POS_REGISTRY.get(sub) if isinstance(sub, str) else None
    if fast is not None:
        return lambda text, lang, _fn=fast: _fn(text)
    fn = _resolve(sub)
    if fn is None:
        return None

    def run_tokens(text: str, lang: str | None, _fn=fn):
        toks = _fn(text, lang)
        return [t.term for t in toks], [t.pos for t in toks]
    return run_tokens


_NO_TERMS = (np.empty(0, np.int64), np.empty(0, object), np.empty(0, np.int64))


def _leaf_arrays(leaf: Callable, texts: Sequence, langs: Sequence):
    """A leaf over the batch -> flat (doc_idx, terms, pos); None texts
    yield nothing (as in :func:`analyze_batch`)."""
    outs = [leaf(t, lg) if t is not None else ((), None)
            for t, lg in zip(texts, langs)]
    lens = np.fromiter((len(terms) for terms, _ in outs), np.int64, len(outs))
    terms = np.fromiter(
        itertools.chain.from_iterable(terms for terms, _ in outs), object,
        int(lens.sum()),
    )
    pos = np.concatenate([_NO_TERMS[2]] + [
        np.arange(1, len(terms) + 1) if p is None else np.asarray(p, np.int64)
        for terms, p in outs
    ])
    return np.repeat(np.arange(len(outs)), lens), terms, pos


def run_starts(*cols: np.ndarray) -> np.ndarray:
    """Mask of the rows of sorted ``cols`` that differ from the row before."""
    new = np.zeros(len(cols[0]), dtype=bool)
    new[:1] = True
    for c in cols:
        new[1:] |= c[1:] != c[:-1]
    return new


def batch_term_positions(config: ComboConfig) -> Callable:
    """Resolve ``config`` once -> ``fn(texts, langs)`` giving the batch's
    merged (term, pos) pairs as ``(doc_idx, term_codes, terms, pos)``:
    sorted by (doc, term code, pos), ``terms[term_codes]`` the terms, and
    same-position duplicates dropped when the config dedups. The leaves'
    arrays are concatenated, factorized once and sorted once; a nested
    combo is this function applied recursively, with its own dedup.

    Term statistics never need offsets, token types or the merged emission
    order: tf and the sorted position list are order-free, and
    same-position dedup is a set test on (doc, term, pos)."""
    subs = []
    for sub in config.sub_analyzers:
        if isinstance(sub, ComboConfig):
            inner = batch_term_positions(sub)

            def run_nested(texts, langs, _inner=inner):
                doc, codes, terms, pos = _inner(texts, langs)
                return doc, terms[codes], pos
            subs.append(run_nested)
        else:
            leaf = _leaf_term_pos(sub)
            if leaf is not None:
                subs.append(functools.partial(_leaf_arrays, leaf))
    dedup = config.deduplication

    def run(texts: Sequence, langs: Sequence | None = None):
        if langs is None:
            langs = [None] * len(texts)
        parts = [_NO_TERMS] + [s(texts, langs) for s in subs]
        doc, terms, pos = (np.concatenate(c) for c in zip(*parts))
        codes, terms = pd.factorize(terms)
        # rank the (doc, term) pairs in sorted order, then fold in pos:
        # ranks stay below the token count and positions below 2**31, so
        # the key fits int64 for any batch under 2**32 tokens
        rank = pd.factorize(doc * len(terms) + codes, sort=True)[0]
        order = np.argsort(rank * (int(pos.max(initial=0)) + 1) + pos)
        doc, codes, pos = doc[order], codes[order], pos[order]
        if dedup:
            keep = run_starts(doc, codes, pos)
            doc, codes, pos = doc[keep], codes[keep], pos[keep]
        return doc, codes, terms, pos

    return run


def term_stats(tokens: list[Token]) -> tuple[dict[str, tuple[int, list[int]]], int]:
    """Aggregate one doc's merged tokens to ``term -> (tf, positions)`` plus
    doc length (token count) — the per-document half of the posting build
    (SURVEY.md §2 B2), done here so the distributed stage ships one shuffle
    of pre-aggregated rows instead of raw tokens."""
    stats: dict[str, tuple[int, list[int]]] = {}
    for t in tokens:
        cur = stats.get(t.term)
        if cur is None:
            stats[t.term] = (1, [t.pos])
        else:
            tf, positions = cur
            positions.append(t.pos)
            stats[t.term] = (tf + 1, positions)
    return stats, len(tokens)
