"""Analyzer registry: named, vectorizable tokenizer functions.

Re-expresses the reference's pluggable sub-analyzer surface
(reference: ComboAnalyzerWrapper.java:78-85 resolves sub-analyzers by name
from ES's AnalysisService; ComboAnalyzer.java:222-232 runs each one over a
clone of the input reader). Here an "analyzer" is a pure function
``text -> [Token]`` — reader cloning (ReaderCloneFactory.java:49-319) is a
no-op because every analyzer reads the same immutable string.

Token model (reference: PositionedTokenStream.java:33-46):
  (term, start_offset, end_offset, pos, type) with **absolute** position,
  accumulated from Lucene-style position increments starting at 0 — the
  first token of a standard stream (posInc 1) sits at absolute position 1
  (reference: PositionedTokenStream.java:61-68, TestIntegration.java:50-52).
Stopword removal leaves position gaps (posInc 2), which survive the combo
merge (reference: TestComboAnalyzer.java:62-65).

These functions are called from pandas/Arrow UDFs: batching happens at the
Arrow boundary, regex work is C-level, and per-token stemming is memoized
per vocabulary term.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Callable, NamedTuple

from elasticsearch_analysis_combo_spark.analysis.porter import porter_stem


class Token(NamedTuple):
    term: str
    start: int
    end: int
    pos: int
    type: str


TokenizerFn = Callable[[str], list[Token]]

# Lucene's default English stop set (StandardAnalyzer/EnglishAnalyzer
# STOP_WORDS_SET) — the reference's StandardAnalyzer drops "a" in
# TestComboAnalyzer.java:62-65 (only whitespace's "a" survives the merge).
ENGLISH_STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or
    such that the their then there these they this to was will with""".split()
)

_WORD_RE = re.compile(r"\w+", re.UNICODE)
_NON_SPACE_RE = re.compile(r"\S+")
_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)
_NUM_RE = re.compile(r"^\d+$")
_IDENT_RUN_RE = re.compile(r"[A-Za-z0-9_]+")
# camelCase / ACRONYMCase / digit boundaries inside an identifier run
_IDENT_PART_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")


def _token_type(term: str) -> str:
    return "<NUM>" if _NUM_RE.match(term) else "<ALPHANUM>"


def whitespace_tokenizer(text: str) -> list[Token]:
    """Lucene WhitespaceAnalyzer: split on whitespace, no lowercasing
    (reference golden vector: TestComboAnalyzer.java:42-51)."""
    return [
        Token(m.group(), m.start(), m.end(), i + 1, "word")
        for i, m in enumerate(_NON_SPACE_RE.finditer(text))
    ]


def keyword_tokenizer(text: str) -> list[Token]:
    """Lucene KeywordAnalyzer: whole input as a single token at position 1
    (reference golden vector: TestComboAnalyzer.java:53-66 expects the full
    string with offsets 0..len)."""
    if not text:
        return []
    return [Token(text, 0, len(text), 1, "word")]


def standard_tokenizer(text: str) -> list[Token]:
    """Word-boundary tokenizer + lowercase + English stop removal — the
    observable behavior of the reference's StandardAnalyzer golden vectors
    (TestComboAnalyzer.java:53-66: "a" removed, position gap preserved).
    Stopword removal keeps the original absolute positions (gaps)."""
    out = []
    for i, m in enumerate(_WORD_RE.finditer(text)):
        term = m.group().lower()
        if term in ENGLISH_STOPWORDS:
            continue
        out.append(Token(term, m.start(), m.end(), i + 1, _token_type(term)))
    return out


def simple_tokenizer(text: str) -> list[Token]:
    """Lucene SimpleAnalyzer: letter runs, lowercased."""
    return [
        Token(m.group().lower(), m.start(), m.end(), i + 1, "word")
        for i, m in enumerate(_LETTER_RE.finditer(text))
    ]


def stop_tokenizer(text: str) -> list[Token]:
    """Lucene StopAnalyzer: letter runs, lowercased, English stops removed."""
    return [t for t in simple_tokenizer(text) if t.term not in ENGLISH_STOPWORDS]


def english_tokenizer(text: str) -> list[Token]:
    """Lucene EnglishAnalyzer behavior the reference exercises end-to-end
    (TestIntegration.java:82-87: [whitespace, english, keyword] over
    "just a little test" -> english contributes just@1, littl@3, test@4):
    standard tokenize, lowercase, possessive strip, stop removal, Porter."""
    out = []
    for i, m in enumerate(_WORD_RE.finditer(text)):
        term = m.group().lower()
        if term.endswith("'s"):
            term = term[:-2]
        if term in ENGLISH_STOPWORDS:
            continue
        term = porter_stem(term)
        if term:
            out.append(Token(term, m.start(), m.end(), i + 1, _token_type(term)))
    return out


def identifier_tokenizer(text: str) -> list[Token]:
    """Code-aware identifier splitter (engine extension per the north star:
    camelCase + snake_case splitting for source-code content; no reference
    vector — spec pinned by FIXTURES.md §3 case 10).

    ``getFooBar snake_case_id`` -> get/foo/bar/snake/case/id, each subtoken
    at its own consecutive position with exact sub-offsets."""
    out = []
    pos = 0
    for run in _IDENT_RUN_RE.finditer(text):
        base = run.start()
        for part in _IDENT_PART_RE.finditer(run.group()):
            pos += 1
            term = part.group().lower()
            out.append(
                Token(term, base + part.start(), base + part.end(), pos,
                      _token_type(term))
            )
    return out


_FOLD_EXTRA = {
    "ß": "ss", "æ": "ae", "œ": "oe", "ø": "o", "đ": "d", "ð": "d",
    "þ": "th", "ł": "l",
}


def fold_text(s: str) -> str:
    """ASCII folding: NFKD-decompose, strip combining marks, map special
    Latin letters (ö->o, ß->ss ...)."""
    out = []
    for ch in s:
        if ch in _FOLD_EXTRA:
            out.append(_FOLD_EXTRA[ch])
            continue
        decomp = unicodedata.normalize("NFKD", ch)
        kept = "".join(c for c in decomp if not unicodedata.combining(c))
        out.append(kept)
    return "".join(out)


def asciifold_tokenizer(text: str) -> list[Token]:
    """Standard tokenize + lowercase + ASCII fold, stopwords kept — the
    "german" side of the README's combo example (reference README.md:97-154:
    original + folded forms merged per position)."""
    return [
        Token(fold_text(m.group().lower()), m.start(), m.end(), i + 1,
              _token_type(m.group()))
        for i, m in enumerate(_WORD_RE.finditer(text))
    ]


_GERMAN2_MAP = {"ä": "ae", "ö": "oe", "ü": "ue"}


def german2_fold_text(s: str) -> str:
    """Snowball German2-style folding (reference README.md:92-96, the
    plugin's own motivating example): umlauts EXPAND (ä->ae, ö->oe,
    ü->ue) instead of NFKD-stripping to the bare vowel, then the
    standard ASCII fold handles ß->ss and de-accenting of everything
    else. Same positions/offsets as german_fold; only umlaut words
    fold differently."""
    return fold_text("".join(_GERMAN2_MAP.get(ch, ch) for ch in s))


def german2_fold_tokenizer(text: str) -> list[Token]:
    """Standard tokenize + lowercase + German2 umlaut expansion + ASCII
    fold — the "default" analyzer of the README's German combo example
    (snowball German2 + icu_folding), minus the stemming half."""
    return [
        Token(german2_fold_text(m.group().lower()), m.start(), m.end(),
              i + 1, _token_type(m.group()))
        for i, m in enumerate(_WORD_RE.finditer(text))
    ]


def make_ngram_tokenizer(min_gram: int = 2, max_gram: int = 3) -> TokenizerFn:
    """Lucene NGramTokenizer semantics: all char n-grams of each length in
    [min_gram, max_gram] over the whole input, offsets = gram span. Grams
    are emitted at consecutive positions in (start, length) order."""

    def ngram(text: str) -> list[Token]:
        out = []
        pos = 0
        n = len(text)
        for start in range(n):
            for glen in range(min_gram, max_gram + 1):
                if start + glen > n:
                    break
                pos += 1
                out.append(
                    Token(text[start:start + glen], start, start + glen, pos, "gram")
                )
        return out

    return ngram


def make_edge_ngram_tokenizer(min_gram: int = 1, max_gram: int = 8) -> TokenizerFn:
    """Edge n-grams of each whitespace token (prefix grams), lowercased —
    the autocomplete analyzer. Grams of one source token share its
    position (posInc 0 within the group, like Lucene's EdgeNGramTokenFilter
    with default settings keeps them stacked)."""

    def edge(text: str) -> list[Token]:
        out = []
        for i, m in enumerate(_NON_SPACE_RE.finditer(text)):
            term = m.group().lower()
            for glen in range(min_gram, min(max_gram, len(term)) + 1):
                out.append(
                    Token(term[:glen], m.start(), m.start() + glen, i + 1, "edge_gram")
                )
        return out

    return edge


def make_pattern_tokenizer(
    pattern: str = r"\W+", lowercase: bool = True, stopwords: frozenset | None = None
) -> TokenizerFn:
    """ES ``pattern`` analyzer semantics: the regex matches token
    *separators*; text between matches becomes tokens; lowercase by
    default; optional stop set. Positions count all tokens (stop removal
    leaves gaps)."""
    sep_re = re.compile(pattern)

    def pattern_tok(text: str) -> list[Token]:
        out = []
        prev = 0
        pos = 0
        spans = [(m.start(), m.end()) for m in sep_re.finditer(text)]
        spans.append((len(text), len(text)))
        for s, e in spans:
            if s > prev:
                pos += 1
                term = text[prev:s]
                if lowercase:
                    term = term.lower()
                if stopwords is None or term not in stopwords:
                    out.append(Token(term, prev, s, pos, "word"))
            prev = e
        return out

    return pattern_tok


def make_shingle_tokenizer(size: int = 2, sep: str = " ") -> TokenizerFn:
    """Lucene ShingleFilter-style word n-grams over whitespace tokens,
    lowercased; a shingle sits at its first word's position and spans to
    its last word's end offset."""

    def shingle(text: str) -> list[Token]:
        toks = [
            (m.group().lower(), m.start(), m.end())
            for m in _NON_SPACE_RE.finditer(text)
        ]
        out = []
        for i in range(len(toks) - size + 1):
            words = toks[i:i + size]
            out.append(
                Token(sep.join(w for w, _, _ in words), words[0][1],
                      words[-1][2], i + 1, "shingle")
            )
        return out

    return shingle


_CJK_RE = re.compile(r"[一-鿿぀-ヿ가-힯]")
_CJK_RUN_RE = re.compile(
    r"[一-鿿぀-ヿ가-힯]+|\w+", re.UNICODE
)


def cjk_tokenizer(text: str) -> list[Token]:
    """Lucene CJKAnalyzer-style bigrams: CJK runs emit overlapping character
    bigrams (single char if run length 1); non-CJK word runs pass through
    lowercased. Each emitted token takes the next position."""
    out = []
    pos = 0
    for m in _CJK_RUN_RE.finditer(text):
        run = m.group()
        if _CJK_RE.match(run):
            if len(run) == 1:
                pos += 1
                out.append(Token(run, m.start(), m.end(), pos, "<SINGLE>"))
            else:
                for i in range(len(run) - 1):
                    pos += 1
                    out.append(
                        Token(run[i:i + 2], m.start() + i, m.start() + i + 2,
                              pos, "<DOUBLE>")
                    )
        else:
            pos += 1
            out.append(Token(run.lower(), m.start(), m.end(), pos,
                             _token_type(run)))
    return out


def lowercase_tokenizer(text: str) -> list[Token]:
    """Whitespace split + lowercase (keeps stopwords; useful as the exact
    analyzer for the driver's space-separated ``documents.text`` corpus)."""
    return [
        Token(m.group().lower(), m.start(), m.end(), i + 1, "word")
        for i, m in enumerate(_NON_SPACE_RE.finditer(text))
    ]


def _stamp_factory(fn: TokenizerFn, name: str, payload: str) -> None:
    """Register a factory-made analyzer under ``name`` and stamp both the
    name (recorded in index meta for query-time resolution) and a content
    FINGERPRINT of its settings (mixed into the build fingerprint, so
    changing e.g. a synonym map under the same name forces a rebuild
    instead of silently resuming a stale checkpointed index). A callable
    base without its own name digests as '<callable>' — change the NAME
    when changing such a base."""
    import hashlib

    fn.analyzer_name = name
    fn.analyzer_fingerprint = hashlib.sha1(
        payload.encode()
    ).hexdigest()[:16]
    register_analyzer(name, fn)


def make_synonym_tokenizer(
    base: TokenizerFn | str,
    synonyms: dict[str, list[str]],
    match_lowercase: bool = True,
    name: str | None = None,
) -> TokenizerFn:
    """Lucene SynonymFilter for single-token synonyms: each base token
    whose term has synonyms also emits those synonyms at the SAME absolute
    position (posInc 0) with the original token's offsets and type
    ``SYNONYM`` — exactly the same-position stacking the reference's combo
    merge is built to handle (same-position dedup then keeps the first
    emission). Multi-word synonym graphs (SynonymGraphFilter) are out of
    scope.

    Pass ``name`` when the analyzer feeds an INDEX build: it registers the
    analyzer and stamps a stable identity into the index meta (an ES node
    must carry its synonym settings too); anonymous instances work for
    ad-hoc analysis but record an unstable repr in meta, defeating
    checkpoint resume and query-time config recovery."""
    syn = {
        (k.lower() if match_lowercase else k): list(v)
        for k, v in synonyms.items()
    }

    def synonym_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            out.append(t)
            key = t.term.lower() if match_lowercase else t.term
            for s in syn.get(key, ()):
                out.append(Token(s, t.start, t.end, t.pos, "SYNONYM"))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            synonym_tok, name,
            f"synonym|{base_id}|{match_lowercase}|{sorted(syn.items())}",
        )
    return synonym_tok


# comments first (may contain '>'), then tags — where a '>' inside a
# quoted attribute value must not terminate the tag
_HTML_TAG_RE = re.compile(
    r"<!--.*?-->"                                      # comments
    r"|<[^>'\"]*(?:\"[^\"]*\"[^>'\"]*|'[^']*'[^>'\"]*)*>",  # tags w/ quotes
    re.S,
)


def strip_html(text: str) -> str:
    """Offset-preserving html_strip char filter: every tag or comment is
    replaced by an equal run of spaces, so downstream token offsets still
    index into the ORIGINAL markup (Lucene's HTMLStripCharFilter keeps an
    offset-correction map; equal-length padding achieves the same
    observable offsets without one). A ``>`` inside a quoted attribute
    value or a comment does not terminate the tag. Character entities are
    left as-is (decoding changes lengths; documented simplification)."""
    return _HTML_TAG_RE.sub(lambda m: " " * len(m.group()), text)


def make_html_strip_tokenizer(
    base: TokenizerFn | str, name: str | None = None
) -> TokenizerFn:
    """Wrap an analyzer with the html_strip char filter (``name``: see
    make_synonym_tokenizer — required for index-build configs)."""

    def html_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return fn(strip_html(text))

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(html_tok, name, f"html_strip|{base_id}")
    return html_tok


def make_pattern_replace_tokenizer(
    base: TokenizerFn | str,
    pattern: str,
    replacement: str = "",
    name: str | None = None,
) -> TokenizerFn:
    """ES ``pattern_replace`` TOKEN filter: rewrite each term by regex
    (all occurrences), keeping the original position and offsets — the
    token-filter variant deliberately, because the char-filter variant
    shifts offsets against the original text (ES documents the same
    hazard). Tokens whose term becomes empty are dropped (ES behavior)."""
    rx = re.compile(pattern)

    def pr_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            term = rx.sub(replacement, t.term)
            if term:
                out.append(Token(term, t.start, t.end, t.pos, t.type))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            pr_tok, name, f"pattern_replace|{base_id}|{pattern}|{replacement}"
        )
    return pr_tok


def make_truncate_tokenizer(
    base: TokenizerFn | str, length: int = 10, name: str | None = None
) -> TokenizerFn:
    """ES ``truncate`` token filter: cap each term at ``length`` chars
    (offsets still span the full original token, as in Lucene)."""
    if length < 1:
        raise ValueError(f"length must be >= 1: {length}")

    def trunc_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            Token(t.term[:length], t.start, t.end, t.pos, t.type)
            for t in fn(text)
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(trunc_tok, name, f"truncate|{base_id}|{length}")
    return trunc_tok


def make_unique_tokenizer(
    base: TokenizerFn | str,
    only_on_same_position: bool = False,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``unique`` token filter: drop repeated terms, keeping the
    FIRST occurrence (its position and offsets). With
    ``only_on_same_position`` only same-position repeats are dropped
    (the RemoveDuplicatesTokenFilter semantics)."""

    def uniq_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        seen: set = set()
        for t in fn(text):
            key = (t.term, t.pos) if only_on_same_position else t.term
            if key in seen:
                continue
            seen.add(key)
            out.append(t)
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            uniq_tok, name, f"unique|{base_id}|{only_on_same_position}"
        )
    return uniq_tok


def make_reverse_tokenizer(
    base: TokenizerFn | str, name: str | None = None
) -> TokenizerFn:
    """ES ``reverse`` token filter: emit each term reversed, positions
    and offsets unchanged. The classic use is a side index of reversed
    terms so a LEADING wildcard (``*foo``) becomes a reversed PREFIX
    (``oof*``) — turning the one wildcard shape that defeats dictionary
    min/max pruning into a pushdown-friendly startswith."""

    def rev_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            Token(t.term[::-1], t.start, t.end, t.pos, t.type)
            for t in fn(text)
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(rev_tok, name, f"reverse|{base_id}")
    return rev_tok


def make_length_filter_tokenizer(
    base: TokenizerFn | str,
    min_len: int = 0,
    max_len: int = 1 << 30,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``length`` token filter: keep terms with min <= len <= max
    (positions are NOT re-compacted, matching Lucene's LengthFilter
    with positionIncrements preserved)."""

    def len_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            t for t in fn(text) if min_len <= len(t.term) <= max_len
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            len_tok, name, f"length|{base_id}|{min_len}|{max_len}"
        )
    return len_tok


def make_word_shingle_tokenizer(
    base: TokenizerFn | str,
    size: int = 2,
    sep: str = " ",
    name: str | None = None,
) -> TokenizerFn:
    """Lucene ShingleFilter over the BASE analyzer's token stream — the
    `index_phrases: true` building block: a side index of word ``size``-grams
    turns an exact phrase query into a lookup of far rarer shingle terms
    (see query.phrase.phrase_match_shingles). A shingle spans ``size``
    tokens at CONSECUTIVE positions and sits at its first token's position,
    so consecutive phrase starts map to consecutive shingle positions and
    the standard positional kernel applies unchanged. Position gaps (e.g.
    stopword removal) are NOT bridged — use a gap-free base (whitespace /
    simple / keyword-less standard text); where Lucene would emit a filler
    ``_`` shingle, this emits nothing. Same-position duplicates (synonym
    streams) keep the first-emitted token, matching the phrase-index
    contract of a single base analyzer."""
    if size < 2:
        raise ValueError(f"shingle size must be >= 2: {size}")

    def shingle_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        by_pos: dict[int, Token] = {}
        for t in fn(text):
            by_pos.setdefault(t.pos, t)
        toks = [by_pos[p] for p in sorted(by_pos)]
        out = []
        for i in range(len(toks) - size + 1):
            run = toks[i:i + size]
            if run[-1].pos - run[0].pos != size - 1:
                continue  # position gap — no filler shingle
            out.append(
                Token(
                    sep.join(t.term for t in run),
                    run[0].start, run[-1].end, run[0].pos, "shingle",
                )
            )
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            shingle_tok, name, f"word_shingle|{base_id}|{size}|{sep}"
        )
    return shingle_tok


# --- word_delimiter ---------------------------------------------------
# ES/Lucene WordDelimiterFilter boundary rules, expressed as separator
# insertion so the SAME chain is replayable as SQL regexp_replace in the
# DuckDB oracle (RE2 has no lookahead; \b is supported by both engines):
#   1. strip English possessive ('s at a word boundary)
#   2. ACRONYMWord  -> ACRONYM Word   (XMLHttp -> XML Http)
#   3. camelCase    -> camel Case
#   4. letter<->digit transitions     (XL500 -> XL 500)
#   5. any non-alphanumeric run is a hard delimiter
_WD_POSSESSIVE_RE = re.compile(r"'[sS]\b")
_WD_BOUNDARIES = (
    (re.compile(r"([A-Z]+)([A-Z][a-z])"), r"\1 \2"),
    (re.compile(r"([a-z])([A-Z])"), r"\1 \2"),
    (re.compile(r"([A-Za-z])([0-9])"), r"\1 \2"),
    (re.compile(r"([0-9])([A-Za-z])"), r"\1 \2"),
)
_WD_NONALNUM_RE = re.compile(r"[^A-Za-z0-9]+")


def word_delimiter_parts(
    term: str,
    split_on_case_change: bool = True,
    split_on_numerics: bool = True,
    stem_english_possessive: bool = True,
) -> list[str]:
    """Split one term into WordDelimiterFilter sub-words (default flags:
    generate_word_parts + generate_number_parts on; catenate_* off —
    documented unsupported, they produce position graphs)."""
    s = _WD_POSSESSIVE_RE.sub("", term) if stem_english_possessive else term
    for i, (rx, rep) in enumerate(_WD_BOUNDARIES):
        if not split_on_case_change and i < 2:
            continue
        if not split_on_numerics and i >= 2:
            continue
        s = rx.sub(rep, s)
    s = _WD_NONALNUM_RE.sub(" ", s)
    return s.split()


def make_word_delimiter_tokenizer(
    base: TokenizerFn | str = "whitespace",
    split_on_case_change: bool = True,
    split_on_numerics: bool = True,
    stem_english_possessive: bool = True,
    preserve_original: bool = False,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``word_delimiter`` token filter (defaults: generate_word_parts +
    generate_number_parts + split_on_case_change + split_on_numerics +
    stem_english_possessive — the ES doc example "Neil's Super-Duper-XL500--42+AutoCoder"
    -> [Neil, Super, Duper, XL, 500, 42, Auto, Coder]). Absolute positions
    are re-accumulated Lucene-style: the first sub-word keeps the base
    token's position increment, later sub-words increment by 1, so base
    position GAPS (stopword removal) survive. ``preserve_original`` stacks
    the unsplit term at the first sub-word's position (posInc 0), the
    same-position stacking the combo merge already handles. Sub-word
    offsets index into the original text (found by in-order scan of the
    base token's term). catenate_* flags are out of scope: they emit a
    position GRAPH, which the flat positional index cannot represent."""

    def wd_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        prev_base_pos = 0
        out_pos = 0
        for t in fn(text):
            parts = word_delimiter_parts(
                t.term, split_on_case_change, split_on_numerics,
                stem_english_possessive,
            )
            out_pos += max(t.pos - prev_base_pos, 1)
            prev_base_pos = t.pos
            if not parts:
                continue
            cursor = 0
            first_pos = out_pos
            for j, part in enumerate(parts):
                rel = t.term.find(part, cursor)
                if rel < 0:  # possessive strip shifted text — best effort
                    rel = cursor
                cursor = rel + len(part)
                if j > 0:
                    out_pos += 1
                out.append(
                    Token(part, t.start + rel, t.start + rel + len(part),
                          out_pos, _token_type(part))
                )
            if preserve_original and (len(parts) > 1 or parts[0] != t.term):
                out.append(Token(t.term, t.start, t.end, first_pos, "word"))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            wd_tok, name,
            f"word_delimiter|{base_id}|{split_on_case_change}"
            f"|{split_on_numerics}|{stem_english_possessive}"
            f"|{preserve_original}",
        )
    return wd_tok


# Lucene ElisionFilter's French default article set
FRENCH_ELISION_ARTICLES = frozenset(
    "l m t qu n s j d c jusqu quoiqu lorsqu puisqu".split()
)
_APOSTROPHES = "'’"


def make_elision_tokenizer(
    base: TokenizerFn | str = "whitespace",
    articles: frozenset[str] | set[str] = FRENCH_ELISION_ARTICLES,
    articles_case: bool = False,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``elision`` token filter: strip a leading ``article'`` (ASCII or
    typographic apostrophe) from each term — l'avion -> avion. With
    ``articles_case=False`` (the ES default) matching is case-insensitive.
    Positions and offsets are unchanged (Lucene only rewrites the term
    buffer)."""
    arts = frozenset(articles if articles_case
                     else (a.lower() for a in articles))

    def elision_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            term = t.term
            for i, ch in enumerate(term):
                if ch in _APOSTROPHES:
                    head = term[:i] if articles_case else term[:i].lower()
                    if head in arts:
                        term = term[i + 1:]
                    break
            if term:
                out.append(Token(term, t.start, t.end, t.pos, t.type))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            elision_tok, name,
            f"elision|{base_id}|{sorted(arts)}|{articles_case}",
        )
    return elision_tok


def make_apostrophe_tokenizer(
    base: TokenizerFn | str = "whitespace", name: str | None = None
) -> TokenizerFn:
    """ES ``apostrophe`` token filter (built for Turkish): drop the first
    apostrophe and EVERYTHING after it — Istanbul'a -> Istanbul. Terms
    that become empty are removed; positions/offsets unchanged."""

    def apos_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            term = t.term
            for i, ch in enumerate(term):
                if ch in _APOSTROPHES:
                    term = term[:i]
                    break
            if term:
                out.append(Token(term, t.start, t.end, t.pos, t.type))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(apos_tok, name, f"apostrophe|{base_id}")
    return apos_tok


def fold_decimal_digits(s: str) -> str:
    """Map every Unicode decimal digit (Nd category: Arabic-Indic,
    Devanagari, fullwidth, ...) to its ASCII 0-9 equivalent."""
    out = []
    for ch in s:
        d = unicodedata.decimal(ch, None)
        out.append(str(d) if d is not None else ch)
    return "".join(out)


def make_decimal_digit_tokenizer(
    base: TokenizerFn | str = "whitespace", name: str | None = None
) -> TokenizerFn:
    """ES ``decimal_digit`` token filter: normalize all Unicode decimal
    digits to ASCII (٣ -> 3); positions/offsets unchanged."""

    def dd_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            Token(fold_decimal_digits(t.term), t.start, t.end, t.pos, t.type)
            for t in fn(text)
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(dd_tok, name, f"decimal_digit|{base_id}")
    return dd_tok


def make_mapping_char_filter_tokenizer(
    base: TokenizerFn | str,
    mappings: dict[str, str],
    name: str | None = None,
) -> TokenizerFn:
    """ES ``mapping`` char filter: literal string replacements applied to
    the text BEFORE tokenization, longest key first (ES matches greedily).
    DIVERGENCE (documented): when a mapping changes length, downstream
    offsets index into the FILTERED text, not the original — Lucene keeps
    an offset-correction map; equal-length mappings (and the common
    search-side uses) are unaffected."""
    keys = sorted(mappings, key=len, reverse=True)
    rx = re.compile("|".join(re.escape(k) for k in keys)) if keys else None

    def mapping_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        if rx is not None:
            text = rx.sub(lambda m: mappings[m.group()], text)
        return fn(text)

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            mapping_tok, name,
            f"mapping|{base_id}|{sorted(mappings.items())}",
        )
    return mapping_tok


def make_fingerprint_analyzer(
    max_output_size: int = 255,
    separator: str = " ",
    stopwords: frozenset[str] | set[str] = frozenset(),
) -> TokenizerFn:
    """ES ``fingerprint`` analyzer (the OpenRefine clustering fingerprint):
    lowercase, ASCII-fold, word-tokenize, drop stopwords, DEDUP, SORT
    (code-point order), concatenate with ``separator`` into ONE token at
    position 1 spanning the whole input. Inputs whose fingerprint exceeds
    ``max_output_size`` emit NOTHING (the ES filter discards, never
    truncates). The classic use is key-collision dedup — pairs naturally
    with operators.dedup (group by the fingerprint term)."""

    def fingerprint_tok(text: str) -> list[Token]:
        terms = sorted({
            w for w in (
                fold_text(m.group().lower())
                for m in _WORD_RE.finditer(text)
            ) if w and w not in stopwords
        })
        if not terms:
            return []
        fp = separator.join(terms)
        if len(fp) > max_output_size:
            return []
        return [Token(fp, 0, len(text), 1, "fingerprint")]

    return fingerprint_tok


def make_english_tokenizer(
    protected: frozenset[str] | set[str] = frozenset(),
    overrides: dict[str, str] | None = None,
    name: str | None = None,
    stemmer: str = "porter",
) -> TokenizerFn:
    """The english analyzer with ES ``keyword_marker`` (``protected``
    terms bypass stemming) and ``stemmer_override`` (``overrides`` map
    wins over the stemmer, and — as in Lucene — marks the term as
    keyword so no further stemming applies). Both operate on the
    lowercased, possessive-stripped form, before stop removal, matching
    ES's usual filter chain order. ``stemmer`` picks ES's two English
    algorithmic stemmers: ``porter`` (Lucene PorterStemFilter — this
    repo's default since r1, kept for index-fingerprint stability) or
    ``english`` (Porter2/Snowball — what ES's default english analyzer
    actually runs; see analysis/porter2.py)."""
    ov = dict(overrides or {})
    if stemmer == "porter":
        stem_fn = porter_stem
    elif stemmer in ("english", "porter2", "snowball"):
        from elasticsearch_analysis_combo_spark.analysis.porter2 import (
            porter2_stem,
        )

        stem_fn = porter2_stem
    else:
        raise ValueError(f"unknown stemmer: {stemmer!r}")

    def english_custom_tok(text: str) -> list[Token]:
        out = []
        for i, m in enumerate(_WORD_RE.finditer(text)):
            term = m.group().lower()
            if term.endswith("'s"):
                term = term[:-2]
            if term in ENGLISH_STOPWORDS:
                continue
            if term in ov:
                term = ov[term]
            elif term not in protected:
                term = stem_fn(term)
            if term:
                out.append(
                    Token(term, m.start(), m.end(), i + 1, _token_type(term))
                )
        return out

    if name:
        _stamp_factory(
            english_custom_tok, name,
            f"english_custom|{sorted(protected)}|{sorted(ov.items())}"
            f"|{stemmer}",
        )
    return english_custom_tok


def make_keyword_repeat_tokenizer(
    base: TokenizerFn | str = "lowercase",
    stem: Callable[[str], str] = porter_stem,
    name: str | None = None,
) -> TokenizerFn:
    """The ES ``keyword_repeat`` -> ``stemmer`` -> ``remove_duplicates``
    chain in one filter: every base token is emitted UNSTEMMED, and its
    stem is stacked at the SAME absolute position (posInc 0, type
    ``stem``) when it differs — the same-position stacking the
    reference's combo merge exists to host (its dedup-keep-first then
    collapses identical pairs, which is exactly remove_duplicates).
    Indexing with this analyzer lets queries match BOTH the exact
    surface form and the stem class without a second field."""

    def kr_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            out.append(t)
            stemmed = stem(t.term)
            if stemmed and stemmed != t.term:
                out.append(Token(stemmed, t.start, t.end, t.pos, "stem"))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(kr_tok, name, f"keyword_repeat|{base_id}|porter")
    return kr_tok


def letter_tokenizer(text: str) -> list[Token]:
    """Lucene LetterTokenizer: maximal letter runs, case PRESERVED
    (``simple`` is exactly this + lowercase)."""
    return [
        Token(m.group(), m.start(), m.end(), i + 1, "word")
        for i, m in enumerate(_LETTER_RE.finditer(text))
    ]


_CHAR_GROUP_SPECIALS = {
    "whitespace": lambda c: c.isspace(),
    "letter": lambda c: c.isalpha(),
    "digit": lambda c: c.isdigit(),
    "punctuation": lambda c: unicodedata.category(c).startswith("P"),
    "symbol": lambda c: unicodedata.category(c).startswith("S"),
}


def make_char_group_tokenizer(
    tokenize_on_chars: list[str],
    max_token_length: int = 255,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``char_group`` tokenizer: split on any char in the set; entries
    are literal chars or the ES class names ``whitespace`` / ``letter`` /
    ``digit`` / ``punctuation`` / ``symbol``. Tokens longer than
    ``max_token_length`` are SPLIT at that length (ES behavior, not
    truncated). No lowercasing — it is a bare tokenizer."""
    classes = [
        _CHAR_GROUP_SPECIALS[e]
        for e in tokenize_on_chars if e in _CHAR_GROUP_SPECIALS
    ]
    literals = {
        e for e in tokenize_on_chars if e not in _CHAR_GROUP_SPECIALS
    }

    def is_break(c: str) -> bool:
        return c in literals or any(f(c) for f in classes)

    def cg_tok(text: str) -> list[Token]:
        out: list[Token] = []
        start = None
        pos = 0

        def emit(a: int, b: int) -> None:
            nonlocal pos
            for s in range(a, b, max_token_length):
                e = min(s + max_token_length, b)
                pos += 1
                out.append(Token(text[s:e], s, e, pos, "word"))

        for i, c in enumerate(text):
            if is_break(c):
                if start is not None:
                    emit(start, i)
                    start = None
            elif start is None:
                start = i
        if start is not None:
            emit(start, len(text))
        return out

    if name:
        _stamp_factory(
            cg_tok, name,
            f"char_group|{sorted(tokenize_on_chars)}|{max_token_length}",
        )
    return cg_tok


def make_path_hierarchy_tokenizer(
    delimiter: str = "/",
    replacement: str | None = None,
    reverse: bool = False,
    skip: int = 0,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``path_hierarchy`` tokenizer. Forward: progressive prefixes at
    each delimiter boundary ('/one/two/three' -> '/one', '/one/two',
    '/one/two/three'), ALL stacked at position 1 (Lucene emits posInc 1
    then 0s) so a path field filters by any ancestor directory with a
    plain term query. ``reverse``: progressive suffixes ('one/two/three',
    'two/three', 'three') — the file-extension/domain use. ``skip`` drops
    that many leading (trailing, when reversed) path components before
    emitting. ``replacement`` substitutes the delimiter in emitted terms
    only; offsets always index the ORIGINAL text."""

    def ph_tok(text: str) -> list[Token]:
        if not text:
            return []
        # boundary offsets of each delimiter occurrence
        cuts = []
        i = text.find(delimiter)
        while i != -1:
            cuts.append(i)
            i = text.find(delimiter, i + len(delimiter))
        out: list[Token] = []
        if not reverse:
            # prefixes end at each delimiter that FOLLOWS content, plus
            # the full string; a leading delimiter attaches to the first
            # component rather than emitting an empty-ish token
            ends = [c for c in cuts if c > (len(delimiter) if
                    text.startswith(delimiter) else 0)]
            ends.append(len(text))
            for k, e in enumerate(ends):
                if k < skip:
                    continue
                term = text[:e]
                if replacement is not None:
                    term = term.replace(delimiter, replacement)
                out.append(Token(term, 0, e, 1, "word"))
        else:
            starts = [0] + [c + len(delimiter) for c in cuts
                            if c + len(delimiter) < len(text)]
            for k, s in enumerate(starts):
                if skip and k >= len(starts) - skip:
                    continue
                term = text[s:]
                if replacement is not None:
                    term = term.replace(delimiter, replacement)
                out.append(Token(term, s, len(text), 1, "word"))
        return out

    if name:
        _stamp_factory(
            ph_tok, name,
            f"path_hierarchy|{delimiter}|{replacement}|{reverse}|{skip}",
        )
    return ph_tok


# URL first (leftmost-first alternation keeps it whole), then email, then
# plain word runs. Explicit ASCII classes so the SAME pattern replays
# identically under DuckDB's RE2 in the gate oracle.
_UAX_RE = re.compile(
    r"(https?://[A-Za-z0-9./_%+&=?#:~-]+)"
    r"|([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})"
    r"|([A-Za-z0-9_]+)"
)


def uax_url_email_tokenizer(text: str) -> list[Token]:
    """ES ``uax_url_email`` tokenizer (+ lowercase, the usual analyzer
    chain): like ``standard`` but URLs and emails survive as single
    tokens typed <URL> / <EMAIL> instead of shattering at punctuation."""
    out = []
    for i, m in enumerate(_UAX_RE.finditer(text)):
        kind = "<URL>" if m.group(1) else (
            "<EMAIL>" if m.group(2) else _token_type(m.group())
        )
        out.append(
            Token(m.group().lower(), m.start(), m.end(), i + 1, kind)
        )
    return out


def make_limit_tokenizer(
    base: TokenizerFn | str,
    max_token_count: int = 1,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``limit`` token filter: keep only the first
    ``max_token_count`` tokens (the index-time guard against
    pathological documents)."""
    if max_token_count < 1:
        raise ValueError(f"max_token_count must be >= 1: {max_token_count}")

    def limit_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return fn(text)[:max_token_count]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(limit_tok, name, f"limit|{base_id}|{max_token_count}")
    return limit_tok


def make_trim_tokenizer(
    base: TokenizerFn | str, name: str | None = None
) -> TokenizerFn:
    """ES ``trim`` token filter: strip leading/trailing whitespace from
    each term (relevant after ``keyword``/``pattern`` tokenization;
    offsets unchanged, as in Lucene). Terms that trim to empty are kept
    as Lucene keeps them — chain ``length`` with min 1 to drop them."""

    def trim_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            Token(t.term.strip(), t.start, t.end, t.pos, t.type)
            for t in fn(text)
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(trim_tok, name, f"trim|{base_id}")
    return trim_tok


def make_uppercase_tokenizer(
    base: TokenizerFn | str, name: str | None = None
) -> TokenizerFn:
    """ES ``uppercase`` token filter."""

    def upper_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        return [
            Token(t.term.upper(), t.start, t.end, t.pos, t.type)
            for t in fn(text)
        ]

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(upper_tok, name, f"uppercase|{base_id}")
    return upper_tok


def make_common_grams_tokenizer(
    base: TokenizerFn | str,
    common_words: frozenset[str] | set[str],
    ignore_case: bool = False,
    query_mode: bool = False,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``common_grams`` token filter (Lucene CommonGramsFilter): for
    every adjacent pair where EITHER side is a common word, a bigram
    ``a_b`` is stacked at the FIRST word's position (posInc 0, type
    ``gram``, offsets spanning both) alongside the unigrams — the
    index-side fix for stopword phrases ('the who') without paying
    stopword postings at query time. ``query_mode`` (CommonGramsQuery-
    Filter) additionally DROPS common unigrams that participated in a
    bigram, so queries match through the grams only."""
    cw = {w.lower() for w in common_words} if ignore_case else set(
        common_words
    )

    def is_common(term: str) -> bool:
        return (term.lower() if ignore_case else term) in cw

    def cg_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        toks = fn(text)
        out: list[Token] = []
        in_gram: set[int] = set()
        for i, t in enumerate(toks):
            out.append(t)
            if i + 1 < len(toks):
                nxt = toks[i + 1]
                if is_common(t.term) or is_common(nxt.term):
                    out.append(Token(
                        f"{t.term}_{nxt.term}", t.start, nxt.end,
                        t.pos, "gram",
                    ))
                    in_gram.update((i, i + 1))
        if query_mode:
            drop = {
                id(t) for i, t in enumerate(toks)
                if is_common(t.term) and i in in_gram
            }
            out = [t for t in out if id(t) not in drop]
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            cg_tok, name,
            f"common_grams|{base_id}|{sorted(cw)}|{ignore_case}|"
            f"{query_mode}",
        )
    return cg_tok


def make_pattern_capture_tokenizer(
    base: TokenizerFn | str,
    patterns: list[str],
    preserve_original: bool = True,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``pattern_capture`` token filter: every capture group of every
    pattern match emits a token STACKED at the original term's position
    (posInc 0) with the ORIGINAL token's offsets — Lucene's documented
    behavior, because sub-token offsets would break highlighting. Empty
    captures and captures equal to the original are skipped; the
    original itself leads when ``preserve_original``. The ES docs' use:
    splitting 'foo-bar@example.com'-shaped identifiers into searchable
    parts without losing the exact form."""
    rxs = [re.compile(p) for p in patterns]

    def pc_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            if preserve_original:
                out.append(t)
            seen = {t.term} if preserve_original else set()
            for rx in rxs:
                for m in rx.finditer(t.term):
                    groups = m.groups() if m.groups() else (m.group(),)
                    for g in groups:
                        if g and g not in seen:
                            seen.add(g)
                            out.append(
                                Token(g, t.start, t.end, t.pos, "word")
                            )
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(
            pc_tok, name,
            f"pattern_capture|{base_id}|{patterns}|{preserve_original}",
        )
    return pc_tok


_SOUNDEX_CODES = str.maketrans({
    "B": "1", "F": "1", "P": "1", "V": "1",
    "C": "2", "G": "2", "J": "2", "K": "2", "Q": "2", "S": "2",
    "X": "2", "Z": "2",
    "D": "3", "T": "3", "L": "4", "M": "5", "N": "5", "R": "6",
})


def soundex(term: str) -> str:
    """American Soundex (the census rules Lucene's SoundexEncoder
    implements): first letter kept, consonants coded 1-6, adjacent same
    codes collapsed, H/W transparent (codes equal ACROSS them still
    collapse), vowels separate, padded/cut to 4. Returns '' for terms
    with no ASCII letter."""
    letters = [c for c in term.upper() if "A" <= c <= "Z"]
    if not letters:
        return ""
    out = letters[0]
    last = letters[0].translate(_SOUNDEX_CODES)
    last = last if last.isdigit() else ""
    for c in letters[1:]:
        if c in "HW":
            continue
        code = c.translate(_SOUNDEX_CODES)
        code = code if code.isdigit() else ""
        if code and code != last:
            out += code
            if len(out) == 4:
                break
        last = code
    return (out + "000")[:4]


def make_phonetic_tokenizer(
    base: TokenizerFn | str,
    replace: bool = True,
    name: str | None = None,
) -> TokenizerFn:
    """ES ``phonetic`` token filter, soundex encoder: terms become their
    soundex codes so name variants collide ('Robert' and 'Rupert' both
    index R163). ``replace=False`` (ES's replace: false / Lucene
    inject) keeps the original AND stacks the code at the same position
    (type ``phonetic``). Terms with no letters pass through unencoded."""

    def ph_tok(text: str) -> list[Token]:
        fn = resolve_analyzer(base) if isinstance(base, str) else base
        out: list[Token] = []
        for t in fn(text):
            code = soundex(t.term)
            if not code or code == t.term:
                out.append(t)
                continue
            if replace:
                out.append(Token(code, t.start, t.end, t.pos, "phonetic"))
            else:
                out.append(t)
                out.append(Token(code, t.start, t.end, t.pos, "phonetic"))
        return out

    if name:
        base_id = base if isinstance(base, str) else getattr(
            base, "analyzer_name", "<callable>"
        )
        _stamp_factory(ph_tok, name, f"phonetic|{base_id}|{replace}")
    return ph_tok


# language -> analyzer name used by the `lang` dispatch analyzer
# (north_star: "language-aware per the lang column"). Code languages get the
# identifier splitter; natural language gets english/standard.
LANG_DISPATCH = {
    "java": "identifier",
    "python": "identifier",
    "go": "identifier",
    "js": "identifier",
    "en": "english",
    "text": "english",
    "zh": "cjk",
    "ja": "cjk",
    "ko": "cjk",
}
LANG_DEFAULT = "standard"


ANALYZER_REGISTRY: dict[str, TokenizerFn] = {
    "whitespace": whitespace_tokenizer,
    "keyword": keyword_tokenizer,
    "standard": standard_tokenizer,
    "simple": simple_tokenizer,
    "stop": stop_tokenizer,
    "english": english_tokenizer,
    "identifier": identifier_tokenizer,
    "asciifold": asciifold_tokenizer,
    "german_fold": asciifold_tokenizer,
    "german2_fold": german2_fold_tokenizer,
    "lowercase": lowercase_tokenizer,
    "cjk": cjk_tokenizer,
    "pattern": make_pattern_tokenizer(),
    "ngram": make_ngram_tokenizer(2, 3),
    "edge_ngram": make_edge_ngram_tokenizer(1, 8),
    "shingle": make_shingle_tokenizer(2),
    "word_delimiter": make_word_delimiter_tokenizer("whitespace"),
    "elision": make_elision_tokenizer("whitespace"),
    "apostrophe": make_apostrophe_tokenizer("whitespace"),
    "decimal_digit": make_decimal_digit_tokenizer("whitespace"),
    "fingerprint": make_fingerprint_analyzer(),
    "keyword_repeat": make_keyword_repeat_tokenizer("lowercase"),
    "letter": letter_tokenizer,
    "uax_url_email": uax_url_email_tokenizer,
    "char_group": make_char_group_tokenizer(
        ["whitespace", "-", ","]
    ),
    "path_hierarchy": make_path_hierarchy_tokenizer("/"),
    "path_hierarchy_rev": make_path_hierarchy_tokenizer(
        "/", reverse=True
    ),
    "common_grams": make_common_grams_tokenizer(
        "lowercase", ENGLISH_STOPWORDS
    ),
    "phonetic": make_phonetic_tokenizer("lowercase"),
    "limit": make_limit_tokenizer("whitespace", 2),
    "trim": make_trim_tokenizer("keyword"),
    "uppercase": make_uppercase_tokenizer("whitespace"),
    "pattern_capture": make_pattern_capture_tokenizer(
        "keyword", [r"([a-z]+)", r"([0-9]+)"]
    ),
    # ES's default english analyzer stems with Porter2 ("english"
    # stemmer); registered separately so existing "english" (porter)
    # index fingerprints stay stable
    "english_snowball": make_english_tokenizer(stemmer="english"),
}


def register_analyzer(name: str, fn: TokenizerFn) -> None:
    """Extension point mirroring the reference's by-name analyzer resolution
    (ComboAnalyzerWrapper.java:78-85)."""
    ANALYZER_REGISTRY[name] = fn


def resolve_analyzer(name: str) -> TokenizerFn:
    """By-name lookup with a loud failure (used by wrapping factories —
    synonym / html_strip — which accept either a name or a function)."""
    try:
        return ANALYZER_REGISTRY[name]
    except KeyError:
        raise KeyError(
            f"unknown analyzer {name!r}; registered: "
            f"{sorted(ANALYZER_REGISTRY)}"
        ) from None


# ---------------------------------------------------------------------------
# Fast term/position variants for the index hot path.
#
# Posting construction (B2) needs only (term, absolute position) — never
# offsets, token types, or the merged emission *order* (tf and the sorted
# position list are order-independent; same-position dedup is a set test on
# (pos, term)). These variants skip regex span tracking and Token object
# construction. build_term_stats has one batch pipeline
# (combo.batch_term_positions): a leaf uses its variant here when it has
# one, and any other leaf is adapted from its Token output.
# Each returns (terms: list[str], positions: list[int] | None); None means
# consecutive 1..n.

def _fast_whitespace(text):
    return text.split(), None


def _fast_lowercase(text):
    return text.lower().split(), None


def _fast_keyword(text):
    return ([text], None) if text else ([], None)


def _fast_standard(text):
    terms, poses = [], []
    for i, w in enumerate(_WORD_RE.findall(text)):
        w = w.lower()
        if w in ENGLISH_STOPWORDS:
            continue
        terms.append(w)
        poses.append(i + 1)
    return terms, poses


def _fast_english(text):
    terms, poses = [], []
    for i, w in enumerate(_WORD_RE.findall(text)):
        w = w.lower()
        if w.endswith("'s"):
            w = w[:-2]
        if w in ENGLISH_STOPWORDS:
            continue
        w = porter_stem(w)
        if w:
            terms.append(w)
            poses.append(i + 1)
    return terms, poses


def _fast_simple(text):
    return [w.lower() for w in _LETTER_RE.findall(text)], None


def _fast_stop(text):
    terms, poses = [], []
    for i, w in enumerate(_LETTER_RE.findall(text)):
        w = w.lower()
        if w in ENGLISH_STOPWORDS:
            continue
        terms.append(w)
        poses.append(i + 1)
    return terms, poses


def _fast_identifier(text):
    terms = []
    for run in _IDENT_RUN_RE.findall(text):
        for part in _IDENT_PART_RE.findall(run):
            terms.append(part.lower())
    return terms, None


def _fast_asciifold(text):
    return [fold_text(w.lower()) for w in _WORD_RE.findall(text)], None


def _fast_german2_fold(text):
    return [
        german2_fold_text(w.lower()) for w in _WORD_RE.findall(text)
    ], None


FAST_TERM_POS_REGISTRY = {
    "whitespace": _fast_whitespace,
    "lowercase": _fast_lowercase,
    "keyword": _fast_keyword,
    "standard": _fast_standard,
    "english": _fast_english,
    "simple": _fast_simple,
    "stop": _fast_stop,
    "identifier": _fast_identifier,
    "asciifold": _fast_asciifold,
    "german_fold": _fast_asciifold,
    "german2_fold": _fast_german2_fold,
}


def make_replay_tokenizer(
    terms: list[str],
    starts: list[int],
    ends: list[int],
    pos_incs: list[int],
) -> TokenizerFn:
    """Scripted token stream, the analogue of the reference test fixture
    ReplayTokenStream (TestComboTokenStream.java:36-87): emits a fixed token
    list regardless of input, with absolute positions accumulated from the
    scripted position increments."""
    toks = []
    pos = 0
    for term, st, en, inc in zip(terms, starts, ends, pos_incs):
        pos += inc
        toks.append(Token(term, st, en, pos, "word"))

    def replay(_text: str) -> list[Token]:
        return list(toks)

    return replay
