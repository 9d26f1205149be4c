"""Answer checks, run outside the timed region.

* WAND top-k against ``bm25_exhaustive_topk`` (rank, doc_id, score).
* Phrase hits against an evaluator written here: it scans the index's
  ``term_stats`` positions and decodes them with its own varint reader,
  sharing no code with ``query.phrase`` or ``operators.codec``.
* Index invariants after a build or compact: the doc count, and sum of
  ``df`` over ``term_df`` equal to the ``term_stats`` row count.

The answer checks return one mismatch description per answer (None =
correct); the index check returns its list of broken invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import analyze_text
from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk
from elasticsearch_analysis_combo_spark.query.wand import config_from_meta

SCORE_TOL = 1e-9


def exhaustive_topk(spark, idx, texts: list[str], k: int) -> dict[str, list]:
    """text -> [(rank, doc_id, score)] from full BM25 evaluation."""
    meta = idx.meta
    queries = list(enumerate(texts))
    rows = bm25_exhaustive_topk(
        spark, idx.term_stats(), idx.term_df(), queries,
        config_from_meta(meta.config), meta.n_docs, meta.avgdl,
        k=k, k1=meta.k1, b=meta.b,
    ).collect()
    out: dict[str, list] = {t: [] for t in texts}
    for r in rows:
        out[texts[r["query_id"]]].append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return {t: sorted(v) for t, v in out.items()}


def topk_mismatch(got: list, want: list, k: int) -> str | None:
    """Ranks and scores must match within SCORE_TOL, and doc ids rank by
    rank — except that docs whose scores tie within SCORE_TOL may come in
    either order, and a tie straddling the k-th rank may be cut to either
    member (both evaluators break ties by doc_id, but summing the same
    floats in another order can move a tie by an ulp)."""
    if len(got) != len(want):
        return f"{len(got)} hits, expected {len(want)}"
    for (gr, _, gs), (wr, _, ws) in zip(got, want):
        if gr != wr or abs(gs - ws) > SCORE_TOL:
            return f"rank {wr}: score {gs!r}, expected {ws!r}"
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][2] - want[i][2]) <= SCORE_TOL:
            j += 1
        if j < len(want) or len(want) < k:
            if {d for _, d, _ in got[i:j]} != {d for _, d, _ in want[i:j]}:
                return f"ranks {i + 1}-{j}: doc ids differ"
        i = j
    return None


def check_search(spark, idx, answers: list[tuple[str, list]],
                 k: int) -> list[str | None]:
    """``answers``: (query text, returned [(rank, doc_id, score)])."""
    want = exhaustive_topk(spark, idx, sorted({t for t, _ in answers}), k)
    out = []
    for text, got in answers:
        why = topk_mismatch(sorted(got), want[text], k)
        out.append(f"search {text!r}: {why}" if why else None)
    return out


def _varints(buf: bytes) -> list[int]:
    out, val, shift = [], 0, 0
    for byte in buf:
        val |= (byte & 0x7F) << shift
        if byte & 0x80:
            shift += 7
        else:
            out.append(val)
            val, shift = 0, 0
    return out


def _positions(pos_data: bytes) -> set[int]:
    acc, out = 0, set()
    for delta in _varints(pos_data):
        acc += delta
        out.add(acc)
    return out


def expected_phrases(idx, texts: list[str]) -> dict[str, set]:
    """text -> {(doc_id, n_matches)}: a doc matches where the phrase's
    analyzed terms sit at consecutive positions p, p+1, ...; n_matches
    counts the distinct anchors p."""
    config = config_from_meta(idx.meta.config)
    slots = {t: [tok.term for tok in analyze_text(t, config)] for t in texts}
    terms = sorted({term for ts in slots.values() for term in ts})
    pos: dict[str, dict[int, set]] = {}
    if terms:
        rows = (idx.term_stats().filter(F.col("term").isin(terms))
                .select("doc_id", "term", "pos_data").collect())
        for r in rows:
            pos.setdefault(r["term"], {})[int(r["doc_id"])] = _positions(
                bytes(r["pos_data"]))
    out = {}
    for text, ts in slots.items():
        hits = set()
        if ts and all(t in pos for t in ts):
            docs = set(pos[ts[0]])
            for t in ts[1:]:
                docs &= set(pos[t])
            for d in docs:
                n = sum(
                    1 for p in pos[ts[0]][d]
                    if all(p + i in pos[t][d] for i, t in enumerate(ts))
                )
                if n:
                    hits.add((d, n))
        out[text] = hits
    return out


def check_phrases(idx, answers: list[tuple[str, set]]) -> list[str | None]:
    """``answers``: (phrase text, returned {(doc_id, n_matches)})."""
    want = expected_phrases(idx, sorted({t for t, _ in answers}))
    return [
        None if got == want[text]
        else f"phrase {text!r}: {len(got)} hits, expected {len(want[text])}"
        for text, got in answers
    ]


def check_index(idx, expected_docs: int) -> list[str]:
    bad = []
    if idx.meta.n_docs != expected_docs:
        bad.append(f"n_docs {idx.meta.n_docs}, expected {expected_docs}")
    df_sum = idx.term_df().agg(F.sum("df")).collect()[0][0] or 0
    rows = idx.term_stats().count()
    if df_sum != rows:
        bad.append(f"sum(df) {df_sum} != term_stats rows {rows}")
    return bad
