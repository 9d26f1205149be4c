"""Bounded posting rows (B5 scale shape): a term's posting list is emitted
as multiple (term, run_idx) rows capped at max_blocks_per_row blocks, and
every consumer (WAND, phrase) concatenates runs transparently.

Forces a pathological cap (2 blocks/row, 4 docs/block => 8 docs/row) over a
randomized corpus so nearly every term spans multiple rows, then checks:

* build_postings emits >1 row for long terms, with term-total df/cf repeated
  per run, runs partitioning the doc ordinals in order;
* WAND over the chunked table is rank- and score-identical to the pure
  exhaustive oracle, a 32-query batch equals ``bm25_exhaustive_topk``, and
  a non-materialized build_postings pipeline gives the written table's
  top-k;
* phrase matching over chunked positional postings equals the unchunked
  result.
"""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.tokenizers import (
    make_replay_tokenizer,
)
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.postings import (
    PostingFrame,
    build_postings,
    decode_segment_blocks,
    doc_table,
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk
from elasticsearch_analysis_combo_spark.query.phrase import phrase_match
from elasticsearch_analysis_combo_spark.query.wand import wand_topk_from_postings

from tests.oracle import oracle_topk

CFG = ComboConfig(["whitespace"])
K1, B = 1.2, 0.75

VOCAB = (
    ["the", "if", "return"] * 12
    + ["merge", "index", "token", "cache"] * 4
    + [f"rare{i}" for i in range(20)]
)


def _make_docs(rng: random.Random, n_docs: int):
    docs = []
    for _ in range(n_docs):
        n = rng.randint(1, 40)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        docs.append((rng.randint(-(2**62), 2**62), text))
    return docs


def _stats(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, content string")
    return build_term_stats(df, CFG)


def _topk_by_query(rows) -> dict[int, list]:
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    return {q: sorted(v) for q, v in by_q.items()}


def _assert_same_topk(have: list, want: list, k: int, what: str) -> None:
    """Equal ranks, scores within 1e-9, and doc ids rank by rank, except
    that docs whose scores tie within 1e-9 may come in either order (and a
    tie straddling rank k may be cut to either member): two evaluators that
    sum the same floats in another order can move a tie by an ulp."""
    assert [r for r, _, _ in have] == [r for r, _, _ in want], what
    for (_, _, s1), (_, _, s2) in zip(have, want):
        assert abs(s1 - s2) < 1e-9, what
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][2] - want[i][2]) <= 1e-9:
            j += 1
        if j < len(want) or len(want) < k:
            assert {d for _, d, _ in have[i:j]} == {d for _, d, _ in want[i:j]}, what
        i = j


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_wand_over_chunked_rows_matches_exhaustive(spark, seed, tmp_path):
    rng = random.Random(seed)
    docs = _make_docs(rng, 90)
    stats = _stats(spark, docs).cache()
    row = (
        stats.select("doc_id", "dl").distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    )
    n_docs, avgdl = int(row["n"]), float(row["a"])
    docs_t = doc_table(stats)
    postings = build_postings(
        stats, docs_t, avgdl=avgdl, hot_terms=None, k1=K1, b=B,
        block_size=4, with_positions=False, max_blocks_per_row=2,
    ).cache()

    # the cap must actually bite: hot stop terms span many rows
    runs = (
        postings.groupBy("term")
        .agg(F.count("*").alias("n_rows"), F.first("df").alias("df"),
             F.countDistinct("df").alias("n_df"))
        .collect()
    )
    assert max(r["n_rows"] for r in runs) > 3
    for r in runs:
        # df is the TERM total repeated per run: rows = ceil(df / 8)
        assert r["n_df"] == 1
        assert r["n_rows"] == -(-r["df"] // 8)

    # each run's blocks are in doc order: headers hold ascending ordinals
    for trow in postings.filter(F.col("term") == "the").collect():
        d, _, _ = decode_segment_blocks(trow["blocks"], docs_t, False)
        assert (d[1:] > d[:-1]).all()
        heads = [(bl["first_doc"], bl["last_doc"]) for bl in trow["blocks"]]
        assert all(0 <= f <= la < n_docs for f, la in heads)
        assert all(a[1] < b[0] for a, b in zip(heads, heads[1:]))

    queries = [
        (0, "the if return"),
        (1, "merge rare1"),
        (2, "the merge index token cache"),
        (3, "zzz_missing the"),
    ]
    got = wand_topk_from_postings(
        spark, PostingFrame(postings, docs_t), queries, CFG, n_docs=n_docs,
        avgdl=avgdl, k1=K1, b=B, k=10,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    docs3 = [(d, t, None) for d, t in docs]
    for qid, qtext in queries:
        exp = oracle_topk(docs3, CFG, qtext, k=10)
        have = sorted(by_q.get(qid, []))
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in exp], qtext
        for (_, _, s1), (_, _, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9

    # a 32-query batch over the written table, where queries share terms
    # and the last has no indexed term, equals exhaustive BM25 per query
    batch = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(1, 4))))
        for i in range(31)
    ] + [(31, "zzz_missing qqq_missing")]
    words = [w for _, text in batch for w in text.split()]
    assert len(set(words)) < len(words)
    postings.write.parquet(str(tmp_path / "postings"))
    table = spark.read.parquet(str(tmp_path / "postings"))

    def wand(p):
        return _topk_by_query(wand_topk_from_postings(
            spark, PostingFrame(p, docs_t), batch, CFG, n_docs=n_docs,
            avgdl=avgdl, k1=K1, b=B, k=10,
        ).collect())

    got = wand(table)
    term_df = stats.groupBy("term").agg(F.count("*").alias("df"))
    want = _topk_by_query(bm25_exhaustive_topk(
        spark, stats, term_df, batch, CFG, n_docs, avgdl, k=10, k1=K1, b=B,
    ).collect())
    assert 31 not in got and set(got) == set(want)
    for qid, qtext in batch:
        _assert_same_topk(got.get(qid, []), want.get(qid, []), 10, qtext)

    # a non-materialized build_postings pipeline (the postings input
    # __spark_entry__.q_bm25_topk_wand passes) gives the table's top-k
    assert wand(build_postings(
        stats, docs_t, avgdl=avgdl, k1=K1, b=B, block_size=4,
        with_positions=False, max_blocks_per_row=2,
    )) == got


_REPLAY = make_replay_tokenizer(
    ["getfoo", "x9", "getfoo", "merge"], [0, 0, 4, 9], [6, 2, 6, 14], [1, 0, 1, 2]
)
TERM_STATS_CASES = {
    # single leaves with a fast (term, pos) variant
    "whitespace": ComboConfig(["whitespace"]),
    "standard": ComboConfig(["standard"]),
    "identifier": ComboConfig(["identifier"]),
    "english": ComboConfig(["english"]),
    # single leaves adapted from their Token output
    "cjk": ComboConfig(["cjk"]),
    "ngram": ComboConfig(["ngram"]),
    "repeated": ComboConfig(["standard", "standard"]),
    "repeated-dedup": ComboConfig(["standard", "standard"], deduplication=True),
    "north-star": ComboConfig(
        ["standard", "identifier", "lang"], deduplication=True
    ),
    "nested-inner-dedup": ComboConfig(
        [ComboConfig(["whitespace", "standard"], deduplication=True),
         "identifier", "standard"]
    ),
    "replay": ComboConfig([_REPLAY, "whitespace"]),
    "unknown-name": ComboConfig(["no_such_analyzer", "identifier"]),
}


@pytest.mark.parametrize("case", sorted(TERM_STATS_CASES))
def test_vectorized_term_stats_equals_token_path(spark, case):
    """build_term_stats equals the independent per-document reference —
    combo.term_stats over analyze_text, as in tests/oracle.py — in doc_id,
    term, tf, decoded positions and dl, null and empty docs included."""
    import random as _random

    from elasticsearch_analysis_combo_spark.analysis.combo import (
        analyze_text,
        term_stats,
    )
    from elasticsearch_analysis_combo_spark.operators.codec import (
        decode_positions_flat,
    )

    config = TERM_STATS_CASES[case]
    VOCAB = ["the", "if", "Return", "merge", "getFoo", "a_b", "x9", "schön",
             "HTTPServer", "it's", "中文分词"]
    LANGS = ["java", "en", "zh", "python", None]
    rng = _random.Random(3)
    rows = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randint(0, 30))),
         LANGS[i % len(LANGS)])
        for i in range(200)
    ]
    rows += [(997, "中文 getFoo 分词", "zh"), (998, None, "en"), (999, "", None)]
    df = spark.createDataFrame(rows, "doc_id long, content string, lang string")
    lang_col = "lang" if "lang" in config.sub_analyzers else None

    got = sorted(
        (
            r["doc_id"], r["term"], r["tf"],
            tuple(decode_positions_flat(
                bytes(r["pos_data"]), np.array([r["tf"]], dtype=np.int64)
            ).tolist()),
            r["dl"],
        )
        for r in build_term_stats(df, config, lang_col=lang_col).collect()
    )
    want = []
    for doc_id, content, lang in rows:
        if content is None:
            continue
        stats, dl = term_stats(
            analyze_text(content, config, lang if lang_col else None)
        )
        want += [(doc_id, term, tf, tuple(pos), dl)
                 for term, (tf, pos) in stats.items()]
    assert got == sorted(want)
    assert len(got) > 0


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("with_positions", [True, False])
def test_batched_encoder_bit_identical_to_per_term(seed, with_positions):
    """The whole-chunk vectorized encoder must produce byte-identical rows
    to the per-term _encode_blocks path (headers, varint streams, df/cf,
    run chunking) on randomized sorted stats."""
    from elasticsearch_analysis_combo_spark.operators.postings import (
        _encode_blocks,
        encode_posting_rows_batched,
    )

    rng = np.random.default_rng(seed)
    n_docs, vocab = 700, 300
    table_ids = np.unique(rng.integers(-(2**62), 2**62, n_docs))
    table_dl = rng.integers(5, 400, table_ids.size).astype(np.int64)
    # unique (term, ordinal) rows sorted by term then doc, the encoder's
    # input order; ordinal 0 and the last ordinal always occur
    pairs = np.unique(np.stack([
        np.concatenate([rng.integers(0, vocab, 5000), [0, vocab - 1]]),
        np.concatenate([rng.integers(0, table_ids.size, 5000),
                        [0, table_ids.size - 1]]),
    ], axis=1), axis=0)
    codes, ords = pairs[:, 0], pairs[:, 1]
    n = codes.size
    doc_ids, dls = table_ids[ords], table_dl[ords]
    tfs = rng.integers(1, 5, n).astype(np.int64)
    positions = np.empty(n, dtype=object)
    for i in range(n):
        positions[i] = np.sort(rng.integers(1, 500, int(tfs[i]))).astype(np.int64)
    terms = np.array([f"t{c:04d}" for c in codes], dtype=object)
    from elasticsearch_analysis_combo_spark.operators.codec import (
        encode_positions_rows,
    )

    packed = np.empty(n, dtype=object)
    packed[:] = encode_positions_rows(
        np.concatenate(list(positions)), tfs
    )
    cols = {"term": terms, "doc_id": doc_ids, "tf": tfs, "dl": dls,
            "pos_data": packed}
    starts = np.nonzero(np.concatenate([[True], codes[1:] != codes[:-1]]))[0]
    ends = np.append(starts[1:], n)

    block_size, cap = 7, 3
    avgdl, k1, b = 120.0, 1.2, 0.75
    got = encode_posting_rows_batched(
        cols, starts, ends, table_ids, avgdl, k1, b, block_size, cap,
        with_positions,
    )

    exp = []
    tf_cum = np.concatenate([[0], np.cumsum(tfs)])
    for s, e in zip(starts, ends):
        d, t, l = ords[s:e], tfs[s:e], dls[s:e]
        p = None
        if with_positions:
            p = np.concatenate(list(positions[s:e])).astype(np.uint64)
        blocks = _encode_blocks(d, t, l, p, avgdl, k1, b, block_size)
        # the pos_flat path and the pre-packed path must stay bit-identical
        df_t, cf_t = e - s, int(t.sum())
        for ri, off in enumerate(range(0, len(blocks), cap)):
            chunk = blocks[off:off + cap]
            exp.append((terms[s], ri, df_t, cf_t,
                        max(bl["max_impact"] for bl in chunk), chunk))

    assert len(got) == len(exp)
    for g, x in zip(got, exp):
        assert g[0] == x[0] and g[1] == x[1] and g[2] == x[2] and g[3] == x[3]
        assert abs(g[4] - x[4]) < 1e-12
        assert len(g[5]) == len(x[5])
        for gb, xb in zip(g[5], x[5]):
            assert gb["first_doc"] == xb["first_doc"]
            assert gb["last_doc"] == xb["last_doc"]
            assert gb["n"] == xb["n"]
            assert abs(gb["max_impact"] - xb["max_impact"]) < 1e-12
            assert gb["data"] == xb["data"]
            assert gb["pos_data"] == xb["pos_data"]


@pytest.mark.parametrize("seed,range_bits", [(0, 2), (1, 3), (2, 1)])
def test_partitioned_wand_matches_exhaustive(spark, seed, range_bits):
    """Range-partitioned WAND (one task per (query, doc-range), boundary
    blocks trimmed by the cursor) is rank- and score-identical to the
    exhaustive oracle, including over chunked posting rows."""
    from elasticsearch_analysis_combo_spark.query.wand import wand_topk_partitioned

    rng = random.Random(100 + seed)
    docs = _make_docs(rng, 100)
    stats = _stats(spark, docs).cache()
    row = (
        stats.select("doc_id", "dl").distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("a")).collect()[0]
    )
    n_docs, avgdl = int(row["n"]), float(row["a"])
    postings = posting_frame(
        stats, avgdl=avgdl, hot_terms=None, k1=K1, b=B,
        block_size=4, with_positions=False, max_blocks_per_row=2,
    )
    queries = [
        (0, "the if return"),
        (1, "merge rare1"),
        (2, "the merge index token cache"),
        (3, "zzz_missing the"),
        (4, "rare2 rare3"),
    ]
    got = wand_topk_partitioned(
        spark, postings, queries, CFG, n_docs=n_docs, avgdl=avgdl,
        k1=K1, b=B, k=10, range_bits=range_bits,
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    docs3 = [(d, t, None) for d, t in docs]
    for qid, qtext in queries:
        exp = oracle_topk(docs3, CFG, qtext, k=10)
        have = sorted(by_q.get(qid, []))
        assert [(r, d) for r, d, _ in have] == [(r, d) for r, d, _ in exp], qtext
        for (_, _, s1), (_, _, s2) in zip(have, exp):
            assert abs(s1 - s2) < 1e-9


def test_range_salted_hot_path_matches_term_stats(spark):
    """build_postings with hot terms (range-salted, runs renumbered across
    doc-range shards) decodes, term by term, to exactly that term's
    term_stats rows: df, cf and the doc-ordered (doc, tf, dl, positions)
    sequence. Every hot term spans several shards, so the renumbering is
    exercised."""
    from elasticsearch_analysis_combo_spark.operators.codec import (
        decode_positions_flat,
    )
    from elasticsearch_analysis_combo_spark.operators.postings import (
        range_starts,
        term_blocks_from_rows,
    )

    rng = random.Random(11)
    docs = _make_docs(rng, 120)
    stats = _stats(spark, docs).cache()
    avgdl = stats.select("doc_id", "dl").distinct().agg(F.avg("dl")).first()[0]
    # hot = the stop tokens (df threshold low so the hot path is exercised)
    hot = (
        stats.groupBy("term").agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 30).select("term")
    )
    hot_terms = {r["term"] for r in hot.collect()}
    assert len(hot_terms) >= 3

    docs_t = doc_table(stats)
    rows = build_postings(
        stats, docs_t, avgdl=avgdl, hot_terms=hot, block_size=8,
        salt_shards=4, with_positions=True, max_blocks_per_row=2,
    ).collect()
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["term"], []).append(r)
    want: dict[str, list] = {}
    for r in stats.collect():
        pos = decode_positions_flat(
            bytes(r["pos_data"]), np.array([r["tf"]], dtype=np.int64)
        )
        want.setdefault(r["term"], []).append(
            (r["doc_id"], r["tf"], r["dl"], tuple(pos.tolist()))
        )
    assert got.keys() == want.keys()
    for term, trows in got.items():
        exp = sorted(want[term])
        assert {(r["df"], r["cf"]) for r in trows} == {
            (len(exp), sum(tf for _, tf, _, _ in exp))
        }, term
        blocks = term_blocks_from_rows(
            [r["run_idx"] for r in trows], [r["blocks"] for r in trows]
        )
        d, t, l, p = decode_segment_blocks(blocks, docs_t, True)
        assert list(zip(
            d.tolist(), t.tolist(), l.tolist(),
            (tuple(int(x) for x in ps) for ps in p),
        )) == exp, term
        if term in hot_terms:
            # range id = run_idx // RUN_STRIDE (2^20); each shard's blocks
            # lie inside its ordinal range
            assert len({r["run_idx"] >> 20 for r in trows}) > 1, term
            starts = range_starts(2, docs_t.doc_ids.size)
            for r in trows:
                rid = r["run_idx"] >> 20
                for bl in r["blocks"]:
                    assert starts[rid] <= bl["first_doc"], term
                    assert bl["last_doc"] < starts[rid + 1], term


def test_hot_run_renumbering_overflow_raises(spark):
    """Hot shards renumber runs as (range - 1) * 2^20 + run: 4096 ranges
    reach 2^31, so build_postings refuses salt_shards=4096 when there are
    hot terms instead of wrapping run_idx; 1024 ranges still fit."""
    stats = _stats(spark, [(1, "the if"), (2, "the")])
    hot = stats.select("term").distinct()
    docs_t = doc_table(stats)
    with pytest.raises(ValueError, match="overflows int32"):
        build_postings(stats, docs_t, avgdl=2.0, hot_terms=hot,
                       salt_shards=4096)
    build_postings(stats, docs_t, avgdl=2.0, hot_terms=hot, salt_shards=1024)


def test_phrase_over_chunked_rows_matches_unchunked(spark):
    rng = random.Random(7)
    docs = _make_docs(rng, 80)
    stats = _stats(spark, docs).cache()

    def build(cap):
        return posting_frame(stats, avgdl=20.0, block_size=4,
                             with_positions=True, max_blocks_per_row=cap)

    phrases = [(0, "the if"), (1, "merge index token"), (2, "the the")]
    tiny = phrase_match(spark, build(2), phrases, CFG).collect()
    full = phrase_match(spark, build(100000), phrases, CFG).collect()
    key = lambda r: (r["query_id"], r["doc_id"], r["n_matches"])  # noqa: E731
    assert sorted(map(key, tiny)) == sorted(map(key, full))
    assert len(full) > 0
