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
    PostingFrame,
    decode_segment_blocks,
    range_starts,
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
        doc_ids, tfs, dls, pos = decode_segment_blocks(
            blocks, index.docs(), True
        )
        # sorted ascending, unique (comparison, not np.diff — int64 gaps
        # between hash docIDs overflow subtraction)
        assert (doc_ids[1:] > doc_ids[:-1]).all()
        got = {int(d): (int(t), list(map(int, p))) for d, t, p in zip(doc_ids, tfs, pos)}
        assert got == {d: (tf, ps) for d, (tf, ps) in exp.items()}
        # dl consistency
        for d, l in zip(doc_ids, dls):
            assert doc_len[int(d)] == int(l)


def test_decoded_postings_equal_term_stats(built):
    """Every decoded (term, doc_id, tf, positions) posting, with dl looked
    up through the doc table's norms, equals the term_stats row for row;
    block headers hold ascending ordinals of the 0..N-1 numbering, whose
    doc table is the doc_stats table sorted by doc_id."""
    from elasticsearch_analysis_combo_spark.operators.codec import (
        decode_positions_flat,
    )

    index, *_ = built
    docs = index.docs()
    assert docs.doc_ids.size == index.meta.n_docs
    assert (docs.doc_ids[1:] > docs.doc_ids[:-1]).all()
    assert sorted(zip(docs.doc_ids.tolist(), docs.dl.tolist())) == sorted(
        (r["doc_id"], r["dl"]) for r in index.doc_stats().collect()
    )
    want = sorted(
        (r["term"], r["doc_id"], r["tf"], tuple(decode_positions_flat(
            bytes(r["pos_data"]), np.array([r["tf"]], dtype=np.int64)
        ).tolist()), r["dl"])
        for r in index.term_stats().collect()
    )
    by_term: dict[str, list] = {}
    for row in index.postings().collect():
        by_term.setdefault(row["term"], []).append(row)
    got = []
    for term, trows in by_term.items():
        blocks = term_blocks_from_rows(
            [r["run_idx"] for r in trows], [r["blocks"] for r in trows]
        )
        heads = [(bl["first_doc"], bl["last_doc"]) for bl in blocks]
        assert heads[0][0] >= 0 and heads[-1][1] < docs.doc_ids.size, term
        assert all(f <= la < g for (f, la), (g, _) in zip(heads, heads[1:]))
        d, t, dl, pos = decode_segment_blocks(blocks, docs, True)
        got += [(term, int(a), int(b), tuple(map(int, p)), int(c))
                for a, b, p, c in zip(d, t, pos, dl)]
    assert sorted(got) == want


@pytest.mark.parametrize("range_bits", [1, 3, 5])
def test_partitioned_equals_unpartitioned(built, spark, range_bits):
    """WAND, phrase and ranked-phrase fanned out over 2^range_bits ordinal
    ranges equal the in-process answers over the same handle, in rank,
    doc id and score; the ordinal ranges are balanced to within one doc."""
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine

    _, _, idx_dir, _ = built
    engine = ComboSearchEngine(spark, CFG, idx_dir)
    sizes = np.diff(range_starts(range_bits, engine.idx.meta.n_docs))
    assert sizes.max() - sizes.min() <= 1

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    for query in ("merge segment", "the if return", "cache"):
        one = rows(engine.search(query, k=10, partitioned=False))
        fan = rows(engine.search(query, k=10, partitioned=True,
                                 range_bits=range_bits))
        assert [r[:3] for r in one] == [r[:3] for r in fan], query
        assert all(abs(a[3] - b[3]) < 1e-9 for a, b in zip(one, fan))
    for phrase in ("def the", "return the", "zzz_no_such_term the"):
        assert rows(engine.phrase(phrase, partitioned=False)) == rows(
            engine.phrase(phrase, partitioned=True, range_bits=range_bits)
        ), phrase


def test_index_of_another_posting_format_is_refused(built, tmp_path):
    """An index published before doc ordinals (its meta.json records no
    posting format) cannot be opened: the handle raises instead of
    decoding hash gaps as ordinals. Nor can one published before stage
    dirs were fingerprinted (its meta.json names no table dirs, its
    tables sit in bare-named dirs that a rebuild rewrote in place)."""
    import json

    from elasticsearch_analysis_combo_spark.plans.index_build import (
        InvertedIndex,
    )

    index, _, idx_dir, _ = built
    with open(f"{idx_dir}/meta.json") as f:
        meta = json.load(f)
    assert meta["posting_format"] == "ordinal-gaps-1"
    no_format = {k: v for k, v in meta.items() if k != "posting_format"}
    for other, error in (
        (no_format, "posting format .* rebuild"),
        ({**meta, "tables": None},
         "names no table dirs; rebuild the index with build_index"),
    ):
        with open(tmp_path / "meta.json", "w") as f:
            json.dump(other, f)
        with pytest.raises(ValueError, match=error):
            InvertedIndex(index.spark, str(tmp_path))


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
    shutil.rmtree(index.meta.table_dir(idx_dir, "postings"))
    index3 = build_index(spark, corpus, CFG, idx_dir, salt_shards=4, block_size=64)
    assert index3.postings().select("term").distinct().count() == len(
        build_oracle_index(docs, CFG)[0]
    )


def test_search_and_phrase_issue_no_job(built, spark):
    """engine.search (one query or a 32-query batch) and the positional
    queries (phrase, hit or miss, ranked phrase, phrase prefix, span_near,
    span_or, intervals) read their terms' posting rows from the published
    parquet with pyarrow and score them in the calling process: no
    request issues a Spark job, collecting included, and collecting a
    result builds no JVM frame (its ``_jdf`` stays unbuilt). Each answer
    equals the same rows after a JVM round trip, and the same evaluator
    fed the posting DataFrame (the Spark fetch), in rank, doc id and
    exact score."""
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
    from elasticsearch_analysis_combo_spark.query.intervals import (
        intervals_match,
    )
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match,
        phrase_prefix_match,
        phrase_topk,
    )
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_near_match,
        span_or_match,
    )
    from elasticsearch_analysis_combo_spark.query.wand import (
        config_from_meta,
        wand_topk_from_postings,
    )

    from tests.test_checkpoint_lineage import _jobs

    _, docs, idx_dir, _ = built
    engine = ComboSearchEngine(spark, CFG, idx_dir)
    batch = [(i, " ".join(docs[i][1].split()[:3])) for i in range(32)]
    rule = {"match": {"query": "def the", "max_gaps": 2}}
    # prefix + wildcard leaves expand over the handle's term_df, read
    # with pyarrow
    multi = {"all_of": {"ordered": True, "max_gaps": 4, "intervals": [
        {"prefix": {"prefix": "th"}}, {"wildcard": {"pattern": "s?g*t"}},
    ]}}
    requests = {
        "search": lambda: engine.search("merge segment"),
        "batch": lambda: engine.search(batch),
        "phrase": lambda: engine.phrase("def the"),
        "phrase-miss": lambda: engine.phrase("def zzz_no_such_term"),
        "phrase-ranked": lambda: engine.phrase_ranked("def the"),
        "phrase-prefix": lambda: engine.phrase_prefix("def th"),
        "span-near": lambda: engine.span_near("def the", slop=2),
        "span-or": lambda: engine.span_or("merge segment"),
        "intervals": lambda: engine.intervals(rule),
        "intervals-multi": lambda: engine.intervals(multi),
    }
    out, frames = {}, {}

    def answer(name, request):
        frames[name] = request()
        out[name] = frames[name].collect()

    for name, request in requests.items():
        n = _jobs(spark, f"request-{name}", lambda: answer(name, request))
        assert n == 0, (name, n)
        assert "_jdf" not in frames[name].__dict__, name
    assert out["search"] and out["phrase"] and not out["phrase-miss"]
    assert out["phrase-ranked"] and out["phrase-prefix"]
    assert out["span-near"] and out["span-or"] and out["intervals"]
    assert out["intervals-multi"]
    assert {r["query_id"] for r in out["batch"]} == set(range(32))
    for name, frame in frames.items():
        # the answer as the JVM returns it
        assert frame.select("*").collect() == out[name], name

    idx = engine.idx
    cfg, meta = config_from_meta(idx.meta.config), idx.meta
    plists = PostingFrame(idx.postings(), idx.docs())
    bm25 = dict(n_docs=meta.n_docs, avgdl=meta.avgdl, k1=meta.k1, b=meta.b)
    via_spark = {
        "search": wand_topk_from_postings(
            spark, plists, [(0, "merge segment")], cfg, k=10, **bm25),
        "batch": wand_topk_from_postings(
            spark, plists, batch, cfg, k=10, **bm25),
        "phrase": phrase_match(spark, plists, [(0, "def the")], cfg),
        "phrase-miss": phrase_match(
            spark, plists, [(0, "def zzz_no_such_term")], cfg),
        "phrase-ranked": phrase_topk(
            spark, plists, [(0, "def the")], cfg, k=10, **bm25),
        "phrase-prefix": phrase_prefix_match(
            spark, plists, idx.term_df(), [(0, "def th")], cfg),
        "span-near": span_near_match(
            spark, plists, [(0, "def the")], cfg, slop=2),
        "span-or": span_or_match(spark, plists, [(0, "merge segment")], cfg),
        "intervals": intervals_match(spark, plists, [(0, rule)], cfg),
        "intervals-multi": intervals_match(spark, plists, [(0, multi)], cfg),
    }
    for name, frame in via_spark.items():
        assert [tuple(r) for r in out[name]] == [
            tuple(r) for r in frame.collect()
        ], name


def test_unknown_terms_answer_empty_without_a_job(built, spark):
    """A query whose terms are all unknown reads no posting row and
    returns an empty frame, with no Spark job."""
    from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine

    from tests.test_checkpoint_lineage import _jobs

    _, _, idx_dir, _ = built
    engine = ComboSearchEngine(spark, CFG, idx_dir)
    unknown = "zzzqqq xyzzyabsent"
    assert engine.idx.term_blocks(set(unknown.split())) == {}
    out = {}
    requests = {
        "search": lambda: engine.search(unknown),
        "phrase": lambda: engine.phrase(unknown),
        "span-or": lambda: engine.span_or(unknown),
        "phrase-prefix": lambda: engine.phrase_prefix("def xyzzyabsent"),
    }
    for name, request in requests.items():
        n = _jobs(spark, f"unknown-{name}",
                  lambda: out.update({name: request().collect()}))
        assert n == 0, (name, n)
        assert out[name] == [], name


def test_posting_lookup_prunes_row_groups(spark, tmp_path):
    """On a term-sorted posting file of many row groups, the handle's
    term filter keeps exactly the row groups whose [min, max] term range
    covers a query term, and the handle's read returns those terms'
    rows."""
    import os

    import pyarrow as pa
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    from elasticsearch_analysis_combo_spark.operators.codec import (
        POSTING_FORMAT,
    )
    from elasticsearch_analysis_combo_spark.plans.index_build import (
        IndexMeta,
        InvertedIndex,
        publish_tables,
        term_filter,
    )

    terms = [f"t{i:04d}" for i in range(400)]
    block = {"first_doc": 1, "last_doc": 1, "n": 1, "max_impact": 0.5,
             "data": b"\x01", "pos_data": b"\x02"}
    blocks = pa.array([[block]] * 400, pa.list_(pa.struct([
        ("first_doc", pa.int64()), ("last_doc", pa.int64()),
        ("n", pa.int32()), ("max_impact", pa.float64()),
        ("data", pa.binary()), ("pos_data", pa.binary()),
    ])))
    table = pa.table({
        "term": terms, "run_idx": pa.array([0] * 400, pa.int32()),
        "df": list(range(1, 401)), "cf": [1] * 400,
        "max_impact": [0.5] * 400, "blocks": blocks,
    })
    meta = IndexMeta(
        n_docs=1, avgdl=1.0, k1=1.2, b=0.75, block_size=128, salt_shards=8,
        config={}, with_positions=True, tables={"postings": "postings-0"},
        posting_format=POSTING_FORMAT,
    )
    postings_dir = meta.table_dir(str(tmp_path), "postings")
    os.mkdir(postings_dir)
    pq.write_table(table, os.path.join(postings_dir, "part-0.parquet"),
                   row_group_size=10)
    publish_tables(str(tmp_path), meta)

    query = ["t0005", "t0123", "t0399", "t9999"]
    (part,) = pads.dataset(postings_dir).get_fragments()
    kept = [g.row_groups[0].id
            for g in part.split_by_row_group(term_filter(query))]
    md = part.metadata
    assert md.num_row_groups == 40
    covering = [
        rg for rg in range(md.num_row_groups)
        if any(md.row_group(rg).column(0).statistics.min <= t
               <= md.row_group(rg).column(0).statistics.max for t in query)
    ]
    assert kept == covering == [0, 12, 39]

    got = InvertedIndex(spark, str(tmp_path)).term_blocks(query)
    assert sorted(got) == ["t0005", "t0123", "t0399"]
    assert got["t0123"] == (124.0, [{k: v for k, v in block.items()
                                     if k != "pos_data"}])
