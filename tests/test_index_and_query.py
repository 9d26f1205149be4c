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


def test_posting_lookup_reads_only_row_groups_holding_its_terms(
    spark, tmp_path, monkeypatch
):
    """The handle's terms index sends a lookup to exactly the row groups
    that hold a query term: of a term-sorted part file of 40 row groups
    only row groups [0, 12, 39] are read, a second part file that holds
    no query term is never read (although its term min/max spans them),
    and the lookup returns those terms' rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_analysis_combo_spark.operators.codec import (
        POSTING_FORMAT,
    )
    from elasticsearch_analysis_combo_spark.plans.index_build import (
        IndexMeta,
        InvertedIndex,
        publish_tables,
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
    first = os.path.join(postings_dir, "part-0.parquet")
    pq.write_table(table, first, row_group_size=10)
    # 100 terms no query names, whose [min, max] spans most query terms
    pq.write_table(
        table.slice(0, 100).set_column(
            0, "term", pa.array([f"t{i:04d}x" for i in range(0, 400, 4)])),
        os.path.join(postings_dir, "part-1.parquet"),
    )
    publish_tables(str(tmp_path), meta)

    query = ["t0005", "t0123", "t0399", "t9999"]
    md = pq.ParquetFile(first).metadata
    assert md.num_row_groups == 40
    covering = [
        rg for rg in range(md.num_row_groups)
        if any(md.row_group(rg).column(0).statistics.min <= t
               <= md.row_group(rg).column(0).statistics.max for t in query)
    ]
    assert covering == [0, 12, 39]

    reads = []
    read_row_groups = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *args, **kwargs):
        # the two files are told apart by their row counts
        reads.append((self.metadata.num_rows, list(row_groups)))
        return read_row_groups(self, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    got = InvertedIndex(spark, str(tmp_path)).term_blocks(query)
    assert reads == [(400, [0, 12, 39])]
    assert sorted(got) == ["t0005", "t0123", "t0399"]
    assert got["t0123"] == (124.0, [{k: v for k, v in block.items()
                                     if k != "pos_data"}])


def _oracle_term_blocks(postings_dir, terms, positions):
    """term -> (df, blocks) from the whole postings table read at once and
    filtered in Python: a term's runs concatenated in run_idx order, and
    ``pos_data`` dropped from a scoring read's blocks."""
    import pyarrow.parquet as pq

    runs = {}
    for row in pq.read_table(postings_dir).to_pylist():
        if row["term"] in terms:
            runs.setdefault(row["term"], []).append(row)
    out = {}
    for term, rows in runs.items():
        rows.sort(key=lambda r: r["run_idx"])
        out[term] = (float(rows[0]["df"]), [
            bl if positions
            else {k: v for k, v in bl.items() if k != "pos_data"}
            for r in rows for bl in r["blocks"]
        ])
    return out


def test_term_blocks_equal_a_whole_table_scan(spark, tmp_path):
    """``InvertedIndex.term_blocks`` equals a scan of the whole postings
    table, for random term draws with unknown and repeated terms, with and
    without positions, over positional and non-positional indexes whose
    salted hot terms run over several part files, and for handles held
    across a compact, which keep answering from their own generation."""
    import os
    import random

    import pyarrow.parquet as pq

    from elasticsearch_analysis_combo_spark.plans.index_build import (
        InvertedIndex,
    )
    from elasticsearch_analysis_combo_spark.plans.maintenance import (
        compact,
        delete_docs,
        upsert_docs,
    )

    rng = random.Random(16)
    words = [f"w{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(40)]
    weights = [1 / (i + 1) for i in range(len(words))]
    rows = [(i * 7919 + 3, " ".join(rng.choices(
        words, weights=weights, k=rng.randint(4, 30)))) for i in range(80)]
    corpus = spark.createDataFrame(rows, "doc_id long, content string")

    def postings_dir(idx):
        return idx.meta.table_dir(idx.index_dir, "postings")

    def draws(idx, n):
        vocab = idx.vocabulary()
        out = [set(), {"zzznope"}]
        for _ in range(n):
            picked = rng.choices(vocab, k=rng.randint(1, 6))
            out.append(picked + picked[:1] + ["zzznope"] * rng.randint(0, 1))
        return out

    def check(idx, queries, pdir=None):
        pdir = pdir or postings_dir(idx)
        for terms in queries:
            for positions in (False, True):
                assert idx.term_blocks(terms, positions) == \
                    _oracle_term_blocks(pdir, set(terms), positions), terms

    indexes = {
        with_positions: build_index(
            spark, corpus, CFG, str(tmp_path / f"pos-{with_positions}"),
            block_size=4, salt_shards=4, with_positions=with_positions,
        )
        for with_positions in (True, False)
    }
    for idx in indexes.values():
        # hot terms are salted into runs that land in several part files
        files_of = {}
        for name in os.listdir(postings_dir(idx)):
            if name.endswith(".parquet"):
                for term in set(pq.read_table(
                        os.path.join(postings_dir(idx), name),
                        columns=["term"]).column("term").to_pylist()):
                    files_of.setdefault(term, set()).add(name)
        assert max(len(f) for f in files_of.values()) > 1
        check(idx, draws(idx, 40))

    live = indexes[True]
    read_before = InvertedIndex(spark, live.index_dir)
    check(read_before, draws(read_before, 5))
    first_read_after = InvertedIndex(spark, live.index_dir)
    old_dir = postings_dir(live)
    marker = "zebracrossing"
    delete_docs(spark, live.index_dir, [rows[1][0]])
    upsert_docs(spark, live.index_dir, spark.createDataFrame(
        [(rows[0][0], f"{marker} {words[0]}")], "doc_id long, content string"))
    opened_after = compact(spark, live.index_dir)
    assert postings_dir(opened_after) != old_dir

    for held in (read_before, first_read_after):
        check(held, draws(held, 20) + [[marker, words[0]]], old_dir)
        assert marker not in held.term_blocks([marker, words[0]])
    check(opened_after, draws(opened_after, 20) + [[marker, words[0]]])
    assert marker in opened_after.term_blocks([marker])
