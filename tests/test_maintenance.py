"""Batch-index delete/upsert + compaction.

The pinned invariant: delete (or upsert) + compact publishes the SAME
index as a fresh build over the edited corpus — every posting row byte
for byte, term dictionary equal, corpus stats equal, WAND top-k
rank-identical — and the publish is an atomic meta.json swap (old readers
keep a valid view).
"""

import random

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
from elasticsearch_analysis_combo_spark.plans.index_build import (
    InvertedIndex,
    build_index,
)
from elasticsearch_analysis_combo_spark.plans.maintenance import (
    compact,
    delete_docs,
    upsert_docs,
)
from elasticsearch_analysis_combo_spark.query.wand import wand_topk

CFG = ComboConfig(["whitespace"])
QUERIES = [(0, "the quick"), (1, "lazy dog"), (2, "fox"), (3, "the")]


def _corpus(seed=3, n=60):
    rng = random.Random(seed)
    vocab = ["the", "quick", "fox", "jumps", "over", "lazy", "dog", "a", "b"]
    rows = []
    for i in range(n):
        words = [vocab[rng.randrange(len(vocab))]
                 for _ in range(rng.randint(3, 20))]
        rows.append((i * 104729 + 7, " ".join(words)))
    return rows


def _build(spark, rows, d):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    return build_index(spark, df, CFG, str(d), salt_shards=4, block_size=8)


def _topk(spark, idx, k=10):
    out = wand_topk(spark, idx, QUERIES, CFG, k=k)
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in out.collect()
    )


def _term_df_rows(idx):
    return sorted(
        (r["term"], r["df"], r["cf"]) for r in idx.term_df().collect()
    )


def _posting_rows(idx):
    """Every posting row with its headers and compressed bytes."""
    def block(bl):
        return (bl["first_doc"], bl["last_doc"], bl["n"], bl["max_impact"],
                bytes(bl["data"]), bytes(bl["pos_data"] or b""))

    return sorted(
        (r["term"], r["run_idx"], r["df"], r["cf"], r["max_impact"],
         tuple(block(bl) for bl in r["blocks"]))
        for r in idx.postings().collect()
    )


@pytest.mark.parametrize("split", [False, True])
def test_delete_compact_equals_fresh_build(spark, tmp_path, split):
    rows = _corpus()
    idx = _build(spark, rows, tmp_path / "live")
    # delete 1/4 of the docs, including heavy 'the' carriers (hot term)
    dead = [doc_id for i, (doc_id, _) in enumerate(rows) if i % 4 == 0]
    if split:
        # two staged tombstone batches that overlap in one doc: the fold
        # over several pending batches deletes each doc exactly once
        half = len(dead) // 2
        delete_docs(spark, idx.index_dir, dead[:half + 1])
        delete_docs(spark, idx.index_dir, dead[half:])
    else:
        delete_docs(spark, idx.index_dir, dead)
    new_idx = compact(spark, idx.index_dir)

    kept = [r for r in rows if r[0] not in set(dead)]
    fresh = _build(spark, kept, tmp_path / "fresh")

    # the edited corpus still salts hot terms (df >= 4 * block_size)
    hot = {t for t, df, _ in _term_df_rows(fresh) if df >= 32}
    assert len(hot) == 4 and "the" in hot
    assert new_idx.meta.n_docs == fresh.meta.n_docs == len(kept)
    assert new_idx.meta.avgdl == fresh.meta.avgdl
    assert _term_df_rows(new_idx) == _term_df_rows(fresh)
    assert _posting_rows(new_idx) == _posting_rows(fresh)
    assert _topk(spark, new_idx) == _topk(spark, fresh)


def test_upsert_and_delete_compact(spark, tmp_path):
    rows = _corpus(seed=5)
    idx = _build(spark, rows, tmp_path / "live")
    # replace two docs, add one brand-new doc, delete one
    replaced = [
        (rows[1][0], "quick quick brown fox"),
        (rows[2][0], "entirely new content words"),
    ]
    added = [(999_999_001, "the lazy dog sleeps")]
    dead = [rows[3][0]]
    ups = spark.createDataFrame(replaced + added, "doc_id long, content string")
    upsert_docs(spark, idx.index_dir, ups)
    delete_docs(spark, idx.index_dir, dead)
    new_idx = compact(spark, idx.index_dir)

    edited = {d: c for d, c in rows if d != dead[0]}
    for d, c in replaced + added:
        edited[d] = c
    fresh = _build(spark, list(edited.items()), tmp_path / "fresh")

    assert new_idx.meta.n_docs == fresh.meta.n_docs
    assert _term_df_rows(new_idx) == _term_df_rows(fresh)
    assert _posting_rows(new_idx) == _posting_rows(fresh)
    assert _topk(spark, new_idx) == _topk(spark, fresh)
    # the brand-new doc is findable
    hits = wand_topk(spark, new_idx, [(0, "sleeps")], CFG, k=5).collect()
    assert [r["doc_id"] for r in hits] == [999_999_001]


def test_handle_reads_its_own_generation(spark, tmp_path):
    """The in-process posting read follows the generation a handle's
    meta.json named when it was opened: handles opened before a compact
    (read before it or first read after it) keep answering from the old
    generation, and a handle opened after it sees an upserted marker
    term."""
    from elasticsearch_analysis_combo_spark.query.phrase import phrase_match

    rows = _corpus(seed=11, n=30)
    read_before = _build(spark, rows, tmp_path / "live")
    old_hits = _topk(spark, read_before)
    old_phrase = phrase_match(
        spark, read_before, [(0, "the quick")], CFG).collect()
    first_read_after = InvertedIndex(spark, read_before.index_dir)
    marker = "zebracrossing"
    upsert_docs(spark, read_before.index_dir, spark.createDataFrame(
        [(rows[0][0], f"{marker} quick fox")], "doc_id long, content string"))
    opened_after = compact(spark, read_before.index_dir)

    for old in (read_before, first_read_after):
        assert _topk(spark, old) == old_hits
        assert phrase_match(
            spark, old, [(0, "the quick")], CFG).collect() == old_phrase
        assert old.term_blocks([marker]) == {}
        assert wand_topk(spark, old, [(0, marker)], CFG).collect() == []
    hits = wand_topk(spark, opened_after, [(0, marker)], CFG, k=5).collect()
    assert [r["doc_id"] for r in hits] == [rows[0][0]]
    assert phrase_match(
        spark, opened_after, [(0, f"{marker} quick")], CFG,
    ).select("doc_id").collect()[0]["doc_id"] == rows[0][0]


def test_compact_noop_without_pending(spark, tmp_path):
    rows = _corpus(seed=9, n=20)
    idx = _build(spark, rows, tmp_path / "live")
    before = _topk(spark, idx)
    out = compact(spark, idx.index_dir)
    assert _topk(spark, out) == before


def test_publish_keeps_old_reader_view(spark, tmp_path):
    """Atomicity: a reader holding the pre-compact InvertedIndex keeps a
    readable, consistent posting path after the publish (versioned dirs —
    no rmtree window)."""
    rows = _corpus(seed=11, n=30)
    idx = _build(spark, rows, tmp_path / "live")
    old_reader = InvertedIndex(spark, idx.index_dir)
    n_before = old_reader.postings().count()
    delete_docs(spark, idx.index_dir, [rows[0][0], rows[1][0]])
    new_idx = compact(spark, idx.index_dir)
    # old reader: same generation it opened, still fully readable
    assert old_reader.postings().count() == n_before
    # new reader sees the compacted generation
    assert new_idx.meta.n_docs == len(rows) - 2
    assert InvertedIndex(spark, idx.index_dir).meta.n_docs == len(rows) - 2


def test_second_compact_gcs_oldest_generation(spark, tmp_path):
    """GC keeps the newest and the previous generation: a build followed
    by two compacts deletes the build's stage dirs."""
    import os

    rows = _corpus(seed=13, n=24)
    idx = _build(spark, rows, tmp_path / "live")
    delete_docs(spark, idx.index_dir, [rows[0][0]])
    previous = compact(spark, idx.index_dir)
    delete_docs(spark, idx.index_dir, [rows[1][0]])
    final = compact(spark, idx.index_dir)
    stage_dirs = {e for e in os.listdir(idx.index_dir)
                  if e.split("-")[0] in idx.meta.tables and
                  os.path.isdir(os.path.join(idx.index_dir, e))}
    assert stage_dirs == {*previous.meta.tables.values(),
                          *final.meta.tables.values()}
    assert not stage_dirs & set(idx.meta.tables.values())
    assert InvertedIndex(spark, idx.index_dir).meta.n_docs == len(rows) - 2


def test_engine_auto_routes_partitioned(spark, tmp_path, monkeypatch):
    """search()/phrase() route to the range-partitioned evaluators once
    n_docs crosses PARTITIONED_THRESHOLD, with identical results."""
    rows = _corpus(seed=17, n=40)
    df = spark.createDataFrame(rows, "doc_id long, content string")
    eng = ComboSearchEngine(
        spark, CFG, str(tmp_path / "eng"), salt_shards=4, block_size=8
    )
    eng.index(df, content_col="content")

    import elasticsearch_analysis_combo_spark.query.wand as wand_mod

    calls = {"partitioned": 0}
    orig = wand_mod.wand_topk_partitioned

    def spy(*a, **kw):
        calls["partitioned"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(wand_mod, "wand_topk_partitioned", spy)

    monkeypatch.setattr(ComboSearchEngine, "PARTITIONED_THRESHOLD", 10**9)
    small = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search("the quick", k=5).collect()
    )
    assert calls["partitioned"] == 0

    monkeypatch.setattr(ComboSearchEngine, "PARTITIONED_THRESHOLD", 1)
    large = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in eng.search("the quick", k=5).collect()
    )
    assert calls["partitioned"] == 1
    assert small == large
    # phrase routing: both paths agree as well
    p_small = {(r["query_id"], r["doc_id"]): r["n_matches"]
               for r in eng.phrase("the quick", partitioned=False).collect()}
    p_auto = {(r["query_id"], r["doc_id"]): r["n_matches"]
              for r in eng.phrase("the quick").collect()}
    assert p_auto == p_small


def test_engine_maintenance_facade(spark, tmp_path):
    """delete/upsert/compact through the ComboSearchEngine facade: the
    engine re-attaches to the new generation and serves the edited corpus."""
    rows = _corpus(seed=23, n=30)
    df = spark.createDataFrame(rows, "doc_id long, content string")
    eng = ComboSearchEngine(
        spark, CFG, str(tmp_path / "idx"), salt_shards=4, block_size=8
    )
    eng.index(df, content_col="content")
    victim = rows[0][0]
    eng.delete([victim])
    eng.upsert(spark.createDataFrame(
        [(777_000_001, "sphinx of black quartz")], "doc_id long, content string"
    ))
    idx = eng.compact()
    assert idx.meta.n_docs == len(rows)  # -1 deleted, +1 added
    hits = [r["doc_id"] for r in eng.search("sphinx quartz", k=3).collect()]
    assert hits == [777_000_001]
    assert victim not in [
        r["doc_id"] for r in eng.search("the", k=30, partitioned=False).collect()
    ]


def test_delete_after_upsert_wins(spark, tmp_path):
    """The LAST staged operation per doc wins: upsert then delete really
    deletes; delete then upsert resurrects with the new content."""
    rows = _corpus(seed=31, n=20)
    idx = _build(spark, rows, tmp_path / "live")
    x, y = rows[0][0], rows[1][0]
    # x: upsert THEN delete -> gone
    upsert_docs(spark, idx.index_dir, spark.createDataFrame(
        [(x, "replacement words")], "doc_id long, content string"))
    delete_docs(spark, idx.index_dir, [x])
    # y: delete THEN upsert -> resurrected with new content
    delete_docs(spark, idx.index_dir, [y])
    upsert_docs(spark, idx.index_dir, spark.createDataFrame(
        [(y, "resurrected unique words")], "doc_id long, content string"))
    new_idx = compact(spark, idx.index_dir)

    edited = {d: c for d, c in rows if d != x}
    edited[y] = "resurrected unique words"
    fresh = _build(spark, list(edited.items()), tmp_path / "fresh")
    assert new_idx.meta.n_docs == fresh.meta.n_docs == len(rows) - 1
    assert _term_df_rows(new_idx) == _term_df_rows(fresh)
    hits = wand_topk(spark, new_idx, [(0, "resurrected")], CFG, k=5).collect()
    assert [r["doc_id"] for r in hits] == [y]
    gone = wand_topk(spark, new_idx, [(0, "replacement")], CFG, k=5).collect()
    assert gone == []


def test_upsert_to_empty_content_blanks_doc(spark, tmp_path):
    """Replacing a doc with content that analyzes to zero tokens removes
    its old rows (not a silent no-op)."""
    rows = _corpus(seed=37, n=15)
    idx = _build(spark, rows, tmp_path / "live")
    x = rows[0][0]
    upsert_docs(spark, idx.index_dir, spark.createDataFrame(
        [(x, "")], "doc_id long, content string"))
    new_idx = compact(spark, idx.index_dir)
    fresh = _build(spark, [r for r in rows if r[0] != x], tmp_path / "fresh")
    # the blanked doc contributes no terms and no doc stats
    assert _term_df_rows(new_idx) == _term_df_rows(fresh)
    assert new_idx.meta.n_docs == len(rows) - 1
    assert x not in [
        r["doc_id"] for r in wand_topk(spark, new_idx, QUERIES, CFG, k=50).collect()
    ]


def _generation(spark, idx):
    """What a reader of a generation sees: its doc count and doc table,
    every posting row and the WAND answers."""
    return {
        "n_docs": idx.meta.n_docs,
        "docs": sorted(map(tuple, idx.doc_stats().collect())),
        "postings": _posting_rows(idx),
        "wand": _topk(spark, idx),
    }


@pytest.mark.parametrize("published", [False, True])
def test_crash_in_compact_leaves_a_whole_generation(
    spark, tmp_path, monkeypatch, published
):
    """A compact that crashes just before or just after its meta.json
    swap leaves a freshly opened handle equal to a fresh build of the
    unedited or the edited corpus; a handle held across it keeps its
    generation while GC keeps it (the newest and the previous one), and
    the next compact publishes the edited corpus."""
    from elasticsearch_analysis_combo_spark.plans import index_build

    rows = _corpus(seed=17, n=30)
    held = _build(spark, rows, tmp_path / "live")
    dead = [rows[0][0], rows[5][0]]
    edited = [r for r in rows if r[0] not in dead]
    before = _generation(spark, _build(spark, rows, tmp_path / "before"))
    after = _generation(spark, _build(spark, edited, tmp_path / "after"))
    real_publish = index_build.publish_tables

    def publish(index_dir, meta):
        if published:
            real_publish(index_dir, meta)
        raise RuntimeError("injected crash")

    delete_docs(spark, held.index_dir, dead)
    monkeypatch.setattr(index_build, "publish_tables", publish)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact(spark, held.index_dir)
    monkeypatch.undo()
    opened = InvertedIndex(spark, held.index_dir)
    assert _generation(spark, opened) == (after if published else before)
    assert _generation(spark, held) == before

    assert _generation(spark, compact(spark, held.index_dir)) == after
    if not published:
        assert _generation(spark, held) == before


def test_publish_keep_previous_two_generations(spark, tmp_path):
    """Each publish keeps exactly two generations on disk: the one it
    swaps in and the one it replaced. A handle on the replaced one stays
    readable, the one before that is deleted, and republishing the
    current generation deletes nothing."""
    import os

    from elasticsearch_analysis_combo_spark.plans.index_build import (
        publish_tables,
    )

    def stage_dirs(d):
        return {e for e in os.listdir(d)
                if e.split("-")[0] in idx.meta.tables
                and os.path.isdir(os.path.join(d, e))}

    live = tmp_path / "live"
    gens = []
    for n in (10, 12, 14):
        idx = _build(spark, _corpus(seed=41, n=n), live)
        gens.append(idx)
        expected = set(idx.meta.tables.values())
        if len(gens) > 1:
            expected |= set(gens[-2].meta.tables.values())
        assert stage_dirs(live) == expected
    first, previous, current = gens
    assert not stage_dirs(live) & set(first.meta.tables.values())
    assert previous.postings().count() > 0
    assert previous.meta.n_docs == 12

    publish_tables(current.index_dir, current.meta)
    assert stage_dirs(live) == {*previous.meta.tables.values(),
                                *current.meta.tables.values()}
    assert InvertedIndex(spark, str(live)).meta.n_docs == 14
