"""Stage checkpoints and lineage (operators/checkpoint.py).

* every stage's ``built`` record in metrics.jsonl carries ``rows`` and
  ``checksum`` equal to a re-scan of the persisted parquet, and a fully
  resumed build writes the same corpus stats into meta.json without
  re-running a stage;
* a stage whose ``<stage>-<fp>`` dir exists is never built again: after a
  crash right after a table landed, rerunning either corpus builds only
  the stages whose dirs are missing, and a rebuild back to a kept
  generation (A -> B -> A) builds nothing;
* a crash inside the postings stage of a fresh build leaves no meta.json,
  and the next build resumes and equals a fresh build;
* over an existing index, a rebuild of another corpus never changes what
  a handle reads: one held across it keeps answering its own generation,
  and after a crash at any stage or at the meta.json swap a freshly
  opened handle equals a whole fresh build of the old corpus (of the new
  one once the rebuild completes);
* an interrupted GC never leaves a partial table under a stage name, and
  a publish sweeps the temp copies crashed writes and GCs left;
* a checkpointed stage issues exactly the Spark jobs of a bare
  ``df.write.parquet`` of the same frame (no lineage re-scan passes), and
  a small north-star build issues no more jobs than it does today;
* a hot-term list over the InSet limit takes the broadcast-join path and
  yields the same postings.
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators import postings as postings_mod
from elasticsearch_analysis_combo_spark.operators.checkpoint import (
    CheckpointManager,
)
from elasticsearch_analysis_combo_spark.operators.postings import (
    build_postings,
    doc_table,
)
from elasticsearch_analysis_combo_spark.plans import index_build as index_build_mod
from elasticsearch_analysis_combo_spark.plans.index_build import (
    STAGES,
    InvertedIndex,
    build_index,
)
from elasticsearch_analysis_combo_spark.query.wand import wand_topk
from elasticsearch_analysis_combo_spark.sources.corpus import (
    generate_corpus,
    ingest,
)

CFG = ComboConfig(["whitespace", "standard"], deduplication=True)
#: the key columns build_index checksums per stage
CHECKSUM_COLS = {
    "term_stats": ["doc_id", "term", "tf"],
    "doc_stats": ["doc_id", "dl"],
    "term_df": ["term", "df"],
    "postings": ["term", "df", "cf"],
}
BUILD = dict(salt_shards=4, block_size=64)
QUERIES = [(0, "the public static"), (1, "return value"), (2, "merge segment")]


@pytest.fixture(scope="module")
def corpus(spark):
    df = ingest(generate_corpus(spark, 60, seed=7)).cache()
    yield df
    df.unpersist()


def _built_records(index_dir: str) -> list[dict]:
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    return [r for r in recs if r["event"] == "built"]


def _built(index_dir: str) -> list[str]:
    return [r["stage"] for r in _built_records(index_dir)]


def _meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def _content(index) -> dict:
    return {
        "postings": sorted(
            (r["term"], r["run_idx"], r["df"], r["cf"], r["blocks"])
            for r in index.postings().collect()
        ),
        "doc_stats": sorted(map(tuple, index.doc_stats().collect())),
        "n_docs": index.meta.n_docs,
        "avgdl": index.meta.avgdl,
        "wand": [
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in wand_topk(index.spark, index, QUERIES, CFG, k=10).collect()
        ],
    }


@pytest.fixture(scope="module")
def generations(spark, tmp_path_factory):
    """Two corpora and the content of a fresh build of each: the only
    states a reader of an index rebuilt from the first to the second may
    see."""
    old = ingest(generate_corpus(spark, 40, seed=1)).cache()
    new = ingest(generate_corpus(spark, 55, seed=2)).cache()
    root = tmp_path_factory.mktemp("fresh")
    yield old, new, *(
        _content(build_index(spark, c, CFG, str(root / name), **BUILD))
        for name, c in (("old", old), ("new", new))
    )
    old.unpersist()
    new.unpersist()


def test_held_handle_keeps_its_generation_across_a_rebuild(
    spark, generations, tmp_path
):
    old, new, old_content, new_content = generations
    idx = str(tmp_path / "idx")
    held = build_index(spark, old, CFG, idx, **BUILD)
    build_index(spark, new, CFG, idx, **BUILD)
    assert _content(held) == old_content
    assert _content(InvertedIndex(spark, idx)) == new_content


def _crash_in_postings(monkeypatch):
    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(index_build_mod, "build_postings", crash)


def _crash_after_landing(stage):
    """Crash right after ``stage``'s table was renamed into place."""
    def inject(monkeypatch):
        real_rename = os.rename

        def rename(src, dst):
            real_rename(src, dst)
            name = os.path.basename(dst)
            if name.startswith(f"{stage}-") and ".tmp-" not in name:
                raise RuntimeError("injected crash")

        monkeypatch.setattr(os, "rename", rename)
    return inject


def _crash_at_meta_swap(monkeypatch):
    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == "meta.json":
            raise RuntimeError("injected crash")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("inject, rebuilt", [
    (_crash_in_postings, ["postings"]),
    *((_crash_after_landing(s), list(STAGES[i + 1:]))
      for i, s in enumerate(STAGES)),
    (_crash_at_meta_swap, []),
], ids=["in_postings", *(f"{s}_landed" for s in STAGES), "meta_swap"])
def test_crash_in_a_rebuild_leaves_a_whole_generation(
    spark, generations, tmp_path, monkeypatch, inject, rebuilt
):
    """``rebuilt``: the stages whose tables had not landed at the crash,
    the only ones a rerun of the crashed build runs."""
    old, new, old_content, new_content = generations
    idx = str(tmp_path / "idx")
    held = build_index(spark, old, CFG, idx, **BUILD)
    inject(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_index(spark, new, CFG, idx, **BUILD)
    monkeypatch.undo()
    assert _content(InvertedIndex(spark, idx)) == old_content
    assert _content(held) == old_content

    # rerunning the published corpus builds no stage
    n_built = len(_built(idx))
    build_index(spark, old, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == []

    build_index(spark, new, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == rebuilt
    assert _content(InvertedIndex(spark, idx)) == new_content
    assert _content(held) == old_content


def test_rebuild_back_to_a_kept_generation_builds_no_stage(
    spark, generations, tmp_path
):
    """A -> B -> A into one dir: A's four dirs are the previous generation,
    which GC keeps, so the third build resumes every stage and publishes
    them."""
    old, new, old_content, _ = generations
    idx = str(tmp_path / "idx")
    build_index(spark, old, CFG, idx, **BUILD)
    tables = _meta(idx)["tables"]
    build_index(spark, new, CFG, idx, **BUILD)
    n_built = len(_built(idx))
    index = build_index(spark, old, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == []
    assert _meta(idx)["tables"] == tables
    assert _content(index) == old_content


def test_interrupted_gc_leaves_no_partial_table(
    spark, generations, corpus, tmp_path, monkeypatch
):
    """A GC interrupted halfway through deleting the first generation's
    postings dir (a third build GCs it) leaves no partial table under the
    dir's stage name: rebuilding the first corpus equals a fresh build,
    and that publish sweeps the remains."""
    old, new, old_content, _ = generations
    idx = str(tmp_path / "idx")
    build_index(spark, old, CFG, idx, **BUILD)
    postings_dir = _meta(idx)["tables"]["postings"]
    build_index(spark, new, CFG, idx, **BUILD)
    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if os.path.basename(path).startswith(postings_dir):
            parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
            for f in parts[::2]:
                os.remove(os.path.join(path, f))
            raise RuntimeError("injected crash")
        real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_index(spark, corpus, CFG, idx, **BUILD)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(idx, postings_dir))

    assert _content(build_index(spark, old, CFG, idx, **BUILD)) == old_content
    assert _meta(idx)["tables"]["postings"] == postings_dir
    assert not [e for e in os.listdir(idx) if ".tmp-" in e]


def test_publish_sweeps_orphaned_temp_copies(spark, corpus, tmp_path):
    idx = tmp_path / "idx"
    stage_tmp = idx / f"postings-{'0' * 16}.tmp-deadbeef"
    stage_tmp.mkdir(parents=True)
    (stage_tmp / "part-00000.parquet").write_bytes(b"partial")
    (idx / "meta.json.tmp-deadbeef").write_text("{")
    build_index(spark, corpus, CFG, str(idx), **BUILD)
    assert not stage_tmp.exists()
    assert not (idx / "meta.json.tmp-deadbeef").exists()


def test_built_lineage_equals_rescan(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    fresh = _meta(idx)
    built = {r["stage"]: r for r in _built_records(idx)}

    def table(stage):
        return spark.read.parquet(os.path.join(idx, fresh["tables"][stage]))

    for stage, cols in CHECKSUM_COLS.items():
        rec = built[stage]
        assert {"fingerprint", "rows", "checksum", "wall_sec",
                "created_at"} <= rec.keys(), stage
        assert fresh["tables"][stage] == f"{stage}-{rec['fingerprint']}"
        keys = ", ".join(f"`{c}`" for c in cols)
        r = table(stage).agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({keys}))").alias("x"),
        ).collect()[0]
        assert rec["rows"] == r["n"], stage
        assert rec["checksum"] == int(r["x"] or 0), stage
    # meta's avgdl is Spark's avg bit for bit
    dl = table("doc_stats").agg(F.avg("dl")).collect()[0][0]
    assert (fresh["n_docs"], fresh["avgdl"]) == (60, dl)

    # full resume: no stage re-runs, and the corpus stats come back from
    # the doc table unchanged
    os.remove(os.path.join(idx, "meta.json"))
    n_built = len(_built(idx))
    build_index(spark, corpus, CFG, idx, **BUILD)
    assert len(_built(idx)) == n_built
    resumed = _meta(idx)
    assert (resumed["n_docs"], resumed["avgdl"]) == (
        fresh["n_docs"], fresh["avgdl"]
    )


def test_crash_after_a_stage_landed_resumes_the_first_corpus(
    spark, corpus, tmp_path, monkeypatch
):
    """Another corpus' build crashes right after its doc_stats table
    landed: the first corpus' dirs are all still there, so rebuilding it
    runs no stage and equals a fresh build."""
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    other = ingest(generate_corpus(spark, 40, seed=8))

    _crash_after_landing("doc_stats")(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_index(spark, other, CFG, idx, **BUILD)
    monkeypatch.undo()

    n_built = len(_built(idx))
    resumed = build_index(spark, corpus, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == []
    fresh = build_index(spark, corpus, CFG, str(tmp_path / "fresh"), **BUILD)
    assert _content(resumed) == _content(fresh)


def test_crash_in_postings_leaves_no_meta(spark, corpus, tmp_path, monkeypatch):
    idx = str(tmp_path / "idx")

    def crash(*args, **kwargs):
        raise RuntimeError("crash in the postings stage")

    monkeypatch.setattr(index_build_mod, "build_postings", crash)
    with pytest.raises(RuntimeError, match="crash in the postings stage"):
        build_index(spark, corpus, CFG, idx, **BUILD)
    monkeypatch.undo()
    # meta.json is published only after every stage: none exists
    assert not os.path.exists(os.path.join(idx, "meta.json"))
    assert _built(idx) == ["term_stats", "doc_stats", "term_df"]

    resumed = build_index(spark, corpus, CFG, idx, **BUILD)
    assert _built(idx)[3:] == ["postings"]
    fresh = build_index(spark, corpus, CFG, str(tmp_path / "fresh"), **BUILD)
    assert _content(resumed) == _content(fresh)
    assert _meta(idx) == _meta(str(tmp_path / "fresh"))


def test_posting_format_salts_the_postings_fingerprint(
    spark, corpus, tmp_path, monkeypatch
):
    """A postings checkpoint written under another block layout is a miss:
    the rebuild re-runs the postings stage only (the other stages'
    outputs do not depend on the layout) and records the layout in
    meta.json."""
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    assert _meta(idx)["posting_format"] == index_build_mod.POSTING_FORMAT
    n_built = len(_built(idx))
    build_index(spark, corpus, CFG, idx, **BUILD)
    assert len(_built(idx)) == n_built
    monkeypatch.setattr(index_build_mod, "POSTING_FORMAT", "another-layout")
    build_index(spark, corpus, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == ["postings"]
    assert _meta(idx)["posting_format"] == "another-layout"


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_issues_no_jobs_beyond_its_write(spark, tmp_path):
    df = (
        spark.range(5000)
        .withColumn("k", F.col("id") % 97)
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
    )
    ckpt = CheckpointManager(spark, str(tmp_path / "ckpt"))
    staged = _jobs(spark, "lineage-stage", lambda: ckpt.run(
        "s", "fp", lambda: df, checksum_cols=["k", "n"],
    ))
    bare = _jobs(spark, "lineage-bare",
                 lambda: df.write.parquet(str(tmp_path / "bare")))
    assert bare > 0
    assert staged == bare
    assert [r["rows"] for r in _built_records(ckpt.base_dir)] == [97]


#: Spark jobs of one build_index of a small north-star corpus, as measured
#: once fewer docs than the hot threshold's floor stopped collecting a hot
#: list (10 before)
SMALL_BUILD_MAX_JOBS = 9


def test_small_build_issues_no_extra_jobs(spark, tmp_path):
    """A guard on the build's job count: a pass added to the build, or a
    removed one coming back, shows here."""
    config = ComboConfig(["standard", "identifier", "lang"],
                         deduplication=True)
    block_size = 128
    counted = None
    for name, seed in (("warm", 11), ("counted", 12)):
        path = str(tmp_path / f"{name}-corpus")
        generate_corpus(spark, 120, seed=seed).write.parquet(path)
        corpus = ingest(spark.read.parquet(path))
        assert corpus.count() < 4 * block_size
        counted = _jobs(spark, f"small-build-{name}", lambda: build_index(
            spark, corpus, config, str(tmp_path / name),
            lang_col="lang", block_size=block_size,
        ))
    assert 0 < counted <= SMALL_BUILD_MAX_JOBS


def test_hot_list_over_inset_limit_takes_join_path(spark, monkeypatch):
    limit = postings_mod.HOT_INSET_MAX_TERMS
    n_terms = limit + 200
    # every term in two adjacent docs: a vocabulary just over the limit
    docs = [
        (i * 7919 - 2**40,
         " ".join(f"w{j}" for j in range(i * 50, min(i * 50 + 100, n_terms))))
        for i in range(n_terms // 50)
    ]
    stats = build_term_stats(
        spark.createDataFrame(docs, "doc_id long, content string"),
        ComboConfig(["whitespace"]),
    ).cache()
    hot = stats.groupBy("term").agg(F.count("*").alias("df")).select("term")
    assert hot.count() == n_terms
    avgdl = stats.select("doc_id", "dl").distinct().agg(F.avg("dl")).first()[0]
    docs_t = doc_table(stats)

    def build():
        return build_postings(stats, docs_t, avgdl=avgdl, hot_terms=hot,
                              block_size=8, salt_shards=4)

    def rows(df):
        return sorted((r["term"], r["run_idx"], r["df"], r["cf"], r["blocks"])
                      for r in df.collect())

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    joined = build()
    monkeypatch.setattr(postings_mod, "HOT_INSET_MAX_TERMS", n_terms)
    inset = build()
    assert "INSET" not in plan(joined) and "INSET" in plan(inset)
    assert plan(joined).count("Join") > plan(inset).count("Join")
    assert rows(joined) == rows(inset)
    stats.unpersist()
