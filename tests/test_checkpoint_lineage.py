"""Stage lineage observed on the write job (operators/checkpoint.py).

* every stage's manifest ``rows``/``checksum`` equal a re-scan of the
  persisted parquet, and a fully resumed build writes the same corpus
  stats into meta.json without re-running a stage;
* a crash between the data swap and the manifest write never leaves a
  manifest over data of another fingerprint: the next build re-runs the
  stage and equals a fresh build; an old-format manifest is a miss;
* a crash inside the postings stage of a fresh build leaves no meta.json,
  and the next build resumes and equals a fresh build;
* over an existing index, a rebuild of another corpus never changes what
  a handle reads: one held across it keeps answering its own generation,
  and after a crash at any stage or at the meta.json swap a freshly
  opened handle equals a whole fresh build of the old corpus (of the new
  one once the rebuild completes);
* a checkpointed stage issues exactly the Spark jobs of a bare
  ``df.write.parquet`` of the same frame (no lineage re-scan passes);
* a hot-term list over the InSet limit takes the broadcast-join path and
  yields the same postings.
"""

import json
import os

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


def _built(index_dir: str) -> list[str]:
    with open(os.path.join(index_dir, "metrics.jsonl")) as f:
        recs = [json.loads(line) for line in f]
    return [r["stage"] for r in recs if r["event"] == "built"]


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


def _crash_before_manifest(stage):
    """Crash after ``stage``'s table landed, before its manifest."""
    def inject(monkeypatch):
        real_write = CheckpointManager._write_manifest

        def write(path, man):
            if man["stage"] == stage:
                raise RuntimeError("injected crash")
            real_write(path, man)

        monkeypatch.setattr(
            CheckpointManager, "_write_manifest", staticmethod(write)
        )
    return inject


def _crash_at_meta_swap(monkeypatch):
    real_replace = os.replace

    def replace(src, dst):
        if os.path.basename(dst) == "meta.json":
            raise RuntimeError("injected crash")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)


@pytest.mark.parametrize("inject", [
    _crash_in_postings,
    *(_crash_before_manifest(s) for s in CHECKSUM_COLS),
    _crash_at_meta_swap,
], ids=["in_postings", *(f"{s}_landed" for s in CHECKSUM_COLS), "meta_swap"])
def test_crash_in_a_rebuild_leaves_a_whole_generation(
    spark, generations, tmp_path, monkeypatch, inject
):
    old, new, old_content, new_content = generations
    idx = str(tmp_path / "idx")
    held = build_index(spark, old, CFG, idx, **BUILD)
    inject(monkeypatch)
    with pytest.raises(RuntimeError, match="injected crash"):
        build_index(spark, new, CFG, idx, **BUILD)
    monkeypatch.undo()
    assert _content(InvertedIndex(spark, idx)) == old_content
    assert _content(held) == old_content

    build_index(spark, new, CFG, idx, **BUILD)
    assert _content(InvertedIndex(spark, idx)) == new_content
    assert _content(held) == old_content


def test_manifest_lineage_equals_rescan(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    ckpt = CheckpointManager(spark, idx)
    for stage, cols in CHECKSUM_COLS.items():
        man = ckpt.manifest(stage)
        keys = ", ".join(f"`{c}`" for c in cols)
        r = ckpt.load(stage).agg(
            F.count("*").alias("n"),
            F.expr(f"bit_xor(xxhash64({keys}))").alias("x"),
        ).collect()[0]
        assert man["rows"] == r["n"], stage
        assert man["checksum"] == int(r["x"] or 0), stage
        assert "partitions" not in man
    dl = ckpt.load("doc_stats").agg(F.avg("dl")).collect()[0][0]
    assert ckpt.manifest("doc_stats")["avgdl"] == dl
    fresh = _meta(idx)
    assert (fresh["n_docs"], fresh["avgdl"]) == (60, dl)

    # full resume: no stage re-runs, and the corpus stats come back from
    # the doc_stats manifest unchanged
    os.remove(os.path.join(idx, "meta.json"))
    n_built = len(_built(idx))
    build_index(spark, corpus, CFG, idx, **BUILD)
    assert len(_built(idx)) == n_built
    resumed = _meta(idx)
    assert (resumed["n_docs"], resumed["avgdl"]) == (
        fresh["n_docs"], fresh["avgdl"]
    )


def test_crash_between_swap_and_manifest_reruns_stage(
    spark, corpus, tmp_path, monkeypatch
):
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    other = ingest(generate_corpus(spark, 40, seed=8))

    real_write = CheckpointManager._write_manifest

    def crash_on_doc_stats(path, man):
        if man["stage"] == "doc_stats":
            raise RuntimeError("crash after the data swap")
        real_write(path, man)

    monkeypatch.setattr(
        CheckpointManager, "_write_manifest", staticmethod(crash_on_doc_stats)
    )
    with pytest.raises(RuntimeError, match="crash after the data swap"):
        build_index(spark, other, CFG, idx, **BUILD)
    monkeypatch.undo()
    # the other corpus' doc_stats data is in place, its manifest is not,
    # and the first corpus' stale manifest is gone with the old data
    assert not os.path.exists(os.path.join(idx, "doc_stats.manifest.json"))

    n_built = len(_built(idx))
    resumed = build_index(spark, corpus, CFG, idx, **BUILD)
    assert "doc_stats" in _built(idx)[n_built:]
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


def test_old_format_manifest_is_a_miss(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    build_index(spark, corpus, CFG, idx, **BUILD)
    path = os.path.join(idx, "doc_stats.manifest.json")
    with open(path) as f:
        man = json.load(f)
    # the format before lineage was observed: per-partition counts, no
    # corpus stats
    del man["avgdl"]
    man["partitions"] = {"0": man["rows"]}
    with open(path, "w") as f:
        json.dump(man, f)
    n_built = len(_built(idx))
    index = build_index(spark, corpus, CFG, idx, **BUILD)
    assert _built(idx)[n_built:] == ["doc_stats"]
    assert index.meta.n_docs == 60
    with open(path, "w") as f:
        f.write("{not json")
    assert not CheckpointManager(spark, idx).has("doc_stats", man["fingerprint"])


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
        observed={"avg_n": F.avg("n")},
    ))
    bare = _jobs(spark, "lineage-bare",
                 lambda: df.write.parquet(str(tmp_path / "bare")))
    assert bare > 0
    assert staged == bare
    man = ckpt.manifest("s")
    assert (man["rows"], man["avg_n"]) == (97, 5000 / 97)


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
