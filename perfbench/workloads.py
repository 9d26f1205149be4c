"""The benchmark's workloads.

Load comes from one closed-loop client: each request starts after the
previous one returns. The index config is the north-star combo: the
paper's position merge with same-position deduplication over three
sub-analyzers, with per-document language dispatch.

Every workload reports the same end-to-end metrics, each read as that
workload's own operation. Time is busy CPU time of the machine, which
runs nothing but this process, the driver JVM and the Python workers it
forks (``host.busy_cpu_s``). It is not wall time: on a shared VM the
wall of one build moved by about 30% with the CPU time the hypervisor
stole, while its CPU time moved by a few percent. CPU time still rises
on a busy host, but less than wall time (README, "Noise").

* ``items_per_cpu_s`` — files indexed or queries answered per CPU second
  over the workload's timed operations: builds on ``build-combo``, whole
  request cycles on ``search-mixed``. It is a sum over all of them, not
  a median of a few: over ten seeds of ``search-mixed``, the median of
  per-cycle CPU times spread twice as much (IQR over median 0.23 against
  0.11);
* ``setup_s`` — CPU seconds from process start until the workload is
  ready;
* ``index_bytes_per_content_byte``.

The wall-clock figures (``op_p50_ms``, ``items_per_s``, ``setup_wall_s``)
go to the detail line.

Peak summed RSS goes to the detail line, not the metrics: the number of
Python workers Spark forks varies run to run, which moved it by 13-20%
(IQR over median) across ten seeds. It is read once, after the timed
region, from each process's own high-water mark.

Answers are checked after the request that produced them, outside the
timed wall; a request that raises or answers wrong counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark import ComboConfig
from elasticsearch_analysis_combo_spark.engine import ComboSearchEngine
from elasticsearch_analysis_combo_spark.sources.corpus import (
    generate_corpus,
    ingest,
)

import checks
import host
import layers
from queries import QueryStream

CONFIG = ComboConfig(["standard", "identifier", "lang"], deduplication=True)
LANG_COL = "lang"
K = 10
BATCH = 32
#: docs in the search-mixed index. Search latency at these sizes is per-job
#: Spark overhead (single searches took 0.5-1.3 s at 300 docs and
#: 0.55-1.0 s at 10k docs), and a larger index would make its cold set-up
#: build push a run past the time budget.
SEARCH_DOCS = 300
#: share of docs one maintenance round upserts, and tombstones
UPSERT_FRAC = 0.01
DELETE_FRAC = 0.005
#: timed operations in every run; with run_seconds they take about as
#: long as it, so each run times the same number. The first build after
#: the warm-up one still carries JIT compilation, so it is never alone
MIN_OPS = 3
#: request kinds of one search-mixed cycle; only whole cycles run, so the
#: mix is the same in every run
CYCLE = ("search", "search", "phrase", "search", "phrase", "batch")
#: appended to every upserted doc, so the probe can find the new content
MARKER = "benchupserted"
#: fixed read probe after each compact: a camelCase form, the stop-heavy
#: WAND case, and the marker only replacement content carries
PROBES = ("parseToken", "the if return", MARKER)

PER_LAYER = (
    "session.get_spark_s", "sources.ingest_s", "sources.content_bytes",
    "analysis.term_stats_s", "analysis.tokens", "analysis.tokens_per_s",
    "analysis.term_rows", "analysis.dedup_keep_frac",
    "index_build.doc_stats_s", "index_build.term_df_s",
    "index_build.overhead_s",
    "postings.build_s", "postings.rows", "postings.blocks",
    "postings.hot_terms", "postings.bytes", "codec.bytes_per_posting",
    "wand.postings_per_query", "wand.postings_per_result", "wand.batch_s",
    "phrase.pos_bytes_per_query", "phrase.matches_per_query",
    "maintenance.upsert_s", "maintenance.delete_s", "maintenance.compact_s",
    "maintenance.affected_term_frac",
    "maintenance.bytes_rewritten_per_user_byte",
    "trace.op_cpu_ms", "trace.overhead_cpu_ms", "trace.spans",
)


@dataclass(frozen=True)
class Sizes:
    #: build-combo corpus: the largest at which set-up plus three timed
    #: builds fit a run's time budget on a busy host (README, "Corpus size")
    docs: int = 300
    sample_docs: int = 16


@dataclass
class Op:
    kind: str
    #: the timed operation this request belongs to (a build, or one
    #: request cycle)
    cycle: int
    wall: float
    #: busy CPU seconds during the request
    cpu: float
    traced: bool
    items: int
    failure: str | None = None


def per_cycle(ops, attr: str) -> list[float]:
    """Summed request ``wall`` or ``cpu`` of each cycle, in cycle order."""
    sums: dict[int, float] = {}
    for o in ops:
        sums[o.cycle] = sums.get(o.cycle, 0.0) + getattr(o, attr)
    return list(sums.values())


@dataclass
class Run:
    spark: object
    tracer: object
    work_dir: str
    seed: int
    seconds: float
    started: float
    #: ``host.busy_cpu_s()`` when the process started
    started_cpu: float
    trace: bool
    jvm_pid: int
    sizes: Sizes = Sizes()
    setup_s: float = 0.0
    setup_wall_s: float = 0.0
    steal_at_setup: float = 0.0
    ops: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def setup_done(self) -> None:
        self.setup_s = host.busy_cpu_s() - self.started_cpu
        self.setup_wall_s = time.perf_counter() - self.started
        self.steal_at_setup = host.steal_s()

    def more(self, done: int) -> bool:
        """Whether the timed region goes on after ``done`` operations. A
        traced run alternates untraced and traced operations, untraced
        first. The JIT makes each operation cheaper than the one before,
        so with an untraced one on either side of the traced one that
        stays out of the tracing overhead."""
        return done < MIN_OPS or sum(o.wall for o in self.ops) < self.seconds

    def timed(self, kind: str, span: str, fn, cycle: int, items: int = 1,
              traced: bool = False):
        """Run one timed request; returns (Op, result or None if raised)."""
        self.tracer.enabled = traced
        c0 = host.busy_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.request(len(self.ops)), self.tracer.span(span):
                result = fn()
            failure = None
        except Exception as e:  # noqa: BLE001 - a failed request is counted
            result, failure = None, f"{kind}: {type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        op = Op(kind, cycle, wall, host.busy_cpu_s() - c0, traced, items,
                failure)
        self.tracer.enabled = self.trace
        self.ops.append(op)
        return op, result

    def verdict(self, op: Op, failures) -> None:
        failures = [f for f in failures if f]
        if failures and op.failure is None:
            op.failure = "; ".join(failures)

    def end_to_end(self, index_ratio: float) -> dict:
        timed = [o for o in self.ops if not o.traced]
        items = sum(o.items for o in timed)
        self.detail.update({
            "setup_wall_s": self.setup_wall_s,
            "op_p50_ms": statistics.median(per_cycle(timed, "wall")) * 1e3,
            "items_per_s": items / sum(o.wall for o in timed),
        })
        return {
            "setup_s": self.setup_s,
            "items_per_cpu_s": items / sum(o.cpu for o in timed),
            "index_bytes_per_content_byte": index_ratio,
        }

    def trace_layer(self) -> None:
        """Fill the span-derived per-layer metrics."""
        tr = self.tracer
        self.layer.update({
            "session.get_spark_s": tr.median_self("session.get_spark"),
            "sources.ingest_s": tr.median_self("sources.ingest"),
            "analysis.term_stats_s": tr.median_self("analysis.term_stats"),
            "index_build.doc_stats_s": tr.median_self("index_build.doc_stats"),
            "index_build.term_df_s": tr.median_self("index_build.term_df"),
            "index_build.overhead_s": tr.median_self("index_build.index"),
            "postings.build_s": tr.median_self("postings.build"),
            "wand.batch_s": tr.median_self("wand.batch"),
            "maintenance.upsert_s": tr.median_self("maintenance.upsert"),
            "maintenance.delete_s": tr.median_self("maintenance.delete"),
            "maintenance.compact_s": tr.median_self("maintenance.compact"),
            "trace.spans": float(len(tr.spans)),
        })
        if self.layer["analysis.term_stats_s"] > 0:
            self.layer["analysis.tokens_per_s"] = (
                self.layer["analysis.tokens"]
                / self.layer["analysis.term_stats_s"])
        main = [o for o in self.ops if o.kind not in ("update", "probe")]
        traced = per_cycle((o for o in main if o.traced), "cpu")
        plain = per_cycle((o for o in main if not o.traced), "cpu")
        if traced and plain:
            self.layer["trace.op_cpu_ms"] = statistics.median(traced) * 1e3
            self.layer["trace.overhead_cpu_ms"] = (
                statistics.median(traced) - statistics.median(plain)) * 1e3


def write_corpus(run: Run, n_docs: int, seed: int, name: str) -> str:
    path = run.path(name)
    generate_corpus(run.spark, n_docs, seed=seed).write.parquet(path)
    return path


def build_index(run: Run, corpus_path: str, index_dir: str):
    """The timed build: sha256-guarded ingest, then the full index build."""
    tr = run.tracer
    with tr.span("sources.ingest"):
        docs = ingest(run.spark.read.parquet(corpus_path))
    engine = ComboSearchEngine(run.spark, CONFIG, index_dir)
    with tr.span("index_build.index") as span:
        engine.index(docs, lang_col=LANG_COL)
    if span is not None:
        layers.add_stage_spans(tr, span, index_dir)
    return engine


def sample_docs(run: Run, corpus_path: str) -> list[tuple[str, str]]:
    """A fixed doc sample (first docs by path): (content, lang)."""
    rows = (run.spark.read.parquet(corpus_path).orderBy("path")
            .limit(run.sizes.sample_docs).select("content", LANG_COL)
            .collect())
    return [(r["content"], r[LANG_COL]) for r in rows]


def build_layer_counts(run: Run, engine, corpus_path: str) -> None:
    if not run.trace:
        return
    run.layer.update(layers.build_counts(engine.idx))
    run.layer["analysis.dedup_keep_frac"] = layers.dedup_keep_frac(
        sample_docs(run, corpus_path), CONFIG)


def timed_region_done(run: Run) -> None:
    """Host figures for the timed region, read once it ends. Hypervisor
    steal is what moves a run's timings most: on a shared 4-vCPU VM, build
    walls of one corpus ranged 7.1-13.9 s as steal during the build ranged
    0.1-8.3 s."""
    run.detail["peak_rss_mb"] = host.peak_rss_mb(run.jvm_pid)
    run.detail["timed_steal_s"] = host.steal_s() - run.steal_at_setup


def build_combo(run: Run) -> dict:
    """Timed: ingest + index of a fresh corpus into a fresh dir. No query
    code runs."""
    s = run.sizes
    corpus = write_corpus(run, s.docs, run.seed, "corpus")
    content = layers.content_bytes(run.spark.read.parquet(corpus))
    # a throwaway build of a half-size corpus: at 600 files, the first
    # full-size build after it took as much CPU (32-36 s) as after a
    # full-size warm-up build, and the warm-up is cheaper; after a
    # quarter-size one it took 44 s, after a 20-file one about 45% more
    # than later builds
    warm = write_corpus(run, s.docs // 2, run.seed + 1, "warm-corpus")
    run.tracer.enabled = False  # the cold build must not enter the medians
    build_index(run, warm, run.path("warm-index"))
    shutil.rmtree(run.path("warm-index"), ignore_errors=True)
    run.tracer.enabled = run.trace
    run.setup_done()

    kept = None
    i = 0
    while run.more(i):
        index_dir = run.path(f"index-{i}")
        op, engine = run.timed(
            "build", "build", lambda: build_index(run, corpus, index_dir),
            cycle=i, items=s.docs, traced=run.trace and i % 2 == 1)
        if engine is not None:
            run.verdict(op, checks.check_index(engine.idx, s.docs))
            if kept is None:
                kept = engine
            else:
                shutil.rmtree(index_dir, ignore_errors=True)
        i += 1
    timed_region_done(run)
    run.layer["sources.content_bytes"] = float(content)
    if kept is not None:
        build_layer_counts(run, kept, corpus)
    run.detail.update({"builds": sum(1 for o in run.ops if not o.traced),
                       "docs": s.docs})
    ratio = layers.index_bytes(kept.idx) / content if kept else float("nan")
    e2e = run.end_to_end(ratio)
    if run.trace and kept is not None:
        maintenance_round(run, kept, corpus)
    return e2e


def search_mixed(run: Run) -> dict:
    """Timed: a seeded closed-loop stream of single searches, single
    phrases and 32-query search batches over a prebuilt index."""
    corpus = write_corpus(run, SEARCH_DOCS, run.seed, "corpus")
    engine = build_index(run, corpus, run.path("index"))
    idx = engine.idx
    rare = [r["term"] for r in idx.term_df().filter(F.col("df") <= 2)
            .select("term").collect()]
    stream = QueryStream(run.seed, rare,
                         [t for t, _ in sample_docs(run, corpus)], CONFIG)

    def draw(kind):
        if kind == "search":
            return [stream.search()]
        if kind == "batch":
            return [stream.search() for _ in range(BATCH)]
        return [stream.phrase()]

    def ask(kind, texts):
        if kind == "phrase":
            return engine.phrase(texts[0]).collect()
        return engine.search(list(enumerate(texts)), k=K).collect()

    # one discarded cycle: CPU per cycle fell from about 15 s to 10 s and 9 s
    # over the first three cycles in a process, then stayed at 7.5-10 s
    for kind in CYCLE:
        ask(kind, draw(kind))
    content = layers.content_bytes(run.spark.read.parquet(corpus))
    run.setup_done()

    spans = {"search": "wand.search", "batch": "wand.batch",
             "phrase": "phrase.match"}
    asked = []  # (op, kind, texts, rows)
    cycle = 0
    while run.more(cycle):
        for kind in CYCLE:
            texts = draw(kind)
            op, rows = run.timed(
                kind, spans[kind], lambda: ask(kind, texts), cycle=cycle,
                items=len(texts), traced=run.trace and cycle % 2 == 1)
            asked.append((op, kind, texts, rows))
        cycle += 1
    timed_region_done(run)

    answers = []  # (op, text, answer) in request order
    for op, kind, texts, rows in asked:
        if rows is None:
            continue
        if kind == "phrase":
            answers.append((op, texts[0], {(int(r["doc_id"]),
                                            int(r["n_matches"]))
                                           for r in rows}))
            continue
        by_q = {i: [] for i in range(len(texts))}
        for r in rows:
            by_q[int(r["query_id"])].append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
        answers.extend((op, texts[i], by_q[i]) for i in range(len(texts)))
    searched = [(op, t, a) for op, t, a in answers if isinstance(a, list)]
    phrased = [(op, t, a) for op, t, a in answers if isinstance(a, set)]
    verdicts = checks.check_search(
        run.spark, idx, [(t, a) for _, t, a in searched], K)
    verdicts += checks.check_phrases(idx, [(t, a) for _, t, a in phrased])
    for (op, _, _), why in zip(searched + phrased, verdicts):
        run.verdict(op, [why])

    run.layer["sources.content_bytes"] = float(content)
    build_layer_counts(run, engine, corpus)
    if run.trace:
        texts = [t for _, t, _ in searched]
        per_q = layers.wand_postings(idx, texts)
        hits = sum(len(a) for _, _, a in searched)
        run.layer["wand.postings_per_query"] = sum(per_q) / len(per_q)
        run.layer["wand.postings_per_result"] = sum(per_q) / max(hits, 1)
        if phrased:
            pos = layers.phrase_pos_bytes(idx, [t for _, t, _ in phrased])
            run.layer["phrase.pos_bytes_per_query"] = sum(pos) / len(pos)
            run.layer["phrase.matches_per_query"] = (
                sum(len(a) for _, _, a in phrased) / len(phrased))

    def p50(kind):
        walls = [o.wall for o in run.ops if o.kind == kind and not o.traced]
        return statistics.median(walls) * 1e3 if walls else float("nan")

    run.detail.update({
        "search_p50_ms": p50("search"), "phrase_p50_ms": p50("phrase"),
        "search_batch_qps": BATCH / p50("batch") * 1e3,
        "requests": {k: sum(1 for o in run.ops if o.kind == k)
                     for k in spans},
    })
    return run.end_to_end(layers.index_bytes(idx) / content)


def maintenance_round(run: Run, engine, corpus: str) -> None:
    """One edit round on a built index: upsert ~1% of docs with replacement
    content, tombstone ~0.5%, incremental compact, then a fixed probe of
    single searches against the freshly published generation. Runs in
    traced runs only, after the timed region, to measure the maintenance
    layer; its answers are checked like any other."""
    s = run.sizes
    spark = run.spark
    docs = ingest(spark.read.parquet(corpus))
    sizes = {int(r["doc_id"]): int(r["n"]) for r in docs.select(
        "doc_id", F.octet_length("content").alias("n")).collect()}
    rng = random.Random(run.seed)
    ups = rng.sample(sorted(sizes), max(1, round(s.docs * UPSERT_FRAC)))
    dels = rng.sample(sorted(set(sizes) - set(ups)),
                      max(1, round(s.docs * DELETE_FRAC)))
    new = (docs.filter(F.col("doc_id").isin(ups))
           .withColumn("content", F.concat_ws(" ", "content", F.lit(MARKER))))
    new_rows = new.select("content", LANG_COL).collect()
    run.layer["maintenance.affected_term_frac"] = layers.affected_terms(
        engine.idx, ups + dels,
        [(r["content"], r[LANG_COL]) for r in new_rows])
    old_tables = set((engine.idx.meta.tables or {}).values())

    def stage_and_compact():
        with run.tracer.span("maintenance.upsert"):
            engine.upsert(new, lang_col=LANG_COL)
        with run.tracer.span("maintenance.delete"):
            engine.delete(dels)
        with run.tracer.span("maintenance.compact"):
            engine.compact()

    op, _ = run.timed("update", "update", stage_and_compact, cycle=-1,
                      items=len(ups) + len(dels), traced=True)
    run.verdict(op, checks.check_index(engine.idx, len(sizes) - len(dels)))
    user_bytes = (sum(sizes[d] for d in dels)
                  + sum(len(r["content"].encode()) for r in new_rows))
    new_dirs = [d for d in layers.table_dirs(engine.idx)
                if os.path.basename(d) not in old_tables]
    run.layer["maintenance.bytes_rewritten_per_user_byte"] = (
        sum(layers.dir_bytes(d) for d in new_dirs) / user_bytes)

    probes = []
    for q in PROBES:
        pop, rows = run.timed(
            "probe", "wand.search", lambda: engine.search(q, k=K).collect(),
            cycle=-1, items=0, traced=True)
        if rows is not None:
            probes.append((pop, q, [(int(r["rank"]), int(r["doc_id"]),
                                     float(r["score"])) for r in rows]))
    verdicts = checks.check_search(
        spark, engine.idx, [(q, a) for _, q, a in probes], K)
    for (pop, _, _), why in zip(probes, verdicts):
        run.verdict(pop, [why])
    run.detail.update({
        "update_docs_per_s": (len(ups) + len(dels)) / op.wall,
        "update_read_p50_ms": statistics.median(
            o.wall for o in run.ops if o.kind == "probe") * 1e3,
    })


WORKLOADS = {
    "build-combo": build_combo,
    "search-mixed": search_mixed,
}
