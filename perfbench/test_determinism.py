"""Determinism self-check of the benchmark's counts.

Two traced tiny-corpus runs of ``build-combo`` with the same seed must
report identical work counts; a count that drifts between identical runs
cannot back a claim. Run from the repository root:

    python3 -m pytest perfbench/test_determinism.py -q
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

pytest.importorskip("pyspark")

import run as bench  # noqa: E402
from spans import Tracer  # noqa: E402

sys.path.insert(0, bench.ROOT)
import workloads  # noqa: E402

TINY = workloads.Sizes(docs=40, sample_docs=8)
COUNTS = (
    "analysis.term_rows", "postings.blocks", "postings.bytes",
    "maintenance.affected_term_frac", "analysis.dedup_keep_frac",
)


@pytest.fixture(scope="module")
def session():
    work = os.path.join(bench.ROOT, ".perfbench_work", f"test-{os.getpid()}")
    os.makedirs(work)
    spark = bench.open_session(work, Tracer(enabled=False))
    try:
        yield spark, work
    finally:
        bench.close_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def traced_build_combo(spark, work: str, name: str, seed: int) -> dict:
    run_dir = os.path.join(work, name)
    os.makedirs(run_dir)
    run = workloads.Run(spark=spark, tracer=Tracer(enabled=True),
                        work_dir=run_dir, seed=seed, seconds=0.0,
                        started=0.0, started_cpu=0.0, trace=True,
                        jvm_pid=bench.jvm_pid(),
                        sizes=TINY)
    e2e = workloads.build_combo(run)
    assert not [o.failure for o in run.ops if o.failure]
    counts = {k: run.layer[k] for k in COUNTS}
    counts["index_bytes_per_content_byte"] = e2e[
        "index_bytes_per_content_byte"]
    return counts


def test_same_seed_same_counts(session):
    spark, work = session
    first = traced_build_combo(spark, work, "a", seed=7)
    second = traced_build_combo(spark, work, "b", seed=7)
    assert all(v > 0 for v in first.values()), first
    assert first == second
