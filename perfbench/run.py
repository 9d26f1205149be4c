"""Repository benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload search-mixed --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records host state, the Spark settings
and workload-specific figures. Workloads are described in
``perfbench/README.md``.

Everything the run writes lives under ``.perfbench_work/`` (deleted on
exit) and, for traced runs, the span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

import host

STARTED = time.perf_counter()
STARTED_CPU = host.busy_cpu_s()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: driver heap for local mode; the package default (64g) assumes a large
#: host, and the benchmark's indexes are a few MB
DRIVER_MEM = "2g"


def open_session(work_dir: str, tracer):
    """SparkSession with every scratch path under ``work_dir``."""
    from elasticsearch_analysis_combo_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf={
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def close_session(spark) -> None:
    """Stop Spark and wait until the driver JVM and every Python worker it
    forked have exited: the JVM leaves when its stdin closes, its worker
    daemons when the JVM does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    tree = host.tree_pids(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait(timeout=30)
    if not host.wait_gone(tree, timeout_s=30):
        for pid in filter(host.alive, tree):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        host.wait_gone(tree, timeout_s=10)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build-combo", "search-mixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import elasticsearch_analysis_combo_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from "
              f"{ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads
    from spans import Tracer

    work_dir = os.path.join(ROOT, ".perfbench_work",
                            f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    tracer = Tracer(enabled=bool(args.trace))
    state = {"load1_before": host.load1(),
             "other_spark_jvms_before": host.other_spark_jvms()}
    spark = None
    try:
        spark = open_session(work_dir, tracer)
        own = jvm_pid()
        run = workloads.Run(spark=spark, tracer=tracer, work_dir=work_dir,
                            seed=args.seed, seconds=args.seconds,
                            started=STARTED, started_cpu=STARTED_CPU,
                            trace=bool(args.trace),
                            jvm_pid=own)
        e2e = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.trace_layer()
        state["other_spark_jvms_after"] = host.other_spark_jvms(own)
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            close_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    state["load1_after"] = host.load1()

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed})
        metrics = {n: run.layer.get(n, 0.0) for n in workloads.PER_LAYER}
    else:
        metrics = e2e
    failed = [o.failure for o in run.ops if o.failure]
    for f in failed[:20]:
        print(f"perfbench: failed {f}", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "host": state,
        "env": {k: os.environ[k] for k in
                ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
        "setup_s": run.setup_s, "fail_frac": len(failed) / len(run.ops),
        "detail": run.detail,
    }))
    print(json.dumps({
        "correct": not failed and all(math.isfinite(v)
                                      for v in metrics.values()),
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {n: {"value": v, "unit": UNITS[n]}
                    for n, v in metrics.items()},
    }))
    return 0


#: unit of every metric, as BENCHMARK.json declares it
UNITS = {
    "setup_s": "s", "items_per_cpu_s": "1/s",
    "index_bytes_per_content_byte": "ratio",
    "session.get_spark_s": "s", "sources.ingest_s": "s",
    "sources.content_bytes": "bytes", "analysis.term_stats_s": "s",
    "analysis.tokens": "count", "analysis.tokens_per_s": "1/s",
    "analysis.term_rows": "count", "analysis.dedup_keep_frac": "ratio",
    "index_build.doc_stats_s": "s", "index_build.term_df_s": "s",
    "index_build.overhead_s": "s", "postings.build_s": "s",
    "postings.rows": "count", "postings.blocks": "count",
    "postings.hot_terms": "count", "postings.bytes": "bytes",
    "codec.bytes_per_posting": "bytes", "wand.postings_per_query": "count",
    "wand.postings_per_result": "ratio", "wand.batch_s": "s",
    "phrase.pos_bytes_per_query": "bytes",
    "phrase.matches_per_query": "count", "maintenance.upsert_s": "s",
    "maintenance.delete_s": "s", "maintenance.compact_s": "s",
    "maintenance.affected_term_frac": "ratio",
    "maintenance.bytes_rewritten_per_user_byte": "ratio",
    "trace.op_cpu_ms": "ms", "trace.overhead_cpu_ms": "ms",
    "trace.spans": "count",
}


if __name__ == "__main__":
    sys.exit(main())
