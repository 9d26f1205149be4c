"""SparkSession factory for this engine.

``get_spark`` only builds the session: it starts no thread and launches no
Spark job. Python workers are forked by PySpark's stock daemon the first
time a stage needs them.

Local-mode defaults match the sandbox (local[N], single JVM); on a real
cluster the same settings apply minus master/driver-memory, submitted via
``spark-submit --py-files`` (BASELINE.json north_rule).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _package_root() -> str:
    """Directory containing the package. Python workers unpickle UDFs that
    reference package modules, so it must be on their ``PYTHONPATH``."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "combo_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # make the package importable in the Python workers regardless of the
    # caller's cwd: the JVM (and the python daemon it spawns) inherit this
    # env. Must be set before the gateway launches.
    root = _package_root()
    pp = os.environ.get("PYTHONPATH", "")
    if root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{root}{os.pathsep}{pp}" if pp else root
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large `content` strings: cap Arrow batch rows so a batch stays
        # comfortably in worker memory even at 100TB-scale file sizes. The
        # value also sets the `term_stats` batch boundaries, and with them
        # the row order and bytes of the written table
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # local mode: driver memory is the ONLY execution-memory pool and is
        # split across all concurrent tasks — undersizing it makes wide
        # (local[32]) runs spill in sort stages and anti-scale
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
