"""Checkpoint / lineage / metrics (SURVEY.md §2 B6, north_rule "resumable
from checkpoint with lineage + metrics").

Every pipeline stage writes its output as a parquet table plus a manifest
JSON keyed by (stage name, input fingerprint). Re-running the pipeline skips
stages whose manifest matches — the Iceberg-snapshot pattern, implemented on
plain parquet for the sandbox (atomicity via write-to-temp + rename).

Lineage recorded per stage: input fingerprint, row count, wall time, a
content checksum (xor of xxhash64 over a stage-chosen key column set) and
any stage-chosen aggregates, all observed on the write job itself
(``DataFrame.observe``): no re-scan, and equal to one of the persisted table.
The stale manifest goes before the data swap and the new one lands via
``os.replace``, so a crash never leaves a manifest over foreign data.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts) -> str:
    """Stable fingerprint over stage params (config dicts, paths, numbers)."""
    import hashlib

    blob = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.metrics_path = os.path.join(base_dir, "metrics.jsonl")

    def _paths(self, stage: str):
        return (
            os.path.join(self.base_dir, stage),
            os.path.join(self.base_dir, f"{stage}.manifest.json"),
        )

    def has(self, stage: str, fp: str, fields=()) -> bool:
        """Manifest matches ``fp`` and carries ``rows``, ``checksum`` and
        every name in ``fields`` (an older format is a miss)."""
        try:
            man = self.manifest(stage)
        except (OSError, ValueError):
            return False
        return man.get("fingerprint") == fp and all(
            k in man for k in ("rows", "checksum", *fields)
        )

    def load(self, stage: str) -> DataFrame:
        data, _ = self._paths(stage)
        return self.spark.read.parquet(data)

    def manifest(self, stage: str) -> dict:
        _, manifest = self._paths(stage)
        with open(manifest) as f:
            return json.load(f)

    def run(
        self,
        stage: str,
        fp: str,
        builder,
        checksum_cols: list[str],
        observed: dict[str, Column] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage. ``builder()`` returns the stage's
        DataFrame; output is persisted with lineage before being returned.
        ``observed`` aggregates land in the manifest next to ``rows``."""
        observed = observed or {}
        if self.has(stage, fp, observed):
            self._log({"stage": stage, "event": "resume_hit", "fingerprint": fp,
                       "ts": time.time()})
            return self.load(stage)
        data_dir, manifest_path = self._paths(stage)
        tmp_dir = data_dir + f".tmp-{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        df = builder()
        obs = Observation()
        cols = ", ".join(f"`{c}`" for c in checksum_cols)
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.expr(f"bit_xor(xxhash64({cols}))").alias("checksum"),
            *(c.alias(name) for name, c in observed.items()),
        ).write.mode("overwrite").parquet(tmp_dir)
        wall = time.time() - t0
        man = {"stage": stage, "fingerprint": fp, **obs.get,
               "wall_sec": wall, "created_at": time.time()}
        man["checksum"] = int(man["checksum"] or 0)
        if os.path.exists(manifest_path):
            os.remove(manifest_path)
        if os.path.exists(data_dir):
            shutil.rmtree(data_dir)
        os.rename(tmp_dir, data_dir)
        self._write_manifest(manifest_path, man)
        self._log({**man, "event": "built"})
        # the known schema skips the footer-inference job (reads back nullable
        # either way, so it equals the schema load() infers)
        return self.spark.read.schema(df.schema).parquet(data_dir)

    @staticmethod
    def _write_manifest(path: str, man: dict) -> None:
        with open(path + ".tmp", "w") as f:
            json.dump(man, f, indent=1)
        os.replace(path + ".tmp", path)

    def _log(self, rec: dict) -> None:
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")
