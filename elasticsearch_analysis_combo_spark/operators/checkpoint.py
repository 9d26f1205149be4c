"""Checkpoint / lineage / metrics (SURVEY.md §2 B6, north_rule "resumable
from checkpoint with lineage + metrics").

Every pipeline stage writes its output once, as a parquet table in a dir
named by the stage and its input fingerprint (``<stage>-<fp>``), plus a
manifest JSON (``<stage>.manifest.json``) naming that fingerprint.
Re-running the pipeline skips stages whose manifest matches and whose dir
is still there — the Iceberg-snapshot pattern, implemented on plain parquet
for the sandbox (a table lands whole: write-to-temp + rename).

No run removes or rewrites a stage dir: a published generation's meta.json
names these dirs, so a reader holding it keeps valid paths, and only the
publisher's GC deletes dirs. A manifest whose dir GC removed is a miss. A
stage that starts over drops its manifest first, so a manifest only names
the stage's last completed run; the new one lands last (``os.replace``).

Lineage recorded per stage: input fingerprint, row count, wall time, a
content checksum (xor of xxhash64 over a stage-chosen key column set) and
any stage-chosen aggregates, all observed on the write job itself
(``DataFrame.observe``): no re-scan, and equal to one of the persisted table.
"""

from __future__ import annotations

import json
import os
import re
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

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, f"{stage}.manifest.json")

    def _dir(self, stage: str, fp: str) -> str:
        return os.path.join(self.base_dir, f"{stage}-{fp}")

    def path(self, stage: str) -> str:
        """The dir of the table the stage's manifest names."""
        return self._dir(stage, self.manifest(stage)["fingerprint"])

    def has(self, stage: str, fp: str, fields=()) -> bool:
        """Manifest matches ``fp``, carries ``rows``, ``checksum`` and
        every name in ``fields`` (an older format is a miss), and its table
        dir is still there."""
        try:
            man = self.manifest(stage)
        except (OSError, ValueError):
            return False
        return (
            man.get("fingerprint") == fp
            and all(k in man for k in ("rows", "checksum", *fields))
            and os.path.isdir(self._dir(stage, fp))
        )

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.path(stage))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
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
        data_dir = self._dir(stage, fp)
        manifest_path = self._manifest_path(stage)
        if os.path.exists(manifest_path):
            os.remove(manifest_path)
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
        if os.path.isdir(data_dir):
            # this fingerprint's table already landed whole (by rename) and
            # a kept generation may name it: it stays, the new copy goes
            shutil.rmtree(tmp_dir)
        else:
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


def remove_stage_dirs(base_dir: str, stages, keep: set[str]) -> None:
    """Delete every table dir of ``stages`` under ``base_dir`` whose name
    is not in ``keep`` (a publisher's GC); their manifests then read as
    misses."""
    named = re.compile(rf"(?:{'|'.join(stages)})-[0-9a-f]{{16}}")
    for entry in os.listdir(base_dir):
        if named.fullmatch(entry) and entry not in keep:
            shutil.rmtree(os.path.join(base_dir, entry), ignore_errors=True)
