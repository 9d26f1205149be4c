"""Checkpoint / lineage / metrics (SURVEY.md §2 B6, north_rule "resumable
from checkpoint with lineage + metrics").

Every pipeline stage writes its output once, as a parquet table in a dir
named by the stage and its input fingerprint (``<stage>-<fp>``). The table
lands whole (write to a temp dir, then rename), so the dir is the stage's
checkpoint: a run whose ``<stage>-<fp>`` dir exists resumes from it — the
Iceberg-snapshot pattern, implemented on plain parquet for the sandbox.

No run removes or rewrites a stage dir: a published generation's meta.json
names these dirs, so a reader holding it keeps valid paths, and only the
publisher's GC (:func:`remove_stage_dirs`) deletes dirs. GC renames a dir
out of its stage name before deleting it, so no interrupted delete leaves a
partial table under a name a resume would take.

Lineage lives in ``metrics.jsonl``: one ``built`` record per stage run
(input fingerprint, row count, a content checksum — xor of xxhash64 over a
stage-chosen key column set — wall time and end time), observed on the
write job itself (``DataFrame.observe``): no re-scan, and equal to one of
the persisted table. A resumed stage logs a ``resume_hit``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts) -> str:
    """Stable fingerprint over stage params (config dicts, paths, numbers)."""
    import hashlib

    blob = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def stage_dir(stage: str, fp: str) -> str:
    """The name of the dir holding ``stage``'s table for fingerprint ``fp``."""
    return f"{stage}-{fp}"


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.metrics_path = os.path.join(base_dir, "metrics.jsonl")

    def run(
        self, stage: str, fp: str, builder, checksum_cols: list[str]
    ) -> DataFrame:
        """Run (or resume) one stage. ``builder()`` returns the stage's
        DataFrame; output is persisted with lineage before being returned."""
        data_dir = os.path.join(self.base_dir, stage_dir(stage, fp))
        if os.path.isdir(data_dir):
            self._log({"stage": stage, "event": "resume_hit", "fingerprint": fp,
                       "ts": time.time()})
            return self.spark.read.parquet(data_dir)
        tmp_dir = data_dir + f".tmp-{uuid.uuid4().hex[:8]}"
        t0 = time.time()
        df = builder()
        obs = Observation()
        cols = ", ".join(f"`{c}`" for c in checksum_cols)
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.expr(f"bit_xor(xxhash64({cols}))").alias("checksum"),
        ).write.mode("overwrite").parquet(tmp_dir)
        wall = time.time() - t0
        os.rename(tmp_dir, data_dir)
        lineage = obs.get
        self._log({"stage": stage, "event": "built", "fingerprint": fp,
                   "rows": lineage["rows"],
                   "checksum": int(lineage["checksum"] or 0),
                   "wall_sec": wall, "created_at": time.time()})
        # the known schema skips the footer-inference job (reads back
        # nullable either way, so it equals the schema a resume infers)
        return self.spark.read.schema(df.schema).parquet(data_dir)

    def _log(self, rec: dict) -> None:
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(rec) + "\n")


def remove_stage_dirs(base_dir: str, stages, keep: set[str]) -> None:
    """A publisher's GC: delete every table dir of ``stages`` under
    ``base_dir`` whose name is not in ``keep``, and every temp copy a
    crashed write, swap or GC left (``<stage>-<fp>.tmp-*``,
    ``meta.json.tmp-*``). A table dir is renamed to a temp name before it
    is deleted: an interrupted delete leaves a temp copy, never a partial
    table under its stage name."""
    table = rf"(?:{'|'.join(stages)})-[0-9a-f]{{16}}"
    named = re.compile(table)
    temp = re.compile(rf"(?:{table}|meta\.json)\.tmp-[0-9a-f]+")
    for entry in os.listdir(base_dir):
        path = os.path.join(base_dir, entry)
        if named.fullmatch(entry) and entry not in keep:
            trash = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
            os.rename(path, trash)
            shutil.rmtree(trash, ignore_errors=True)
        elif temp.fullmatch(entry):
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
