"""Batch-index maintenance: staged document delete / upsert, folded in by
one compaction.

The reference delegates index mutation to its Lucene host (deletes are
tombstones folded in at segment merge; reference
``AnalysisComboPlugin.java:37-42`` registers analysis only). This module is
the engine's equivalent story for the BATCH index (the streaming path
already has last-writer-wins compaction, streaming/ingest.py):

* :func:`delete_docs` appends doc-id tombstones under the index dir —
  cheap, append-only, no data rewritten.
* :func:`upsert_docs` analyzes replacement/new documents into a pending
  generation (update = delete + add, like Lucene's updateDocument).
* :func:`compact` folds tombstones + pending generations into the
  per-doc term stats (one anti-join + union; the last staged operation
  per doc wins) and hands the edited stats to
  :func:`~..plans.index_build.publish_stats` as the new generation's
  ``term_stats`` stage — the one derive-and-publish path
  :func:`~..plans.index_build.build_index` and the streaming fold use too.
  Its stages are fingerprinted by the parent generation's ``term_stats``
  dir and the pending operations' sequence markers, so a crashed compact
  resumes, and one rerun after its publish re-applies the (idempotent)
  edits to the new generation.

Every posting row is re-encoded under the new corpus ``avgdl`` and the
new generation's doc ordinals, so a compacted index holds the same rows as
a fresh build over the edited corpus, posting bytes included (pinned by
tests/test_maintenance.py).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.operators.checkpoint import fingerprint
from elasticsearch_analysis_combo_spark.plans.index_build import (
    IndexMeta,
    InvertedIndex,
    publish_stats,
)

_TOMBSTONE_SCHEMA = "doc_id long"


def _pending_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "pending")


def _alloc_seq(index_dir: str) -> int:
    """Allocate the next pending-operation sequence number (shared between
    deletes and upserts, so compact can order them per doc: the LAST staged
    operation wins). Marker files, no Spark job; single staging writer
    assumed (concurrent writers need an external sequencer)."""
    d = os.path.join(_pending_dir(index_dir), "ops")
    os.makedirs(d, exist_ok=True)
    seqs = [int(e.split(".", 1)[0]) for e in os.listdir(d) if "." in e]
    seq = (max(seqs) + 1) if seqs else 0
    open(os.path.join(d, f"{seq}.{uuid.uuid4().hex[:8]}"), "w").close()
    return seq


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame | list[int]
) -> None:
    """Record tombstones for ``doc_ids``. Append-only; takes effect at the
    next :func:`compact` (queries served before that still see the docs,
    exactly like Lucene deletes before a segment merge). Ordered against
    upserts of the same doc by staging sequence — deleting after
    re-upserting really deletes."""
    if not isinstance(doc_ids, DataFrame):
        doc_ids = tiny_df(spark,
            [(int(d),) for d in doc_ids], _TOMBSTONE_SCHEMA
        )
    seq = _alloc_seq(index_dir)
    (
        doc_ids.select(F.col("doc_id").cast("long"))
        .withColumn("seq", F.lit(seq))
        .write.mode("append")
        .parquet(os.path.join(_pending_dir(index_dir), "tombstones"))
    )


def upsert_docs(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    lang_col: str | None = None,
) -> None:
    """Stage new or replacement documents (update = delete + add). Each
    call analyzes its batch with the INDEX's recorded analyzer config and
    appends a pending stats generation; the LAST staged operation per
    doc_id (upsert or delete) wins at compact time. The batch's doc ids
    are recorded separately from its analyzed rows, so replacing a doc
    with content that analyzes to zero tokens correctly blanks it."""
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
    from elasticsearch_analysis_combo_spark.query.wand import config_from_meta

    meta = IndexMeta.load(index_dir)
    config = config_from_meta(meta.config)
    seq = _alloc_seq(index_dir)
    stats = build_term_stats(
        docs, config, doc_id_col=doc_id_col,
        content_col=content_col, lang_col=lang_col,
    ).withColumn("gen", F.lit(seq))
    stats.write.mode("append").partitionBy("gen").parquet(
        os.path.join(_pending_dir(index_dir), "upserts")
    )
    (
        docs.select(F.col(doc_id_col).cast("long").alias("doc_id"))
        .distinct()
        .withColumn("gen", F.lit(seq))
        .write.mode("append")
        .parquet(os.path.join(_pending_dir(index_dir), "upsert_ids"))
    )


def _read_optional(spark: SparkSession, path: str) -> DataFrame | None:
    if not os.path.isdir(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def compact(spark: SparkSession, index_dir: str) -> InvertedIndex:
    """Fold pending tombstones + upserts into a new index generation and
    publish it atomically (:func:`~..plans.index_build.publish_stats`).
    Returns the fresh :class:`InvertedIndex`; no-op (returns the current
    handle) when nothing is pending."""
    idx = InvertedIndex(spark, index_dir)
    pend = _pending_dir(index_dir)
    tomb = _read_optional(spark, os.path.join(pend, "tombstones"))
    ups = _read_optional(spark, os.path.join(pend, "upserts"))
    up_ids = _read_optional(spark, os.path.join(pend, "upsert_ids"))
    if tomb is None and up_ids is None:
        return idx

    # per-doc LAST staged operation wins (tombstones and upserts share one
    # staging sequence): a delete staged after a re-upsert really deletes,
    # and an upsert staged after a delete resurrects with the new content
    tomb_last = (
        tomb.groupBy("doc_id").agg(F.max("seq").alias("_t"))
        if tomb is not None else None
    )
    up_last = (
        up_ids.groupBy("doc_id").agg(F.max("gen").alias("_g"))
        if up_ids is not None else None
    )
    if tomb_last is not None and up_last is not None:
        ops = tomb_last.join(up_last, "doc_id", "full_outer")
    elif tomb_last is not None:
        ops = tomb_last.withColumn("_g", F.lit(None).cast("long"))
    else:
        ops = up_last.withColumn("_t", F.lit(None).cast("long"))
    ops = ops.persist()

    old_stats = idx.term_stats()
    # every touched doc's OLD rows go away...
    new_stats = old_stats.join(ops.select("doc_id"), "doc_id", "left_anti")
    # ...and only docs whose last op is an upsert re-add their new rows.
    # An upserted doc whose content analyzed to zero tokens has a winner
    # row but no stats rows — it is correctly blanked, not resurrected.
    if ups is not None:
        winners = ops.filter(
            F.col("_g").isNotNull()
            & (F.col("_t").isNull() | (F.col("_g") > F.col("_t")))
        ).select("doc_id", F.col("_g").alias("gen"))
        up_stats = ups.join(winners, ["doc_id", "gen"]).drop("gen")
        new_stats = new_stats.unionByName(up_stats.select(*old_stats.columns))

    meta = idx.meta
    out = publish_stats(
        spark, index_dir, new_stats,
        fingerprint("compact", meta.tables["term_stats"],
                    sorted(os.listdir(os.path.join(pend, "ops")))),
        meta.config, k1=meta.k1, b=meta.b,
        block_size=meta.block_size, salt_shards=meta.salt_shards,
        with_positions=meta.with_positions,
    )
    # pending edits are folded in; retire them (rename, not delete, so a
    # crash between publish and retire only risks re-applying idempotent
    # edits, never losing them)
    if os.path.isdir(pend):
        os.replace(pend, pend + f".applied-{uuid.uuid4().hex[:8]}")
    ops.unpersist()
    return out
