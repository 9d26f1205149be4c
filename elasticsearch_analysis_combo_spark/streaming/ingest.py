"""Structured-Streaming resumable corpus ingest + incremental indexing.

The reference has no streaming operators (ES indexing is request/response,
SURVEY.md §1.4); this module is the engine's optional resumable-ingest
convenience (SURVEY.md §7): new corpus files landing in a directory are
analyzed exactly once (Spark's file-source checkpoint keeps the offset log),
each micro-batch appends a *generation* of per-doc term stats, and
:func:`publish_compacted` folds all generations (last writer wins per doc)
into a whole index — postings, term_stats, doc_stats and term_df, derived
and published by :func:`~..plans.index_build.publish_stats`, the code the
batch build and its compaction use — the log-structured-merge story (B5)
applied across time instead of across salt shards.

Exactly-once: the term-stats append and the offset commit are tied by
foreachBatch's epoch id (re-delivered batches overwrite their own epoch
partition rather than double-appending).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.operators.checkpoint import fingerprint
from elasticsearch_analysis_combo_spark.plans.index_build import (
    InvertedIndex,
    _config_dict,
    publish_stats,
)


def stream_corpus(
    spark: SparkSession,
    input_dir: str,
    schema,
    glob: str | None = None,
) -> DataFrame:
    """File-source stream over a corpus drop directory."""
    reader = spark.readStream.schema(schema).format("parquet")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(input_dir)


def start_incremental_ingest(
    stream: DataFrame,
    config: ComboConfig,
    index_dir: str,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    lang_col: str | None = None,
    available_now: bool = True,
):
    """Start the ingest query: per micro-batch combo analysis -> per-doc
    term stats appended as generation ``gen=<epoch>``. Returns the
    StreamingQuery (caller awaits/stops)."""

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        stats = build_term_stats(
            batch_df, config, doc_id_col=doc_id_col,
            content_col=content_col, lang_col=lang_col,
        ).withColumn("gen", F.lit(int(epoch_id)))
        # idempotent per epoch: replayed batches replace their partition
        (
            stats.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("gen")
            .parquet(f"{index_dir}/gen_stats")
        )

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{index_dir}/_stream_ckpt")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def publish_compacted(
    spark: SparkSession,
    config: ComboConfig,
    index_dir: str,
    k1: float = 1.2,
    b: float = 0.75,
    block_size: int = 128,
    salt_shards: int = 8,
    with_positions: bool = True,
) -> InvertedIndex:
    """Fold every ingested generation into one servable index at
    ``index_dir`` and publish it atomically: the same four tables
    build_index produces (postings, term_stats, doc_stats and term_df),
    derived and published by
    :func:`~..plans.index_build.publish_stats` and queried and maintained
    through the same InvertedIndex handle and engine. The folded stats are
    fingerprinted by the ``gen_stats`` file listing, so a rerun with no new
    files publishes nothing new. The publish is a single meta.json swap,
    so readers holding the old handle keep their own generation. Returns
    the fresh InvertedIndex handle.

    Last-writer-wins across generations: a doc re-ingested in a later gen
    (an updated file) REPLACES all of its earlier term rows — only the
    max-gen rows per doc_id survive, so df/cf are never inflated by
    superseded versions. (foreachBatch's epoch overwrite already guards
    same-epoch replays; this guards cross-epoch updates.)"""
    gen_dir = os.path.join(index_dir, "gen_stats")
    files = sorted(
        os.path.relpath(os.path.join(root, f), gen_dir)
        for root, _, names in os.walk(gen_dir) for f in names
    )
    stats = spark.read.parquet(gen_dir)
    w = Window.partitionBy("doc_id")
    stats = (
        stats.withColumn("_max_gen", F.max("gen").over(w))
        .filter(F.col("gen") == F.col("_max_gen"))
        .drop("_max_gen", "gen")
    )
    return publish_stats(
        spark, index_dir, stats, fingerprint("stream", files),
        _config_dict(config), k1=k1, b=b, block_size=block_size,
        salt_shards=salt_shards, with_positions=with_positions,
    )
