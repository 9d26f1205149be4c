"""Spark-facing analysis API: vectorized pandas/Arrow UDFs over the combo
functional core (no per-row Python UDFs — everything crosses the JVM<->Python
boundary as Arrow batches).

Two surfaces:

* :func:`analyze` — the ``_analyze`` API equivalent (reference:
  TestIntegration.java:28-54, README.md:97-154): a token-struct array column
  with terms, offsets, absolute positions, and re-derived position
  increments. Debug/golden surface; small-scale.
* :func:`build_term_stats` — the index hot path (reference lifecycle EP1,
  ComboAnalyzer.java:207-271 feeding Lucene's IndexWriter): goes straight
  from content to per-(doc, term) aggregated rows via ``mapInPandas`` so the
  posting build ships ONE pre-aggregated shuffle instead of raw tokens
  (map-side combine done inside the Arrow batch). Every config takes the
  same per-batch numpy pipeline; a leaf without a fast (term, pos)
  variant is adapted from its Token output.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_batch,
    batch_term_positions,
    run_starts,
    to_pos_increments,
)
from elasticsearch_analysis_combo_spark.operators.codec import (
    encode_positions_rows,
)

TOKEN_STRUCT = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("pos_inc", T.IntegerType()),
        T.StructField("type", T.StringType()),
    ]
)

TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.IntegerType()),
        # per-row positions pre-packed as an independent delta+varint
        # stream (codec.encode_positions_rows) — the block wire format, so
        # the posting build concatenates bytes instead of re-encoding, and
        # the shuffle moves compressed bytes instead of int arrays. Decode
        # with codec.decode_positions_flat(pos_data, [tf]).
        T.StructField("pos_data", T.BinaryType()),
        T.StructField("dl", T.IntegerType()),
    ]
)


def analyze_tokens_udf(config: ComboConfig, with_lang: bool = False):
    """pandas UDF: content [, lang] -> array<token struct> (absolute pos +
    re-derived pos_inc per ComboTokenStream.java:108)."""

    def _rows(texts: pd.Series, langs: pd.Series | None) -> pd.Series:
        lang_vals = langs.tolist() if langs is not None else None
        docs = analyze_batch(texts.tolist(), config, lang_vals)
        out = []
        for toks in docs:
            incs = to_pos_increments(toks)
            out.append(
                [
                    {"term": t.term, "start": t.start, "end": t.end,
                     "pos": t.pos, "pos_inc": inc, "type": t.type}
                    for t, inc in zip(toks, incs)
                ]
            )
        return pd.Series(out)

    if with_lang:
        @F.pandas_udf(T.ArrayType(TOKEN_STRUCT))
        def udf(content: pd.Series, lang: pd.Series) -> pd.Series:
            return _rows(content, lang)
        return udf

    @F.pandas_udf(T.ArrayType(TOKEN_STRUCT))
    def udf(content: pd.Series) -> pd.Series:
        return _rows(content, None)
    return udf


def analyze(
    df: DataFrame,
    config: ComboConfig,
    content_col: str = "content",
    lang_col: str | None = None,
    output_col: str = "tokens",
) -> DataFrame:
    """Append a merged-token-array column (the `_analyze` view)."""
    udf = analyze_tokens_udf(config, with_lang=lang_col is not None)
    args = (F.col(content_col),) + (
        (F.col(lang_col),) if lang_col is not None else ()
    )
    return df.withColumn(output_col, udf(*args))


def analyze_response(
    df: DataFrame,
    config: ComboConfig,
    content_col: str = "content",
    lang_col: str | None = None,
) -> DataFrame:
    """The `_analyze` API response shape (reference EP2,
    TestIntegration.java:38-54 / README.md:97-154): one row per token with
    ES field names — token, start_offset, end_offset, type, position
    (absolute, starting at 1)."""
    t = analyze(df, config, content_col=content_col, lang_col=lang_col)
    keep = [c for c in df.columns]
    return t.select(*keep, F.explode("tokens").alias("_tok")).select(
        *keep,
        F.col("_tok.term").alias("token"),
        F.col("_tok.start").alias("start_offset"),
        F.col("_tok.end").alias("end_offset"),
        F.col("_tok.type").alias("type"),
        F.col("_tok.pos").alias("position"),
    )


def build_term_stats(
    df: DataFrame,
    config: ComboConfig,
    doc_id_col: str = "doc_id",
    content_col: str = "content",
    lang_col: str | None = None,
) -> DataFrame:
    """content -> (doc_id, term, tf, pos_data, dl), one row per (doc, term).

    This replaces explode+groupBy(term, doc): the per-document aggregation is
    computed inside the Arrow batch, so no shuffle is needed to obtain
    tf/positions — the downstream posting build shuffles already-aggregated
    rows only (SURVEY.md §2 B2, "one shuffle saved").

    One pipeline serves every config, with or without ``lang_col``: the
    sub-analyzers' (doc, term, pos) arrays come sorted (and deduplicated)
    from :func:`combo.batch_term_positions`; a boundary scan over
    (doc, term) then gives the rows, tf, and ``dl`` per doc (``bincount``).
    A leaf without a fast variant is adapted from its Token output. Rows
    come out sorted by (doc, term code) within a batch. Positions ship
    pre-packed (see TERM_STATS_SCHEMA) — the stats shuffle moves varint
    bytes, not int64 arrays."""
    cols = [doc_id_col, content_col] + ([lang_col] if lang_col else [])
    src = df.select(*cols)
    # small-FILE inputs arrive as 1-2 scan partitions; spread the analysis
    # (CPU-bound Python) across the executor cores. Metadata-only check —
    # no .rdd conversion (which forces plan materialization) and no
    # repartition for real multi-file corpora, which already scan wide.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < parallelism:
        src = src.repartition(parallelism)
    elif n_files == 0:
        # non-file source (createDataFrame / in-memory view): inputFiles()
        # is empty, so fall back to the actual partition count — a 1-2
        # partition local relation would otherwise run the CPU-bound
        # analysis on 1-2 cores. The .rdd probe is accepted here only on
        # this path (file sources above stay metadata-only).
        try:
            n_parts = src.rdd.getNumPartitions()
        except Exception:
            n_parts = parallelism
        if n_parts < parallelism:
            src = src.repartition(parallelism)

    term_positions = batch_term_positions(config)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            langs = pdf[lang_col].tolist() if lang_col else None
            doc, codes, terms, pos = term_positions(
                pdf[content_col].tolist(), langs
            )
            first = np.flatnonzero(run_starts(doc, codes))
            tf = np.diff(np.append(first, len(doc)))
            dl = np.bincount(doc, minlength=len(pdf))
            row_doc = doc[first]
            yield pd.DataFrame(
                {"doc_id": pd.Series(
                    pdf[doc_id_col].to_numpy()[row_doc], dtype="int64"),
                 "term": pd.Series(terms[codes[first]], dtype=object),
                 "tf": pd.Series(tf, dtype="int32"),
                 # object dtype keeps Arrow's binary conversion working
                 # even for empty batches
                 "pos_data": pd.Series(
                     encode_positions_rows(pos, tf), dtype=object),
                 "dl": pd.Series(dl[row_doc], dtype="int32")}
            )

    return src.mapInPandas(gen, schema=TERM_STATS_SCHEMA)
