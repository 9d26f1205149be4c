"""function_score and rescore: post-retrieval score shaping.

Two ES staples a reference user layers onto every ranked query:

* ``function_score_topk`` — combine the BM25 score with a document-level
  function of a metadata field: ``field_value_factor`` (modifier none /
  log1p / sqrt, multiplied or summed per ``boost_mode``) or a ``gauss``
  decay around an origin (recency/length normalization).
* ``rescore_phrase_topk`` — ES's rescore window: take the top
  ``window_size`` BM25 hits per query, boost those where the query text
  also matches as a PHRASE (``score + weight * ln(1 + n_matches)``), and
  re-rank. The expensive positional evaluation runs only semantically
  (phrase matcher is corpus-wide but block-pruned to the query's terms);
  the combine itself touches ``window_size`` rows per query.

Both rank on the 6-rounded combined score (doc_id tiebreak) so near-tied
floats cannot flip cross-engine order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.postings import PostingFrame
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.bm25 import (
    bm25_scored,
    rank_topk_rounded,
)


def function_score_topk(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    doc_meta: DataFrame,
    field: str,
    function: str = "field_value_factor",
    factor: float = 1.0,
    modifier: str = "log1p",
    boost_mode: str = "multiply",
    origin: float = 0.0,
    scale: float = 1.0,
    decay: float = 0.5,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    missing: float | None = None,
) -> DataFrame:
    """ES function_score over the full match set (the function applies
    before the top-k cut — a decayed winner may come from outside the
    plain-BM25 top-k). ``function``: ``field_value_factor`` (with
    ``modifier``/``factor``/``boost_mode``) or ``gauss`` (with ``origin``/
    ``scale``/``decay``; always multiplies, as ES decay functions do).

    Docs with no ``doc_meta`` row (or a null field): ``gauss`` keeps the
    base score (decay 1.0, the ES decay-function rule);
    ``field_value_factor`` uses ``missing`` as the field value when given
    (ES's ``missing`` param) and otherwise keeps the base score —
    matching docs are never silently dropped."""
    scored = bm25_scored(
        spark, term_stats, term_df, queries, config, n_docs, avgdl,
        k1=k1, b=b,
    ).join(doc_meta.select("doc_id", field), "doc_id", "left")
    fv = F.col(field).cast("double")
    if missing is not None:
        fv = F.coalesce(fv, F.lit(float(missing)))
    if function == "field_value_factor":
        val = fv * factor
        if modifier == "log1p":
            val = F.log1p(val)
        elif modifier == "sqrt":
            val = F.sqrt(val)
        elif modifier != "none":
            raise ValueError(f"modifier must be none|log1p|sqrt: {modifier}")
        if boost_mode == "multiply":
            combined = F.col("score") * F.coalesce(val, F.lit(1.0))
        elif boost_mode == "sum":
            combined = F.col("score") + F.coalesce(val, F.lit(0.0))
        else:
            raise ValueError(f"boost_mode must be multiply|sum: {boost_mode}")
    elif function == "gauss":
        # ES gauss decay: exp(-(x-origin)^2 / (2 sigma^2)),
        # sigma^2 = -scale^2 / (2 ln decay)
        if not (0.0 < decay < 1.0):
            # decay=1 divides by zero; decay>1 silently ANTI-decays
            raise ValueError(f"decay must be in (0, 1): {decay}")
        if scale <= 0.0:
            raise ValueError(f"scale must be positive: {scale}")
        sigma2 = -(scale * scale) / (2.0 * math.log(decay))
        combined = F.col("score") * F.coalesce(
            F.exp(-((fv - origin) * (fv - origin)) / (2.0 * sigma2)),
            F.lit(1.0),
        )
    else:
        raise ValueError(f"function must be field_value_factor|gauss: {function}")
    return rank_topk_rounded(
        scored.withColumn("score", combined).select(
            "query_id", "doc_id", "score"
        ),
        k,
    )


def rank_feature_topk(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    doc_meta: DataFrame,
    field: str,
    function: str = "saturation",
    pivot: float = 1.0,
    boost: float = 1.0,
    scaling_factor: float = 1.0,
    exponent: float = 1.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``rank_feature`` query as a should clause over a ranked match
    set: ``score = bm25 + boost * f(S)`` where ``S`` is a non-negative
    per-doc feature (popularity, pagerank, url_length...) and ``f`` is

    * ``saturation``: ``S / (S + pivot)`` (the default; bounded [0,1)),
    * ``log``: ``ln(scaling_factor + S)``,
    * ``sigmoid``: ``S^exp / (S^exp + pivot^exp)``.

    Docs with no feature row (or null) gain 0 — the rank_feature clause
    simply doesn't match, exactly ES's behavior for docs missing the
    rank_feature field. One projection over the scored set + a doc_id
    join to the feature table (feature tables are doc-partitioned at
    scale, so the join co-locates; no corpus scan)."""
    if pivot <= 0.0:
        raise ValueError(f"pivot must be positive: {pivot}")
    scored = bm25_scored(
        spark, term_stats, term_df, queries, config, n_docs, avgdl,
        k1=k1, b=b,
    ).join(doc_meta.select("doc_id", field), "doc_id", "left")
    s = F.col(field).cast("double")
    if function == "saturation":
        val = s / (s + F.lit(float(pivot)))
    elif function == "log":
        val = F.log(F.lit(float(scaling_factor)) + s)
    elif function == "sigmoid":
        if exponent <= 0.0:
            raise ValueError(f"exponent must be positive: {exponent}")
        sp = F.pow(s, F.lit(float(exponent)))
        val = sp / (sp + F.lit(float(pivot) ** float(exponent)))
    else:
        raise ValueError(
            f"function must be saturation|log|sigmoid: {function}"
        )
    combined = F.col("score") + float(boost) * F.coalesce(val, F.lit(0.0))
    return rank_topk_rounded(
        scored.withColumn("score", combined).select(
            "query_id", "doc_id", "score"
        ),
        k,
    )


def distance_feature_topk(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    doc_meta: DataFrame,
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``distance_feature``: boost docs near an origin in a numeric/
    date dimension — ``score = bm25 + boost * pivot / (pivot + |x -
    origin|)`` (the contribution halves at distance ``pivot``). Missing
    field gains 0, as in ES. Dates lower to epoch numbers upstream (cast
    the column before calling); the combine itself is one codegen
    projection."""
    if pivot <= 0.0:
        raise ValueError(f"pivot must be positive: {pivot}")
    scored = bm25_scored(
        spark, term_stats, term_df, queries, config, n_docs, avgdl,
        k1=k1, b=b,
    ).join(doc_meta.select("doc_id", field), "doc_id", "left")
    dist = F.abs(F.col(field).cast("double") - F.lit(float(origin)))
    val = F.lit(float(pivot)) / (F.lit(float(pivot)) + dist)
    combined = F.col("score") + float(boost) * F.coalesce(val, F.lit(0.0))
    return rank_topk_rounded(
        scored.withColumn("score", combined).select(
            "query_id", "doc_id", "score"
        ),
        k,
    )


def rescore_phrase_topk(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    term_stats: DataFrame,
    term_df: DataFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    window_size: int = 100,
    rescore_weight: float = 2.0,
    slop: int = 0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned_phrases: bool = False,
    phrase_queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """ES rescore with a phrase boost: the top ``window_size`` BM25 hits
    per query re-rank by ``score + rescore_weight * ln(1 + n_matches)``
    where n_matches counts the query text's phrase occurrences (0 for
    docs without the phrase — they keep their base score, exactly ES's
    ``score_mode: total`` with an unmatched rescore query).
    ``phrase_queries`` optionally supplies a DIFFERENT rescore phrase per
    query id (the ES ``rescore_query`` body shape); default is the base
    query text itself.

    The positional evaluation is CANDIDATE-RESTRICTED: only the window's
    (query, doc) pairs fetch and decode positions (phrase_match_docs over
    the per-doc stats — O(window) rows), never the corpus-wide posting
    lists of stop-grade phrase terms. ``postings``/``partitioned_phrases``
    are retained for callers whose stats table lacks positions (falls
    back to the corpus-wide matcher)."""
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match,
        phrase_match_docs,
        phrase_match_partitioned,
    )

    # the base window combines from the 6-rounded score (deterministic
    # cross-engine base, same policy the ranking itself uses). It feeds
    # both the phrase candidate set and the final combine, and re-deriving
    # it means re-running the full scored-set ranking — localCheckpoint
    # (eager) materializes the small window ONCE and truncates lineage,
    # leaving no cache reference to outlive the call (a persist with no
    # unpersist accumulated blocks across a long-lived session)
    base = rank_topk_rounded(
        bm25_scored(
            spark, term_stats, term_df, queries, config, n_docs, avgdl,
            k1=k1, b=b,
        ),
        window_size,
    ).withColumn("score", F.round("score", 6)).localCheckpoint(eager=True)
    pqueries = phrase_queries if phrase_queries is not None else queries
    if "pos_data" in term_stats.columns:
        ph = phrase_match_docs(
            spark, term_stats, pqueries, config,
            allowed=base.select("query_id", "doc_id"), slop=slop,
        )
    elif partitioned_phrases:
        ph = phrase_match_partitioned(
            spark, postings, pqueries, config, slop=slop
        )
    else:
        ph = phrase_match(spark, postings, pqueries, config, slop=slop)
    combined = (
        base.join(ph, ["query_id", "doc_id"], "left")
        .withColumn(
            "score",
            F.col("score")
            + rescore_weight * F.log1p(F.coalesce(F.col("n_matches"), F.lit(0))),
        )
        .select("query_id", "doc_id", "score")
    )
    return rank_topk_rounded(combined, k)
