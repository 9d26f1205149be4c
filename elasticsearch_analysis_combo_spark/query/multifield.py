"""Multi-field search: ES ``multi_match`` over per-field BM25.

The reference plugin's whole purpose is feeding multi-analyzer token
streams into fielded Lucene documents (reference README.md:17-36 maps a
combo analyzer onto a mapping's fields); querying across those fields is
the host behavior every user of it exercises (`multi_match`,
`DisjunctionMaxQuery`). This module supplies that host half Spark-first.

Semantics (Lucene/ES):

- Each field is its own posting space: per-field df, per-field doc count
  for idf, per-field ``avgdl`` for length normalization — a doc whose
  field analyzed to zero tokens simply lacks the field (no rows, not
  dl=0).
- ``best_fields`` = DisjunctionMaxQuery: ``score = max_f(boost_f * s_f)
  + tie_breaker * sum(other fields)``.
- ``most_fields``: ``score = sum_f(boost_f * s_f)``.

Scale: the exhaustive combiner is one broadcast join + one
(query_id, doc_id) shuffle per field — the rank oracle. The WAND path
(:func:`multi_match_wand_topk`) runs the block-max evaluator
independently per field and merges per-field top-k candidate sets, which
is exact for ``tie_breaker=0`` (proof in the docstring) and never ships
more than ``n_fields * k`` rows per query to the final window.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.postings import PostingFrame
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.bm25 import analyze_queries, idf_expr


def derive_fields(
    df: DataFrame,
    content_col: str = "text",
    title_tokens: int = 8,
) -> DataFrame:
    """Deterministically split a single text column into (title, body)
    fields: title = the first ``title_tokens`` whitespace tokens, body =
    the rest. Used by tests/benchmarks to synthesize a fielded corpus from
    the driver's single-text ``documents`` table; a real corpus brings its
    own field columns."""
    toks = F.split(F.col(content_col), " ")
    return df.withColumn(
        "title", F.array_join(F.slice(toks, 1, title_tokens), " ")
    ).withColumn(
        "body",
        F.when(
            F.size(toks) > title_tokens,
            F.array_join(
                F.slice(toks, title_tokens + 1, F.size(toks) - title_tokens), " "
            ),
        ).otherwise(F.lit("")),
    )


def field_corpus_stats(stats: DataFrame) -> tuple[int, float]:
    """(n_docs_with_field, avgdl) from one field's term stats — Lucene
    computes idf and norms against the field's own doc count, not the
    corpus's (a doc without the field doesn't dilute the field's idf)."""
    row = (
        stats.select("doc_id", "dl").distinct()
        .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
        .collect()[0]
    )
    if row["n"] == 0:
        return 0, 1.0
    return int(row["n"]), float(row["avgdl"])


def bm25_field_scores(
    stats: DataFrame,
    qterms: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """All (query_id, doc_id, score) rows for one field — the exhaustive
    per-field scorer (same algebra as bm25_exhaustive_topk, minus the
    top-k cut so fields can be combined first). qterms is a tiny broadcast
    dimension; the one shuffle is the (query_id, doc_id) partial-agg sum."""
    df_tbl = (
        stats.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    return (
        stats.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_tbl), "term")
        .withColumn(
            "score",
            idf_expr(n_docs)
            * F.col("tf") * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score").alias("score"))
    )


def _combine_and_rank(
    per_field: DataFrame,
    kind: str,
    tie_breaker: float,
    k: int,
) -> DataFrame:
    """(query_id, doc_id, field, score) -> combined per-query top-k."""
    if kind == "best_fields":
        combined = F.col("_mx") + tie_breaker * (F.col("_sm") - F.col("_mx"))
    elif kind == "most_fields":
        combined = F.col("_sm")
    else:
        raise ValueError(f"kind must be best_fields|most_fields: {kind}")
    scored = (
        per_field.groupBy("query_id", "doc_id")
        .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sm"))
        .withColumn("score", combined)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _field_config(
    config: ComboConfig | dict[str, ComboConfig], field: str
) -> ComboConfig:
    """Per-field analyzer resolution: a dict config analyzes the query
    with THAT field's analyzer (a title keyword field and a stemmed body
    field see different query terms — using one field's config for all,
    the pre-fix behavior, silently queried wrong terms)."""
    if isinstance(config, dict):
        if field not in config:
            raise ValueError(f"no analyzer config for field {field!r}")
        return config[field]
    return config


def multi_match_topk(
    spark: SparkSession,
    field_stats: dict[str, DataFrame],
    queries: list[tuple[int, str]],
    config: ComboConfig | dict[str, ComboConfig],
    kind: str = "best_fields",
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    field_meta: dict[str, tuple[int, float]] | None = None,
) -> DataFrame:
    """Exact multi_match top-k by full per-field evaluation — the rank
    oracle for the WAND path and the small-index fast path. One scored
    plan per field (broadcast-joined, partially aggregated), one union,
    one final (query_id, doc_id) combine.

    ``config`` may be one ComboConfig for every field or a dict
    field -> ComboConfig; each field's query analysis uses its own
    config (ES analyzes the query per field).

    ``field_meta`` (field -> (n_docs_with_field, avgdl)) skips the
    per-field stats scan + collect — pass it whenever the stats were
    recorded at index build (an engine always has them in sub-index
    meta); deriving them per query costs a full distinct per field."""
    boosts = boosts or {}
    parts = []
    for field, stats in field_stats.items():
        qterms = tiny_df(spark,
            analyze_queries(queries, _field_config(config, field)),
            "query_id int, term string",
        )
        if field_meta and field in field_meta:
            n, avgdl = field_meta[field]
        else:
            n, avgdl = field_corpus_stats(stats)
        if n == 0:
            continue
        boost = float(boosts.get(field, 1.0))
        parts.append(
            bm25_field_scores(stats, qterms, n, avgdl, k1=k1, b=b)
            .withColumn("score", F.col("score") * boost)
            .withColumn("field", F.lit(field))
        )
    if not parts:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return _combine_and_rank(union, kind, tie_breaker, k)


def multi_match_cross_fields_topk(
    spark: SparkSession,
    field_stats: dict[str, DataFrame],
    queries: list[tuple[int, str]],
    config: ComboConfig,
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    field_meta: dict[str, tuple[int, float]] | None = None,
) -> DataFrame:
    """ES multi_match ``cross_fields``: TERM-centric scoring over a group
    of fields treated as one big field — the mode users reach for with
    split entities (first/last name, street/city). Per Lucene's
    BlendedTermQuery:

    - each query term gets ONE blended idf from blended statistics
      (``df = max over fields of df_f(term)``, doc count = max field doc
      count) instead of a per-field idf — a term rare in one field but
      common in another must not look rare;
    - per (term, doc), the field contributions (saturated tf, each
      field's own dl/avgdl norm, times its boost) combine by dis-max
      with ``tie_breaker``;
    - the doc score is the SUM over query terms (every term must find
      its best home field independently — the cross_fields point).

    cross_fields requires the fields to share one analyzer (ES groups
    fields per analyzer and blends within a group), so ``config`` is a
    single ComboConfig here by design.

    Plan: one isin-pruned stats scan per field unioned into a
    (query, term, doc) fact table (broadcast query dim), blended df from
    the same pruned scans, one (query, term, doc) dis-max partial agg,
    one (query, doc) sum — two shuffles total, both key-partial.
    """
    boosts = boosts or {}
    qrows = analyze_queries(queries, config)
    if not qrows:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    qterms = tiny_df(spark, qrows, "query_id int, term string")
    all_terms = sorted({t for _, t in qrows})
    sat_parts, df_parts, n_blend = [], [], 0
    for field, stats in field_stats.items():
        if field_meta and field in field_meta:
            n, avgdl = field_meta[field]
        else:
            n, avgdl = field_corpus_stats(stats)
        if n == 0:
            continue
        n_blend = max(n_blend, n)
        boost = float(boosts.get(field, 1.0))
        pruned = stats.filter(F.col("term").isin(all_terms))
        sat_parts.append(
            pruned.join(F.broadcast(qterms), "term")
            .select(
                "query_id", "term", "doc_id",
                (
                    F.lit(boost)
                    * F.col("tf") * (k1 + 1.0)
                    / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
                ).alias("sat"),
            )
        )
        df_parts.append(pruned.groupBy("term").agg(F.count("*").alias("df")))
    if not sat_parts:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    blended_df = (
        reduce(lambda a, b_: a.unionByName(b_), df_parts)
        .groupBy("term")
        .agg(F.max("df").alias("df"))
    )
    sat = reduce(lambda a, b_: a.unionByName(b_), sat_parts)
    term_scores = (
        sat.groupBy("query_id", "term", "doc_id")
        .agg(F.max("sat").alias("_mx"), F.sum("sat").alias("_sm"))
        .join(F.broadcast(blended_df), "term")
        .withColumn(
            "tscore",
            idf_expr(n_blend)
            * (F.col("_mx") + tie_breaker * (F.col("_sm") - F.col("_mx"))),
        )
    )
    scored = (
        term_scores.groupBy("query_id", "doc_id")
        .agg(F.sum("tscore").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _phrase_scores_partitioned(
    spark: SparkSession,
    plists: InvertedIndex | PostingFrame,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    slop: int,
    range_bits: int,
) -> DataFrame:
    """Doc-range-partitioned per-field phrase scoring: the positional
    kernel fans out per (query, doc-range)
    (``phrase_match_partitioned``, row-identical to ``phrase_match``)
    carrying ``dl`` out, and the Lucene PhraseQuery score
    ``idf_sum * satu(n_matches)`` applies as one codegen projection —
    the idf constants come from a slot-count-sized dictionary probe
    (|query terms| rows, never corpus-sized). This is the scale path a
    stop-word phrase needs on a big field: the match set itself is
    still small, but the POSTING rows the kernel intersects are not,
    and ``phrase_match`` would hold a whole field's posting lists in
    the calling process."""
    import math

    from elasticsearch_analysis_combo_spark.query.phrase import (
        analyze_phrases,
        phrase_match_partitioned,
    )

    qrows = analyze_phrases(queries, config)
    if not qrows:
        return tiny_df(spark,
            [], "query_id int, doc_id long, score double"
        )
    m = phrase_match_partitioned(
        spark, plists, queries, config, slop=slop,
        range_bits=range_bits, with_dl=True,
    )
    all_terms = sorted({t for _, _, t in qrows})
    dfs = {
        r["term"]: float(r["df"])
        for r in plists.postings().filter(F.col("term").isin(all_terms))
        .select("term", "df").distinct().collect()
    }
    idf: dict[int, float] = {}
    for qid, _slot, term in qrows:
        d = dfs.get(term, 0.0)
        idf[qid] = idf.get(qid, 0.0) + math.log(
            1.0 + (n_docs - d + 0.5) / (d + 0.5)
        )
    idf_df = tiny_df(spark,
        sorted(idf.items()), "query_id int, _idf double"
    )
    f = F.col("n_matches").cast("double")
    return (
        m.join(F.broadcast(idf_df), "query_id")
        .withColumn(
            "score",
            F.col("_idf") * f * (k1 + 1.0)
            / (f + k1 * (1.0 - b + b * F.col("dl") / float(avgdl))),
        )
        .select("query_id", "doc_id", "score")
    )


def multi_match_phrase_topk(
    spark: SparkSession,
    field_postings: dict[str, InvertedIndex | PostingFrame],
    field_meta: dict[str, tuple[int, float]],
    queries: list[tuple[int, str]],
    config: ComboConfig | dict[str, ComboConfig],
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = 10,
    slop: int = 0,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned: bool | dict[str, bool] = False,
    range_bits: int = 4,
) -> DataFrame:
    """ES ``multi_match`` ``type: phrase`` (also the ``phrase`` half of
    ``type: phrase_prefix`` at ``slop`` 0): one ``match_phrase`` per
    field — Lucene PhraseQuery BM25, the PHRASE frequency as tf against
    that field's own df/doc-count/avgdl — then the boosted field scores
    combine best_fields-style (DisjunctionMaxQuery: ``max + tie_breaker
    * (sum - max)``).

    Exact for ANY tie_breaker: each field is scored over its FULL
    phrase match set (``phrase_topk(k=None)``) — a per-field top-k cut
    before the blend would lose a losing field's contribution. That is
    affordable where it wasn't for term queries because a phrase match
    set is only the docs containing the phrase in that field (the
    positional evaluator intersects the slot postings before any row
    leaves the kernel), so the union the blend aggregates stays
    candidate-sized at any corpus size.

    ``field_postings``: field -> positional postings frame (the same
    frame ``phrase_match`` takes); ``field_meta``: field ->
    (n_docs_with_field, avgdl) recorded at index build. Query analysis
    uses each field's own config when ``config`` is a dict (ES analyzes
    the query per field).

    ``partitioned`` (bool, or per-field dict — a small title field next
    to a huge body field keeps its cheap one-task pass) routes that
    field through the doc-range-partitioned positional kernel
    (:func:`_phrase_scores_partitioned`, row-identical scores) so a
    stop-word phrase never concentrates a big field's posting lists in
    one task."""
    from elasticsearch_analysis_combo_spark.query.phrase import phrase_topk

    boosts = boosts or {}
    parts = []
    for field, plists in field_postings.items():
        n, avgdl = field_meta[field]
        if n == 0:
            continue
        boost = float(boosts.get(field, 1.0))
        part = (
            partitioned if isinstance(partitioned, bool)
            else bool(partitioned.get(field, False))
        )
        if part:
            scored = _phrase_scores_partitioned(
                spark, plists, queries, _field_config(config, field),
                n_docs=n, avgdl=avgdl, k1=k1, b=b, slop=slop,
                range_bits=range_bits,
            )
        else:
            scored = phrase_topk(
                spark, plists, queries, _field_config(config, field),
                n_docs=n, avgdl=avgdl, k1=k1, b=b, k=None, slop=slop,
            )
        parts.append(
            scored
            .withColumn("score", F.col("score") * F.lit(boost))
            .withColumn("field", F.lit(field))
        )
    if not parts:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    union = reduce(lambda a, b2: a.unionByName(b2), parts)
    return _combine_and_rank(union, "best_fields", tie_breaker, k)


def multi_match_phrase_prefix_topk(
    spark: SparkSession,
    field_postings: dict[str, InvertedIndex | PostingFrame],
    field_term_df: dict[str, DataFrame],
    field_stats: dict[str, DataFrame],
    field_meta: dict[str, tuple[int, float]],
    queries: list[tuple[int, str]],
    config: ComboConfig | dict[str, ComboConfig],
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = 10,
    slop: int = 0,
    max_expansions: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """ES ``multi_match`` ``type: phrase_prefix`` — completes the ES
    type matrix (best/most/cross_fields, phrase, bool_prefix,
    phrase_prefix): one ``match_phrase_prefix`` per field (the phrase's
    LAST term expands over THAT field's dictionary, capped alphabetical
    — ES's deterministic cap; a doc matches when any expansion
    completes the phrase), scored like the single-field DSL route —
    ``idf_sum(fixed constituents, field stats) * satu(n_matches)`` with
    ``dl`` riding from the first constituent's pruned stats scan — then
    boosted field scores blend best_fields-style over the FULL
    per-field match sets (phrase-prefix match sets are candidate-sized,
    same argument as :func:`multi_match_phrase_topk`)."""
    import math

    from elasticsearch_analysis_combo_spark.analysis.combo import (
        analyze_text,
    )
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_prefix_match,
    )

    boosts = boosts or {}
    parts = []
    for field, plists in field_postings.items():
        n, avgdl = field_meta[field]
        if n == 0:
            continue
        cfg = _field_config(config, field)
        fixed_by_q: dict[int, list[str]] = {}
        first_by_q: dict[int, str] = {}
        for qid, text in queries:
            toks = [t.term for t in analyze_text(text, cfg)]
            if len(toks) < 2:
                raise ValueError(
                    "multi_match phrase_prefix needs >= 2 analyzed "
                    "terms per query (a single term is a prefix query)"
                )
            fixed_by_q[qid] = toks[:-1]
            first_by_q[qid] = toks[0]
        # idf over the fixed constituents: one tiny dictionary probe
        # against THIS field's df (O(query text) rows)
        probe = sorted({t for ts in fixed_by_q.values() for t in ts})
        df_map = {
            r["term"]: int(r["df"])
            for r in field_term_df[field]
            .filter(F.col("term").isin(probe))
            .select("term", "df").collect()
        }

        def _idf(dfv: int) -> float:
            return math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))

        idf_df = tiny_df(spark,
            [
                (qid, sum((_idf(df_map[t]) for t in ts if t in df_map),
                          0.0))
                for qid, ts in sorted(fixed_by_q.items())
            ],
            "query_id int, _idf double",
        )
        hits = phrase_prefix_match(
            spark, plists, field_term_df[field], queries, cfg,
            slop=slop, max_expansions=max_expansions,
        )
        first_rows = tiny_df(spark,
            sorted((q, t) for q, t in first_by_q.items()),
            "query_id int, term string",
        )
        dl = (
            field_stats[field]
            .filter(F.col("term").isin(sorted(set(first_by_q.values()))))
            .select("term", "doc_id", "dl")
            .join(F.broadcast(first_rows), "term")
            .select("query_id", "doc_id", "dl")
        )
        f_ = F.col("n_matches").cast("double")
        boost = float(boosts.get(field, 1.0))
        parts.append(
            hits.join(F.broadcast(idf_df), "query_id")
            .join(dl, ["query_id", "doc_id"])
            .withColumn(
                "score",
                F.lit(boost) * F.col("_idf") * f_ * (k1 + 1.0)
                / (f_ + k1 * (1.0 - b + b * F.col("dl") / float(avgdl))),
            )
            .select("query_id", "doc_id", "score")
            .withColumn("field", F.lit(field))
        )
    if not parts:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    union = reduce(lambda a, b2: a.unionByName(b2), parts)
    return _combine_and_rank(union, "best_fields", tie_breaker, k)


def multi_match_bool_prefix_topk(
    spark: SparkSession,
    field_stats: dict[str, DataFrame],
    field_term_df: dict[str, DataFrame],
    field_meta: dict[str, tuple[int, float]],
    queries: list[tuple[int, str]],
    config: ComboConfig | dict[str, ComboConfig],
    boosts: dict[str, float] | None = None,
    tie_breaker: float = 0.0,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``multi_match`` ``type: bool_prefix`` (multi-field
    search-as-you-type): one ``match_bool_prefix`` per field — every
    analyzed term but the last as a term clause, the last as a capped
    distributed prefix expansion, BM25-summed against that field's own
    statistics — then the boosted field scores combine
    best_fields-style (``max + tie_breaker * (sum - max)``).

    Exact for any tie_breaker via FULL per-field evaluation
    (``match_bool_prefix_topk(k=None)``) — the same exhaustive-combine
    trade the engine already makes for term multi_match with
    tie_breaker > 0 (see ``multi_match_topk``): the blend needs losing
    fields' scores, so no per-field cut may run first. The expansion
    stays scan-bounded per field (startswith pushdown +
    WindowGroupLimit cap)."""
    from elasticsearch_analysis_combo_spark.query.boolean import (
        match_bool_prefix_topk,
    )

    boosts = boosts or {}
    parts = []
    for field, stats in field_stats.items():
        n, avgdl = field_meta[field]
        if n == 0:
            continue
        boost = float(boosts.get(field, 1.0))
        parts.append(
            match_bool_prefix_topk(
                spark, stats, field_term_df[field], queries,
                _field_config(config, field), n, avgdl, k=None,
                k1=k1, b=b, max_expansions=max_expansions,
            )
            .withColumn("score", F.col("score") * F.lit(boost))
            .withColumn("field", F.lit(field))
        )
    if not parts:
        return tiny_df(spark,
            [], "query_id int, rank int, doc_id long, score double"
        )
    union = reduce(lambda a, b2: a.unionByName(b2), parts)
    return _combine_and_rank(union, "best_fields", tie_breaker, k)


def combined_fields_topk(
    spark: SparkSession,
    field_stats: dict[str, DataFrame],
    queries: list[tuple[int, str]],
    config: ComboConfig,
    weights: dict[str, float] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    doc_norms: DataFrame | None = None,
) -> DataFrame:
    """ES ``combined_fields`` query (Lucene CombinedFieldQuery, the
    simplified BM25F): the fields are scored as ONE synthetic combined
    field rather than per-field-then-combined —

    - per (term, doc): ``tf* = sum_f w_f * tf_f`` (field weight = ES
      per-field boost, the BM25F weight);
    - per doc: ``dl* = sum_f w_f * dl_f`` and ``avgdl*`` over it;
    - ``df*(term)`` = docs containing the term in ANY field, and
      ``n*`` = docs with any field content — the TRUE combined-field
      statistics. (Lucene approximates df* with per-field maxima
      because it cannot afford the union count at query time; computing
      the exact union over the pruned term-filtered scans is one small
      aggregate here — a Spark-side improvement, documented.)
    - score = sum over query terms of ``idf(df*) * tf*(k1+1) /
      (tf* + k1(1-b+b*dl*/avgdl*))`` — ONE saturation over the blended
      tf, which is what separates combined_fields from cross_fields
      (saturate-then-combine).

    Like ES, requires all fields to share one analyzer (``config`` is a
    single ComboConfig by design). Plan: per-field isin-pruned stats
    scans union into (term, doc, wtf); one (term, doc) partial agg;
    doc-length blend is a per-doc partial agg over the per-field (doc,
    dl) projections; n*/avgdl* are two scalar aggregates. The blend is
    query-independent — at scale pass ``doc_norms`` (a (doc_id, wdl)
    frame persisted at INDEX time, like Lucene's norms) so queries skip
    the corpus-wide doc-length pass; the default derives it inline for
    the weights given."""
    weights = weights or {}
    qrows = analyze_queries(queries, config)
    empty = tiny_df(spark,
        [], "query_id int, rank int, doc_id long, score double"
    )
    if not qrows or not field_stats:
        return empty
    qterms = tiny_df(spark, qrows, "query_id int, term string")
    all_terms = sorted({t for _, t in qrows})
    tf_parts, dl_parts = [], []
    for field, stats in field_stats.items():
        w_f = float(weights.get(field, 1.0))
        pruned = stats.filter(F.col("term").isin(all_terms))
        tf_parts.append(
            pruned.select(
                "term", "doc_id",
                (F.lit(w_f) * F.col("tf")).alias("wtf"),
            )
        )
        dl_parts.append(
            stats.select("doc_id", "dl").distinct().select(
                "doc_id", (F.lit(w_f) * F.col("dl")).alias("wdl")
            )
        )
    wtf = (
        reduce(lambda a, b_: a.unionByName(b_), tf_parts)
        .groupBy("term", "doc_id")
        .agg(F.sum("wtf").alias("wtf"))
    )
    wdl = doc_norms if doc_norms is not None else (
        reduce(lambda a, b_: a.unionByName(b_), dl_parts)
        .groupBy("doc_id")
        .agg(F.sum("wdl").alias("wdl"))
    )
    g = wdl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("wdl").alias("avgdl")
    ).collect()[0]
    n_comb, avgdl = int(g["n"]), float(g["avgdl"] or 0.0)
    if n_comb == 0:
        return empty
    # exact combined df: distinct docs holding the term in any field —
    # wtf is already one row per (term, doc), so a count is exact
    cdf = wtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        wtf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(cdf), "term")
        .join(wdl, "doc_id")
        .withColumn(
            "tscore",
            idf_expr(n_comb)
            * F.col("wtf") * (k1 + 1.0)
            / (F.col("wtf") + k1 * (1.0 - b + b * F.col("wdl") / avgdl)),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tscore").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def multi_match_wand_topk(
    spark: SparkSession,
    field_postings: dict[str, InvertedIndex | PostingFrame],
    field_meta: dict[str, tuple[int, float]],
    queries: list[tuple[int, str]],
    config: ComboConfig | dict[str, ComboConfig],
    boosts: dict[str, float] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned: bool | dict[str, bool] = False,
    range_bits: int = 4,
) -> DataFrame:
    """best_fields multi_match via one block-max WAND pass per field.

    Each field's evaluator returns its exact top-k; the union is combined
    with ``max(boost_f * s_f)`` and re-ranked. EXACT for ``tie_breaker=0``:
    if doc d is in the overall top-k, let f* be its best (boosted) field —
    any doc e with ``s_f*(e) > s_f*(d)`` has ``combined(e) >= boost_f* *
    s_f*(e) > combined(d)``, and fewer than k such docs exist (else d is
    not overall top-k), so d is inside field f*'s top-k and its exact
    combined score is observed. Docs outside every field's top-k can only
    be *under*-estimated, which cannot promote them past an exactly-scored
    winner. Ships ``n_fields * k`` candidate rows per query — no exhaustive
    rescore, no second posting fetch.

    ``field_meta`` maps field -> (n_docs_with_field, avgdl) recorded at
    that field's index build. ``partitioned`` runs a field's pass through
    the range-partitioned WAND (one task per (query, doc-range)) — same
    exact per-field top-k, the right shape once THAT field's index is
    large enough that a hot-term query should not concentrate in one
    task. Pass a dict (field -> bool) to decide per field (a tiny title
    index next to a huge body index should not pay the fan-out), or one
    bool for all fields.
    """
    from elasticsearch_analysis_combo_spark.query.wand import (
        wand_topk_from_postings,
        wand_topk_partitioned,
    )

    boosts = boosts or {}
    parts = []
    for field, postings in field_postings.items():
        cfg_f = _field_config(config, field)
        n, avgdl = field_meta[field]
        boost = float(boosts.get(field, 1.0))
        part_f = (
            partitioned.get(field, False)
            if isinstance(partitioned, dict) else partitioned
        )
        if part_f:
            topf = wand_topk_partitioned(
                spark, postings, queries, cfg_f,
                n_docs=n, avgdl=avgdl, k1=k1, b=b, k=k,
                range_bits=range_bits,
            )
        else:
            topf = wand_topk_from_postings(
                spark, postings, queries, cfg_f,
                n_docs=n, avgdl=avgdl, k1=k1, b=b, k=k,
            )
        parts.append(
            topf.select(
                "query_id", "doc_id",
                (F.col("score") * boost).alias("score"),
            ).withColumn("field", F.lit(field))
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return _combine_and_rank(union, "best_fields", tie_breaker=0.0, k=k)
