"""User-facing facade: the "switch from the reference" surface.

A user of the reference configures a combo analyzer, indexes documents
through ES, and runs queries/_analyze. This class is the engine's
equivalent one-stop API:

    engine = ComboSearchEngine(spark, ComboConfig([...], deduplication=True),
                               index_dir="/indexes/main")
    engine.index(corpus_df)                  # build/resume (B1-B6)
    engine.search("getFooBar merge", k=10)   # BM25 block-max WAND (B7-B8)
    engine.phrase("token stream")            # positional phrase match
    engine.analyze_df(df)                    # the _analyze view (EP2)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.analysis.udfs import analyze
from elasticsearch_analysis_combo_spark.plans.index_build import (
    InvertedIndex,
    build_index,
)
from elasticsearch_analysis_combo_spark.query.phrase import phrase_match
from elasticsearch_analysis_combo_spark.query.wand import wand_topk


class ComboSearchEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: ComboConfig,
        index_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        **build_opts,
    ):
        self.spark = spark
        self.config = config
        self.index_dir = index_dir
        self.k1, self.b = k1, b
        self.build_opts = build_opts
        self._index: InvertedIndex | None = None

    # -- indexing ----------------------------------------------------------
    def index(
        self,
        corpus: DataFrame,
        doc_id_col: str = "doc_id",
        content_col: str = "content",
        lang_col: str | None = None,
    ) -> InvertedIndex:
        self._index = build_index(
            self.spark, corpus, self.config, self.index_dir,
            doc_id_col=doc_id_col, content_col=content_col, lang_col=lang_col,
            k1=self.k1, b=self.b, **self.build_opts,
        )
        return self._index

    def open(self) -> InvertedIndex:
        """Attach to an already-built index directory."""
        self._index = InvertedIndex(self.spark, self.index_dir)
        return self._index

    @property
    def idx(self) -> InvertedIndex:
        if self._index is None:
            self.open()
        return self._index

    # -- querying ----------------------------------------------------------
    def _query_config(self) -> ComboConfig:
        """Analyzer config for query analysis: the INDEX's recorded config,
        not the engine's — an engine attached via open() to an index built
        with a different analyzer must analyze queries the way the index was
        built (index/search analysis mismatch silently breaks recall)."""
        from elasticsearch_analysis_combo_spark.plans.index_build import (
            _config_dict,
        )
        from elasticsearch_analysis_combo_spark.query.wand import config_from_meta

        meta_cfg = self.idx.meta.config
        if _config_dict(self.config) != meta_cfg:
            import warnings

            warnings.warn(
                "engine config differs from the index's analyzer config; "
                "queries are analyzed with the index's config "
                f"({meta_cfg.get('name', 'combo')})",
                stacklevel=3,
            )
        return config_from_meta(meta_cfg)

    #: at or above this many indexed docs, search()/phrase() default to
    #: the range-partitioned evaluators (one task per (query, doc-range));
    #: below it the query terms' postings are read from the published
    #: parquet with pyarrow and scored by the caller, with no Spark job —
    #: a hot-term query over a large index must not concentrate its whole
    #: posting volume in a single process.
    #: 200k is where measurement flips (BENCH/BASELINE.md "At-scale
    #: validation (round 3)": partitioned WAND 1.79s vs single 2.55s at
    #: 1M docs on a quiet host; partitioned phrase 3.1s vs 16.6s at 200k),
    #: and the gap widens with corpus size.
    PARTITIONED_THRESHOLD = 200_000

    def search(
        self,
        query: str | list[tuple[int, str]],
        k: int = 10,
        fetch_from: DataFrame | None = None,
        fetch_cols: list[str] | None = None,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """BM25 WAND top-k. ``fetch_from`` joins the hits back to a stored
        corpus DataFrame (by doc_id) to return source fields alongside rank
        and score — the hit list is tiny, so the join broadcasts it and the
        corpus scan prunes to the selected columns. ``partitioned=True``
        uses the range-partitioned evaluator (one task per (query,
        doc-range)) — same exact results, the right shape for stop-word
        queries over very large indexes. Default (None) routes
        automatically: partitioned once the index holds at least
        ``PARTITIONED_THRESHOLD`` docs; below it the query terms' posting
        rows are read from the published parquet with pyarrow and scored
        by the caller, with no Spark job (a job's fixed cost would
        dominate while posting volume is small), and the hits come back as
        a driver-held ``tinydf.LocalFrame``: collecting them builds no JVM
        plan; the ``fetch_from`` join builds it."""
        queries = [(0, query)] if isinstance(query, str) else query
        cfg = self._query_config()
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        if partitioned:
            from elasticsearch_analysis_combo_spark.query.wand import (
                wand_topk_partitioned,
            )

            meta = self.idx.meta
            hits = wand_topk_partitioned(
                self.spark, self.idx, queries, cfg,
                n_docs=meta.n_docs, avgdl=meta.avgdl, k1=meta.k1, b=meta.b,
                k=k, range_bits=range_bits,
            )
        else:
            hits = wand_topk(self.spark, self.idx, queries, cfg, k=k)
        if fetch_from is None:
            return hits
        from pyspark.sql import functions as F

        cols = fetch_cols or [c for c in fetch_from.columns if c != "doc_id"]
        src = fetch_from.select("doc_id", *cols)
        return (
            src.join(F.broadcast(hits), "doc_id")
            .select("query_id", "rank", "doc_id", "score", *cols)
        )

    def search_after(
        self,
        query: str,
        after: tuple[float, int] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """ES ``search_after`` pagination: the next page strictly after
        the ``(score, doc_id)`` cursor (take it from the previous page's
        last row). Stateless exact pagination via the exhaustive scorer."""
        from elasticsearch_analysis_combo_spark.query.bm25 import (
            bm25_search_after,
        )

        idx = self.idx
        return bm25_search_after(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            cursors={0: after} if after else {}, k=k,
            k1=idx.meta.k1, b=idx.meta.b,
        )

    def search_boolean(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        k: int = 10,
        minimum_should_match: int = 0,
        must_boost: float = 1.0,
        should_boost: float = 1.0,
    ) -> DataFrame:
        """ES ``bool`` query over the built index: must filters, should
        boosts, must_not excludes, with ``minimum_should_match`` and
        per-clause boosts (see query/boolean.py for semantics)."""
        from elasticsearch_analysis_combo_spark.query.boolean import (
            bm25_boolean_topk,
        )

        idx = self.idx
        return bm25_boolean_topk(
            self.spark, idx.term_stats(), idx.term_df(),
            [(0, must, should, must_not)], self._query_config(),
            idx.meta.n_docs, idx.meta.avgdl, k=k,
            k1=idx.meta.k1, b=idx.meta.b,
            minimum_should_match=minimum_should_match,
            must_boost=must_boost, should_boost=should_boost,
        )

    def search_wildcard(self, pattern: str, k: int = 10) -> DataFrame:
        """ES wildcard query (`*`/`?`) over the built index's vocabulary."""
        from elasticsearch_analysis_combo_spark.query.boolean import (
            bm25_wildcard_topk,
        )

        idx = self.idx
        return bm25_wildcard_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, pattern)],
            idx.meta.n_docs, idx.meta.avgdl, k=k, k1=idx.meta.k1, b=idx.meta.b,
        )

    def search_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        k: int = 10,
        transpositions: bool = False,
    ) -> DataFrame:
        """ES fuzzy query over the vocabulary: plain Levenshtein by
        default, OSA (adjacent swap = 1 edit, ES's default metric) with
        ``transpositions=True``."""
        from elasticsearch_analysis_combo_spark.query.boolean import (
            bm25_fuzzy_topk,
        )

        idx = self.idx
        return bm25_fuzzy_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, term)],
            idx.meta.n_docs, idx.meta.avgdl, max_edits=max_edits, k=k,
            k1=idx.meta.k1, b=idx.meta.b, transpositions=transpositions,
        )

    def retriever(
        self,
        tree: dict,
        emb: DataFrame | None = None,
        doc_meta: DataFrame | None = None,
        k: int = 10,
        knn_mode: str = "exact",
    ) -> DataFrame:
        """ES 8.14 retriever tree (standard / knn / rrf, recursive) over
        this index — see query/dsl.py::retriever_search."""
        from elasticsearch_analysis_combo_spark.query.dsl import (
            retriever_search,
        )

        idx = self.idx
        return retriever_search(
            self.spark, idx.term_stats(), idx.term_df(), idx,
            tree, self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            emb=emb, doc_meta=doc_meta, k=k, k1=idx.meta.k1,
            b=idx.meta.b, knn_mode=knn_mode,
        )

    def hybrid(
        self,
        body: dict,
        emb: DataFrame,
        doc_meta: DataFrame | None = None,
        k: int = 10,
        knn_mode: str = "exact",
    ) -> DataFrame:
        """ES pre-8.14 hybrid ``_search`` body — top-level ``query`` +
        ``knn`` sections (list = multi-kNN), ``rank: {"rrf"}`` fusion
        or ES's additive sum-on-overlap default — see
        query/dsl.py::hybrid_search."""
        from elasticsearch_analysis_combo_spark.query.dsl import (
            hybrid_search,
        )

        idx = self.idx
        return hybrid_search(
            self.spark, idx.term_stats(), idx.term_df(), idx,
            body, self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            emb, doc_meta=doc_meta, k=k, k1=idx.meta.k1, b=idx.meta.b,
            knn_mode=knn_mode,
        )

    def search_query_string(
        self,
        query: str,
        default_operator: str = "or",
        k: int = 10,
        partitioned: bool | None = None,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES ``simple_query_string``: ``+must -not "exact phrase"
        prefix* fuzzy~N`` one-box syntax (see query/querystring.py for
        the supported subset and semantics). Phrase clauses route to the
        range-partitioned evaluator past ``PARTITIONED_THRESHOLD`` docs,
        same as :meth:`phrase`; prefix/fuzzy clauses expand to at most
        ``max_expansions`` terms, distributed (never collected)."""
        from elasticsearch_analysis_combo_spark.query.querystring import (
            simple_query_string_topk,
        )

        idx = self.idx
        if partitioned is None:
            partitioned = idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return simple_query_string_topk(
            self.spark, idx.term_stats(), idx.term_df(), idx,
            [(0, query)], self._query_config(), idx.meta.n_docs,
            idx.meta.avgdl, default_operator=default_operator, k=k,
            k1=idx.meta.k1, b=idx.meta.b,
            partitioned_phrases=partitioned,
            max_expansions=max_expansions,
        )

    def suggest_completion(
        self, prefix: str, k: int = 5, min_doc_freq: int = 1
    ) -> DataFrame:
        """ES completion suggester: top-k vocabulary completions of the
        prefix, ranked df desc (startswith pushed into the dictionary
        scan)."""
        from elasticsearch_analysis_combo_spark.query.suggest import (
            completion_suggest,
        )

        return completion_suggest(
            self.spark, self.idx.term_df(), [(0, prefix)], k=k,
            min_doc_freq=min_doc_freq,
        )

    def search_regexp(self, pattern: str, k: int = 10) -> DataFrame:
        """ES regexp query (pattern must match the whole term)."""
        from elasticsearch_analysis_combo_spark.query.boolean import (
            bm25_regexp_topk,
        )

        idx = self.idx
        return bm25_regexp_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, pattern)],
            idx.meta.n_docs, idx.meta.avgdl, k=k, k1=idx.meta.k1, b=idx.meta.b,
        )

    def suggest(
        self,
        term: str,
        max_edits: int = 2,
        prefix_length: int = 1,
        min_doc_freq: int = 1,
        k: int = 5,
    ) -> DataFrame:
        """ES term suggester ("did you mean") over the index vocabulary."""
        from elasticsearch_analysis_combo_spark.query.suggest import term_suggest

        return term_suggest(
            self.spark, self.idx.term_df(), [(0, term)], max_edits=max_edits,
            prefix_length=prefix_length, min_doc_freq=min_doc_freq, k=k,
        )

    def suggest_body(self, suggest: dict, default_k: int = 5) -> DataFrame:
        """ES ``_search`` body ``suggest`` section: named term / phrase /
        completion entries evaluated against this index's vocabulary,
        batched per (kind, option-set) — one long
        (name, kind, rank, suggestion, distance, df, n_corrections)
        frame (query/suggest.py::suggest_body)."""
        from elasticsearch_analysis_combo_spark.query.suggest import (
            suggest_body,
        )

        return suggest_body(
            self.spark, self.idx.term_df(), suggest, default_k=default_k
        )

    def terms_enum(
        self,
        string: str = "",
        size: int = 10,
        case_insensitive: bool = False,
        search_after: str | None = None,
    ) -> DataFrame:
        """ES 8 ``_terms_enum``: up to ``size`` dictionary terms
        starting with ``string``, ascending, resumable via
        ``search_after`` (leading-edge autocomplete over the index
        vocabulary)."""
        from elasticsearch_analysis_combo_spark.query.suggest import (
            terms_enum,
        )

        return terms_enum(
            self.idx.term_df(), string=string, size=size,
            case_insensitive=case_insensitive, search_after=search_after,
        )

    def suggest_phrase(self, text: str, max_edits: int = 1) -> DataFrame:
        """Greedy phrase repair: unknown tokens replaced by their best
        vocabulary correction."""
        from elasticsearch_analysis_combo_spark.query.suggest import (
            phrase_suggest,
        )

        return phrase_suggest(
            self.spark, self.idx.term_df(), [(0, text)], max_edits=max_edits
        )

    def explain(self, query: str) -> DataFrame:
        """ES ``_explain``: per-term BM25 factor decomposition for every
        matching doc (idf, tf, norm, contribution, total)."""
        from elasticsearch_analysis_combo_spark.query.bm25 import bm25_explain

        idx = self.idx
        return bm25_explain(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            k1=idx.meta.k1, b=idx.meta.b,
        )

    def facet_terms(
        self, query: str, doc_meta: DataFrame, facet_col: str, size: int = 10
    ) -> DataFrame:
        """ES ``terms`` aggregation over the query's full match set."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            search_facet_terms,
        )

        return search_facet_terms(
            self.spark, self.idx.term_stats(), [(0, query)],
            self._query_config(), doc_meta, facet_col, size=size,
        )

    def function_score(
        self,
        query: str,
        doc_meta: DataFrame,
        field: str,
        k: int = 10,
        **function_opts,
    ) -> DataFrame:
        """ES ``function_score``: combine BM25 with a document-level
        function of a metadata field (``function='field_value_factor'``
        with factor/modifier/boost_mode, or ``function='gauss'`` with
        origin/scale/decay)."""
        from elasticsearch_analysis_combo_spark.query.functionscore import (
            function_score_topk,
        )

        idx = self.idx
        return function_score_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            doc_meta, field, k=k, k1=idx.meta.k1, b=idx.meta.b,
            **function_opts,
        )

    def rescore(
        self,
        query: str,
        window_size: int = 100,
        rescore_weight: float = 2.0,
        slop: int = 0,
        k: int = 10,
        partitioned: bool | None = None,
        rescore_query: str | None = None,
    ) -> DataFrame:
        """ES rescore: re-rank the top ``window_size`` BM25 hits with a
        phrase boost (``score + weight * ln(1 + phrase matches)``).
        ``rescore_query`` optionally supplies a DIFFERENT phrase than the
        base query text (the ES ``rescore_query`` body shape)."""
        from elasticsearch_analysis_combo_spark.query.functionscore import (
            rescore_phrase_topk,
        )

        idx = self.idx
        if partitioned is None:
            partitioned = idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return rescore_phrase_topk(
            self.spark, idx, idx.term_stats(), idx.term_df(),
            [(0, query)], self._query_config(), idx.meta.n_docs,
            idx.meta.avgdl, window_size=window_size,
            rescore_weight=rescore_weight, slop=slop, k=k,
            k1=idx.meta.k1, b=idx.meta.b, partitioned_phrases=partitioned,
            phrase_queries=(
                None if rescore_query is None else [(0, rescore_query)]
            ),
        )

    def search_collapse(
        self,
        query: str,
        doc_meta: DataFrame,
        collapse_field: str,
        k: int = 10,
    ) -> DataFrame:
        """ES ``collapse``: top-k with at most one hit per value of
        ``collapse_field`` (the best-scoring doc represents its group)."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            collapse_topk,
        )

        idx = self.idx
        return collapse_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), doc_meta, collapse_field,
            idx.meta.n_docs, idx.meta.avgdl, k=k,
            k1=idx.meta.k1, b=idx.meta.b,
        )

    def significant_terms(
        self, query: str, size: int = 10, min_doc_count: int = 3
    ) -> DataFrame:
        """ES ``significant_terms``: JLH-scored foreground-vs-background
        vocabulary terms over the query's full match set."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            significant_terms,
        )

        idx = self.idx
        return significant_terms(
            self.spark, idx.term_stats(), [(0, query)],
            self._query_config(), idx.meta.n_docs, size=size,
            min_doc_count=min_doc_count, term_df=idx.term_df(),
        )

    def facet_histogram(
        self, query: str, doc_meta: DataFrame, value_col: str, interval: float
    ) -> DataFrame:
        """ES ``histogram`` aggregation over the query's full match set."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            search_facet_histogram,
        )

        return search_facet_histogram(
            self.spark, self.idx.term_stats(), [(0, query)],
            self._query_config(), doc_meta, value_col, interval=interval,
        )

    def facet_range(
        self,
        query: str,
        doc_meta: DataFrame,
        value_col: str,
        ranges: list[tuple[float | None, float | None]],
    ) -> DataFrame:
        """ES ``range`` aggregation ([from, to) buckets, open ends) over
        the query's full match set."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            search_facet_range,
        )

        return search_facet_range(
            self.spark, self.idx.term_stats(), [(0, query)],
            self._query_config(), doc_meta, value_col, ranges=ranges,
        )

    def facet_filters(self, named_filters: dict[str, str]) -> DataFrame:
        """ES ``filters`` aggregation: named query buckets with doc
        counts (empty buckets kept)."""
        from elasticsearch_analysis_combo_spark.query.facets import filters_agg

        return filters_agg(
            self.spark, self.idx.term_stats(), named_filters,
            self._query_config(),
        )

    def adjacency_matrix(self, named_filters: dict[str, str]) -> DataFrame:
        """ES ``adjacency_matrix``: per-filter + pairwise-intersection
        doc counts (key ``a&b``)."""
        from elasticsearch_analysis_combo_spark.query.facets import (
            adjacency_matrix_agg,
        )

        return adjacency_matrix_agg(
            self.spark, self.idx.term_stats(), named_filters,
            self._query_config(),
        )

    def search_boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        k: int = 10,
    ) -> DataFrame:
        """ES ``boosting`` query: positive BM25 score; docs matching the
        negative clause demoted by ``negative_boost`` (not excluded)."""
        from elasticsearch_analysis_combo_spark.query.compound import (
            boosting_topk,
        )

        idx = self.idx
        return boosting_topk(
            self.spark, idx.term_stats(), idx.term_df(),
            [(0, positive, negative)], self._query_config(),
            idx.meta.n_docs, idx.meta.avgdl, k=k,
            k1=idx.meta.k1, b=idx.meta.b, negative_boost=negative_boost,
        )

    def search_constant_score(
        self, query: str, boost: float = 1.0, k: int = 10
    ) -> DataFrame:
        """ES ``constant_score``: filter context — matching docs score
        exactly ``boost``."""
        from elasticsearch_analysis_combo_spark.query.compound import (
            constant_score_topk,
        )

        return constant_score_topk(
            self.spark, self.idx.term_stats(), [(0, query)],
            self._query_config(), k=k, boost=boost,
        )

    def search_terms_set(
        self,
        query: str,
        doc_meta: DataFrame,
        required_expr: str,
        k: int = 10,
    ) -> DataFrame:
        """ES ``terms_set``: per-doc required match count from a metadata
        expression (``minimum_should_match_field``), clamped to
        [1, n_query_terms]."""
        from elasticsearch_analysis_combo_spark.query.compound import (
            terms_set_topk,
        )

        idx = self.idx
        return terms_set_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), doc_meta, required_expr,
            idx.meta.n_docs, idx.meta.avgdl, k=k,
            k1=idx.meta.k1, b=idx.meta.b,
        )

    def search_random_score(
        self, query: str, seed: int, k: int = 10
    ) -> DataFrame:
        """ES ``function_score.random_score`` with a seed: reproducible
        engine-portable pseudo-random ordering of the match set."""
        from elasticsearch_analysis_combo_spark.query.compound import (
            random_score_topk,
        )

        return random_score_topk(
            self.spark, self.idx.term_stats(), [(0, query)],
            self._query_config(), seed=seed, k=k,
        )

    def phrase(
        self,
        query: str | list[tuple[int, str]],
        slop: int = 0,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Phrase matching (``slop`` = Lucene matchLength tolerance; 0 =
        exact adjacency). Routes to the range-partitioned evaluator past
        ``PARTITIONED_THRESHOLD`` docs, same as :meth:`search`."""
        queries = [(0, query)] if isinstance(query, str) else query
        cfg = self._query_config()
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        if partitioned:
            from elasticsearch_analysis_combo_spark.query.phrase import (
                phrase_match_partitioned,
            )

            return phrase_match_partitioned(
                self.spark, self.idx, queries, cfg,
                slop=slop, range_bits=range_bits,
            )
        return phrase_match(self.spark, self.idx, queries, cfg, slop=slop)

    def span_near(
        self,
        query: str | list[tuple[int, str]],
        slop: int = 0,
        in_order: bool = True,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_near`` over single-term clauses: the query's terms
        must co-occur within the slop window, in order or not (see
        query/spans.py for the exact window criterion). Routes to the
        range-partitioned evaluator past ``PARTITIONED_THRESHOLD`` docs,
        same as :meth:`search` and :meth:`phrase`."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_near_match,
            span_near_match_partitioned,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        if partitioned:
            return span_near_match_partitioned(
                self.spark, self.idx, queries,
                self._query_config(), slop=slop, in_order=in_order,
                range_bits=range_bits,
            )
        return span_near_match(
            self.spark, self.idx, queries, self._query_config(),
            slop=slop, in_order=in_order,
        )

    def span_or(
        self,
        query: str | list[tuple[int, str]],
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_or``: docs holding ANY of the query's terms,
        n_matches = distinct matching positions (union span set)."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_or_match,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_or_match(
            self.spark, self.idx, queries, self._query_config(),
            range_bits=range_bits if partitioned else None,
        )

    def span_first(
        self,
        query: str | list[tuple[int, str]],
        end: int,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_first``: the query's terms within the first
        ``end`` positions of the field (1-based positions: the token at
        position p has span end p)."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_first_match,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_first_match(
            self.spark, self.idx, queries, self._query_config(),
            end=end, range_bits=range_bits if partitioned else None,
        )

    def span_not(
        self,
        include: str,
        exclude: str,
        pre: int = 0,
        post: int = 0,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_not``: include spans with no exclude span within
        [-pre, +post] positions."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_not_match,
        )

        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_not_match(
            self.spark, self.idx, [(0, include, exclude)],
            self._query_config(), pre=pre, post=post,
            range_bits=range_bits if partitioned else None,
        )

    def span_multi(
        self,
        clauses: list[tuple[str, object]],
        slop: int = 0,
        in_order: bool = True,
        max_expansions: int = 20,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """ES ``span_multi`` inside ``span_near``: each clause is
        ``("term", t)``, ``("prefix", p)``, ``("wildcard", w)`` or
        ``("fuzzy", (t, n))``; multi-term clauses expand against the
        index vocabulary (distributed, capped at ``max_expansions`` in
        ES's top_terms order) and act as one disjunctive span clause.
        Routes to the doc-range fan-out past ``PARTITIONED_THRESHOLD``
        docs, same as the other span queries. ``term`` clause text is
        analyzed with the index's recorded config (a multi-token
        analysis becomes consecutive term clauses, as ES's span_near
        does); multi-term patterns stay raw, matching ES's
        no-analysis term-level rewrite semantics."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_multi_near_match,
        )

        cfg = self._query_config()
        resolved: list[tuple[str, object]] = []
        for kind, pat in clauses:
            if kind == "term":
                resolved += [("term", t.term)
                             for t in analyze_text(str(pat), cfg)]
            else:
                resolved.append((kind, pat))
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_multi_near_match(
            self.spark, self.idx, self.idx.term_df(),
            {0: resolved}, slop=slop, in_order=in_order,
            max_expansions=max_expansions,
            range_bits=range_bits if partitioned else None,
        )

    def span_within(
        self,
        little: str,
        big: str,
        slop: int = 0,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_within``: the little clause's positions enclosed
        by an ordered span_near of the big clause's terms (slop-bounded);
        n_matches = contained little positions."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_within_match,
        )

        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_within_match(
            self.spark, self.idx, [(0, little, big)],
            self._query_config(), slop=slop,
            range_bits=range_bits if partitioned else None,
        )

    def span_containing(
        self,
        little: str,
        big: str,
        slop: int = 0,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """Lucene ``span_containing``: big spans (ordered span_near)
        enclosing at least one little position; n_matches = enclosing
        spans."""
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_containing_match,
        )

        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return span_containing_match(
            self.spark, self.idx, [(0, little, big)],
            self._query_config(), slop=slop,
            range_bits=range_bits if partitioned else None,
        )

    def intervals(
        self,
        rule: dict | list[tuple[int, dict]],
        partitioned: bool | None = None,
        range_bits: int = 4,
        max_expansions: int = 20,
    ) -> DataFrame:
        """ES ``intervals`` query (minimal-interval semantics): a rule
        tree of match / any_of / ordered all_of with max_gaps, plus the
        prefix / wildcard multi-term sources (capped distributed
        expansion — see query/intervals.py). Routes to the doc-range
        fan-out past ``PARTITIONED_THRESHOLD`` docs, same as the span
        family."""
        from elasticsearch_analysis_combo_spark.query.intervals import (
            intervals_match,
        )

        queries = [(0, rule)] if isinstance(rule, dict) else rule
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        return intervals_match(
            self.spark, self.idx, queries, self._query_config(),
            range_bits=range_bits if partitioned else None,
            max_expansions=max_expansions,
        )

    def search_filtered(
        self,
        query: str,
        doc_meta: DataFrame,
        filter_expr: str,
        k: int = 10,
    ) -> DataFrame:
        """ES bool filter context: scored must + non-scoring metadata
        predicates (range/exists/term), pushed into the metadata scan."""
        from elasticsearch_analysis_combo_spark.query.boolean import (
            bm25_filtered_topk,
        )

        idx = self.idx
        return bm25_filtered_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            doc_meta, filter_expr, k=k, k1=idx.meta.k1, b=idx.meta.b,
        )

    def search_dsl(
        self,
        dsl: dict | list[tuple[int, dict]],
        doc_meta: DataFrame | None = None,
        k: int = 10,
        partitioned: bool | None = None,
        max_expansions: int = 50,
        range_bits: int = 4,
    ) -> DataFrame:
        """ES Query DSL (JSON ``query`` node) entry point — the request
        body an application sends to ``_search``, compiled onto the
        shared clause evaluator + pushed-down filter context (see
        query/dsl.py for the supported subset). ``doc_meta`` supplies
        the metadata table for ``bool.filter`` predicates. Phrase
        clauses route through the doc-range-partitioned evaluator past
        ``PARTITIONED_THRESHOLD`` docs, same as :meth:`search`; top-level
        span queries (span_term/or/near/first/not, round 5e) fan out per
        (query, doc-range) under the same threshold."""
        from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk

        queries = [(0, dsl)] if isinstance(dsl, dict) else dsl
        if partitioned is None:
            partitioned = self.idx.meta.n_docs >= self.PARTITIONED_THRESHOLD
        idx = self.idx
        return dsl_topk(
            self.spark, idx.term_stats(), idx.term_df(), idx,
            queries, self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            doc_meta=doc_meta, k=k, k1=idx.meta.k1, b=idx.meta.b,
            partitioned_phrases=partitioned,
            max_expansions=max_expansions,
            span_range_bits=range_bits if partitioned else None,
        )

    def _aggs_membership(self, q: dict, doc_meta: DataFrame) -> DataFrame:
        """Exact FULL match set (doc_id) of a DSL query node for
        aggregation scoping: filter-context predicates push into the
        metadata scan; ``match`` clauses resolve via the index's term
        stats (docs holding >= 1 query term — ES operator-OR
        membership); bool must/filter intersect, must_not anti-joins,
        pure-should unions. Scoring shapes beyond ``match`` (phrases,
        fuzzy, ...) raise — hits still support them via search_dsl."""
        from pyspark.sql import functions as F

        from elasticsearch_analysis_combo_spark.query.dsl import (
            compile_filter,
        )
        from elasticsearch_analysis_combo_spark.query.facets import (
            _match_set,
        )

        kind, body = next(iter(q.items()))
        if kind == "match":
            field, spec = next(iter(body.items()))
            text = spec["query"] if isinstance(spec, dict) else spec
            return _match_set(
                self.spark, self.idx.term_stats(), [(0, text)],
                self._query_config(),
            ).select("doc_id")
        if kind == "bool":
            must = list(body.get("must", [])) + list(body.get("filter", []))
            should = list(body.get("should", []))
            must_not = list(body.get("must_not", []))
            if must:
                out = None
                for node in must:
                    m = self._aggs_membership(node, doc_meta)
                    out = m if out is None else out.join(
                        m, "doc_id", "left_semi"
                    )
            elif should:
                out = self._aggs_membership(should[0], doc_meta)
                for node in should[1:]:
                    out = out.unionByName(
                        self._aggs_membership(node, doc_meta)
                    ).distinct()
            else:
                out = doc_meta.select("doc_id")
            for node in must_not:
                out = out.join(
                    self._aggs_membership(node, doc_meta),
                    "doc_id", "left_anti",
                )
            return out
        # term-family leaf: one pushed-down predicate over the scan
        return doc_meta.filter(F.expr(compile_filter(q))).select("doc_id")

    def _match_texts(self, q: dict) -> list[str]:
        """All ``match`` clause texts in a DSL tree (the highlightable
        terms — ES highlights the scoring clauses' terms)."""
        kind, body = next(iter(q.items()))
        if kind == "match":
            _, spec = next(iter(body.items()))
            return [spec["query"] if isinstance(spec, dict) else spec]
        if kind == "bool":
            out: list[str] = []
            for role in ("must", "should", "filter"):
                for node in body.get(role, []):
                    out.extend(self._match_texts(node))
            return out
        return []

    def search_aggs(
        self,
        body: dict,
        doc_meta: DataFrame,
        k: int = 10,
        partitioned: bool | None = None,
        docs: DataFrame | None = None,
        emb: DataFrame | None = None,
    ) -> tuple[DataFrame | None, DataFrame]:
        """ES ``_search`` with BOTH halves of the request body: hits are
        the DSL top-``size`` ranking (:meth:`search_dsl`), aggregations
        run over the FULL match set (ES semantics — aggs never see only
        the top-k), computed exactly by :meth:`_aggs_membership` and
        semi-joined into the metadata scan PRE-aggregation
        (query/aggcompiler.py). ``post_filter`` cuts the hits only
        (folded into the hits query's filter context — exact, since
        filter context never changes scores) while aggs see the raw
        match set, and ``runtime_mappings`` (``{name: {"script": <SQL
        expr>}}``) are visible to the query, post_filter and aggs alike.
        Returns ``(hits, aggs)``; hits is None for an aggs-only body
        (ES ``size: 0``). ``from``/``size`` paginate the score-ranked
        hits keeping GLOBAL rank numbers (page 2 of 10 = ranks 11..20),
        and ``min_score`` cuts hits below the threshold (a rank prefix,
        since ranks are score-ordered; combined with ``aggs`` it raises
        — ES's MinimumScoreCollector would filter the agg stream too).
        With a ``highlight`` section and the source
        ``docs`` frame, hits gain a ``highlight`` array column —
        <em>-tagged fragments of the query's match terms, hit-pruned
        (the corpus is never rescanned), start-offset ordered.

        Round-5m sections: ``explain: true`` joins the per-term Lucene
        BM25 decomposition (hit-pruned) as an ``explanation`` array
        column; ``track_total_hits`` (true | int N) broadcasts the
        exact (or N-capped, relation ``gte``) match-set count onto the
        hits; ``_source``/``fields`` lists project the requested
        metadata + runtime columns (trailing-``*`` patterns resolve
        against the schema); ``slice: {id, max}`` — on the sort +
        search_after path only, the scroll-context analogue — cuts a
        deterministic portable-md5 1/max partition of the match set
        for parallel export (query/body.py)."""
        from elasticsearch_analysis_combo_spark.query.aggcompiler import (
            dsl_search_aggs,
        )

        from pyspark.sql import functions as F

        q = body.get("query")
        if body.get("suggest") is not None:
            # a suggest section rides next to query/aggs in ES's one
            # response envelope; this facade returns (hits, aggs) —
            # route the section explicitly rather than dropping it
            raise ValueError(
                "body 'suggest' section: call engine.suggest_body("
                "body['suggest']) alongside search_aggs (this method "
                "returns (hits, aggs) only)"
            )
        size = int(body.get("size", k))
        frm = int(body.get("from", 0))
        min_score = body.get("min_score")
        if min_score is not None and body.get("aggs"):
            # ES's MinimumScoreCollector filters the agg stream too;
            # scoring the FULL match set to replicate that is the
            # exhaustive-BM25 path — raise rather than silently diverge
            raise ValueError(
                "min_score with aggs is unsupported (ES applies "
                "min_score to aggregations; this engine's aggs run "
                "over the unscored match set)"
            )
        if body.get("sort") and (frm or min_score is not None):
            raise ValueError(
                "from/min_score with field sort is unsupported — page "
                "with search_after instead"
            )
        fetch = frm + size  # rank window to retrieve before the trim
        meta_rt = doc_meta
        for rname, spec in (body.get("runtime_mappings") or {}).items():
            script = spec["script"] if isinstance(spec, dict) else spec
            if isinstance(script, dict):
                script = script.get("source", "")
            meta_rt = meta_rt.withColumn(rname, F.expr(script))
        if body.get("knn") is not None:
            # ES hybrid body (query + knn [+ rank.rrf]): route through
            # the hybrid evaluator; the sections that would need the
            # knn candidates inside their own collectors raise rather
            # than silently diverge
            for sec in ("aggs", "sort", "rescore", "collapse",
                        "highlight", "track_total_hits", "min_score",
                        "slice", "post_filter", "suggest"):
                if body.get(sec):
                    raise ValueError(
                        f"{sec} with a knn section is unsupported"
                    )
            if emb is None:
                raise ValueError("a knn section requires emb=")
            khits = self.hybrid(body, emb, doc_meta=meta_rt, k=fetch)
            if frm:
                khits = khits.filter(F.col("rank") > frm)
            if (body.get("_source") not in (None, False, True)
                    or body.get("fields")):
                from elasticsearch_analysis_combo_spark.query.body \
                    import project_fields

                khits = project_fields(
                    khits, meta_rt, body.get("_source"),
                    body.get("fields"),
                )
            return khits, dsl_search_aggs(meta_rt, {"aggs": {}})
        hits_q = q
        if body.get("post_filter") is not None and q is not None:
            # ES post_filter: cuts the HITS only, aggs see the raw match
            # set. Filter context never changes scores, so folding it
            # into the hits query's bool.filter is exact.
            hits_q = {"bool": {"must": [q],
                               "filter": [body["post_filter"]]}}
        sort_spec = body.get("sort")
        if body.get("slice") is not None and not sort_spec:
            # ES requires a scroll/PIT cursor context for slicing; the
            # sort + search_after path is that context here
            raise ValueError(
                "slice requires a sort (the scroll-context analogue); "
                "add a sort + search_after walk"
            )
        if sort_spec and q is not None and size > 0:
            # ES field sort + search_after: hits are pages of the FULL
            # match set ordered by the sort keys (not the BM25 top-k) —
            # sort_search_after appends the doc_id tiebreak and lowers
            # the cursor to a strictly-after predicate. ``_score`` sort
            # raises (omit ``sort`` for relevance ranking).
            from elasticsearch_analysis_combo_spark.query.bm25 import (
                sort_search_after,
            )

            keys = []
            for s in sort_spec:
                if isinstance(s, str):
                    col, d = s, "asc"
                else:
                    ((col, d),) = s.items()
                    if isinstance(d, dict):
                        d = d.get("order", "asc")
                if col == "_score":
                    raise ValueError(
                        "sort by _score = the default ranking; omit sort"
                    )
                keys.append((col, d))
            members = self._aggs_membership(hits_q, meta_rt)
            base = meta_rt.join(members, "doc_id", "left_semi") \
                .withColumn("query_id", F.lit(0))
            if body.get("slice") is not None:
                # ES sliced scroll: slice i of m is a deterministic
                # 1/m cut of the match set (portable md5 of doc_id) so
                # m export workers page disjoint sets in parallel —
                # map-only, stable under repartition (query/body.py)
                from elasticsearch_analysis_combo_spark.query.body import (
                    slice_predicate,
                )

                base = base.filter(F.expr(slice_predicate(body["slice"])))
            cursors = (
                {0: tuple(body["search_after"])}
                if body.get("search_after") else None
            )
            hits = sort_search_after(base, keys, cursors=cursors, k=size)
        elif body.get("rescore") is not None and q is not None and size > 0:
            # ES rescore section: re-rank the top window_size hits of
            # the base query with a phrase boost. Supported subset: the
            # base query is a bare match (no filter context — the
            # rescore window must see the unfiltered ranking ES sees)
            # and the rescore_query is a match_phrase.
            rs = body["rescore"]
            spec = rs.get("query", rs)
            (rk, rb), = spec["rescore_query"].items()
            if rk != "match_phrase":
                raise ValueError(
                    "only match_phrase rescore_query is supported"
                )
            (_, v), = rb.items()
            phrase = v["query"] if isinstance(v, dict) else v
            rslop = int(v.get("slop", 0)) if isinstance(v, dict) else 0
            (qk, qb), = hits_q.items()
            if qk != "match":
                raise ValueError(
                    "rescore needs a bare match base query"
                )
            (_, mv), = qb.items()
            base_text = mv["query"] if isinstance(mv, dict) else mv
            hits = self.rescore(
                base_text,
                window_size=int(rs.get("window_size", 100)),
                rescore_weight=float(
                    spec.get("rescore_query_weight", 2.0)
                ),
                slop=rslop, k=fetch, partitioned=partitioned,
                rescore_query=phrase,
            )
        elif body.get("collapse") is not None and q is not None \
                and size > 0:
            # ES collapse section: one best hit per value of the
            # collapse field, winner chosen over the FULL scored set.
            # Supported subset: a bare match base query (collapse_topk
            # scores text exhaustively — a filtered base would need the
            # same pre-rank semi-join collapse_topk doesn't take).
            (qk, qb), = hits_q.items()
            if qk != "match":
                raise ValueError("collapse needs a bare match query")
            (_, mv), = qb.items()
            text = mv["query"] if isinstance(mv, dict) else mv
            hits = self.search_collapse(
                text, meta_rt, body["collapse"]["field"], k=fetch,
            )
        else:
            hits = (
                self.search_dsl(hits_q, doc_meta=meta_rt, k=fetch,
                                partitioned=partitioned)
                if q is not None and size > 0 else None
            )
        if hits is not None and min_score is not None:
            # ranks are score-ordered, so min_score survivors are a
            # rank PREFIX — no renumbering needed
            hits = hits.filter(F.col("score") >= float(min_score))
        if hits is not None and frm:
            # ES from/size pagination: global rank numbers are kept
            # (page 2 of size 10 = ranks 11..20, the search_after
            # convention)
            hits = hits.filter(F.col("rank") > frm)
        hl_spec = body.get("highlight")
        if hl_spec is not None and hits is not None and docs is not None:
            texts = self._match_texts(q)
            if texts:
                from elasticsearch_analysis_combo_spark.query.highlight \
                    import highlight_fragments

                field = next(iter(hl_spec.get("fields", {"text": {}})))
                frags = highlight_fragments(
                    self.spark, docs,
                    hits.select("query_id", "doc_id"),
                    [(0, " ".join(texts))], self._query_config(),
                    content_col=field,
                    window=max(1, int(hl_spec.get("fragment_size", 40))
                               // 2),
                )
                hl = (
                    frags.groupBy("query_id", "doc_id")
                    .agg(F.sort_array(F.collect_list(
                        F.struct("start_off", "fragment"))).alias("_f"))
                    .select(
                        "query_id", "doc_id",
                        F.transform(
                            "_f", lambda s: s.getField("fragment")
                        ).alias("highlight"),
                    )
                )
                hits = hits.join(hl, ["query_id", "doc_id"], "left")
        if body.get("explain") and hits is not None:
            # ES explain=true: each hit gains an ``explanation`` array —
            # the per-term Lucene BM25 decomposition (term, tf, idf,
            # contribution), term-ordered. Supported for a bare match
            # base (bm25_explain's shape); the stats scan is pruned to
            # the hit docs FIRST so the decomposition never touches the
            # non-hit corpus.
            (qk, qb), = hits_q.items()
            if qk != "match":
                raise ValueError("explain needs a bare match query")
            (_, mv), = qb.items()
            etext = mv["query"] if isinstance(mv, dict) else mv
            from elasticsearch_analysis_combo_spark.query.bm25 import (
                bm25_explain,
            )

            idx = self.idx
            pruned = idx.term_stats().join(
                F.broadcast(hits.select("doc_id").distinct()), "doc_id",
                "left_semi",
            )
            expl = bm25_explain(
                self.spark, pruned, idx.term_df(), [(0, etext)],
                self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
                k1=idx.meta.k1, b=idx.meta.b,
            )
            earr = expl.groupBy("query_id", "doc_id").agg(
                F.sort_array(F.collect_list(F.struct(
                    "term", "tf", "idf", "contribution"
                ))).alias("explanation")
            )
            hits = hits.join(earr, ["query_id", "doc_id"], "left")
        tth = body.get("track_total_hits")
        if tth and hits is not None and q is not None:
            # ES track_total_hits: exact count of the (post_filter-cut)
            # match set, id-only, broadcast onto the hits rows
            from elasticsearch_analysis_combo_spark.query.body import (
                attach_total_hits,
            )

            hits = attach_total_hits(
                hits, self._aggs_membership(hits_q, meta_rt), tth
            )
        if hits is not None and (
            body.get("_source") not in (None, False, True)
            or body.get("fields")
        ):
            # ES _source filtering / fields: join the requested
            # metadata + runtime columns onto the top-k rows
            from elasticsearch_analysis_combo_spark.query.body import (
                project_fields,
            )

            hits = project_fields(
                hits, meta_rt, body.get("_source"), body.get("fields")
            )
        match_ids = (
            self._aggs_membership(q, meta_rt) if q is not None else None
        )
        # meta_rt already carries the runtime fields — don't re-apply
        aggs = dsl_search_aggs(
            meta_rt, {"aggs": body.get("aggs", {})},
            match_doc_ids=match_ids,
        )
        return hits, aggs

    def msearch(
        self,
        bodies: list[dict],
        doc_meta: DataFrame,
        k: int = 10,
        docs: DataFrame | None = None,
        emb: DataFrame | None = None,
    ) -> list[tuple[DataFrame | None, DataFrame]]:
        """ES ``_msearch``: evaluate several ``_search`` bodies against
        this index; returns one ``(hits, aggs)`` pair per body, in
        order (each via :meth:`search_aggs` — lazy DataFrames, so
        consumers can union/collect as they wish). ``emb`` feeds any
        body carrying a ``knn`` section (the hybrid route)."""
        return [self.search_aggs(b, doc_meta, k=k, docs=docs, emb=emb)
                for b in bodies]

    def validate_query(self, dsl: dict) -> tuple[bool, str | None]:
        """ES ``_validate/query``: compile the DSL body without
        executing it — (True, None) if the tree compiles, else
        (False, explanation). Pure driver-side compilation, no Spark
        job."""
        from elasticsearch_analysis_combo_spark.query.dsl import (
            compile_dsl,
        )

        try:
            compile_dsl(dsl)
            return True, None
        except (ValueError, KeyError, TypeError) as e:
            return False, f"{type(e).__name__}: {e}"

    def rank_feature(
        self,
        query: str,
        doc_meta: DataFrame,
        field: str,
        k: int = 10,
        **opts,
    ) -> DataFrame:
        """ES ``rank_feature`` should-clause: BM25 + boost * f(S)
        (``function``: saturation | log | sigmoid)."""
        from elasticsearch_analysis_combo_spark.query.functionscore import (
            rank_feature_topk,
        )

        idx = self.idx
        return rank_feature_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            doc_meta, field, k=k, k1=idx.meta.k1, b=idx.meta.b, **opts,
        )

    def distance_feature(
        self,
        query: str,
        doc_meta: DataFrame,
        field: str,
        origin: float,
        pivot: float,
        boost: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """ES ``distance_feature``: BM25 + boost * pivot/(pivot+|x-origin|)."""
        from elasticsearch_analysis_combo_spark.query.functionscore import (
            distance_feature_topk,
        )

        idx = self.idx
        return distance_feature_topk(
            self.spark, idx.term_stats(), idx.term_df(), [(0, query)],
            self._query_config(), idx.meta.n_docs, idx.meta.avgdl,
            doc_meta, field, origin=origin, pivot=pivot, boost=boost,
            k=k, k1=idx.meta.k1, b=idx.meta.b,
        )

    def highlight(
        self,
        query: str,
        docs: DataFrame,
        k: int = 10,
        window: int = 20,
        content_col: str = "content",
    ) -> DataFrame:
        """ES highlight: run the query, then emit per-occurrence
        ``...before<em>match</em>after...`` fragments for the top-k hits
        (hit-pruned re-analysis, O(hits))."""
        from elasticsearch_analysis_combo_spark.query.highlight import (
            highlight_fragments,
        )

        hits = self.search(query, k=k).select("query_id", "doc_id")
        return highlight_fragments(
            self.spark, docs, hits, [(0, query)], self._query_config(),
            content_col=content_col, window=window,
        )

    def phrase_prefix(
        self,
        query: str | list[tuple[int, str]],
        slop: int = 0,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES ``match_phrase_prefix``: the phrase's last term matches as a
        prefix (alphabetical expansion capped at ``max_expansions``)."""
        from elasticsearch_analysis_combo_spark.query.phrase import (
            phrase_prefix_match,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        return phrase_prefix_match(
            self.spark, self.idx, self.idx, queries,
            self._query_config(), slop=slop, max_expansions=max_expansions,
        )

    def phrase_ranked(
        self,
        query: str | list[tuple[int, str]],
        k: int = 10,
        slop: int = 0,
    ) -> DataFrame:
        """Ranked phrase query (ES ``match_phrase``): BM25 over the phrase
        frequency, Lucene PhraseQuery-style idf sum."""
        from elasticsearch_analysis_combo_spark.query.phrase import phrase_topk

        queries = [(0, query)] if isinstance(query, str) else query
        meta = self.idx.meta
        return phrase_topk(
            self.spark, self.idx, queries, self._query_config(),
            n_docs=meta.n_docs, avgdl=meta.avgdl, k1=meta.k1, b=meta.b,
            k=k, slop=slop,
        )

    def more_like_this(
        self,
        doc_id: int | list[int],
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
    ) -> DataFrame:
        """ES ``more_like_this``: docs similar to the seed(s) — top-tf*idf
        seed terms queried as an OR, seeds excluded from their results."""
        from elasticsearch_analysis_combo_spark.query.morelikethis import (
            more_like_this,
        )

        seeds = [doc_id] if isinstance(doc_id, int) else list(doc_id)
        idx = self.idx
        return more_like_this(
            self.spark, idx.term_stats(), idx.term_df(), seeds,
            idx.meta.n_docs, idx.meta.avgdl,
            max_query_terms=max_query_terms, min_term_freq=min_term_freq,
            min_doc_freq=min_doc_freq, k=k, k1=idx.meta.k1, b=idx.meta.b,
        )

    def termvectors(self, doc_id: int | list[int]) -> DataFrame:
        """ES ``_termvectors``: every indexed term of the given doc(s)
        with tf and absolute positions, decoded from the stored packed
        positions payload."""
        from elasticsearch_analysis_combo_spark.query.termvectors import (
            termvectors,
        )

        ids = [doc_id] if isinstance(doc_id, int) else list(doc_id)
        return termvectors(self.spark, self.idx.term_stats(), ids)

    def count(
        self,
        query: str | None = None,
        doc_meta: DataFrame | None = None,
        filter_dsl: dict | None = None,
    ) -> int:
        """ES ``_count``: how many docs match, no ranking — a distinct
        doc_id count over the term-matched stats rows (OR semantics,
        like the default match query), optionally intersected with a
        compiled ``bool.filter`` predicate pushed into the metadata
        scan. ``query=None`` counts the filtered universe (match_all).
        No top-k machinery runs, so this stays two scans at any corpus
        size."""
        from pyspark.sql import functions as F

        from elasticsearch_analysis_combo_spark.query.bm25 import (
            analyze_queries,
        )
        from elasticsearch_analysis_combo_spark.query.dsl import (
            compile_filter,
        )

        idx = self.idx
        base = None
        if query is not None:
            terms = sorted(
                {t for _, t in analyze_queries(
                    [(0, query)], self._query_config()
                )}
            )
            base = (
                idx.term_stats()
                .filter(F.col("term").isin(terms))
                .select("doc_id")
                .distinct()
            )
        if filter_dsl is not None:
            if doc_meta is None:
                raise ValueError("filter_dsl requires doc_meta")
            survivors = doc_meta.filter(
                F.expr(compile_filter(filter_dsl))
            ).select("doc_id")
            base = (
                survivors if base is None
                else base.join(survivors, "doc_id", "left_semi")
            )
        if base is None:
            return idx.meta.n_docs
        return base.count()

    def field_caps(self, doc_meta: DataFrame | None = None) -> dict:
        """ES ``_field_caps``: per-field type/searchable/aggregatable.
        The indexed text field reports as ``text`` (searchable, not
        aggregatable — ES fielddata semantics); ``doc_meta`` columns
        report as keyword/long/double/etc. mapped from the Spark
        schema (searchable via filter context, aggregatable)."""
        caps = {
            "content": {
                "type": "text", "searchable": True, "aggregatable": False,
            }
        }
        if doc_meta is not None:
            type_map = {
                "string": "keyword", "long": "long", "int": "integer",
                "double": "double", "float": "float",
                "boolean": "boolean", "timestamp": "date",
                "timestamp_ntz": "date", "date": "date",
            }
            for f_ in doc_meta.schema.fields:
                caps[f_.name] = {
                    "type": type_map.get(
                        f_.dataType.typeName(), f_.dataType.typeName()
                    ),
                    "searchable": True,
                    "aggregatable": True,
                }
        return caps

    # ---- index aliases (ES filtered aliases) ----

    def _aliases_path(self) -> str:
        import os

        return os.path.join(self.index_dir, "aliases.json")

    def add_alias(self, name: str, filter_dsl: dict | None = None) -> None:
        """ES ``_aliases`` add action: register ``name`` for this index,
        optionally with a FILTERED alias (a ``bool.filter``-compilable
        DSL node applied to every search through the alias — the ES
        multi-tenancy idiom). Persisted atomically next to the index
        (aliases are index metadata, not session state); the filter is
        compile-checked NOW so a bad alias fails at registration, not
        at query time."""
        import json as _json
        import os

        from elasticsearch_analysis_combo_spark.query.dsl import (
            compile_filter,
        )

        if filter_dsl is not None:
            compile_filter(filter_dsl)  # validate eagerly
        path = self._aliases_path()
        aliases = {}
        if os.path.exists(path):
            with open(path) as fh:
                aliases = _json.load(fh)
        aliases[name] = {"filter": filter_dsl}
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(aliases, fh, indent=1)
        os.replace(tmp, path)

    def aliases(self) -> dict:
        import json as _json
        import os

        path = self._aliases_path()
        if not os.path.exists(path):
            return {}
        with open(path) as fh:
            return _json.load(fh)

    def remove_alias(self, name: str) -> None:
        import json as _json
        import os

        aliases = self.aliases()
        aliases.pop(name, None)
        tmp = self._aliases_path() + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(aliases, fh, indent=1)
        os.replace(tmp, self._aliases_path())

    def search_alias(
        self,
        alias: str,
        query: str,
        doc_meta: DataFrame | None = None,
        k: int = 10,
    ) -> DataFrame:
        """Search THROUGH an alias: a filtered alias injects its stored
        predicate as filter context (pre-rank semi-join, pushed into
        the metadata scan); an unfiltered alias is a plain search."""
        aliases = self.aliases()
        if alias not in aliases:
            raise KeyError(
                f"unknown alias {alias!r}; registered: {sorted(aliases)}"
            )
        filt = aliases[alias].get("filter")
        if filt is None:
            return self.search(query, k=k)
        if doc_meta is None:
            raise ValueError("filtered alias requires doc_meta")
        return self.search_dsl(
            {"bool": {"must": [{"match": {"content": query}}],
                      "filter": [filt]}},
            doc_meta=doc_meta, k=k,
        )

    def stats(self) -> dict:
        """ES ``_stats``-style index statistics: doc count, avgdl,
        vocabulary size, posting rows/blocks/bytes, recorded config."""
        idx = self.idx
        post = idx.postings()
        from pyspark.sql import functions as F

        row = post.agg(
            F.count("*").alias("rows"),
            F.sum(F.size("blocks")).alias("blocks"),
            F.expr(
                "sum(aggregate(blocks, 0L, (acc, b) -> acc + length(b.data)"
                " + coalesce(length(b.pos_data), 0)))"
            ).alias("bytes"),
        ).collect()[0]
        return {
            "n_docs": idx.meta.n_docs,
            "avgdl": idx.meta.avgdl,
            "k1": idx.meta.k1,
            "b": idx.meta.b,
            "vocabulary_size": idx.term_df().count(),
            "posting_rows": int(row["rows"]),
            "posting_blocks": int(row["blocks"] or 0),
            "posting_bytes": int(row["bytes"] or 0),
            "config": idx.meta.config,
        }

    def percolate(
        self,
        docs: DataFrame,
        registered: list[tuple],
        doc_id_col: str = "doc_id",
        content_col: str = "content",
        lang_col: str | None = None,
    ) -> DataFrame:
        """ES percolator: match incoming documents (pre-index) against
        registered term queries — (query_id, text, minimum_should_match[,
        must_not_text]) tuples. Uses the ENGINE's analyzer config (docs
        percolate the same way they would index)."""
        from elasticsearch_analysis_combo_spark.query.percolate import (
            percolate,
        )

        return percolate(
            self.spark, docs, registered, self.config,
            doc_id_col=doc_id_col, content_col=content_col,
            lang_col=lang_col,
        )

    def percolate_dsl(
        self,
        docs: DataFrame,
        registered: list[tuple[int, dict]],
        doc_id_col: str = "doc_id",
        content_col: str = "content",
        lang_col: str | None = None,
    ) -> DataFrame:
        """ES percolator with REAL query DSL bodies: (query_id, body)
        pairs where body is match / match_phrase (slop 0) / bool /
        any metadata filter leaf — compiled to one boolean column per
        query over the analyzed token array (map-only, no index)."""
        from elasticsearch_analysis_combo_spark.query.percolate import (
            percolate_dsl,
        )

        return percolate_dsl(
            self.spark, docs, registered, self.config,
            doc_id_col=doc_id_col, content_col=content_col,
            lang_col=lang_col,
        )

    # -- maintenance (delete / upsert / compact) -----------------------------
    def delete(self, doc_ids) -> None:
        """Tombstone documents (takes effect at the next :meth:`compact`,
        like Lucene deletes before a segment merge)."""
        from elasticsearch_analysis_combo_spark.plans.maintenance import (
            delete_docs,
        )

        delete_docs(self.spark, self.index_dir, doc_ids)

    def update_by_query(
        self,
        docs: DataFrame,
        script: str,
        query: str | None = None,
        conjunctive: bool = True,
        filter_sql: str | None = None,
        content_col: str = "content",
    ) -> int:
        """ES ``_update_by_query``: apply ``script`` — a SQL expression
        over the doc row producing the NEW content (the repo's painless
        analogue, same dialect as runtime_mappings) — to every doc
        matching the analyzed ``query`` (ALL terms when
        ``conjunctive``) and/or a ``filter_sql`` predicate over the
        ``docs`` frame's columns, then stage the rewritten docs as
        upserts (delete + add at the next compact — exactly ES's
        reindex-on-update lifecycle). ``docs`` is the source-of-truth
        document frame (doc_id + content + whatever the script
        references). Returns the number of docs staged.

        Scale: the match set is resolved as a DISTRIBUTED semi-join
        (term stats for the text query, a pushed-down predicate for the
        filter); only the matched slice re-analyzes, and nothing routes
        through the driver but the returned count."""
        from pyspark.sql import functions as F

        from elasticsearch_analysis_combo_spark.plans.maintenance import (
            upsert_docs,
        )
        from elasticsearch_analysis_combo_spark.query.bm25 import (
            analyze_queries,
        )

        sel = docs
        if filter_sql is not None:
            sel = sel.filter(F.expr(filter_sql))
        if query is not None:
            qterms = analyze_queries([(0, query)], self._query_config())
            terms = sorted({t for _, t in qterms})
            if not terms:
                return 0
            stats = self.idx.term_stats().filter(
                F.col("term").isin(terms)
            )
            matched = stats.groupBy("doc_id").agg(
                F.countDistinct("term").alias("_n")
            )
            if conjunctive:
                matched = matched.filter(F.col("_n") == len(terms))
            sel = sel.join(
                matched.select("doc_id"), "doc_id", "left_semi"
            )
        updated = sel.withColumn(content_col, F.expr(script)) \
            .localCheckpoint(eager=True)
        n = updated.count()
        if n:
            upsert_docs(
                self.spark, self.index_dir, updated,
                content_col=content_col,
            )
        return n

    def delete_by_query(self, query: str, conjunctive: bool = True) -> int:
        """ES ``_delete_by_query``: tombstone every doc matching the
        analyzed query (ALL matched terms when ``conjunctive``, ES's
        default match semantics otherwise any term). Returns the number
        of docs tombstoned; takes effect at the next :meth:`compact`,
        exactly ES's delete-then-merge lifecycle. The match set reaches
        the tombstone log as a DISTRIBUTED DataFrame — a stop-word
        delete over a 100 TB index never routes its doc_ids through the
        driver (only the returned count is a scalar)."""
        from pyspark.sql import functions as F

        from elasticsearch_analysis_combo_spark.plans.maintenance import (
            delete_docs,
        )
        from elasticsearch_analysis_combo_spark.query.bm25 import (
            analyze_queries,
        )

        idx = self.idx
        qterms = analyze_queries([(0, query)], self._query_config())
        terms = sorted({t for _, t in qterms})
        if not terms:
            return 0
        stats = idx.term_stats().filter(F.col("term").isin(terms))
        matched = stats.groupBy("doc_id").agg(
            F.countDistinct("term").alias("_n")
        )
        if conjunctive:
            matched = matched.filter(F.col("_n") == len(terms))
        # materialize ONCE (count + tombstone write share the plan)
        matched = matched.select("doc_id").localCheckpoint(eager=True)
        n = matched.count()
        if n:
            delete_docs(self.spark, self.index_dir, matched)
        return n

    def get_docs(
        self,
        doc_ids,
        source: DataFrame,
        cols: list[str] | None = None,
        id_col: str = "doc_id",
    ) -> DataFrame:
        """ES ``_mget`` with source filtering: fetch selected columns of
        specific docs from a stored corpus table — the id filter pushes
        into the parquet scan and ``cols`` prunes the read schema."""
        from pyspark.sql import functions as F

        ids = [doc_ids] if isinstance(doc_ids, int) else list(doc_ids)
        out = source.filter(F.col(id_col).isin(ids))
        return out.select(id_col, *cols) if cols else out

    def upsert(
        self,
        docs: DataFrame,
        doc_id_col: str = "doc_id",
        content_col: str = "content",
        lang_col: str | None = None,
    ) -> None:
        """Stage replacement/new documents (update = delete + add); folded
        in at the next :meth:`compact`."""
        from elasticsearch_analysis_combo_spark.plans.maintenance import (
            upsert_docs,
        )

        upsert_docs(
            self.spark, self.index_dir, docs, doc_id_col=doc_id_col,
            content_col=content_col, lang_col=lang_col,
        )

    def compact(self) -> InvertedIndex:
        """Fold pending deletes/upserts into a new atomically-published
        index generation and re-attach this engine to it."""
        from elasticsearch_analysis_combo_spark.plans.maintenance import (
            compact as _compact,
        )

        self._index = _compact(self.spark, self.index_dir)
        return self._index

    # -- analysis (the _analyze API, EP2) -----------------------------------
    def analyze_text(self, text: str, lang: str | None = None):
        return analyze_text(text, self.config, lang)

    def analyze_df(
        self, df: DataFrame, content_col: str = "content",
        lang_col: str | None = None,
    ) -> DataFrame:
        return analyze(df, self.config, content_col=content_col, lang_col=lang_col)


class MultiFieldSearchEngine:
    """Fielded search: ES ``multi_match`` over per-field sub-indexes.

    The reference plugin exists to feed combo token streams into fielded
    Lucene documents (reference README.md:17-36); this is the query half
    of that host behavior. Each field gets its own full inverted index
    under ``index_dir/fields/<field>/`` (its own df, doc count, avgdl —
    Lucene's per-field statistics), built/maintained by the same
    checkpointed pipeline as a single-field engine:

        eng = MultiFieldSearchEngine(
            spark, {"title": ComboConfig([...]), "body": ComboConfig([...])},
            index_dir="/indexes/main")
        eng.index(corpus, field_cols={"title": "title", "body": "body"})
        eng.multi_match("query text", boosts={"title": 2.0})

    ``best_fields`` with ``tie_breaker=0`` runs one block-max WAND pass
    per field and merges candidate sets (exact — proof in
    query/multifield.py); other combinations evaluate per-field scores
    exhaustively (broadcast-joined, partially aggregated).
    """

    def __init__(
        self,
        spark: SparkSession,
        configs: ComboConfig | dict[str, ComboConfig],
        index_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        **build_opts,
    ):
        self.spark = spark
        self.configs = configs
        self.index_dir = index_dir
        self.k1, self.b = k1, b
        self.build_opts = build_opts
        self._engines: dict[str, ComboSearchEngine] = {}

    def _field_dir(self, field: str) -> str:
        import os

        return os.path.join(self.index_dir, "fields", field)

    def _engine(self, field: str) -> ComboSearchEngine:
        if field not in self._engines:
            cfg = (
                self.configs[field]
                if isinstance(self.configs, dict) else self.configs
            )
            self._engines[field] = ComboSearchEngine(
                self.spark, cfg, self._field_dir(field),
                k1=self.k1, b=self.b, **self.build_opts,
            )
        return self._engines[field]

    @property
    def fields(self) -> list[str]:
        """All fields indexed on disk (the cached-engines set is only a
        fallback before the first build writes the directory — preferring
        it would hide sibling fields from a default multi_match)."""
        import os

        d = os.path.join(self.index_dir, "fields")
        on_disk = sorted(os.listdir(d)) if os.path.isdir(d) else []
        return on_disk or sorted(self._engines)

    def index(
        self,
        corpus: DataFrame,
        field_cols: dict[str, str],
        doc_id_col: str = "doc_id",
        lang_col: str | None = None,
    ) -> None:
        """Build one sub-index per field (field name -> corpus column).
        Sub-index builds are independently checkpointed, so a crash
        mid-way resumes at the unfinished field."""
        for field, col in field_cols.items():
            self._engine(field).index(
                corpus, doc_id_col=doc_id_col, content_col=col,
                lang_col=lang_col,
            )

    @staticmethod
    def _require_shared_analyzer(cfgs: dict, kind: str) -> None:
        """Term-statistic-blending modes (cross_fields, combined_fields)
        are only meaningful when the fields share one analyzer (ES
        groups fields per analyzer); mixed configs must fail loudly.
        Canonical JSON because _config_dict values contain lists, which
        a tuple-of-items set cannot hash."""
        import json

        from elasticsearch_analysis_combo_spark.plans.index_build import (
            _config_dict,
        )

        distinct = {
            json.dumps(_config_dict(c), sort_keys=True)
            for c in cfgs.values()
        }
        if len(distinct) > 1:
            raise ValueError(
                f"{kind} requires all fields to share one analyzer "
                "config; found differing configs"
            )

    def multi_match(
        self,
        query: str | list[tuple[int, str]],
        kind: str = "best_fields",
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
        k: int = 10,
        fields: list[str] | None = None,
        partitioned: bool | None = None,
    ) -> DataFrame:
        from elasticsearch_analysis_combo_spark.query.multifield import (
            multi_match_topk,
            multi_match_wand_topk,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        use = fields or self.fields
        if not use:
            raise ValueError("no fields indexed: call index() first")
        engines = {f: self._engine(f) for f in use}
        # query analysis follows each field's OWN index config (a dict of
        # per-field analyzers must not all analyze with the first field's)
        cfgs = {f: e._query_config() for f, e in engines.items()}
        if kind == "cross_fields":
            from elasticsearch_analysis_combo_spark.query.multifield import (
                multi_match_cross_fields_topk,
            )
            from elasticsearch_analysis_combo_spark.plans.index_build import (
                _config_dict,
            )

            # cross_fields blends statistics across fields, which is only
            # meaningful when the fields share one analyzer (ES groups
            # fields per analyzer); mixed configs must fail loudly
            self._require_shared_analyzer(cfgs, "cross_fields")
            stats = {f: e.idx.term_stats() for f, e in engines.items()}
            meta = {
                f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
                for f, e in engines.items()
            }
            return multi_match_cross_fields_topk(
                self.spark, stats, queries, cfgs[use[0]],
                boosts=boosts, tie_breaker=tie_breaker, k=k,
                k1=self.k1, b=self.b, field_meta=meta,
            )
        if kind == "best_fields" and tie_breaker == 0.0:
            postings = {f: e.idx for f, e in engines.items()}
            meta = {
                f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
                for f, e in engines.items()
            }
            # per-FIELD routing: each field fans out across doc ranges
            # only once ITS index crosses the single-field threshold (a
            # small title index next to a huge body index keeps the cheap
            # one-task pass); explicit `partitioned` overrides all fields
            part: bool | dict[str, bool]
            if partitioned is not None:
                part = partitioned
            else:
                part = {
                    f: e.idx.meta.n_docs
                    >= ComboSearchEngine.PARTITIONED_THRESHOLD
                    for f, e in engines.items()
                }
            return multi_match_wand_topk(
                self.spark, postings, meta, queries, cfgs,
                boosts=boosts, k=k, k1=self.k1, b=self.b, partitioned=part,
            )
        stats = {f: e.idx.term_stats() for f, e in engines.items()}
        meta = {
            f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
            for f, e in engines.items()
        }
        return multi_match_topk(
            self.spark, stats, queries, cfgs, kind=kind,
            boosts=boosts, tie_breaker=tie_breaker, k=k,
            k1=self.k1, b=self.b, field_meta=meta,
        )

    def multi_match_phrase(
        self,
        query: str | list[tuple[int, str]],
        slop: int = 0,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
        k: int = 10,
        fields: list[str] | None = None,
        partitioned: bool | None = None,
        range_bits: int = 4,
    ) -> DataFrame:
        """ES ``multi_match`` ``type: phrase``: a ``match_phrase`` per
        field over that field's positional sub-index, dis-max blended
        (see query/multifield.py::multi_match_phrase_topk — exact for
        any tie_breaker because each field scores its full, small,
        phrase match set). Per-FIELD partitioned routing, same rule as
        :meth:`multi_match`: a field fans out across doc ranges only
        once ITS index crosses the single-field threshold; explicit
        ``partitioned`` overrides all fields."""
        from elasticsearch_analysis_combo_spark.query.multifield import (
            multi_match_phrase_topk,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        use = fields or self.fields
        if not use:
            raise ValueError("no fields indexed: call index() first")
        engines = {f: self._engine(f) for f in use}
        cfgs = {f: e._query_config() for f, e in engines.items()}
        postings = {f: e.idx for f, e in engines.items()}
        meta = {
            f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
            for f, e in engines.items()
        }
        part: bool | dict[str, bool]
        if partitioned is not None:
            part = partitioned
        else:
            part = {
                f: e.idx.meta.n_docs
                >= ComboSearchEngine.PARTITIONED_THRESHOLD
                for f, e in engines.items()
            }
        return multi_match_phrase_topk(
            self.spark, postings, meta, queries, cfgs,
            boosts=boosts, tie_breaker=tie_breaker, k=k, slop=slop,
            k1=self.k1, b=self.b, partitioned=part, range_bits=range_bits,
        )

    def multi_match_phrase_prefix(
        self,
        query: str | list[tuple[int, str]],
        slop: int = 0,
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
        k: int = 10,
        fields: list[str] | None = None,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES ``multi_match`` ``type: phrase_prefix``: a
        ``match_phrase_prefix`` per field (last term expands over that
        field's own dictionary), dis-max blended (see
        query/multifield.py::multi_match_phrase_prefix_topk)."""
        from elasticsearch_analysis_combo_spark.query.multifield import (
            multi_match_phrase_prefix_topk,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        use = fields or self.fields
        if not use:
            raise ValueError("no fields indexed: call index() first")
        engines = {f: self._engine(f) for f in use}
        cfgs = {f: e._query_config() for f, e in engines.items()}
        return multi_match_phrase_prefix_topk(
            self.spark,
            {f: e.idx for f, e in engines.items()},
            {f: e.idx.term_df() for f, e in engines.items()},
            {f: e.idx.term_stats() for f, e in engines.items()},
            {
                f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
                for f, e in engines.items()
            },
            queries, cfgs, boosts=boosts, tie_breaker=tie_breaker,
            k=k, slop=slop, max_expansions=max_expansions,
            k1=self.k1, b=self.b,
        )

    def multi_match_bool_prefix(
        self,
        query: str | list[tuple[int, str]],
        boosts: dict[str, float] | None = None,
        tie_breaker: float = 0.0,
        k: int = 10,
        fields: list[str] | None = None,
        max_expansions: int = 50,
    ) -> DataFrame:
        """ES ``multi_match`` ``type: bool_prefix`` (multi-field
        search-as-you-type): a ``match_bool_prefix`` per field over
        that field's sub-index, dis-max blended (see
        query/multifield.py::multi_match_bool_prefix_topk)."""
        from elasticsearch_analysis_combo_spark.query.multifield import (
            multi_match_bool_prefix_topk,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        use = fields or self.fields
        if not use:
            raise ValueError("no fields indexed: call index() first")
        engines = {f: self._engine(f) for f in use}
        cfgs = {f: e._query_config() for f, e in engines.items()}
        stats = {f: e.idx.term_stats() for f, e in engines.items()}
        tdfs = {f: e.idx.term_df() for f, e in engines.items()}
        meta = {
            f: (e.idx.meta.n_docs, e.idx.meta.avgdl)
            for f, e in engines.items()
        }
        return multi_match_bool_prefix_topk(
            self.spark, stats, tdfs, meta, queries, cfgs,
            boosts=boosts, tie_breaker=tie_breaker, k=k,
            k1=self.k1, b=self.b, max_expansions=max_expansions,
        )

    @staticmethod
    def _parse_fieldspecs(specs):
        """ES ``fields`` list with ``field^boost`` syntax ->
        (field list | None, {field: boost} | None)."""
        if not specs:
            return None, None
        fields, boosts = [], {}
        for s in specs:
            if "^" in s:
                f, b = str(s).split("^", 1)
                fields.append(f)
                boosts[f] = float(b)
            else:
                fields.append(str(s))
        return fields, (boosts or None)

    def search_dsl(
        self,
        dsl: dict,
        k: int = 10,
        partitioned: bool | None = None,
    ) -> DataFrame:
        """ES ``_search`` ``query`` route for the FIELDED engine — the
        JSON bodies applications send for multi-field search:
        ``multi_match`` (``type`` best_fields / most_fields /
        cross_fields, ``fields`` with ES's ``field^boost`` syntax,
        ``tie_breaker``) and ``combined_fields`` (per-field weights
        from the same syntax) dispatch onto the facade evaluators.
        The single-field ComboSearchEngine.search_dsl handles
        everything else; ``type: phrase`` routes to
        :meth:`multi_match_phrase` (per-field match_phrase over the
        positional sub-indexes, dis-max blended) and ``bool_prefix``
        to :meth:`multi_match_bool_prefix` (per-field
        search-as-you-type, dis-max blended)."""
        if not isinstance(dsl, dict) or len(dsl) != 1:
            raise ValueError(
                f"query node must have exactly one key: {dsl!r}"
            )
        kind, body = next(iter(dsl.items()))
        if kind == "multi_match":
            mtype = body.get("type", "best_fields")
            if mtype == "phrase":
                fields, boosts = self._parse_fieldspecs(body.get("fields"))
                return self.multi_match_phrase(
                    body["query"], slop=int(body.get("slop", 0)),
                    boosts=boosts,
                    tie_breaker=float(body.get("tie_breaker", 0.0)),
                    k=k, fields=fields, partitioned=partitioned,
                )
            if mtype == "bool_prefix":
                fields, boosts = self._parse_fieldspecs(body.get("fields"))
                return self.multi_match_bool_prefix(
                    body["query"], boosts=boosts,
                    tie_breaker=float(body.get("tie_breaker", 0.0)),
                    k=k, fields=fields,
                    max_expansions=int(body.get("max_expansions", 50)),
                )
            if mtype == "phrase_prefix":
                fields, boosts = self._parse_fieldspecs(body.get("fields"))
                return self.multi_match_phrase_prefix(
                    body["query"], slop=int(body.get("slop", 0)),
                    boosts=boosts,
                    tie_breaker=float(body.get("tie_breaker", 0.0)),
                    k=k, fields=fields,
                    max_expansions=int(body.get("max_expansions", 50)),
                )
            if mtype not in ("best_fields", "most_fields",
                             "cross_fields"):
                raise ValueError(
                    f"unsupported multi_match type: {mtype!r} "
                    "(best_fields/most_fields/cross_fields/phrase/"
                    "phrase_prefix/bool_prefix)"
                )
            fields, boosts = self._parse_fieldspecs(body.get("fields"))
            return self.multi_match(
                body["query"], kind=mtype, boosts=boosts,
                tie_breaker=float(body.get("tie_breaker", 0.0)),
                k=k, fields=fields, partitioned=partitioned,
            )
        if kind == "combined_fields":
            if str(body.get("operator", "or")).lower() != "or":
                raise ValueError(
                    "combined_fields operator=and unsupported"
                )
            fields, weights = self._parse_fieldspecs(body.get("fields"))
            return self.combined_fields(
                body["query"], weights=weights, k=k, fields=fields,
            )
        raise ValueError(
            f"unsupported fielded query kind: {kind!r} (multi_match / "
            "combined_fields; single-field bodies go to "
            "ComboSearchEngine.search_dsl)"
        )

    def combined_fields(
        self,
        query: str | list[tuple[int, str]],
        weights: dict[str, float] | None = None,
        k: int = 10,
        fields: list[str] | None = None,
    ) -> DataFrame:
        """ES ``combined_fields`` query: the fields scored as ONE
        synthetic BM25F field (weighted tf/dl blend, exact combined df —
        see query/multifield.py::combined_fields_topk). Like ES,
        requires the fields to share one analyzer config."""
        from elasticsearch_analysis_combo_spark.plans.index_build import (
            _config_dict,
        )
        from elasticsearch_analysis_combo_spark.query.multifield import (
            combined_fields_topk,
        )

        queries = [(0, query)] if isinstance(query, str) else query
        use = fields or self.fields
        if not use:
            raise ValueError("no fields indexed: call index() first")
        engines = {f: self._engine(f) for f in use}
        cfgs = {f: e._query_config() for f, e in engines.items()}
        self._require_shared_analyzer(cfgs, "combined_fields")
        stats = {f: e.idx.term_stats() for f, e in engines.items()}
        return combined_fields_topk(
            self.spark, stats, queries, cfgs[use[0]],
            weights=weights, k=k, k1=self.k1, b=self.b,
        )
