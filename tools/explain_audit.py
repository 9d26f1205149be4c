"""Physical-plan audit: print .explain(formatted) for the engine's key
plans and grep-assert the properties that matter at scale:

  * posting term lookup: term filter PUSHED into the parquet scan
  * BM25 scoring: query-term dimension joins are BROADCAST
  * term stats aggregation: partial (map-side) aggregation present
  * posting scan: only the needed columns read (ReadSchema pruned)

Usage: python tools/explain_audit.py [index_dir]
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig  # noqa: E402
from elasticsearch_analysis_combo_spark.plans.index_build import build_index  # noqa: E402
from elasticsearch_analysis_combo_spark.query.bm25 import bm25_exhaustive_topk  # noqa: E402
from elasticsearch_analysis_combo_spark.session import get_spark  # noqa: E402
from elasticsearch_analysis_combo_spark.sources.corpus import (  # noqa: E402
    documents_as_corpus,
)


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, needle: str, forbid: str | None = None) -> bool:
    ok = needle in plan
    bad = forbid is not None and forbid in plan
    status = "OK " if (ok and not bad) else "FAIL"
    print(f"{status} {name}: expect '{needle}'" + (f", forbid '{forbid}'" if forbid else ""))
    return ok and not bad


def main() -> None:
    spark = get_spark("explain_audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    corpus = documents_as_corpus(spark, "/root/testdata/sf0.001")
    cfg = ComboConfig(["whitespace", "standard"], deduplication=True)
    idx_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp()
    idx = build_index(spark, corpus, cfg, idx_dir, salt_shards=4)

    failures = 0

    # 1. term-filtered posting scan: pushdown + column pruning
    lookup = idx.postings().filter(F.col("term").isin(["spark", "query"])).select(
        "term", "df", "max_impact"
    )
    p = plan_text(lookup)
    failures += not check("posting term filter pushdown", p, "PushedFilters: [In(term")
    failures += not check(
        "posting scan column pruning", p, "ReadSchema: struct<term:string,df:bigint,max_impact:double>"
    )

    # 2. BM25 exhaustive: broadcast of query terms
    topk = bm25_exhaustive_topk(
        spark, idx.term_stats(), idx.term_df(), [(0, "spark query")], cfg,
        idx.meta.n_docs, idx.meta.avgdl, k=10,
    )
    p = plan_text(topk)
    failures += not check("BM25 broadcast query-term join", p, "BroadcastHashJoin")
    failures += not check("BM25 partial aggregation", p, "HashAggregate")

    # 3. term stats: scan reads only needed corpus columns
    from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats

    stats = build_term_stats(corpus, cfg, content_col="content")
    p = plan_text(stats)
    failures += not check("analysis input pruning", p, "doc_id", forbid="content_sha256")

    # 5. partitioned phrase/WAND block fan-out: the term filter still
    # pushes into the posting scan before blocks explode to doc ranges
    from elasticsearch_analysis_combo_spark.query.phrase import (
        phrase_match_partitioned,
    )

    ph = phrase_match_partitioned(
        spark, idx, [(0, "the spark")], cfg, range_bits=3
    )
    p = plan_text(ph)
    failures += not check(
        "partitioned phrase scan pushdown", p, "PushedFilters: [In(term"
    )

    # 6. term suggester: ONE dictionary pass for the whole input batch —
    # the tiny inputs table must broadcast (BroadcastNestedLoopJoin, the
    # non-equi prefix/length predicates preclude a hash join) and the
    # vocabulary must be scanned exactly once
    from elasticsearch_analysis_combo_spark.query.suggest import term_suggest

    sug = term_suggest(
        spark, idx.term_df(), [(0, "sprk"), (1, "quey")], max_edits=2
    )
    p = plan_text(sug)
    failures += not check(
        "suggester single broadcast dictionary pass", p,
        "BroadcastNestedLoopJoin",
    )
    # formatted explain prints each scan twice (tree node + detail header)
    n_scans = p.count("Scan parquet") // 2
    ok = n_scans == 1
    print(f"{'OK ' if ok else 'FAIL'} suggester scans dictionary once: "
          f"{n_scans} parquet scan(s)")
    failures += not ok

    # 7. significant_terms with the precomputed dictionary: the background
    # df must come from the term_df table, not a re-aggregation of the
    # posting-sized stats (2 stats scans would betray the rebuild)
    from elasticsearch_analysis_combo_spark.query.facets import (
        significant_terms,
    )

    sig = significant_terms(
        spark, idx.term_stats(), [(0, "spark")], cfg, idx.meta.n_docs,
        term_df=idx.term_df(),
    )
    p = plan_text(sig)
    # the stats dir name appears once per scan's Location detail line:
    # match set (scanned for n_fg and for the fg join) + the fg stats join
    # = 3; a bg rebuilt from stats would add a 4th
    n_stats_scans = p.count("term_stats")
    ok = 0 < n_stats_scans <= 3
    print(f"{'OK ' if ok else 'FAIL'} significant_terms reuses term_df for "
          f"background: {n_stats_scans} stats scan(s)")
    failures += not ok

    # 8. completion suggester: every prefix branch's startswith filter
    # reaches the dictionary scan (StringStartsWith pushdown) — a 10^9
    # vocabulary must prune to the prefix's row groups
    from elasticsearch_analysis_combo_spark.query.suggest import (
        completion_suggest,
    )

    comp = completion_suggest(
        spark, idx.term_df(), [(0, "sp"), (1, "qu")], k=5
    )
    p = plan_text(comp)
    failures += not check(
        "completion suggester startswith pushdown", p,
        "StringStartsWith(term",
    )

    # 9. simple_query_string prefix clause: the expansion must stay a
    # DISTRIBUTED join (the round-3 scale-killer was a driver-side
    # collect re-shipped as isin literals); evidence = the query-text
    # startswith predicate pushed into the stats scan AND a window cap
    # over the expansion inside the plan
    from elasticsearch_analysis_combo_spark.query.querystring import (
        simple_query_string_topk,
    )

    qs = simple_query_string_topk(
        spark, idx.term_stats(), idx.term_df(), None, [(0, "sp* +query")],
        cfg, idx.meta.n_docs, idx.meta.avgdl, k=10,
    )
    p = plan_text(qs)
    failures += not check(
        "query_string prefix pushdown (no driver expansion)", p,
        "StringStartsWith(term",
    )
    # WindowGroupLimit = Spark 4 pushes the rank()<=N cap map-side, so
    # each task keeps only max_expansions rows before any shuffle — the
    # shape that makes a 1-char prefix over a 10^9 vocabulary safe
    failures += not check(
        "query_string expansion cap is an in-plan window", p,
        "WindowGroupLimit",
    )

    # 10. cross_fields: per-field stats scans stay isin-pruned (blending
    # statistics must not force full-vocabulary scans)
    from elasticsearch_analysis_combo_spark.query.multifield import (
        multi_match_cross_fields_topk,
    )

    cross = multi_match_cross_fields_topk(
        spark, {"a": idx.term_stats(), "b": idx.term_stats()},
        [(0, "spark query")], cfg,
    )
    p = plan_text(cross)
    failures += not check(
        "cross_fields pruned stats scans", p, "PushedFilters: [In(term"
    )

    # 11. filter context: the metadata predicate must reach the documents
    # parquet scan (row-group pruning), not sit above the join
    from elasticsearch_analysis_combo_spark.query.boolean import (
        bm25_filtered_topk,
    )

    docs_meta = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fc = bm25_filtered_topk(
        spark, idx.term_stats(), idx.term_df(), [(0, "spark")], cfg,
        idx.meta.n_docs, idx.meta.avgdl, docs_meta,
        "n_chars >= 100 AND n_chars < 400", k=10,
    )
    p = plan_text(fc)
    failures += not check(
        "filter-context predicate pushdown", p,
        "GreaterThanOrEqual(n_chars,100)",
    )

    # 12. deterministic sampling: hash_sample must be a pure filter (no
    # Exchange anywhere — at 100 TB a shuffle to sample is the bug), and
    # exact-n sampling must use the WindowGroupLimit rank pushdown
    from elasticsearch_analysis_combo_spark.operators.sampling import (
        hash_sample,
        stratified_sample_exact,
    )

    hs = hash_sample(docs_meta, 0.25, key_col="doc_id", seed=7)
    p = plan_text(hs)
    failures += not check(
        "hash_sample is map-only", p, "Scan parquet", forbid="Exchange"
    )
    se = stratified_sample_exact(docs_meta, "source", 5, key_col="doc_id")
    p = plan_text(se)
    failures += not check(
        "exact-n sample rank-limit pushdown", p, "WindowGroupLimit"
    )

    # 13. filtered kNN: the label predicate must reach the embeddings scan
    # BEFORE the Arrow scoring pass (pre-filter semantics + row-group
    # pruning on the metadata column)
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        filtered_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kf = filtered_cosine_topk(emb, [(0, [0.0] * 64)], "label < 5", k=5)
    p = plan_text(kf)
    failures += not check(
        "filtered kNN label pushdown", p, "LessThan(label,5)"
    )

    # 14. geo_distance: the derived bounding box must reach the scan as
    # plain range predicates (the BKD-tree analogue) — the haversine
    # itself must NOT be the pruning filter
    from elasticsearch_analysis_combo_spark.query.geo import geo_distance

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pts = ev.selectExpr(
        "event_id",
        "cast(user_id % 180 as double) - 90.0 as lat",
        "cast((user_id * 7) % 360 as double) - 180.0 as lon",
    )
    gd = geo_distance(pts, "lat", "lon", 10.0, 20.0, 1500.0)
    p = plan_text(gd)
    # dlat = degrees(1500 / R) ~ 13.4898 deg -> upper lat bound 23.4898…
    # appears as a literal range comparison (the pushable box), proving
    # the plan prunes by the box before any trig evaluates
    failures += not check(
        "geo_distance literal box bound in plan", p, "23.48"
    )

    # 15. match_bool_prefix: prefix expansion stays distributed —
    # startswith pushdown + in-plan rank cap (WindowGroupLimit)
    from elasticsearch_analysis_combo_spark.query.boolean import (
        match_bool_prefix_topk,
    )

    mbp = match_bool_prefix_topk(
        spark, idx.term_stats(), idx.term_df(), [(0, "spark qu")], cfg,
        idx.meta.n_docs, idx.meta.avgdl, k=10,
    )
    p = plan_text(mbp)
    failures += not check(
        "match_bool_prefix startswith pushdown", p, "StringStartsWith(term"
    )
    failures += not check(
        "match_bool_prefix capped expansion window", p, "WindowGroupLimit"
    )

    # 16. repetition_stats: the documents scan must read only (doc_id,
    # text), and the per-doc kernel must stay MAP-ONLY — a per-row
    # statistic must not shuffle gram strings (~7x corpus bytes)
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        repetition_stats,
    )

    rep = repetition_stats(docs_meta)
    p = plan_text(rep)
    failures += not check(
        "repetition_stats column pruning", p,
        "ReadSchema: struct<doc_id:bigint,text:string>",
    )
    failures += not check(
        "repetition_stats map-only kernel", p, "MapInPandas",
        forbid="Exchange",
    )

    # 17. bucket_sort: the rank cut must push map-side (WindowGroupLimit)
    # so each task keeps only from+size bucket rows
    from elasticsearch_analysis_combo_spark.query.facets import (
        bucket_sort_agg,
        date_histogram_agg,
    )

    bs = bucket_sort_agg(
        date_histogram_agg(ev, "ts", interval="day", group_col="event_type"),
        "doc_count", size=5, group_col="event_type", tiebreak_col="bucket",
    )
    p = plan_text(bs)
    failures += not check("bucket_sort rank-limit pushdown", p,
                          "WindowGroupLimit")

    # 18. semantic_dedup: assignment is one Arrow map pass and the
    # within-cell pairwise cosine stays JVM-side — no Python eval node
    # may appear above the cell join
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    sd = semantic_dedup_pairs(emb, threshold=0.9, n_cells=4, seed=7)
    p = plan_text(sd)
    failures += not check(
        "semantic_dedup Arrow assignment pass", p, "MapInPandas",
        forbid="BatchEvalPython",
    )

    # 19. ES DSL filter context: the compiled predicate must reach the
    # metadata parquet scan (PushedFilters), and the nested query must
    # stay map-only (array algebra, no Exchange)
    from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk
    from elasticsearch_analysis_combo_spark.query.relations import (
        nested_query,
    )

    docs_meta = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars")
    d = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"bool": {"must": [{"match": {"content": "spark"}}],
                       "filter": [{"term": {"lang": "en"}},
                                  {"range": {"n_chars": {"gte": 100}}}]}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, doc_meta=docs_meta,
    )
    p = plan_text(d)
    failures += not check(
        "DSL filter-context parquet pushdown", p,
        "PushedFilters: [IsNotNull(lang), IsNotNull(n_chars), "
        "EqualTo(lang,en), GreaterThanOrEqual(n_chars,100)",
    )

    nested = spark.createDataFrame(
        [(1, [(1, 2.0)])], "id long, items array<struct<ln:int, q:double>>"
    )
    p = plan_text(nested_query(nested, "items", "x.q >= 1", score_mode="sum",
                               score_expr="x.q"))
    failures += not check("nested query map-only", p, "Project",
                          forbid="Exchange")

    # 20. pure-filter DSL (constant_score / match_all+filter) must be a
    # TakeOrderedAndProject, never a single-partition window over the
    # whole filtered membership
    cs = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"constant_score": {"filter": {"term": {"lang": "en"}},
                                 "boost": 2.0}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, doc_meta=docs_meta,
    )
    p = plan_text(cs)
    failures += not check(
        "pure-filter DSL top-k is TakeOrdered", p, "TakeOrderedAndProject"
    )

    # 21. combined_fields: the per-field stats scans must prune on the
    # query terms (In pushdown)
    from elasticsearch_analysis_combo_spark.query.multifield import (
        combined_fields_topk,
    )

    cf = combined_fields_topk(
        spark, {"a": idx.term_stats(), "b": idx.term_stats()},
        [(0, "spark query")], cfg, weights={"a": 2.0},
    )
    p = plan_text(cf)
    failures += not check(
        "combined_fields pruned stats scans", p, "PushedFilters: [In(term"
    )

    # 22. geo_polygon: the vertex bounding box must reach the parquet
    # scan (row-group pruning), and the parity test is map-only
    from elasticsearch_analysis_combo_spark.query.geo import geo_polygon

    pts = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).selectExpr(
        "event_id",
        "cast(user_id % 180 as double) - 90.0 as lat",
        "cast((user_id * 7) % 360 as double) - 180.0 as lon",
    )
    gp = geo_polygon(
        pts, "lat", "lon", [(-40.0, -100.0), (50.0, -80.0), (0.0, 30.0)]
    )
    p = plan_text(gp)
    failures += not check(
        "geo_polygon map-only parity", p, "Project", forbid="Exchange"
    )

    # 23. ngram_lm_perplexity: the 1-row vocabulary count rides as a
    # broadcast nested-loop cross join; no per-row Python anywhere
    from elasticsearch_analysis_combo_spark.operators.text_quality import (
        ngram_lm_perplexity,
    )

    docs_df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_text(ngram_lm_perplexity(docs_df))
    failures += not check(
        "lm_perplexity broadcast V, JVM-side", p,
        "BroadcastNestedLoopJoin", forbid="BatchEvalPython",
    )

    # 24. scripted_metric: per-partition map+combine (MapInPandas) feeds
    # a per-bucket reduce (FlatMapGroupsInPandas) — full rows must not
    # be what shuffles
    from elasticsearch_analysis_combo_spark.query.facets import (
        scripted_metric_agg,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sm = scripted_metric_agg(
        ev.select("event_type", "value"), "event_type",
        lambda pdf: {"wsum": float(pdf["value"].sum()), "n": int(len(pdf))},
        lambda states: float(states["wsum"].sum()),
        state_schema="wsum double, n long",
    )
    p = plan_text(sm)
    failures += not (
        check("scripted_metric map+combine stage", p, "MapInPandas")
        and check("scripted_metric reduce stage", p, "FlatMapGroupsInPandas")
    )

    # 25. duplicate_spans: sites come from ONE Arrow rolling-hash pass
    # (never a per-row Python UDF, never window strings), and the
    # canonical ledger is a single hash-partitioned window pass — no
    # agg + join-back (that re-shuffles the full site stream twice)
    from elasticsearch_analysis_combo_spark.operators.dedup import (
        duplicate_spans,
    )

    p = plan_text(duplicate_spans(docs_df, window=8))
    failures += not (
        check("duplicate_spans single-shuffle ledger", p, "Window",
              forbid="SortMergeJoin")
        and check("duplicate_spans Arrow rolling-hash pass", p,
                  "MapInPandas", forbid="BatchEvalPython")
    )

    # 26. geohash_grid: the base-32 encode is pure codegen arithmetic
    # (no Python), and the agg partial-aggregates map-side before the
    # ONE exchange — at 100 TB each task forwards <= 32^p rows
    from elasticsearch_analysis_combo_spark.query.geo import (
        geohash_grid_agg,
    )

    pts = spark.range(1000).selectExpr(
        "cast(id % 180 as double) - 90.0 as lat",
        "cast((id * 7) % 360 as double) - 180.0 as lon",
    )
    p = plan_text(geohash_grid_agg(pts, "lat", "lon", precision=4))
    failures += not check(
        "geohash_grid codegen partial agg", p, "partial_count",
        forbid="BatchEvalPython",
    )

    # 27. random_sampler: the Bernoulli predicate is a map-side filter
    # BEFORE the group-by exchange (the scan reads everything once, the
    # shuffle carries only p of the rows), all JVM-side
    from elasticsearch_analysis_combo_spark.query.facets import (
        random_sampler_agg,
    )

    meta = spark.range(1000).selectExpr(
        "id as doc_id", "cast(id % 5 as string) as lang",
        "cast(id % 97 as double) as n",
    )
    p = plan_text(random_sampler_agg(meta, 0.25, "lang", "n"))
    failures += not check(
        "random_sampler map-side md5 filter", p, "Filter",
        forbid="BatchEvalPython",
    )

    # 28. multi_index_topk: every per-index leg broadcasts its query
    # dimension (never shuffles the stats table on the query join)
    from elasticsearch_analysis_combo_spark.query.bm25 import (
        multi_index_topk,
    )

    midx = {
        n: (stats.filter(F.pmod("doc_id", F.lit(2)) == i),
            stats.groupBy("term").agg(F.count("*").alias("df")),
            50, 10.0)
        for i, n in enumerate(("a", "b"))
    }
    p = plan_text(multi_index_topk(
        spark, midx, [(0, "value")], ComboConfig(["whitespace"])
    ))
    failures += not check(
        "multi_index broadcast query dim", p, "BroadcastHashJoin",
        forbid="SortMergeJoin",
    )

    # 29. sample_to_token_budget: the row-level cumsum window must
    # partition by (stratum, bucket) — a stratum-only window puts a
    # whole 100 TB source in ONE task (r4 verdict finding) — and the
    # per-bucket base offsets come back via broadcast, not a shuffle
    from elasticsearch_analysis_combo_spark.operators.sampling import (
        sample_to_token_budget,
    )

    mix = spark.range(1000).selectExpr(
        "id as doc_id", "cast(id % 4 as string) as src",
        "cast(id % 37 + 1 as int) as n_tok",
    )
    p = plan_text(sample_to_token_budget(mix, "src", {"0": 500, "1": 300}, "n_tok"))
    failures += not check(
        "token_budget base offsets broadcast back", p, "BroadcastHashJoin",
        forbid="SortMergeJoin",
    )
    bad_windows = [
        ln for ln in p.splitlines()
        if "windowspecdefinition" in ln and "_bk" not in ln
        and "_sub" not in ln  # tiny (strata x buckets) base-offset pass
    ]
    ok = not bad_windows
    print(("OK " if ok else "FAIL")
          + " token_budget cumsum is bucketed (no stratum-only window)")
    failures += not ok

    # 30. aggcompiler: a terms bucket with metric sub-aggs must be ONE
    # hash-aggregate pass (map-side partial_count visible, no Python
    # eval), and children of a size-limited terms agg must semi-join
    # the surviving parent keys via BROADCAST, never a sort-merge join
    from elasticsearch_analysis_combo_spark.query.aggcompiler import (
        dsl_search_aggs,
    )

    rows = spark.range(2000).selectExpr(
        "id as doc_id", "cast(id % 7 as string) as status",
        "cast(id % 3 as string) as prio", "cast(id % 97 as double) as price",
    )
    p = plan_text(dsl_search_aggs(rows, {
        "query": {"range": {"price": {"gte": 1}}},
        "aggs": {"t": {"terms": {"field": "status", "size": 3,
                                 "order": {"m": "desc"}},
                       "aggs": {"m": {"avg": {"field": "price"}},
                                "p": {"terms": {"field": "prio",
                                                "size": 2}}}}},
    }))
    failures += not check(
        "aggcompiler bucket pass is codegen partial agg", p,
        "partial_count", forbid="BatchEvalPython",
    )
    failures += not check(
        "aggcompiler nested-terms parent cut is broadcast semi-join", p,
        "BroadcastHashJoin", forbid="SortMergeJoin",
    )

    # 31. wildcard SCORING clause (round-5d): the dictionary expansion
    # must stay distributed — the wildcard's literal prefix pushes as a
    # startswith into the dictionary scan, and the max_expansions cap is
    # an in-plan map-side window (same shape as the prefix-clause check)
    from elasticsearch_analysis_combo_spark.query.dsl import dsl_topk

    wq = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"wildcard": {"content": "sp*k"}})], cfg,
        idx.meta.n_docs, idx.meta.avgdl, k=10,
    )
    p = plan_text(wq)
    failures += not check(
        "wildcard expansion literal-prefix pushdown", p,
        "StringStartsWith(term",
    )
    failures += not check(
        "wildcard expansion cap is an in-plan window", p,
        "WindowGroupLimit",
    )

    # 32. aggcompiler pipeline aggs (round-5d): derivative/cumsum/
    # bucket_script windows run over the REDUCED bucket frame — the
    # only row-data pass is the partial-aggregated bucket groupBy, and
    # everything stays JVM-side
    p = plan_text(dsl_search_aggs(rows, {
        "aggs": {"h": {"histogram": {"field": "price", "interval": 10.0},
                       "aggs": {"s": {"sum": {"field": "price"}},
                                "cum": {"cumulative_sum":
                                        {"buckets_path": "_count"}},
                                "d": {"derivative":
                                      {"buckets_path": "s"}}}},
                 "avg_s": {"avg_bucket": {"buckets_path": "h>s"}}},
    }))
    failures += not check(
        "pipeline aggs window over reduced buckets, JVM-side", p,
        "Window", forbid="BatchEvalPython",
    )
    failures += not check(
        "pipeline aggs bucket pass is codegen partial agg", p,
        "partial_count", forbid="InMemoryTableScan",
    )

    # 33. DSL span route (round-5e): the idf dimension joins BROADCAST
    # and the dl leg is a term-PRUNED stats scan (In(term,...) pushed
    # into parquet) — never a full-corpus dl pass
    sq = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), idx,
        [(0, {"span_near": {"clauses": [
            {"span_term": {"content": "spark"}},
            {"span_term": {"content": "query"}}], "slop": 2}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, k=10,
    )
    p = plan_text(sq)
    failures += not check(
        "span route idf dimension broadcast", p, "BroadcastHashJoin",
    )
    failures += not check(
        "span route dl scan term-pruned pushdown", p, "In(term",
    )

    # 34. DSL function_score (round-5e): the transform is ONE metadata
    # join + codegen CASE projection over the unranked scored set —
    # no Python on the hot path
    fq = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"function_score": {
            "query": {"match": {"content": "spark"}},
            "field_value_factor": {"field": "n_chars", "factor": 0.001,
                                   "modifier": "log1p"}}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, k=10,
        doc_meta=corpus.selectExpr(
            "row_number() over (order by path) - 1 as doc_id",
            "length(content) as n_chars",
        ),
    )
    p = plan_text(fq)
    failures += not check(
        "function_score transform is JVM-side CASE projection", p,
        "CASE WHEN", forbid="BatchEvalPython",
    )

    # 35. aggcompiler round-5f: top_hits must be a WindowGroupLimit
    # (each map task forwards at most `size` rows per bucket — the
    # shuffle carries hits, never the bucket's row set), and the whole
    # tree stays JVM-side
    p = plan_text(dsl_search_aggs(rows, {
        "aggs": {"t": {"terms": {"field": "status", "size": 3},
                       "aggs": {"best": {"top_hits": {
                           "size": 2, "sort": [{"price": "desc"}],
                           "_source": ["doc_id"]}}}}},
    }))
    failures += not check(
        "top_hits per-bucket cut is WindowGroupLimit", p,
        "WindowGroupLimit", forbid="BatchEvalPython",
    )

    # 36. aggcompiler round-5f: random_sampler membership is a pure
    # map-side predicate — the md5 filter must sit in a Filter BEFORE
    # any Exchange (scan-side), so the shuffle carries only the sample
    p = plan_text(dsl_search_aggs(rows, {
        "aggs": {"s": {"random_sampler": {"probability": 0.25,
                                          "key_field": "doc_id"},
                       "aggs": {"t": {"terms": {"field": "status",
                                                "size": 5}}}}},
    }))
    failures += not check(
        "random_sampler md5 membership is a scan-side filter", p,
        "conv(substr(md5", forbid="BatchEvalPython",
    )
    failures += not check(
        "random_sampler tree is one partial-aggregated pass", p,
        "partial_count",
    )

    # 37. round-5g geo_distance DSL leaf: the sargable bounding-box
    # conjunct must reach the parquet scan (PushedFilters on the STORED
    # lat/lon doubles) and the exact haversine stays a JVM codegen
    # Filter — never a Python eval node
    geo_dir = tempfile.mkdtemp()
    spark.range(500).selectExpr(
        "id AS doc_id",
        "CAST(id % 120 AS DOUBLE) / 2.0 - 30.0 AS loc_lat",
        "CAST((id * 7) % 280 AS DOUBLE) / 2.0 - 70.0 AS loc_lon",
        "CAST(id % 50 AS DOUBLE) AS popularity",
    ).write.mode("overwrite").parquet(geo_dir)
    geo_meta = spark.read.parquet(geo_dir)
    g = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"constant_score": {"filter": {"geo_distance": {
            "distance": "1500km", "loc": {"lat": 5.0, "lon": -40.0}}},
            "boost": 1.0}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, doc_meta=geo_meta,
    )
    p = plan_text(g)
    failures += not check(
        "geo_distance box conjunct reaches the parquet scan", p,
        "GreaterThanOrEqual(loc_lat,", forbid="BatchEvalPython",
    )
    failures += not check(
        "geo_distance exact haversine is JVM codegen", p, "ASIN(",
    )
    failures += not check(
        "geo membership top-k is TakeOrdered", p, "TakeOrderedAndProject",
    )

    # 38. nested DSL leaf: HOF exists() over the array<struct> — the
    # membership is one map-only predicate (no explode, no join)
    nmeta = spark.createDataFrame(
        [(1, [("kim", 5)])],
        "doc_id long, comments array<struct<author:string, stars:int>>",
    )
    n = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"constant_score": {"filter": {"nested": {
            "path": "comments",
            "query": {"term": {"comments.author": "kim"}}}},
            "boost": 1.0}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, doc_meta=nmeta,
    )
    p = plan_text(n)
    failures += not check(
        "nested DSL leaf is a map-only exists()", p, "lambdafunction",
        forbid="Generate",  # no explode
    )

    # 38b. diversified_sampler bucket: both cuts (per-value cap +
    # shard_size) must be WindowGroupLimit — each map task forwards at
    # most the cap per key, so the shuffle carries samples, never the
    # frame — and the whole tree stays JVM-side
    p = plan_text(dsl_search_aggs(rows, {
        "aggs": {"s": {"diversified_sampler": {
            "field": "status", "max_docs_per_value": 2,
            "shard_size": 5, "key_field": "doc_id"},
            "aggs": {"t": {"terms": {"field": "status", "size": 5}}}}},
    }))
    failures += not check(
        "diversified_sampler cuts are WindowGroupLimit", p,
        "WindowGroupLimit", forbid="BatchEvalPython",
    )

    # 39. rank_feature: per-doc score expression in ONE metadata scan,
    # top-k cut is a TakeOrderedAndProject (never a global sort)
    r = dsl_topk(
        spark, idx.term_stats(), idx.term_df(), None,
        [(0, {"rank_feature": {"field": "popularity",
                               "saturation": {"pivot": 10.0}}})],
        cfg, idx.meta.n_docs, idx.meta.avgdl, doc_meta=geo_meta,
    )
    p = plan_text(r)
    failures += not check(
        "rank_feature scores in one scan + TakeOrdered", p,
        "TakeOrderedAndProject", forbid="BatchEvalPython",
    )

    # 40. fielded multi_match bool_prefix (round-5i): each field's
    # prefix expansion pushes startswith into that field's DICTIONARY
    # scan and the max_expansions cap stays an in-plan window — the
    # blend adds no Python and no extra corpus pass
    from elasticsearch_analysis_combo_spark.query.multifield import (
        multi_match_bool_prefix_topk,
        multi_match_phrase_topk,
    )

    bp = multi_match_bool_prefix_topk(
        spark, {"content": idx.term_stats()}, {"content": idx.term_df()},
        {"content": (idx.meta.n_docs, idx.meta.avgdl)},
        [(0, "spark qu")], cfg, k=10,
    )
    p = plan_text(bp)
    failures += not check(
        "mm bool_prefix expansion startswith pushdown", p,
        "StringStartsWith(term",
    )
    failures += not check(
        "mm bool_prefix expansion cap is an in-plan window", p,
        "WindowGroupLimit", forbid="BatchEvalPython",
    )

    # 41. fielded multi_match phrase (round-5i): each field's positional
    # posting scan is term-PRUNED (In(term,...) pushed into parquet); the
    # phrases are scored in the calling process, so the per-field scores
    # enter the blend as LocalTableScan rows, never row-Python. The check
    # plans the fetch scan through the same builder a PostingFrame's
    # positional read calls.
    from elasticsearch_analysis_combo_spark.operators.postings import (
        posting_scan,
    )
    from elasticsearch_analysis_combo_spark.query.phrase import analyze_phrases

    p = plan_text(posting_scan(
        idx.postings(),
        {t for _, _, t in analyze_phrases([(0, "spark query")], cfg)},
        positions=True,
    ))
    failures += not check(
        "mm phrase posting scan term-pruned pushdown", p,
        "PushedFilters: [In(term",
    )
    pp = multi_match_phrase_topk(
        spark, {"content": idx},
        {"content": (idx.meta.n_docs, idx.meta.avgdl)},
        [(0, "spark query")], cfg, k=10,
    )
    p = plan_text(pp)
    failures += not check(
        "mm phrase scores are in-process LocalTableScan (no row-Python)", p,
        "LocalTableScan", forbid="BatchEvalPython",
    )

    # 42. geo_line (round-5j): the size cut at the sort extreme must be
    # a WindowGroupLimit — each map task forwards at most `size` points
    # per track BEFORE the shuffle, so a million-point track ships only
    # `size` rows; assembly stays JVM-side (array_sort + transform)
    from elasticsearch_analysis_combo_spark.query.geo import geo_line_agg

    gl_rows = spark.createDataFrame(
        [("t", i, float(i % 90), float(i % 180)) for i in range(20)],
        "track string, ts int, lat double, lon double",
    )
    p = plan_text(geo_line_agg(
        gl_rows, "lat", "lon", "ts", group_col="track", size=5,
    ))
    failures += not check(
        "geo_line size cut is WindowGroupLimit", p,
        "WindowGroupLimit", forbid="BatchEvalPython",
    )

    # 43. terms_enum (round-5l): the prefix must reach the parquet
    # dictionary scan (StringStartsWith pushdown) and the ordered size
    # cut must be a TakeOrderedAndProject (each task forwards at most
    # `size` terms — no full dictionary sort)
    from elasticsearch_analysis_combo_spark.query.suggest import terms_enum

    p = plan_text(terms_enum(idx.term_df(), "sp", size=5))
    failures += not check(
        "terms_enum prefix pushdown into the dictionary scan", p,
        "StringStartsWith",
    )
    failures += not check(
        "terms_enum size cut is TakeOrderedAndProject", p,
        "TakeOrderedAndProject", forbid="BatchEvalPython",
    )

    # 44. url_filter (round-5m): the URL curation verdict is MAP-ONLY —
    # one scan, zero Exchange, zero Python (at 100 TB this runs at
    # scan speed before any text is read)
    from elasticsearch_analysis_combo_spark.operators.pipeline import (
        url_filter,
    )

    docs_url = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr("doc_id", "concat('https://h', source, '/p') as url")
    p = plan_text(url_filter(docs_url, blocked_domains=["x.com"]))
    ok = "Exchange" not in p and "BatchEvalPython" not in p
    print(f"{'OK ' if ok else 'FAIL'} url_filter is map-only "
          f"(no Exchange, no Python)")
    failures += not ok

    # 45. slice predicate (round-5m sliced scroll): the 1/m cut is a
    # plain Filter over the scan — slicing must ADD no Exchange
    from elasticsearch_analysis_combo_spark.query.body import (
        slice_predicate,
    )

    base_scan = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")
    p0 = plan_text(base_scan)
    p1 = plan_text(
        base_scan.filter(F.expr(slice_predicate({"id": 1, "max": 8})))
    )
    ok = (p1.count("Exchange") == p0.count("Exchange")
          and "BatchEvalPython" not in p1)
    print(f"{'OK ' if ok else 'FAIL'} slice adds no Exchange "
          f"(map-only 1/m cut)")
    failures += not ok

    # 46. project_fields (round-5m _source/fields): the metadata join
    # onto the k hits must broadcast, and the metadata scan must read
    # ONLY the requested columns (ReadSchema pruning)
    from elasticsearch_analysis_combo_spark.query.body import (
        project_fields,
    )

    meta_all = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    tiny_hits = spark.createDataFrame(
        [(1, 1, 1.0), (2, 2, 0.5)], "doc_id long, rank int, score double"
    )
    p = plan_text(project_fields(tiny_hits, meta_all, ["lang"]))
    ok = ("BroadcastHashJoin" in p
          and "text" not in p.split("ReadSchema")[-1])
    print(f"{'OK ' if ok else 'FAIL'} project_fields broadcasts + prunes "
          f"the metadata scan to the requested columns")
    failures += not ok

    # 47. (r6 opt) WAND sheds positions BEFORE the scan: arrays_zip field
    # extraction keeps nested schema pruning, so pos_data must be absent
    # from the posting scan's ReadSchema and from the whole plan. The check
    # reads the plan of the fetch scan that the partitioned WAND and
    # wand_topk_from_postings over a PostingFrame run.
    from elasticsearch_analysis_combo_spark.plans.index_build import (
        posting_read_columns,
    )
    from elasticsearch_analysis_combo_spark.query.bm25 import analyze_queries

    wand_terms = {t for _, t in analyze_queries([(0, "spark query")], cfg)}
    p = plan_text(posting_scan(idx.postings(), wand_terms))
    ok = "pos_data" not in p and "PushedFilters: [In(term" in p
    print(f"{'OK ' if ok else 'FAIL'} WAND never reads pos_data "
          f"(nested-pruned scan) + term pushdown")
    failures += not ok
    # the unpartitioned WAND reads a published index in process
    # (InvertedIndex.term_blocks): its parquet read names no pos_data leaf
    read = idx.term_blocks(wand_terms)
    ok = (
        bool(read)
        and not any("pos_data" in c for c in posting_read_columns(False))
        and all("pos_data" not in bl for _, bls in read.values() for bl in bls)
    )
    print(f"{'OK ' if ok else 'FAIL'} handle WAND read requests no "
          f"pos_data leaf")
    failures += not ok
    # ...and its terms index decodes row groups only of the part files
    # that hold a query term (a fresh handle, so the index is built too)
    import pyarrow.parquet as pq

    from elasticsearch_analysis_combo_spark.plans.index_build import (
        InvertedIndex,
    )

    postings_dir = idx.meta.table_dir(idx.index_dir, "postings")
    parts = [n for n in os.listdir(postings_dir) if n.endswith(".parquet")]
    holding = sorted(
        n for n in parts
        if wand_terms & set(pq.read_table(
            os.path.join(postings_dir, n), columns=["term"]
        ).column("term").to_pylist())
    )
    read_files = []
    init, read_row_groups = (
        pq.ParquetFile.__init__, pq.ParquetFile.read_row_groups
    )

    def spy_init(self, source, *args, **kwargs):
        self.audit_source = source
        init(self, source, *args, **kwargs)

    def spy_read(self, row_groups, *args, **kwargs):
        read_files.append(os.path.basename(self.audit_source))
        return read_row_groups(self, row_groups, *args, **kwargs)

    pq.ParquetFile.__init__ = spy_init
    pq.ParquetFile.read_row_groups = spy_read
    try:
        InvertedIndex(spark, idx.index_dir).term_blocks(wand_terms)
    finally:
        pq.ParquetFile.__init__ = init
        pq.ParquetFile.read_row_groups = read_row_groups
    ok = bool(holding) and sorted(read_files) == holding
    print(f"{'OK ' if ok else 'FAIL'} handle WAND read decodes only the "
          f"{len(holding)} of {len(parts)} part files holding its terms")
    failures += not ok

    # 48. (r6 opt) tiny query dims are LocalTableScan, not Python-RDD
    # scans: the exhaustive plan must carry no RDD scan / Python eval
    p = plan_text(bm25_exhaustive_topk(
        spark, idx.term_stats(), idx.term_df(), [(0, "spark query")], cfg,
        idx.meta.n_docs, idx.meta.avgdl, k=10,
    ))
    ok = ("LocalTableScan" in p and "Scan ExistingRDD" not in p
          and "BatchEvalPython" not in p
          and "PushedFilters: [In(term" in p)
    print(f"{'OK ' if ok else 'FAIL'} query dims are LocalTableScan + "
          f"exhaustive isin pushdown (no Python-RDD scan)")
    failures += not ok

    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
