"""Multi-field search (ES multi_match / DisjunctionMaxQuery host behavior).

Covers: WAND-path ≡ exhaustive-path exactness for best_fields (the
containment proof in query/multifield.py), tie_breaker algebra
(tb=1 ≡ most_fields), per-field statistics isolation (a doc without a
field doesn't dilute that field's idf/avgdl), and the fielded engine
facade end-to-end."""

import random

import pytest
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.analysis.udfs import build_term_stats
from elasticsearch_analysis_combo_spark.engine import MultiFieldSearchEngine
from elasticsearch_analysis_combo_spark.operators.postings import (
    posting_frame,
)
from elasticsearch_analysis_combo_spark.query.multifield import (
    derive_fields,
    field_corpus_stats,
    multi_match_topk,
    multi_match_wand_topk,
)

CFG = ComboConfig(["whitespace"])
WORDS = ("spark query window merge batch the a value fast slow "
         "index shard segment term posting score rank").split()


def _fielded_corpus(spark, n=80, seed=7):
    rng = random.Random(seed)
    rows = []
    for d in range(n):
        title = " ".join(rng.choices(WORDS, k=rng.randint(2, 5)))
        body = (
            ""
            if rng.random() < 0.15  # some docs lack the body field
            else " ".join(rng.choices(WORDS, k=rng.randint(10, 40)))
        )
        rows.append((d, title, body))
    return spark.createDataFrame(
        rows, "doc_id long, title string, body string"
    )


def _stats(df, col):
    return build_term_stats(df, CFG, content_col=col)


QUERIES = [(0, "spark query"), (1, "the value"), (2, "segment")]
BOOSTS = {"title": 2.0, "body": 1.0}


def _ranked_rows(out):
    return [
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 6))
        for r in out.orderBy("query_id", "rank").collect()
    ]


def test_wand_path_equals_exhaustive_best_fields(spark):
    corpus = _fielded_corpus(spark)
    stats = {f: _stats(corpus, f).cache() for f in ("title", "body")}
    exhaustive = multi_match_topk(
        spark, stats, QUERIES, CFG, kind="best_fields",
        boosts=BOOSTS, tie_breaker=0.0, k=10,
    )
    postings, meta = {}, {}
    for f, s in stats.items():
        n, avgdl = field_corpus_stats(s)
        meta[f] = (n, avgdl)
        postings[f] = posting_frame(s, avgdl=avgdl, block_size=64,
                                    with_positions=False)
    wand = multi_match_wand_topk(
        spark, postings, meta, QUERIES, CFG, boosts=BOOSTS, k=10,
    )
    assert _ranked_rows(wand) == _ranked_rows(exhaustive)
    parted = multi_match_wand_topk(
        spark, postings, meta, QUERIES, CFG, boosts=BOOSTS, k=10,
        partitioned=True, range_bits=3,
    )
    assert _ranked_rows(parted) == _ranked_rows(exhaustive)


def test_tie_breaker_one_equals_most_fields(spark):
    corpus = _fielded_corpus(spark, seed=11)
    stats = {f: _stats(corpus, f).cache() for f in ("title", "body")}
    dismax_tb1 = multi_match_topk(
        spark, stats, QUERIES, CFG, kind="best_fields",
        boosts=BOOSTS, tie_breaker=1.0, k=10,
    )
    most = multi_match_topk(
        spark, stats, QUERIES, CFG, kind="most_fields", boosts=BOOSTS, k=10,
    )
    assert _ranked_rows(dismax_tb1) == _ranked_rows(most)


def test_per_field_stats_isolated(spark):
    """Docs lacking a field contribute nothing to that field's doc count or
    avgdl, and a term present only in one doc's title must surface via the
    title field regardless of body volume."""
    rows = [
        (0, "unique_xyz marker", "common words " * 5),
        (1, "plain title here", "common words " * 20),
        (2, "another title", ""),  # no body field
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, title string, body string"
    )
    body_stats = _stats(corpus, "body")
    n_body, _ = field_corpus_stats(body_stats)
    assert n_body == 2  # doc 2 has no body field
    out = multi_match_topk(
        spark,
        {"title": _stats(corpus, "title"), "body": _stats(corpus, "body")},
        [(0, "unique_xyz")], CFG, kind="best_fields", k=5,
    )
    hits = out.collect()
    assert [r["doc_id"] for r in hits] == [0]


def test_derive_fields_split(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "x y")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["title"], r["body"])
        for r in derive_fields(df, title_tokens=3).collect()
    }
    assert got[0] == ("a b c", "d e")
    assert got[1] == ("x y", "")


def test_multifield_engine_end_to_end(spark, tmp_path):
    corpus = _fielded_corpus(spark, n=40, seed=13)
    eng = MultiFieldSearchEngine(
        spark, CFG, str(tmp_path / "mf"), salt_shards=2
    )
    eng.index(corpus, field_cols={"title": "title", "body": "body"})
    assert eng.fields == ["body", "title"]
    # WAND route (tb=0) and exhaustive route agree
    fast = eng.multi_match("spark query", boosts=BOOSTS, k=8)
    slow = eng.multi_match(
        "spark query", boosts=BOOSTS, k=8, tie_breaker=1e-12
    )
    fast_rows = [(r["doc_id"], round(r["score"], 6)) for r in
                 fast.orderBy("rank").collect()]
    slow_rows = [(r["doc_id"], round(r["score"], 6)) for r in
                 slow.orderBy("rank").collect()]
    assert fast_rows == slow_rows
    # title boost promotes a title-only match over body-only matches
    title_term = corpus.filter(F.col("doc_id") == 0).collect()[0]["title"].split()[0]
    hits = eng.multi_match(
        title_term, boosts={"title": 100.0, "body": 1.0}, k=5
    ).collect()
    assert hits, "boosted title query returned nothing"
    top = hits[0]
    in_title = corpus.filter(
        (F.col("doc_id") == top["doc_id"])
        & F.col("title").contains(title_term)
    ).count()
    assert in_title == 1


def test_cross_fields_blended_stats(spark):
    """cross_fields: one blended idf per term (df = max over fields),
    per-term dis-max of field saturations, summed over terms — verified
    against a hand NumPy replay."""
    import math

    from elasticsearch_analysis_combo_spark.query.multifield import (
        multi_match_cross_fields_topk,
    )

    corpus = _fielded_corpus(spark, n=40)
    stats = {
        "title": _stats(corpus, "title").cache(),
        "body": _stats(corpus, "body").cache(),
    }
    k1, b, tb = 1.2, 0.75, 0.3
    out = multi_match_cross_fields_topk(
        spark, stats, QUERIES, CFG, boosts=BOOSTS, tie_breaker=tb,
        k=1000, k1=k1, b=b,
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score"] for r in out.collect()
    }

    # hand replay from the raw stats tables
    data = {
        f: [(r["term"], r["doc_id"], r["tf"], r["dl"])
            for r in s.select("term", "doc_id", "tf", "dl").collect()]
        for f, s in stats.items()
    }
    meta = {}
    for f, rows in data.items():
        dls = {d: dl for _, d, _, dl in rows}
        meta[f] = (len(dls), sum(dls.values()) / len(dls))
    n_blend = max(n for n, _ in meta.values())
    from collections import defaultdict

    dfs = defaultdict(lambda: defaultdict(set))
    for f, rows in data.items():
        for t, d, _, _ in rows:
            dfs[t][f].add(d)
    exp = defaultdict(float)
    from elasticsearch_analysis_combo_spark.query.bm25 import analyze_queries

    for qid, term in analyze_queries(QUERIES, CFG):
        bdf = max((len(ds) for ds in dfs.get(term, {}).values()), default=0)
        if not bdf:
            continue
        idf = math.log(1 + (n_blend - bdf + 0.5) / (bdf + 0.5))
        sats = defaultdict(list)
        for f, rows in data.items():
            _, avgdl = meta[f]
            for t, d, tf, dl in rows:
                if t != term:
                    continue
                sats[d].append(
                    BOOSTS[f] * tf * (k1 + 1)
                    / (tf + k1 * (1 - b + b * dl / avgdl))
                )
        for d, ss in sats.items():
            mx, sm = max(ss), sum(ss)
            exp[(qid, d)] += idf * (mx + tb * (sm - mx))
    assert set(got) == set(exp)
    for key in exp:
        assert got[key] == pytest.approx(exp[key], rel=1e-9), key


def test_search_dsl_fielded_routes(spark, tmp_path):
    """The fielded search_dsl route: ES multi_match / combined_fields
    JSON bodies (field^boost syntax, tie_breaker, type dispatch) land
    on the same evaluators as the direct facade calls."""
    corpus = _fielded_corpus(spark, n=30, seed=7)
    eng = MultiFieldSearchEngine(
        spark, CFG, str(tmp_path / "mfd"), salt_shards=2
    )
    eng.index(corpus, field_cols={"title": "title", "body": "body"})
    via_dsl = eng.search_dsl({"multi_match": {
        "query": "spark query",
        "fields": ["title^2.0", "body"],
        "type": "best_fields", "tie_breaker": 0.3,
    }}, k=8)
    direct = eng.multi_match(
        "spark query", boosts={"title": 2.0}, tie_breaker=0.3, k=8,
        fields=["title", "body"],
    )
    key = lambda df: [(r["doc_id"], round(r["score"], 6))
                      for r in df.orderBy("rank").collect()]
    assert key(via_dsl) == key(direct)
    cf_dsl = eng.search_dsl({"combined_fields": {
        "query": "spark query", "fields": ["title^2.0", "body"],
    }}, k=8)
    cf = eng.combined_fields(
        "spark query", weights={"title": 2.0}, k=8,
        fields=["title", "body"],
    )
    assert key(cf_dsl) == key(cf)
    import pytest as _pt
    # phrase/bool_prefix route since round 5i; unknown types still raise
    with _pt.raises(ValueError, match="multi_match type"):
        eng.search_dsl({"multi_match": {"query": "x", "type": "fuzziest"}})
    with _pt.raises(ValueError, match="fielded query kind"):
        eng.search_dsl({"match": {"body": "x"}})
