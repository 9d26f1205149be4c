"""simple_query_string: the ES one-box query syntax over the index.

The host entry point most reference users type into first. Supported
subset (documented; no grouping parens, no phrase slop suffix):

* ``term``      — role from ``default_operator`` ("or" -> should,
                  "and" -> must)
* ``+term``     — must
* ``-term``     — must_not
* ``"a b c"``   — phrase clause (optionally ``+``/``-`` prefixed):
                  exact-adjacency filter over the positional postings,
                  SCORED by Lucene sloppyFreq — each anchor match
                  weighted 1/(matchLength+1), its minimal assignment
                  span; at slop 0 (the only slop this parser emits)
                  that is exactly the distinct-anchor count. The DSL
                  path (``match_phrase`` with ``slop``) feeds slop > 0
                  clauses through the same scorer.
* ``term*``     — prefix clause: expands to at most ``max_expansions``
                  vocabulary terms in dictionary order (the ES cap)
* ``term~N``    — fuzzy clause: expands to at most ``max_expansions``
                  vocabulary terms within N Levenshtein edits, ranked
                  (distance asc, df desc, term asc)

Semantics (SQL-replayable, shared with the gate oracle):

* scoring = plain BM25 summed once per distinct (query, term) over the
  term clauses' analyzed terms plus every capped prefix/fuzzy expansion
  term, PLUS, per phrase clause, the Lucene PhraseQuery score
  ``idf_sum(constituents) * satu(phrase_freq)``. Per-term df for the
  LITERAL query terms (term clauses + phrase constituents — bounded by
  the query text, never by the corpus) is fetched driver-side in one
  tiny dictionary probe, so neither the BM25 idf nor the phrase idf_sum
  needs an in-plan dictionary join; expansion terms keep their df from
  the expansion table itself. Phrase hits carry ``dl`` straight out of
  the positional evaluator (with_dl), so no stats re-scan recovers it;
* membership needs no separate pass: every score source implies the doc
  matches the clause that produced it (term present / expansion present
  / phrase present), so the scored set IS the >=1-positive-clause set;
* every must clause must match, and no must_not clause.

Scale shape (the round-3 verdict's one flagged scale-killer, fixed):
expansions are built as a DISTRIBUTED (qid, cid, term) table — one
dictionary job for all clauses, per-branch ``startswith`` pushdown,
per-clause ``row_number`` cap — and joined to the stats scan; nothing
is collected to the driver and no ``isin`` literal is synthesized from
vocabulary contents. The stats scans themselves are pruned by literal
predicates derived from the QUERY TEXT only (term isin, prefix
startswith, fuzzy length bands), so row-group pruning survives without
knowing the expansion. Join strategy on the expansion is left to AQE
(broadcast when the runtime size allows; a 1-char prefix over a 10^9
vocabulary must not be forced driver-side — cf. boolean.bm25_prefix_topk).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.analysis.combo import (
    ComboConfig,
    analyze_text,
)
from elasticsearch_analysis_combo_spark.operators.postings import PostingFrame
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.bm25 import idf_expr
from elasticsearch_analysis_combo_spark.query.boolean import _rank_topk

_TOKEN_RE = re.compile(r'([+-]?)("([^"]*)"|\S+)')
_FUZZY_RE = re.compile(r"^(.+?)~(\d+)$")


@dataclass
class Clause:
    kind: str  # term | phrase | prefix | fuzzy | wildcard | regexp
    role: str  # must | should | must_not
    text: str  # raw token / phrase body / prefix (without *) / fuzzy source
    fuzz: int = 0  # max edits (fuzzy only)
    slop: int = 0  # positional tolerance (phrase only; DSL match_phrase)


# clause kinds that expand against the term dictionary (one distributed
# job, per-clause row_number cap — see build_expansions)
EXPANSION_KINDS = ("prefix", "fuzzy", "wildcard", "regexp")


def wildcard_regex(pat: str) -> str:
    """ES wildcard pattern -> anchored Java/RE2-safe regex (``*`` = any
    run, ``?`` = one char; everything else literal). Shared with the
    gate oracle so both engines expand the identical term set."""
    out = []
    for ch in pat:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _wildcard_literal_prefix(pat: str) -> str:
    """Literal run before the first wildcard char — a ``startswith``
    pushdown that keeps parquet min/max pruning for anchored patterns."""
    for i, ch in enumerate(pat):
        if ch in "*?":
            return pat[:i]
    return pat


@dataclass
class ParsedQuery:
    clauses: list[Clause] = field(default_factory=list)


def parse_simple_query_string(
    text: str, default_operator: str = "or"
) -> ParsedQuery:
    if default_operator not in ("or", "and"):
        raise ValueError(f"default_operator must be or|and: {default_operator}")
    default_role = "should" if default_operator == "or" else "must"
    out = ParsedQuery()
    for m in _TOKEN_RE.finditer(text):
        sign, raw, quoted = m.group(1), m.group(2), m.group(3)
        role = (
            "must" if sign == "+"
            else "must_not" if sign == "-"
            else default_role
        )
        if quoted is not None:
            if quoted.strip():
                out.clauses.append(Clause("phrase", role, quoted.strip()))
            continue
        fm = _FUZZY_RE.match(raw)
        if fm is not None:
            # term~0 is an exact term (ES treats fuzziness 0 the same)
            n = int(fm.group(2))
            if n > 0:
                out.clauses.append(Clause("fuzzy", role, fm.group(1), n))
            else:
                out.clauses.append(Clause("term", role, fm.group(1)))
        elif raw.endswith("*") and len(raw) > 1:
            out.clauses.append(Clause("prefix", role, raw[:-1]))
        elif raw != "*":
            out.clauses.append(Clause("term", role, raw))
    return out


def _clause_terms(clause: Clause, config: ComboConfig) -> list[str]:
    return sorted({t.term for t in analyze_text(clause.text, config)})


def build_expansions(
    term_df: DataFrame,
    specs: list[tuple[int, int, Clause]],
    max_expansions: int,
) -> DataFrame | None:
    """Distributed (qid, cid, term, neg) expansion table for every prefix
    and fuzzy clause — ONE dictionary job, no driver-side collect.

    Per-clause cap and ranking (ES's ``max_expansions``): prefix clauses
    keep the first ``max_expansions`` terms in dictionary order (as
    ``match_phrase_prefix`` does, phrase.phrase_prefix_match); fuzzy
    clauses rank (edit distance asc, df desc, term asc), the Lucene
    FuzzyQuery preference for closer-then-more-frequent terms. The
    ``startswith`` filter pushes into the dictionary scan per branch; the
    fuzzy length band bounds Levenshtein from below before it runs.
    """
    parts = []
    for qid, cid, cl in specs:
        neg = F.lit(1 if cl.role == "must_not" else 0)
        base = (
            F.lit(qid).alias("qid"), F.lit(cid).alias("cid"),
            F.col("term"), F.col("df"), neg.alias("neg"),
        )
        if cl.kind == "prefix":
            parts.append(
                term_df.filter(F.col("term").startswith(cl.text))
                .select(*base, F.lit(0).alias("_o1"), F.lit(0.0).alias("_o2"))
            )
        elif cl.kind in ("wildcard", "regexp"):
            # anchored dictionary scan (vocabulary-, not posting-, sized);
            # wildcard keeps a startswith pushdown on its literal prefix;
            # expansions keep dictionary order under the cap, the same
            # first-max_expansions rule as prefix
            rx = (
                wildcard_regex(cl.text)
                if cl.kind == "wildcard"
                else f"^(?:{cl.text})$"
            )
            src = term_df
            if cl.kind == "wildcard":
                lead = _wildcard_literal_prefix(cl.text)
                if lead:
                    src = src.filter(F.col("term").startswith(lead))
            parts.append(
                src.filter(F.col("term").rlike(rx))
                .select(*base, F.lit(0).alias("_o1"), F.lit(0.0).alias("_o2"))
            )
        # df rides along so scoring never re-joins the dictionary
        elif cl.kind == "fuzzy":
            src = F.lit(cl.text)
            parts.append(
                term_df.filter(
                    (F.length("term") >= F.length(src) - cl.fuzz)
                    & (F.length("term") <= F.length(src) + cl.fuzz)
                )
                .withColumn("_d", F.levenshtein(F.col("term"), src))
                .filter(F.col("_d") <= cl.fuzz)
                .select(
                    *base,
                    F.col("_d").alias("_o1"),
                    (-F.col("df").cast("double")).alias("_o2"),
                )
            )
    if not parts:
        return None
    u = reduce(lambda a, b: a.unionByName(b), parts)
    w = Window.partitionBy("qid", "cid").orderBy("_o1", "_o2", "term")
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_expansions)
        .select("qid", "cid", "term", "df", "neg")
    )


def simple_query_string_topk(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    postings: InvertedIndex | PostingFrame | None,
    queries: list[tuple[int, str]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    default_operator: str = "or",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned_phrases: bool = False,
    range_bits: int = 4,
    max_expansions: int = 50,
) -> DataFrame:
    """Parse and evaluate simple_query_string queries. ``postings`` (with
    positions) is only required when a query contains phrase clauses;
    ``partitioned_phrases`` routes those through the doc-range fan-out
    evaluator (the scale-safe path for stop-word phrases)."""
    parsed = {
        qid: parse_simple_query_string(text, default_operator)
        for qid, text in queries
    }
    return evaluate_parsed(
        spark, term_stats, term_df, postings, parsed, config, n_docs,
        avgdl, k=k, k1=k1, b=b, partitioned_phrases=partitioned_phrases,
        range_bits=range_bits, max_expansions=max_expansions,
    )


def evaluate_parsed(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    postings: InvertedIndex | PostingFrame | None,
    parsed: dict[int, ParsedQuery],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned_phrases: bool = False,
    range_bits: int = 4,
    max_expansions: int = 50,
    doc_filter: DataFrame | None = None,
    rank: bool = True,
    min_should: dict[int, int] | None = None,
) -> DataFrame:
    """Shared clause-set evaluator: the engine behind both
    ``simple_query_string`` (parsed from the one-box syntax) and the ES
    Query DSL compiler (``query/dsl.py``, compiled from JSON). Phrase
    clauses evaluate in one batched positional-matcher call PER DISTINCT
    SLOP (the one-box parser only emits slop 0; the DSL's
    ``match_phrase`` may set it). ``doc_filter`` is an optional (doc_id)
    frame — the compiled ES FILTER CONTEXT — semi-joined onto the scored
    set BEFORE the top-k cut, so filtering never loses hits the way a
    post-rank filter would; the filter frame comes from a pruned
    metadata scan, the scale-right side of the semi join.

    ``rank=False`` returns the full membership (query_id, doc_id,
    score) WITHOUT the top-k cut — the DSL compiler uses it when scores
    still need post-adjustment (dis_max tie_breaker blends, constant
    should boosts) before ranking; the set is bounded by the union of
    clause posting lists, never the corpus. ``min_should`` maps qid ->
    ES ``minimum_should_match``: docs must match at least that many
    DISTINCT should clauses (a multi-term ``match`` counts as ONE
    clause, as in ES); qids absent from the map keep the default
    membership rule."""
    empty = tiny_df(spark,
        [],
        "query_id int, rank int, doc_id long, score double"
        if rank else "query_id int, doc_id long, score double",
    )
    for qid, pq in parsed.items():
        # composite phrase ids pack (qid, clause_id) into int32
        if pq.clauses and not (0 <= qid < (1 << 21)):
            raise ValueError(f"query_id out of range [0, 2^21): {qid}")
        if len(pq.clauses) > (1 << 10):
            raise ValueError(f"more than {1 << 10} clauses in query {qid}")
    # literal scoring terms come from TERM clauses only (phrases score by
    # phrase frequency, expansions join distributed)
    score_rows: set[tuple[int, str]] = set()
    all_literal_terms: set[str] = set()  # any role — prunes indicator scans
    exp_specs: list[tuple[int, int, Clause]] = []
    must_specs: list[tuple[int, int, Clause]] = []
    not_specs: list[tuple[int, int, Clause]] = []
    phrase_specs: list[tuple[int, int, Clause]] = []
    should_specs: list[tuple[int, int, Clause]] = []  # min_should qids only
    min_should = min_should or {}
    for qid, pq in parsed.items():
        for cid, cl in enumerate(pq.clauses):
            if cl.kind in ("term", "phrase") and not _clause_terms(cl, config):
                # a clause whose text analyzes to zero terms (e.g. a pure
                # stopword under a stop-stripping analyzer) is DROPPED,
                # as ES drops empty clauses — it must not veto the query
                continue
            if cl.kind == "term":
                all_literal_terms.update(_clause_terms(cl, config))
                if cl.role != "must_not":
                    score_rows.update((qid, t) for t in _clause_terms(cl, config))
            if cl.kind in EXPANSION_KINDS:
                exp_specs.append((qid, cid, cl))
            if cl.kind == "phrase":
                phrase_specs.append((qid, cid, cl))
            if cl.role == "must":
                must_specs.append((qid, cid, cl))
            elif cl.role == "must_not":
                not_specs.append((qid, cid, cl))
            elif qid in min_should:
                should_specs.append((qid, cid, cl))
    if not score_rows and not exp_specs and not any(
        cl.role != "must_not" for _, _, cl in phrase_specs
    ):
        return empty

    exp_df = build_expansions(term_df, exp_specs, max_expansions)

    # stats-scan prune predicate from QUERY TEXT literals only (pushes to
    # the parquet scan; the expansion join then filters exactly)
    prune_conds = []
    if all_literal_terms:
        prune_conds.append(F.col("term").isin(sorted(all_literal_terms)))
    for _, _, cl in exp_specs:
        if cl.kind == "prefix":
            prune_conds.append(F.col("term").startswith(cl.text))
        elif cl.kind == "wildcard":
            prune_conds.append(F.col("term").rlike(wildcard_regex(cl.text)))
        elif cl.kind == "regexp":
            prune_conds.append(F.col("term").rlike(f"^(?:{cl.text})$"))
        else:
            prune_conds.append(
                (F.length("term") >= len(cl.text) - cl.fuzz)
                & (F.length("term") <= len(cl.text) + cl.fuzz)
            )
    stats_pruned = (
        term_stats.filter(reduce(or_, prune_conds))
        if prune_conds else term_stats.limit(0)
    )

    # phrase indicators + frequencies: ALL phrase clauses in one batch
    # matcher call via composite query ids
    phrase_hits = None
    if phrase_specs:
        if postings is None:
            raise ValueError("phrase clauses require positional postings")
        from elasticsearch_analysis_combo_spark.query.phrase import (
            phrase_match,
            phrase_match_partitioned,
        )

        # one batched matcher call per DISTINCT slop (the one-box parser
        # only emits slop 0, so this is one call on that path)
        by_slop: dict[int, list[tuple[int, str]]] = {}
        for qid, cid, cl in phrase_specs:
            by_slop.setdefault(cl.slop, []).append(
                ((qid << 10) | cid, cl.text)
            )
        ph_parts = []
        for slop_v, comp in sorted(by_slop.items()):
            if partitioned_phrases:
                ph_parts.append(phrase_match_partitioned(
                    spark, postings, comp, config, slop=slop_v,
                    range_bits=range_bits, with_dl=True, with_weights=True,
                ))
            else:
                ph_parts.append(phrase_match(
                    spark, postings, comp, config, slop=slop_v,
                    with_dl=True, with_weights=True,
                ))
        ph = reduce(lambda a, c: a.unionByName(c), ph_parts)
        phrase_hits = ph.select(
            F.shiftright("query_id", 10).alias("qid"),
            (F.col("query_id") % (1 << 10)).alias("cid"),
            "doc_id",
            "n_matches",
            "dl",
            "sloppy_freq",
        )
        # the hit set can feed scoring plus up to two indicator joins
        # (must counting, must_not exclusion) — without materialization
        # each consumer re-runs the whole positional evaluation (measured
        # 3x at 200k docs). localCheckpoint (eager) materializes the small
        # hit set ONCE and truncates lineage, so no cache reference
        # outlives the call (a persist here with no unpersist accumulated
        # blocks across a long session until the ContextCleaner caught
        # up). With a SINGLE consumer (the common should-phrase shape) the
        # checkpoint is pure overhead — an extra eager job — so it only
        # fires when the hit set is consumed more than once.
        n_phrase_consumers = (
            (1 if any(
                cl.role != "must_not" and _clause_terms(cl, config)
                for _, _, cl in phrase_specs
            ) else 0)
            + (1 if any(cl.kind == "phrase" for _, _, cl in must_specs) else 0)
            + (1 if any(cl.kind == "phrase" for _, _, cl in not_specs) else 0)
            + (1 if any(cl.kind == "phrase" for _, _, cl in should_specs) else 0)
        )
        if n_phrase_consumers >= 2:
            phrase_hits = phrase_hits.localCheckpoint(eager=True)

    def _indicators(specs: list[tuple[int, int, Clause]]) -> DataFrame | None:
        """(qid, cid, doc_id) distinct rows where the clause matches."""
        parts = []
        term_rows = []
        for qid, cid, cl in specs:
            if cl.kind == "term":
                term_rows += [(qid, cid, t) for t in _clause_terms(cl, config)]
        if term_rows:
            ct = tiny_df(spark,
                term_rows, "qid int, cid int, term string"
            )
            parts.append(
                stats_pruned.join(F.broadcast(ct), "term")
                .select("qid", "cid", "doc_id")
            )
        exp_ids = [
            (qid, cid) for qid, cid, cl in specs
            if cl.kind in EXPANSION_KINDS
        ]
        if exp_ids and exp_df is not None:
            sel = tiny_df(spark, exp_ids, "qid int, cid int")
            sub = exp_df.join(F.broadcast(sel), ["qid", "cid"]).select(
                "qid", "cid", "term"
            )
            # expansion stays a distributed join table (AQE broadcasts it
            # when runtime size allows) — never isin literals
            parts.append(
                stats_pruned.join(sub, "term").select("qid", "cid", "doc_id")
            )
        ph_ids = [
            (qid, cid) for qid, cid, cl in specs if cl.kind == "phrase"
        ]
        if ph_ids and phrase_hits is not None:
            sel = tiny_df(spark, ph_ids, "qid int, cid int")
            parts.append(
                phrase_hits.join(F.broadcast(sel), ["qid", "cid"])
                .select("qid", "cid", "doc_id")
            )
        if not parts:
            return None
        # no distinct: the must consumer counts DISTINCT cids and the
        # must_not consumer is an anti join — both duplicate-insensitive,
        # so the dedup shuffle would be pure overhead
        return reduce(lambda a, b: a.unionByName(b), parts)

    # ---- scoring: term clauses + expansions (BM25 per distinct term) ----
    # one bounded dictionary probe supplies df for every LITERAL term the
    # scorer needs (term clauses + phrase constituents): O(query text)
    # rows, never O(corpus) — the same "tiny query fetch" class as the
    # WAND block-metadata reads. Expansion terms carry df from the
    # expansion table itself, so no in-plan dictionary join remains.
    pos_phrases = [
        (qid, cid, cl) for qid, cid, cl in phrase_specs
        if cl.role != "must_not" and _clause_terms(cl, config)
    ]
    literal_terms = sorted(
        {t for _, t in score_rows}
        | {t for _, _, cl in pos_phrases for t in _clause_terms(cl, config)}
    )
    df_map: dict[str, int] = {}
    if literal_terms:
        df_map = {
            r["term"]: int(r["df"])
            for r in term_df.filter(F.col("term").isin(literal_terms))
            .select("term", "df").collect()
        }

    score_parts = []
    qterms_parts = []
    lit_rows = [
        (qid, t, df_map[t]) for qid, t in sorted(score_rows) if t in df_map
    ]
    if lit_rows:
        qterms_parts.append(
            tiny_df(spark,
                lit_rows, "query_id int, term string, df long"
            )
        )
    if exp_df is not None:
        qterms_parts.append(
            exp_df.filter(F.col("neg") == 0)
            .select(F.col("qid").alias("query_id"), "term", "df")
        )
    if qterms_parts:
        qterms = reduce(
            lambda a, b: a.unionByName(b), qterms_parts
        ).distinct()
        score_parts.append(
            stats_pruned.join(qterms, "term")
            .withColumn(
                "tscore",
                idf_expr(n_docs)
                * F.col("tf") * (k1 + 1.0)
                / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
            )
            .select("query_id", "doc_id", F.col("tscore").alias("score"))
        )

    # ---- scoring: phrase clauses (Lucene PhraseQuery algebra) ----
    if pos_phrases and phrase_hits is not None:
        # idf_sum per clause from the driver-side df probe (missing-vocab
        # constituents contribute nothing, matching the old inner join);
        # dl rides on the phrase hits themselves (with_dl)
        def _idf(df: int) -> float:
            return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

        sel_rows = sorted({
            (
                qid, cid,
                sum(
                    (
                        _idf(df_map[t])
                        for t in _clause_terms(cl, config) if t in df_map
                    ),
                    0.0,
                ),
            )
            for qid, cid, cl in pos_phrases
        })
        sel = tiny_df(spark,
            sel_rows, "qid int, cid int, idf_sum double"
        )
        # Lucene sloppyFreq: each match weighted 1/(matchLength+1)
        # (phrase.py _match_phrase want_weights). At slop 0 this equals
        # n_matches, so exact phrases score as before.
        f = F.col("sloppy_freq")
        score_parts.append(
            phrase_hits.join(F.broadcast(sel), ["qid", "cid"])
            .withColumn(
                "pscore",
                F.col("idf_sum") * f * (k1 + 1.0)
                / (f + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
            )
            .select(
                F.col("qid").alias("query_id"), "doc_id",
                F.col("pscore").alias("score"),
            )
        )

    if not score_parts:
        return empty
    scored = (
        reduce(lambda a, b: a.unionByName(b), score_parts)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score").alias("score"))
    )
    # membership needs no extra pass: every score source implies its
    # clause matched (term/expansion present, phrase present), so the
    # scored set already equals the >=1-positive-clause set.

    must_ind = _indicators(must_specs)
    if must_ind is not None:
        n_must = {}
        for qid, _, _ in must_specs:
            n_must[qid] = n_must.get(qid, 0) + 1
        # queries without must clauses pass trivially (n_must 0 == count 0)
        counts = (
            must_ind.groupBy("qid", "doc_id")
            .agg(F.countDistinct("cid").alias("n_matched"))
            .withColumnRenamed("qid", "query_id")
        )
        # required-count per query as a literal map (bounded by the query
        # batch) instead of a broadcast-join table — one fewer exchange
        need_map = F.create_map(
            *[F.lit(v) for q_n in sorted(n_must.items()) for v in q_n]
        )
        scored = (
            scored.join(counts, ["query_id", "doc_id"], "left")
            .filter(
                F.coalesce(F.col("n_matched"), F.lit(0))
                == F.coalesce(
                    F.element_at(need_map, F.col("query_id")), F.lit(0)
                )
            )
            .select("query_id", "doc_id", "score")
        )
    if min_should:
        # ES minimum_should_match: count DISTINCT matching should
        # clauses per (query, doc) — the indicator union is the same
        # bounded posting probe the must counting uses — and require
        # >= the query's msm; queries absent from the map need 0.
        need_map = F.create_map(
            *[F.lit(v) for q_n in sorted(min_should.items()) for v in q_n]
        )
        sh_ind = _indicators(should_specs)
        counts = (
            sh_ind.groupBy("qid", "doc_id")
            .agg(F.countDistinct("cid").alias("n_should"))
            .withColumnRenamed("qid", "query_id")
            if sh_ind is not None
            else None
        )
        if counts is not None:
            scored = scored.join(counts, ["query_id", "doc_id"], "left")
        else:
            scored = scored.withColumn("n_should", F.lit(0))
        scored = scored.filter(
            F.coalesce(F.col("n_should"), F.lit(0))
            >= F.coalesce(
                F.element_at(need_map, F.col("query_id")), F.lit(0)
            )
        ).select("query_id", "doc_id", "score")
    not_ind = _indicators(not_specs)
    if not_ind is not None:
        # anti join is duplicate-insensitive — no dedup pass needed
        excl = not_ind.select(F.col("qid").alias("query_id"), "doc_id")
        scored = scored.join(excl, ["query_id", "doc_id"], "left_anti")
    if doc_filter is not None:
        scored = scored.join(
            doc_filter.select("doc_id"), "doc_id", "left_semi"
        )
    return _rank_topk(scored, k) if rank else scored
