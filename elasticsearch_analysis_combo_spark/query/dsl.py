"""ES Query DSL (JSON) compiler: the request body a reference user's
application actually sends to ``_search``, compiled onto this repo's
primitives instead of hand-translated per query.

Two halves, matching ES's own split:

* **Scoring context** (top level, or ``bool`` must/should/must_not)
  compiles to the shared clause evaluator
  (:func:`querystring.evaluate_parsed` — the simple_query_string engine):
  ``match`` (operator or|and), ``match_phrase`` (with ``slop``),
  ``prefix``, ``fuzzy`` (capped distributed expansions),
  ``simple_query_string`` (nested one-box), ``match_all``.
* **Filter context** (``bool.filter``) compiles to ONE SQL predicate
  string over the document-metadata table: ``term`` / ``terms`` /
  ``range`` (gt/gte/lt/lte) / ``exists`` / ``ids`` / ``prefix`` /
  ``wildcard`` / ``match_all`` / nested ``bool``, plus (round 5g)
  ``geo_bounding_box`` (pure range conjuncts), ``geo_distance``
  (sargable box conjunct + exact haversine keep), ``geo_polygon``
  (guarded ray-cast parity), ``terms_set`` (array_intersect count vs
  a literal or per-doc required count), and ``nested`` (HOF
  ``exists()`` over the array<struct> path — map-only, no explode).
  Geo fields map to ``{field}_lat``/``{field}_lon`` columns or
  explicit ``lat_field``/``lon_field`` keys. Being a plain predicate,
  Catalyst pushes it into the parquet metadata scan
  (row-group pruning — the 100 TB shape for tenant/date/status filters);
  the surviving (doc_id) set then semi-joins the scored set BEFORE the
  top-k cut, so filtering never drops hits the way a post-rank filter
  would.

Round-5g scoring additions: ``rank_feature`` (saturation / log /
sigmoid — explicit ``pivot``; ES's index-statistics default pivot is a
documented divergence) and ``distance_feature`` compile to per-doc SQL
score expressions: standalone they score in ONE metadata scan; under
``should`` they ride the (pred, expr) indicator join next to text
clauses; under ``must`` the membership predicate joins the filter
context and the expression applies to every member without feeding
``minimum_should_match`` counting. ``query_string`` routes onto the
simple_query_string parser (Lucene-only syntax raises) and
``match_bool_prefix`` onto boolean.match_bool_prefix_topk.

On top: ``constant_score`` (filter membership at a fixed boost) and
``pinned`` (pinned ids above re-ranked organics) normalize inside
:func:`dsl_topk`; the ES 8 ``knn`` section compiles onto the ANN
operators (:func:`knn_search`, pre-filter semantics) and fuses with
BM25 legs via :func:`rrf_hybrid` (reciprocal rank fusion).

Round-4k additions: ``wrapper`` (base64-wrapped query, decoded and
re-dispatched), ``match_none``, ``dis_max`` (``tie_breaker`` 0
combines the subs' ranked top-ks — the final top-k of a per-doc max is
provably contained in the union of the per-sub top-ks; ``tie_breaker``
> 0 blends ``max + tb * sum(others)`` over the subs' UNRANKED full hit
sets pre-rank, so it requires text-scoring subs), and CONSTANT-SCORING
leaves in query context: ``term`` / ``terms`` / ``range`` / ``exists``
/ ``ids`` inside a scoring ``bool`` (``prefix``/``wildcard`` stay
BM25-scored text expansions as before). In ``must`` they compile into
the filter predicate plus a constant ``boost`` added to every hit's
score (uniform, so ranking is unchanged — documented divergence from
ES's TermQuery idf scoring on keyword fields, which this engine's
metadata columns don't carry); in ``must_not`` they negate into the
filter (score-neutral, exactly ES); in ``should`` they score
``sum(boost per matching should)`` from a filter-pruned metadata
indicator scan — standalone (the pure-constant path, one metadata
scan) or NEXT TO text clauses (round 5): with must-role text the boost
left-joins onto the text membership, with should-only text the
const-matching docs union in as members (ES's >=1-should rule; the
must_not + should-only-const combination raises, documented).

Round-5 additions: ``minimum_should_match`` in a scoring ``bool`` —
docs must match >= msm DISTINCT should clauses (a multi-term ``match``
counts as one clause, as in ES), counted by the evaluator's bounded
indicator probe. The full Lucene spec grammar resolves at compile time
against the should-entry count (int, negative int, ``"P%"`` /
``"-P%"`` with Lucene's truncate-toward-zero arithmetic — see
:func:`_resolve_msm`); only the conditional ``"k<P%"`` form raises.
Filter-context and nested bools take the same grammar, with ``msm > 1``
compiling to a NULL-safe indicator-sum predicate (pure SQL, still
pushdown-eligible). msm combined with const-should-next-to-text raises
(the const indicator can't feed the evaluator's counting).

Documented subset divergences — everything UNSUPPORTED raises rather
than silently mis-executing. ``match_phrase`` with ``slop > 0`` filters
exactly (Lucene matchLength window) and scores by Lucene's
``1/(matchLength+1)`` sloppyFreq weighting (round 5: each anchor match
weighted by its MINIMAL assignment span; at slop 0 this is the
anchor-match count, and both paths are oracle-verified). Remaining
divergence vs Lucene's SloppyPhraseMatcher: matches are enumerated per
distinct first-slot anchor rather than by Lucene's greedy
advance-the-minimum scan, so pathological overlapping-repeat phrases
can count differently (documented in query/phrase.py).
Unsupported constructs: ``match`` with
``operator: and`` is only valid in must position (ES's optional-but-
all-terms should-AND has no counterpart in the clause evaluator) and
splits on whitespace before analysis. Nested scoring ``bool``s fold
when sound (round 5f): an all-must/must_not text bool under ``must``
splices up (AND associativity), and a const-only bool at any depth
folds to one membership predicate (compile_filter's ES defaults) with
its per-matching-should boosts kept; a nested bool mixing text with
shoulds, or sitting under ``should``, raises rather than mis-scoring.

Reference scope note: the reference plugin delegates query parsing to
its ES host (AnalysisComboPlugin.java:37-42); this module re-expresses
the host's Query DSL entry point.
"""

from __future__ import annotations

import base64
import json
import math
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_analysis_combo_spark.tinydf import tiny_df

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.postings import PostingFrame
from elasticsearch_analysis_combo_spark.plans.index_build import InvertedIndex
from elasticsearch_analysis_combo_spark.query.boolean import _rank_topk
from elasticsearch_analysis_combo_spark.query.querystring import (
    Clause,
    ParsedQuery,
    evaluate_parsed,
    parse_simple_query_string,
)

_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# top-level span-query kinds routed onto the query/spans.py evaluators
# (round 5e). Clauses inside them must be span_term (span_or additionally
# nests as span_first's match / span_not's include/exclude); span_multi
# stays on the engine.span_multi facade (its per-expansion idf does not
# fit the route's fixed-constituent scoring).
_SPAN_KINDS = frozenset((
    "span_term", "span_or", "span_near", "span_first", "span_not",
    "span_within", "span_containing",
))


def _span_terms_of(node: dict) -> tuple[str, list[str]]:
    """A ``span_term`` or ``span_or``-of-``span_term`` node ->
    (field, term list). ES takes span_term values verbatim (term-level);
    this route re-analyzes them with the index's config inside the span
    evaluators — identity for the whitespace/keyword analyzer families,
    a documented divergence for stemming ones."""
    kind, body = next(iter(node.items()))
    if kind == "span_term":
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            v = v["value"]
        return f, [str(v)]
    if kind == "span_or":
        fields, terms = set(), []
        for sub in body["clauses"]:
            skind = next(iter(sub))
            if skind != "span_term":
                raise ValueError(
                    f"span_or clauses must be span_term, got {skind}"
                )
            f, ts = _span_terms_of(sub)
            fields.add(f)
            terms.extend(ts)
        if len(fields) != 1:
            raise ValueError("span_or clauses must share one field")
        return fields.pop(), terms
    raise ValueError(f"expected span_term/span_or, got {kind}")


def _span_near_parts(body: dict) -> tuple[str, list[str], int, bool]:
    """A ``span_near`` body of span_term clauses ->
    (field, ordered term list, slop, in_order)."""
    slop = int(body.get("slop", 0))
    in_order = bool(body.get("in_order", True))
    fields, terms = set(), []
    for sub in body["clauses"]:
        skind = next(iter(sub))
        if skind != "span_term":
            raise ValueError(
                "span_near clauses must be span_term in the DSL route "
                f"(got {skind}; span_multi clauses stay on "
                "engine.span_multi)"
            )
        f, ts = _span_terms_of(sub)
        fields.add(f)
        terms.extend(ts)
    if len(fields) != 1:
        raise ValueError("span_near clauses must share one field")
    return fields.pop(), terms, slop, in_order


def _field(name: str) -> str:
    if not _IDENT_RE.match(name):
        raise ValueError(f"invalid field name: {name!r}")
    return name


def _sql_lit(v) -> str:
    """SQL literal for a scalar value (strings single-quote-doubled —
    never string-interpolated unescaped; the Spark and DuckDB dialects
    share this quoting)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported literal type: {type(v).__name__}")


def _like_escape(s: str, wildcard: bool) -> str:
    """LIKE pattern body: literal %/_/! escaped with ``!``; with
    ``wildcard``, ES ``*``/``?`` map to ``%``/``_``. The escape char is
    ``!`` (not backslash) deliberately: Spark SQL consumes backslashes
    inside string literals while DuckDB/ANSI keep them, so a
    backslash-escaped pattern would mean different things to the two
    engines the oracle compares."""
    out = []
    for ch in s:
        if ch in ("%", "_", "!"):
            out.append("!" + ch)
        elif wildcard and ch == "*":
            out.append("%")
        elif wildcard and ch == "?":
            out.append("_")
        else:
            out.append(ch)
    return "".join(out)


def _resolve_msm(msm, n_optional: int) -> int:
    """Lucene minimum-should-match spec -> required clause count over
    ``n_optional`` should clauses (Queries.calculateMinShouldMatch):
    int, negative int (``n + k``), and percentage forms ``"P%"`` /
    ``"-P%"`` (``n*P/100`` truncated toward zero, negative results
    shifted by ``n`` — Lucene's exact integer arithmetic, quirks
    included). The conditional ``"k<P%"`` form raises. Results clamp at
    0 (<= 0 means the shoulds stay fully optional); values above
    ``n_optional`` are the caller's no-match case, as in BooleanQuery.
    """
    if isinstance(msm, bool):
        raise ValueError(f"invalid minimum_should_match: {msm!r}")
    if isinstance(msm, int):
        calc = msm
    elif isinstance(msm, str):
        s = msm.strip()
        if "<" in s:
            raise ValueError(
                f"conditional minimum_should_match {msm!r} unsupported "
                "(int, negative int, 'P%', '-P%')"
            )
        try:
            if s.endswith("%"):
                prod = n_optional * int(s[:-1])
                # Java int division truncates toward zero
                calc = prod // 100 if prod >= 0 else -((-prod) // 100)
            else:
                calc = int(s)
        except ValueError:
            raise ValueError(
                f"invalid minimum_should_match spec: {msm!r}"
            ) from None
    else:
        raise ValueError(f"invalid minimum_should_match: {msm!r}")
    return max(n_optional + calc if calc < 0 else calc, 0)


def _msm_group(shoulds: list[str], k: int) -> str | None:
    """Predicate requiring >= ``k`` of the ``shoulds`` to hold, or None
    when k <= 0 (fully optional). NULL-safe: a NULL sub-predicate
    counts 0, matching OR's treatment of unknown."""
    if k <= 0:
        return None
    if k > len(shoulds):
        return "FALSE"
    if k == 1:
        return "(" + " OR ".join(shoulds) + ")"
    ind = " + ".join(
        f"(CASE WHEN {p} THEN 1 ELSE 0 END)" for p in shoulds
    )
    return f"(({ind}) >= {k})"


_RANGE_OPS = {"gt": ">", "gte": ">=", "lt": "<", "lte": "<="}

_EARTH_RADIUS_KM = 6371.0088  # matches query/geo.py


def _geo_cols(body: dict) -> tuple[dict, str, str]:
    """Pop the optional ``lat_field``/``lon_field`` column overrides off
    a geo leaf body (the aggs compiler's convention); default to
    ``{field}_lat``/``{field}_lon`` derived from the one remaining
    geo-field key. Returns (clean body, lat_col, lon_col)."""
    body = dict(body)
    lat = body.pop("lat_field", None)
    lon = body.pop("lon_field", None)
    if lat is None or lon is None:
        fields = [k for k in body if k not in ("distance", "points")]
        if len(fields) != 1:
            raise ValueError(f"geo leaf needs exactly one field: {body!r}")
        f = _field(fields[0])
        lat = lat or f"{f}_lat"
        lon = lon or f"{f}_lon"
    return body, _field(lat), _field(lon)


def _parse_distance_km(v) -> float:
    """ES distance value -> km: a bare number is km; strings accept
    ``km``/``m``/``mi`` suffixes."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    s = str(v).strip().lower()
    for suffix, factor in (("km", 1.0), ("mi", 1.609344), ("m", 0.001)):
        if s.endswith(suffix):
            return float(s[: -len(suffix)]) * factor
    return float(s)


def _haversine_sql(lat_col: str, lon_col: str,
                   olat: float, olon: float) -> str:
    """Great-circle km as a portable SQL expression (same formula as
    query/geo.py::haversine_km; sin/cos/asin/radians/sqrt/pow exist in
    both Spark SQL and DuckDB)."""
    return (
        f"(2.0 * {_EARTH_RADIUS_KM!r} * asin(sqrt("
        f"pow(sin(radians({lat_col} - ({olat!r})) / 2.0), 2) + "
        f"cos(radians({olat!r})) * cos(radians({lat_col})) * "
        f"pow(sin(radians({lon_col} - ({olon!r})) / 2.0), 2))))"
    )


def _nested_pred(node: dict, path: str, var: str) -> str:
    """Inner predicate of a ``nested`` filter: term/terms/range/exists/
    bool over the element struct ``var``. ES's fully-qualified field
    names (``path.sub``) strip to the struct member."""
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"nested inner node needs one key: {node!r}")
    kind, body = next(iter(node.items()))

    def elem(f: str) -> str:
        if f.startswith(path + "."):
            f = f[len(path) + 1:]
        return f"{var}.{_field(f)}"

    if kind == "term":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return f"{elem(f)} = {_sql_lit(v)}"
    if kind == "terms":
        (f, vs), = body.items()
        if not vs:
            return "FALSE"
        return f"{elem(f)} IN ({', '.join(_sql_lit(v) for v in vs)})"
    if kind == "range":
        (f, ops), = body.items()
        conds = [
            f"{elem(f)} {_RANGE_OPS[op]} {_sql_lit(v)}"
            for op, v in sorted(ops.items())
        ]
        if not conds:
            raise ValueError("empty nested range body")
        return "(" + " AND ".join(conds) + ")"
    if kind == "exists":
        return f"{elem(body['field'])} IS NOT NULL"
    if kind == "bool":
        # same ES membership defaults as compile_filter: shoulds are
        # required only when nothing else narrows (or msm >= 1)
        groups = [
            _nested_pred(p, path, var)
            for p in list(body.get("must", [])) + list(body.get("filter", []))
        ]
        shoulds = [_nested_pred(p, path, var) for p in body.get("should", [])]
        if shoulds:
            msm = body.get("minimum_should_match")
            k = (
                (0 if groups else 1) if msm is None
                else _resolve_msm(msm, len(shoulds))
            )
            grp = _msm_group(shoulds, k)
            if grp is not None:
                groups.append(grp)
        for p in body.get("must_not", []):
            groups.append(f"NOT ({_nested_pred(p, path, var)})")
        return "(" + " AND ".join(groups) + ")" if groups else "TRUE"
    raise ValueError(f"unsupported nested inner query: {kind}")


def compile_filter(node: dict) -> str:
    """Filter-context DSL node -> SQL predicate string (see module
    docstring for the supported leaves). Composable: the caller can AND
    several compiled filters."""
    if not isinstance(node, dict) or len(node) != 1:
        raise ValueError(f"filter node must have exactly one key: {node!r}")
    kind, body = next(iter(node.items()))
    if kind == "match_all":
        return "TRUE"
    if kind == "term":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return f"{_field(f)} = {_sql_lit(v)}"
    if kind == "terms":
        (f, vs), = body.items()
        if not vs:
            return "FALSE"
        return f"{_field(f)} IN ({', '.join(_sql_lit(v) for v in vs)})"
    if kind == "range":
        (f, ops), = body.items()
        conds = []
        for op, v in sorted(ops.items()):
            if op not in _RANGE_OPS:
                raise ValueError(f"unsupported range op: {op}")
            conds.append(f"{_field(f)} {_RANGE_OPS[op]} {_sql_lit(v)}")
        if not conds:
            raise ValueError("empty range body")
        return "(" + " AND ".join(conds) + ")"
    if kind == "exists":
        return f"{_field(body['field'])} IS NOT NULL"
    if kind == "ids":
        vs = body["values"]
        if not vs:
            return "FALSE"
        return f"doc_id IN ({', '.join(_sql_lit(int(v)) for v in vs)})"
    if kind == "prefix":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return (
            f"{_field(f)} LIKE {_sql_lit(_like_escape(v, False) + '%')}"
            " ESCAPE '!'"
        )
    if kind == "wildcard":
        (f, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return (
            f"{_field(f)} LIKE {_sql_lit(_like_escape(v, True))}"
            " ESCAPE '!'"
        )
    if kind == "geo_bounding_box":
        # rows inside [bottom, top] x [left, right] (inclusive; a
        # dateline-crossing box raises — split + union, as query/geo.py
        # advises). Pure range conjuncts: parquet row-group prunable.
        body, lat, lon = _geo_cols(body)
        (_, box), = body.items()
        top, left = float(box["top_left"]["lat"]), float(box["top_left"]["lon"])
        bottom = float(box["bottom_right"]["lat"])
        right = float(box["bottom_right"]["lon"])
        if bottom > top:
            raise ValueError(f"bottom {bottom} > top {top}")
        if left > right:
            raise ValueError(
                f"left {left} > right {right} (dateline: split + union)"
            )
        return (
            f"({lat} >= {bottom!r} AND {lat} <= {top!r}"
            f" AND {lon} >= {left!r} AND {lon} <= {right!r})"
        )
    if kind == "geo_distance":
        # two-stage like query/geo.py::geo_distance: a sargable
        # bounding-box conjunct prunes at scan speed, the exact
        # haversine keeps the circle. Column convention: {field}_lat/
        # {field}_lon, or explicit lat_field/lon_field keys.
        body, lat, lon = _geo_cols(body)
        dist_km = _parse_distance_km(body.pop("distance"))
        if dist_km <= 0:
            raise ValueError(f"distance must be positive: {dist_km}")
        (_, origin), = body.items()
        olat, olon = float(origin["lat"]), float(origin["lon"])
        conds = []
        dlat = math.degrees(dist_km / _EARTH_RADIUS_KM)
        conds.append(f"{lat} >= {olat - dlat!r} AND {lat} <= {olat + dlat!r}")
        ang = dist_km / _EARTH_RADIUS_KM
        coslat = math.cos(math.radians(olat))
        sin_ratio = (
            math.sin(min(ang, math.pi / 2)) / coslat if coslat > 0 else 2.0
        )
        if sin_ratio < 1.0 and olat - dlat > -90.0 and olat + dlat < 90.0:
            dlon = math.degrees(math.asin(sin_ratio))
            lo, hi = olon - dlon, olon + dlon
            if lo >= -180.0 and hi <= 180.0:
                conds.append(f"{lon} >= {lo!r} AND {lon} <= {hi!r}")
            # else: antimeridian wrap — skip the lon conjunct (the
            # exact haversine below still keeps the circle)
        conds.append(f"{_haversine_sql(lat, lon, olat, olon)} <= {dist_km!r}")
        return "(" + " AND ".join(conds) + ")"
    if kind == "geo_polygon":
        # ray-cast parity (odd westward-ray crossing count), the same
        # guarded-division CASE shape as query/geo.py::geo_polygon —
        # the division only evaluates under the lat-straddle branch, so
        # ANSI mode never sees the zero denominator of a flat edge.
        body, lat, lon = _geo_cols(body)
        (_, spec), = body.items()
        pts = [(float(p["lat"]), float(p["lon"])) for p in spec["points"]]
        if len(pts) < 3:
            raise ValueError("geo_polygon needs >= 3 points")
        lats, lons = [p[0] for p in pts], [p[1] for p in pts]
        box = (
            f"{lat} >= {min(lats)!r} AND {lat} <= {max(lats)!r}"
            f" AND {lon} >= {min(lons)!r} AND {lon} <= {max(lons)!r}"
        )
        edges = []
        n = len(pts)
        for i in range(n):
            yi, xi = pts[i]
            yj, xj = pts[(i + 1) % n]
            edges.append(
                f"CASE WHEN ({yi!r} > {lat}) <> ({yj!r} > {lat}) THEN "
                f"(CASE WHEN {lon} < ({xj!r} - {xi!r}) * ({lat} - {yi!r})"
                f" / ({yj!r} - {yi!r}) + {xi!r} THEN 1 ELSE 0 END) "
                f"ELSE 0 END"
            )
        crossings = "(" + " + ".join(edges) + ")"
        return f"({box} AND {crossings} % 2 = 1)"
    if kind == "terms_set":
        # ES terms_set over an array column: matching-term count (set
        # semantics — array_intersect dedups, as ES counts distinct
        # matched terms) >= the per-doc or literal required count.
        (f, spec), = body.items()
        unknown = set(spec) - {
            "terms", "minimum_should_match", "minimum_should_match_field",
            "boost",
        }
        if unknown:
            raise ValueError(
                f"unsupported terms_set options: {sorted(unknown)} "
                "(minimum_should_match_script is not supported)"
            )
        terms = spec["terms"]
        if not terms:
            return "FALSE"
        arr = "array(" + ", ".join(_sql_lit(t) for t in terms) + ")"
        cnt = f"size(array_intersect({_field(f)}, {arr}))"
        msm_field = spec.get("minimum_should_match_field")
        if msm_field is not None:
            required = _field(msm_field)
        else:
            required = str(int(spec["minimum_should_match"]))
        return f"({cnt} >= {required})"
    if kind == "nested":
        # ES nested query in filter context: map-only array<struct>
        # algebra (the query/relations.py design) — one HOF exists()
        # over the nested path, zero shuffle, no explode.
        path = _field(body["path"])
        pred = _nested_pred(body["query"], path, "_x")
        return f"exists({path}, _x -> {pred})"
    if kind == "script":
        # ES script query (filter context): the painless analogue here
        # is a SQL boolean expression over the metadata columns — the
        # same dialect ``runtime_mappings`` scripts already accept
        # (Spark/DuckDB-portable subset is the caller's contract, as
        # there). Parenthesized so it composes under bool AND/NOT.
        src = body["script"]
        if isinstance(src, dict):
            src = src.get("source", "")
        if not isinstance(src, str) or not src.strip():
            raise ValueError("script query needs a non-empty source")
        return f"({src})"
    if kind == "bool":
        groups = []
        for part in body.get("must", []) + body.get("filter", []):
            groups.append(compile_filter(part))
        shoulds = [compile_filter(p) for p in body.get("should", [])]
        if shoulds:
            msm = body.get("minimum_should_match")
            k = (
                (0 if groups else 1) if msm is None
                else _resolve_msm(msm, len(shoulds))
            )
            grp = _msm_group(shoulds, k)
            if grp is not None:
                groups.append(grp)
        for part in body.get("must_not", []):
            groups.append(f"NOT ({compile_filter(part)})")
        if not groups:
            return "TRUE"
        return "(" + " AND ".join(groups) + ")"
    raise ValueError(f"unsupported filter query: {kind}")


def _leaf_clauses(kind: str, body: dict, role: str) -> list[Clause]:
    """Scoring-context leaf -> evaluator clauses (see module docstring)."""
    if kind == "match":
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            text, op = v["query"], v.get("operator", "or")
        else:
            text, op = v, "or"
        if op == "and":
            if role != "must":
                raise ValueError(
                    "match operator=and is only supported in must position"
                )
            return [Clause("term", "must", tok) for tok in text.split()]
        if op != "or":
            raise ValueError(f"unsupported match operator: {op}")
        return [Clause("term", role, text)]
    if kind == "match_phrase":
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            text, slop = v["query"], int(v.get("slop", 0))
        else:
            text, slop = v, 0
        return [Clause("phrase", role, text, slop=slop)]
    if kind == "prefix":
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            v = v["value"]
        return [Clause("prefix", role, v)]
    if kind == "fuzzy":
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            val, fz = v["value"], int(v.get("fuzziness", 2))
        else:
            val, fz = v, 2
        return [Clause("fuzzy", role, val, fuzz=fz)]
    if kind in ("wildcard", "regexp"):
        # scoring-context multi-term leaves on the TEXT field: capped
        # dictionary expansion -> BM25 sum, the same treatment prefix
        # gets (ES's default rewrite constant-scores these; this engine
        # BM25-scores expansions uniformly — documented divergence, and
        # the filter-context forms under bool.filter stay exact)
        (f, v), = body.items()
        _field(f)
        if isinstance(v, dict):
            v = v.get("value", v.get("wildcard"))
        return [Clause(kind, role, v)]
    if kind in ("simple_query_string", "query_string"):
        # query_string routes onto the same parser: the +/- prefix,
        # quoted-phrase, trailing-*, and ~N grammar subset. Lucene-only
        # syntax (field:term, AND/OR/NOT, grouping) raises here rather
        # than being silently read as literal terms.
        if role != "should":
            raise ValueError(
                f"{kind} nests only in should/top position "
                "(its own +/- prefixes set clause roles)"
            )
        q = body["query"]
        if kind == "query_string":
            marks = [m for m in (":", "(", ")", " AND ", " OR ", " NOT ")
                     if m in q]
            if marks:
                raise ValueError(
                    "query_string Lucene syntax beyond the "
                    f"simple_query_string subset is unsupported: {marks}"
                )
        return parse_simple_query_string(
            q, body.get("default_operator", "or")
        ).clauses
    if kind == "match_all":
        return []
    raise ValueError(f"unsupported scoring query: {kind}")


# scoring-context leaves that carry no text statistics: they compile to
# filter predicates + a constant boost instead of evaluator clauses.
# prefix/wildcard are NOT here — on the text field they stay BM25-scored
# expansion clauses (the pre-existing behavior); their filter-context
# forms live under bool.filter.
CONST_KINDS = frozenset(
    ("term", "terms", "range", "exists", "ids", "script")
)

# scoring-context leaves whose score is a PER-DOC SQL expression over a
# metadata feature column (not a constant): rank_feature's saturation/
# log/sigmoid and distance_feature's pivot decay. Membership = the
# feature column is non-null, exactly ES's "docs missing the field don't
# match this clause".
FEATURE_KINDS = frozenset(
    ("rank_feature", "distance_feature", "terms_set")
)


def _feature_leaf(kind: str, body: dict) -> tuple[str, str]:
    """rank_feature / distance_feature / terms_set leaf -> (membership
    predicate, per-doc score SQL expression). Formulas match the
    standalone evaluators (query/functionscore.py::rank_feature_topk /
    distance_feature_topk); ``saturation`` requires an explicit
    ``pivot`` (ES's default derives it from index statistics —
    documented divergence). terms_set in scoring context: membership =
    the filter leaf's msm predicate, score = boost x distinct-matched-
    term count (ES sums the matched TermQuery idfs; metadata columns
    carry no term stats, so each matched term scores 1.0 — the
    documented constant-leaf convention). ln/pow/abs are portable
    Spark/DuckDB SQL."""
    if kind == "terms_set":
        pred = compile_filter({"terms_set": body})
        (f, spec), = body.items()
        boost = float(spec.get("boost", 1.0))
        terms = spec["terms"]
        if not terms:
            return "FALSE", "0.0"
        arr = "array(" + ", ".join(_sql_lit(t) for t in terms) + ")"
        cnt = f"size(array_intersect({_field(f)}, {arr}))"
        return pred, f"({boost!r} * CAST({cnt} AS DOUBLE))"
    body = dict(body)
    f = _field(body.pop("field"))
    boost = float(body.pop("boost", 1.0))
    col = f"CAST({f} AS DOUBLE)"
    pred = f"{f} IS NOT NULL"
    if kind == "distance_feature":
        origin = float(body.pop("origin"))
        pivot = float(body.pop("pivot"))
        if pivot <= 0.0:
            raise ValueError(f"pivot must be positive: {pivot}")
        if body:
            raise ValueError(f"unsupported distance_feature keys: {body}")
        return pred, (
            f"({boost!r} * ({pivot!r} / ({pivot!r}"
            f" + abs({col} - {origin!r}))))"
        )
    fns = [k for k in ("saturation", "log", "sigmoid") if k in body]
    if len(fns) != 1 or set(body) - set(fns):
        raise ValueError(
            "rank_feature needs exactly one of saturation|log|sigmoid "
            f"(explicit pivot — no index-statistics default): {body!r}"
        )
    fn, spec = fns[0], body[fns[0]]
    if fn == "saturation":
        pivot = float(spec["pivot"])
        if pivot <= 0.0:
            raise ValueError(f"pivot must be positive: {pivot}")
        val = f"({col} / ({col} + {pivot!r}))"
    elif fn == "log":
        sf = float(spec["scaling_factor"])
        val = f"ln({sf!r} + {col})"
    else:
        pivot = float(spec["pivot"])
        exp = float(spec["exponent"])
        if pivot <= 0.0 or exp <= 0.0:
            raise ValueError("sigmoid pivot and exponent must be positive")
        val = (
            f"(pow({col}, {exp!r}) / (pow({col}, {exp!r})"
            f" + {pivot ** exp!r}))"
        )
    return pred, f"({boost!r} * {val})"


@dataclass
class CompiledQuery:
    """compile_dsl output: evaluator clauses + filter predicate + the
    constant-scoring parts (see module docstring, round-4k block)."""
    parsed: ParsedQuery
    filter_sql: str | None = None
    const_offset: float = 0.0  # uniform score add from must-role consts
    # (membership predicate, score SQL expr) per should clause — the
    # expr is a constant literal for term/terms/range/exists/ids boosts
    # and a per-doc feature formula for rank_feature/distance_feature
    should_consts: list[tuple[str, str]] = field(default_factory=list)
    # unconditional per-doc score expressions (must-role feature
    # clauses: their membership predicate is already ANDed into
    # filter_sql, so the expression applies to every member and never
    # counts toward minimum_should_match)
    score_exprs: list[str] = field(default_factory=list)
    msm: int | None = None  # scoring-bool minimum_should_match
    has_must_text: bool = False  # >=1 must-role text clause survived


def _split_boost(kind: str, body: dict) -> tuple[dict, float]:
    """Pop an ES ``boost`` off a constant leaf (either placement:
    ``{"terms": {f: [...], "boost": 2}}`` or
    ``{"term": {f: {"value": v, "boost": 2}}}``) -> (clean node, boost)."""
    body = dict(body)
    boost = float(body.pop("boost", 1.0))
    if len(body) == 1:
        (f, v), = body.items()
        if isinstance(v, dict) and "boost" in v:
            v = dict(v)
            boost = float(v.pop("boost"))
            body = {f: v}
    return {kind: body}, boost


def compile_dsl(dsl: dict) -> CompiledQuery:
    """Full DSL request ``query`` node -> :class:`CompiledQuery` (clause
    set for the shared evaluator + filter-context SQL predicate +
    constant-score parts)."""
    if not isinstance(dsl, dict) or len(dsl) != 1:
        raise ValueError(f"query node must have exactly one key: {dsl!r}")
    kind, body = next(iter(dsl.items()))
    if kind in CONST_KINDS:
        # a lone constant leaf in query position: pure membership at
        # its boost (ES scores keyword TermQuery by idf; this engine's
        # metadata columns carry no term stats — documented divergence)
        clean, boost = _split_boost(kind, body)
        return CompiledQuery(
            ParsedQuery(), compile_filter(clean), const_offset=boost
        )
    if kind in FEATURE_KINDS:
        # a lone feature query: membership = docs carrying the feature
        # (ES), score = the feature formula over one metadata scan
        pred, expr = _feature_leaf(kind, body)
        return CompiledQuery(ParsedQuery(), pred, score_exprs=[expr])
    if kind != "bool":
        return CompiledQuery(
            ParsedQuery(clauses=_leaf_clauses(kind, body, "should"))
        )
    msm = body.get("minimum_should_match")
    if msm is not None:
        # resolve percentage/negative forms against the DSL-level
        # should-entry count (ES's optional-clause count: a multi-term
        # match is ONE clause), producing the plain int the evaluator
        # already handles
        raw_shoulds = body.get("should", [])
        n_opt = 1 if isinstance(raw_shoulds, dict) else len(raw_shoulds)
        msm = _resolve_msm(msm, n_opt)
    clauses: list[Clause] = []
    const_filters: list[str] = []
    const_offset = 0.0
    should_consts: list[tuple[str, str]] = []
    score_exprs: list[str] = []
    for role, key in (
        ("must", "must"), ("should", "should"), ("must_not", "must_not"),
    ):
        parts = body.get(key, [])
        if isinstance(parts, dict):
            parts = [parts]
        for part in parts:
            (lk, lb), = part.items()
            if lk == "bool":
                # nested scoring bool (round 5f). Sound folds only:
                # (a) an all-must/must_not TEXT bool under must splices
                #     up (AND is associative; must_not-of-inner-match
                #     is must_not-of-outer, boosts/filters carry);
                # (b) a CONST-ONLY bool (term/terms/range/exists/ids/
                #     filter at any depth) folds to ONE membership
                #     predicate via compile_filter — which owns ES's
                #     bool-membership defaults (should needs >= 1 only
                #     when no must/filter sits beside it) — keeping the
                #     per-matching-should boosts as should_consts
                #     (sound under must: the fold's predicate already
                #     guarantees inner membership for every hit).
                # A nested bool mixing text clauses with shoulds, or
                # sitting under should, has no per-doc-constant score
                # and raises rather than mis-scoring.
                inner = compile_dsl({lk: lb})
                if inner.parsed.clauses:
                    if (role == "must" and not inner.should_consts
                            and not inner.score_exprs
                            and inner.msm in (None, 0)
                            and all(c.role in ("must", "must_not")
                                    for c in inner.parsed.clauses)):
                        clauses.extend(inner.parsed.clauses)
                        if inner.filter_sql:
                            const_filters.append(f"({inner.filter_sql})")
                        const_offset += inner.const_offset
                        continue
                    raise ValueError(
                        "nested scoring bool with text clauses is "
                        "supported only as an all-must/must_not bool "
                        "under must (AND splice)"
                    )
                pred = compile_filter({lk: lb})
                if role == "must":
                    const_filters.append(pred)
                    const_offset += inner.const_offset
                    should_consts.extend(inner.should_consts)
                elif role == "must_not":
                    const_filters.append(f"NOT ({pred})")
                else:
                    raise ValueError(
                        "nested bool under should is unsupported (its "
                        "per-doc score is not one constant; hoist it "
                        "or move it to filter context)"
                    )
                continue
            if lk in FEATURE_KINDS:
                pred, expr = _feature_leaf(lk, lb)
                if role == "must":
                    # membership requires the feature (ES); the score
                    # expression then applies to every member, so it
                    # never feeds minimum_should_match counting
                    const_filters.append(pred)
                    score_exprs.append(expr)
                elif role == "must_not":
                    const_filters.append(f"NOT ({pred})")
                else:
                    should_consts.append((pred, expr))
                continue
            if lk in CONST_KINDS:
                clean, boost = _split_boost(lk, lb)
                pred = compile_filter(clean)
                if role == "must":
                    const_filters.append(pred)
                    const_offset += boost
                elif role == "must_not":
                    const_filters.append(f"NOT ({pred})")
                else:
                    should_consts.append((pred, repr(boost)))
                continue
            clauses.extend(_leaf_clauses(lk, lb, role))
    if should_consts and clauses and msm is not None:
        raise ValueError(
            "minimum_should_match combined with constant should "
            "clauses next to text clauses is unsupported (the const "
            "indicator can't feed the evaluator's should counting)"
        )
    if (should_consts or score_exprs) and clauses:
        if not any(c.role == "must" for c in clauses) and any(
            c.role == "must_not" for c in clauses
        ):
            raise ValueError(
                "constant should clauses with should-only text plus "
                "must_not are unsupported (const-only members would "
                "bypass the must_not exclusion)"
            )
    filters = body.get("filter", [])
    if isinstance(filters, dict):
        filters = [filters]
    all_filters = [compile_filter(f) for f in filters] + const_filters
    filter_sql = " AND ".join(all_filters) if all_filters else None
    return CompiledQuery(
        ParsedQuery(clauses=clauses), filter_sql,
        const_offset=const_offset, should_consts=should_consts,
        score_exprs=score_exprs, msm=msm,
        has_must_text=any(c.role == "must" for c in clauses),
    )


def knn_search(
    emb: DataFrame,
    knn: dict,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "exact",
    **ivf_opts,
) -> DataFrame:
    """ES 8 ``knn`` search section: ``{"field": ..., "query_vector":
    [...], "k": N, "filter": <dsl filter>}`` compiled onto the ANN
    operators. The filter is ES PRE-filter semantics: compiled to one
    SQL predicate (same grammar as ``bool.filter``) and applied before
    scoring, so Catalyst pushes it into the vector-table scan and the
    result always holds k matching vectors. ``mode``: "exact" (GEMM
    brute force — the oracle-able baseline) or "ivf" (inverted-file
    cells, the scale path; ``num_candidates`` maps to ``n_probe``).
    Single query; batch several via dict query_vector lists upstream."""
    from elasticsearch_analysis_combo_spark.operators.similarity import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )

    if knn.get("field", vec_col) != vec_col:
        raise ValueError(
            f"knn field {knn.get('field')!r} does not match the vector "
            f"column {vec_col!r}"
        )
    qv = [float(x) for x in knn["query_vector"]]
    k = int(knn.get("k", 10))
    flt = knn.get("filter")
    if flt is not None:
        nodes = flt if isinstance(flt, list) else [flt]
        fsql = " AND ".join(compile_filter(n) for n in nodes)
        emb = emb.filter(F.expr(fsql))
    queries = [(0, qv)]
    if mode == "exact":
        out = brute_force_cosine_topk(
            emb, queries, k=k, id_col=id_col, vec_col=vec_col
        )
    elif mode == "ivf":
        opts = dict(ivf_opts)
        if "num_candidates" in knn and "n_probe" not in opts:
            opts["n_probe"] = max(1, int(knn["num_candidates"]) // 100)
        out = ivf_cosine_topk(
            emb, queries, k=k, id_col=id_col, vec_col=vec_col, **opts
        )
    else:
        raise ValueError(f"unsupported knn mode: {mode}")
    sim = knn.get("similarity")
    if sim is not None:
        # ES 8.8 ``similarity``: vectors below the raw-metric floor are
        # not matches. Cosine ranking is monotone in the threshold, so
        # filtering the top-k AFTER the cut equals filtering before it
        # (the passing set's top-k IS the global top-k intersected with
        # the passing set) — one post-predicate, no second scan.
        out = out.filter(F.col("cosine") >= float(sim))
    return out


def rrf_hybrid(
    rankings: list[DataFrame],
    k: int = 10,
    rank_constant: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``rank: {"rrf": ...}`` — reciprocal rank fusion of N ranked
    result sets (the ES 8 hybrid BM25 + kNN combination):
    ``rrf_score(d) = sum over rankers 1 / (rank_constant + rank_r(d))``,
    summed over the rankers that returned d. Each input needs
    (query_id, rank, id_col). Rank-based, so the legs' incomparable
    score scales never meet; one union + one partial-aggregated groupBy
    over ALREADY top-k rows — driver-size data, trivially scalable."""
    if not rankings:
        raise ValueError("rrf_hybrid needs at least one ranking")
    parts = [
        r.select("query_id", F.col(id_col).alias("_id"), "rank")
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    scored = u.groupBy("query_id", "_id").agg(
        F.sum(
            F.lit(1.0) / (F.lit(float(rank_constant)) + F.col("rank"))
        ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_rankers"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("rrf_score", 9)), F.asc("_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "rank", F.col("_id").alias(id_col),
            "rrf_score", "n_rankers",
        )
    )


def hybrid_search(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    postings: InvertedIndex | PostingFrame | None,
    body: dict,
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    emb: DataFrame,
    doc_meta: DataFrame | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn_mode: str = "exact",
) -> DataFrame:
    """ES pre-8.14 hybrid ``_search`` body: top-level ``query`` +
    ``knn`` sections (``knn`` may be a list — ES 8.7 multi-kNN),
    optionally fused by ``rank: {"rrf": {...}}``.

    - With ``rank.rrf``: every leg ranks independently at the
      ``rank_window_size`` and fuses by reciprocal rank
      (:func:`rrf_hybrid`) — identical semantics to the 8.14 retriever
      tree, returned as (query_id, rank, doc_id, score=rrf_score).
    - Without ``rank``: ES's ADDITIVE combination — the union of the
      per-leg top windows scored by the sum of each leg's
      boost-weighted score where the doc appears (a doc outside a
      leg's window contributes nothing from it, exactly the collector
      ES runs: size-window BM25 + k-window kNN, summed on overlap).
      Leg scores round to 6 before the sum (the repo's cross-engine
      determinism policy); ``boost`` on the query node's top level is
      not parsed (wrap in ``function_score`` for query-side weighting)
      but each knn section's ``boost`` multiplies its cosine.

    Scale: each leg is its own already-bounded evaluator (pushed-down
    BM25 top-k / pre-filtered ANN); the fusion touches only
    window-sized rows — one union + one partial-aggregated groupBy."""
    q = body.get("query")
    kn = body.get("knn")
    if kn is None:
        raise ValueError("hybrid_search needs a knn section")
    knns = kn if isinstance(kn, list) else [kn]
    rank = body.get("rank")
    window = k
    if rank is not None:
        (rk, rb), = rank.items()
        if rk != "rrf":
            raise ValueError(f"unsupported rank method: {rk}")
        window = int(rb.get("rank_window_size", max(k, 10)))

    legs = []  # (ranked frame with rank + score, boost)
    if q is not None:
        out = dsl_topk(
            spark, term_stats, term_df, postings, [(0, q)], config,
            n_docs, avgdl, doc_meta=doc_meta, k=window, k1=k1, b=b,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round("score", 6)), F.asc("doc_id")
        )
        legs.append((
            out.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= window)
            .select("query_id", "rank", "doc_id",
                    F.round("score", 6).alias("score")),
            1.0,
        ))
    for spec in knns:
        # under rrf every leg ranks at the shared window; in sum mode
        # each knn section keeps its OWN k (ES collects knn.k
        # candidates per section next to the size-window query leg)
        leg_k = window if rank is not None else int(spec.get("k", window))
        res = knn_search(
            emb, dict(spec, k=leg_k), vec_col=vec_col,
            id_col=vec_id_col, mode=knn_mode,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round("cosine", 6)), F.asc(vec_id_col)
        )
        legs.append((
            res.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= leg_k)
            .select("query_id", "rank",
                    F.col(vec_id_col).alias("doc_id"),
                    F.round("cosine", 6).alias("score")),
            float(spec.get("boost", 1.0)),
        ))
    if not legs:
        raise ValueError("hybrid_search needs query and/or knn")

    if rank is not None:
        fused = rrf_hybrid(
            [r for r, _ in legs], k=k,
            rank_constant=int(rb.get("rank_constant", 60)),
        )
        return fused.select(
            "query_id", "rank", "doc_id",
            F.col("rrf_score").alias("score"),
        )
    parts = [
        r.select("query_id", "doc_id",
                 (F.col("score") * F.lit(boost)).alias("_s"))
        for r, boost in legs
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    summed = u.groupBy("query_id", "doc_id").agg(
        F.sum("_s").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 6)), F.asc("doc_id")
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def _parse_function_score(body: dict) -> dict:
    """ES ``function_score`` -> normalized spec. Supported: the
    one-function shorthands ``field_value_factor`` (factor / modifier
    none|log1p|sqrt / missing, boost_mode multiply|sum) and ``gauss``
    decay (origin / scale / decay, always multiplied — ES
    decay-function rule); and (round 5i) the ``functions`` ARRAY — each
    entry one of field_value_factor / gauss / weight-only, optionally
    gated by a per-function ``filter`` (compiled to a metadata SQL
    predicate; a non-matching function is EXCLUDED from the
    combination, ES rule) and scaled by its ``weight``; entries combine
    per ``score_mode`` multiply|sum|max|min (``avg``/``first`` raise —
    avg is a weight-weighted mean in ES whose exact weighting this
    compiler does not replicate), capped at ``max_boost``, then meet
    the query score per ``boost_mode`` multiply|sum|replace. When NO
    function matches, the function score is the identity 1 (boost_mode
    multiply/replace) / 0 (sum) — the score passes through unchanged
    for multiply|sum, matching ES. script_score, random_score and
    min_score raise — never mis-execute (the standalone facade
    engine.function_score covers the same math imperatively)."""
    if "functions" in body:
        known = {"query", "functions", "score_mode", "boost_mode",
                 "max_boost"}
        unknown = sorted(set(body) - known)
        if unknown:
            raise ValueError(
                f"unsupported function_score keys: {unknown}"
            )
        score_mode = body.get("score_mode", "multiply")
        if score_mode not in ("multiply", "sum", "max", "min"):
            raise ValueError(
                f"score_mode must be multiply|sum|max|min: {score_mode}"
            )
        boost_mode = body.get("boost_mode", "multiply")
        if boost_mode not in ("multiply", "sum", "replace"):
            raise ValueError(
                f"boost_mode must be multiply|sum|replace: {boost_mode}"
            )
        entries = []
        for fn in body["functions"]:
            known_fn = {"filter", "weight", "field_value_factor", "gauss"}
            unknown = sorted(set(fn) - known_fn)
            if unknown:
                raise ValueError(
                    f"unsupported functions[] keys: {unknown}"
                )
            weight = float(fn.get("weight", 1.0))
            pred = (
                compile_filter(fn["filter"]) if "filter" in fn else None
            )
            fvf, gauss = fn.get("field_value_factor"), fn.get("gauss")
            if fvf is not None and gauss is not None:
                raise ValueError(
                    "a functions[] entry takes at most one function"
                )
            if fvf is not None:
                modifier = fvf.get("modifier", "none")
                if modifier not in ("none", "log1p", "sqrt"):
                    raise ValueError(
                        f"modifier must be none|log1p|sqrt: {modifier}"
                    )
                missing = fvf.get("missing")
                entries.append({
                    "kind": "field_value_factor",
                    "field": _field(fvf["field"]),
                    "factor": float(fvf.get("factor", 1.0)),
                    "modifier": modifier,
                    "missing": (
                        None if missing is None else float(missing)
                    ),
                    "weight": weight,
                    "pred": pred,
                })
            elif gauss is not None:
                (f, params), = gauss.items()
                decay = float(params.get("decay", 0.5))
                scale = float(params["scale"])
                if not 0.0 < decay < 1.0:
                    raise ValueError(f"decay must be in (0, 1): {decay}")
                if scale <= 0.0:
                    raise ValueError(f"scale must be positive: {scale}")
                entries.append({
                    "kind": "gauss",
                    "field": _field(f),
                    "origin": float(params["origin"]),
                    "scale": scale,
                    "decay": decay,
                    "weight": weight,
                    "pred": pred,
                })
            else:
                # weight-only function: value IS the weight (ES rule)
                entries.append({"kind": "weight", "weight": weight,
                                "pred": pred})
        if not entries:
            raise ValueError("functions array must not be empty")
        mb = body.get("max_boost")
        return {
            "function": "functions",
            "entries": entries,
            "score_mode": score_mode,
            "boost_mode": boost_mode,
            "max_boost": None if mb is None else float(mb),
        }
    known = {"query", "field_value_factor", "gauss", "boost_mode"}
    unknown = sorted(set(body) - known)
    if unknown:
        raise ValueError(f"unsupported function_score keys: {unknown}")
    fvf, gauss = body.get("field_value_factor"), body.get("gauss")
    if (fvf is None) == (gauss is None):
        raise ValueError(
            "function_score needs exactly one of field_value_factor|gauss"
        )
    if fvf is not None:
        modifier = fvf.get("modifier", "none")  # ES default: none
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError(f"modifier must be none|log1p|sqrt: {modifier}")
        boost_mode = body.get("boost_mode", "multiply")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(f"boost_mode must be multiply|sum: {boost_mode}")
        missing = fvf.get("missing")
        return {
            "function": "field_value_factor",
            "field": _field(fvf["field"]),
            "factor": float(fvf.get("factor", 1.0)),
            "modifier": modifier,
            "missing": None if missing is None else float(missing),
            "boost_mode": boost_mode,
        }
    if body.get("boost_mode", "multiply") != "multiply":
        raise ValueError("decay functions always multiply (ES rule)")
    (f, params), = gauss.items()
    decay = float(params.get("decay", 0.5))
    scale = float(params["scale"])
    if not 0.0 < decay < 1.0:
        raise ValueError(f"decay must be in (0, 1): {decay}")
    if scale <= 0.0:
        raise ValueError(f"scale must be positive: {scale}")
    return {
        "function": "gauss",
        "field": _field(f),
        "origin": float(params["origin"]),
        "scale": scale,
        "decay": decay,
    }


def _function_value_expr(e: dict):
    """One ``functions[]`` entry -> its weighted value Column (the
    per-function filter gate is applied by the caller). A null field
    value resolves to the identity 1 before weighting (matching the
    shorthand paths' never-drop-a-match rule; fvf's ``missing``
    substitutes first when given)."""
    import math

    if e["kind"] == "weight":
        return F.lit(e["weight"])
    fv = F.col(e["field"]).cast("double")
    if e["kind"] == "field_value_factor":
        if e["missing"] is not None:
            fv = F.coalesce(fv, F.lit(e["missing"]))
        val = fv * e["factor"]
        if e["modifier"] == "log1p":
            val = F.log1p(val)
        elif e["modifier"] == "sqrt":
            val = F.sqrt(val)
        return F.coalesce(val, F.lit(1.0)) * F.lit(e["weight"])
    # gauss
    sigma2 = -(e["scale"] ** 2) / (2.0 * math.log(e["decay"]))
    return F.coalesce(
        F.exp(-((fv - e["origin"]) * (fv - e["origin"])) / (2.0 * sigma2)),
        F.lit(1.0),
    ) * F.lit(e["weight"])


def _functions_array_expr(s: dict):
    """``functions`` array spec -> combined score Column. Per-function
    filters gate membership (a non-matching function is EXCLUDED, not
    neutral-counted); matched values combine per score_mode, cap at
    max_boost, then meet the query score per boost_mode. When no
    function matches, the score passes through unchanged (ES's
    no-matching-filters behavior), which the final ``when(any_matched)``
    guard implements uniformly for every mode."""
    from functools import reduce as _reduce

    gates = []
    for e in s["entries"]:
        matched = F.expr(e["pred"]) if e.get("pred") else F.lit(True)
        gates.append((matched, _function_value_expr(e)))
    mode = s["score_mode"]
    if mode == "multiply":
        fs = _reduce(
            lambda a, mv: a * F.when(mv[0], mv[1]).otherwise(F.lit(1.0)),
            gates, F.lit(1.0),
        )
    elif mode == "sum":
        fs = _reduce(
            lambda a, mv: a + F.when(mv[0], mv[1]).otherwise(F.lit(0.0)),
            gates, F.lit(0.0),
        )
    else:
        # greatest/least skip nulls (unmatched entries), null only when
        # nothing matched — unreachable past the any_matched guard
        vals = [F.when(m, v) for m, v in gates]
        picked = (
            vals[0] if len(vals) == 1
            else (F.greatest(*vals) if mode == "max" else F.least(*vals))
        )
        fs = F.coalesce(picked, F.lit(1.0))
    if s["max_boost"] is not None:
        fs = F.least(fs, F.lit(s["max_boost"]))
    any_m = _reduce(lambda a, mv: a | mv[0], gates[1:], gates[0][0])
    if s["boost_mode"] == "multiply":
        combined = F.col("score") * fs
    elif s["boost_mode"] == "sum":
        combined = F.col("score") + fs
    else:  # replace
        combined = fs
    return F.when(any_m, combined).otherwise(F.col("score"))


def _apply_score_functions(
    scored: DataFrame, doc_meta: DataFrame, specs: dict[int, dict]
) -> DataFrame:
    """Apply each function_score / script_score qid's transform over its
    UNRANKED full hit set (the function applies before the top-k cut — a
    decayed winner may sit outside the plain-BM25 top-k): one left join
    onto the needed metadata columns, one codegen CASE projection. Docs
    without a metadata row keep the base score unless ``missing`` says
    otherwise (matching docs are never silently dropped; a script whose
    expression nulls out falls back to the base score the same way)."""
    import math

    field_set: set[str] = set()
    join_all = False
    for s in specs.values():
        if s["function"] in ("script", "boosting"):
            join_all = True
        elif s["function"] == "functions":
            for e in s["entries"]:
                if e.get("pred"):
                    join_all = True
                if e.get("field"):
                    field_set.add(e["field"])
        else:
            field_set.add(s["field"])
    fields = sorted(field_set)
    if join_all:
        # a script / filter predicate may reference any metadata column —
        # join them all (column pruning keeps the scan narrow when the
        # plan resolves); names colliding with the scored frame's own
        # columns drop
        fields = [
            c for c in doc_meta.columns
            if c not in ("doc_id", "score", "query_id", "rank")
        ]
    joined = scored.join(
        doc_meta.select("doc_id", *fields), "doc_id", "left"
    )
    expr = F.col("score")
    for qid, s in sorted(specs.items()):
        if s["function"] == "script":
            combined = F.coalesce(F.expr(s["expr"]), F.col("score"))
            expr = F.when(F.col("query_id") == qid, combined).otherwise(
                expr
            )
            continue
        if s["function"] == "boosting":
            # negative-matching docs demote; docs without a metadata
            # row (predicate null) keep the base score like ES's
            # non-matching negative
            combined = F.col("score") * F.when(
                F.expr(s["pred"]), F.lit(s["nb"])
            ).otherwise(F.lit(1.0))
            expr = F.when(F.col("query_id") == qid, combined).otherwise(
                expr
            )
            continue
        if s["function"] == "functions":
            combined = _functions_array_expr(s)
            expr = F.when(F.col("query_id") == qid, combined).otherwise(
                expr
            )
            continue
        fv = F.col(s["field"]).cast("double")
        if s["function"] == "field_value_factor":
            if s["missing"] is not None:
                fv = F.coalesce(fv, F.lit(s["missing"]))
            val = fv * s["factor"]
            if s["modifier"] == "log1p":
                val = F.log1p(val)
            elif s["modifier"] == "sqrt":
                val = F.sqrt(val)
            if s["boost_mode"] == "multiply":
                combined = F.col("score") * F.coalesce(val, F.lit(1.0))
            else:
                combined = F.col("score") + F.coalesce(val, F.lit(0.0))
        else:  # gauss
            sigma2 = -(s["scale"] ** 2) / (2.0 * math.log(s["decay"]))
            combined = F.col("score") * F.coalesce(
                F.exp(
                    -((fv - s["origin"]) * (fv - s["origin"]))
                    / (2.0 * sigma2)
                ),
                F.lit(1.0),
            )
        expr = F.when(F.col("query_id") == qid, combined).otherwise(expr)
    return joined.select("query_id", "doc_id", expr.alias("score"))


def _eval_span_specs(
    spark: SparkSession,
    postings: InvertedIndex | PostingFrame,
    term_stats: DataFrame,
    term_df: DataFrame,
    specs: dict[int, dict],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    span_range_bits: int | None,
) -> DataFrame:
    """Route top-level DSL span queries onto the query/spans.py
    evaluators and BM25-score the matches: ``score = idf_sum(analyzed
    constituent terms) * satu(n_matches)`` with ``dl`` riding from the
    constituents' pruned stats scan — the same fixed-constituent scoring
    the match_phrase_prefix route uses (Lucene's SpanScorer accumulates
    per-match sloppyFreq instead; n_matches is this engine's span-count
    analogue, documented divergence). For ``span_not`` the idf/dl
    constituents are the INCLUDE side only (the exclude side gates
    membership, it does not add weight). Same-option specs batch into
    one evaluator pass; ``span_range_bits`` fans each out per
    (query, doc-range) at scale."""
    from elasticsearch_analysis_combo_spark.query.spans import (
        span_first_match,
        span_near_match,
        span_near_match_partitioned,
        span_not_match,
        span_or_match,
    )

    near_by_opt: dict[tuple[int, bool], list[tuple[int, str]]] = {}
    or_qs: list[tuple[int, str]] = []
    first_by_end: dict[int, list[tuple[int, str]]] = {}
    not_by_opt: dict[tuple[int, int], list[tuple[int, str, str]]] = {}
    within_by_slop: dict[
        tuple[str, int], list[tuple[int, str, str]]
    ] = {}  # (kind, big slop) -> (qid, little_text, big_text)
    texts: dict[int, str] = {}  # idf/dl constituents per qid
    for qid, node in sorted(specs.items()):
        kind, body = next(iter(node.items()))
        if kind == "span_near":
            _, terms, slop, in_order = _span_near_parts(body)
            text = " ".join(terms)
            near_by_opt.setdefault((slop, in_order), []).append((qid, text))
        elif kind in ("span_term", "span_or"):
            _, terms = _span_terms_of(node)
            text = " ".join(terms)
            or_qs.append((qid, text))
        elif kind == "span_first":
            end = int(body["end"])
            _, terms = _span_terms_of(body["match"])
            text = " ".join(terms)
            first_by_end.setdefault(end, []).append((qid, text))
        elif kind == "span_not":
            pre = int(body.get("pre", body.get("dist", 0)))
            post = int(body.get("post", body.get("dist", 0)))
            fi, inc = _span_terms_of(body["include"])
            fe, exc = _span_terms_of(body["exclude"])
            if fi != fe:
                raise ValueError("span_not include/exclude fields differ")
            text = " ".join(inc)
            not_by_opt.setdefault((pre, post), []).append(
                (qid, text, " ".join(exc))
            )
        elif kind in ("span_within", "span_containing"):
            # little = span_term/span_or; big = ORDERED span_near of
            # span_terms (the evaluators' clause shapes). A matching
            # doc holds every big term AND >= 1 little term, so the
            # all-constituents dl scan covers every hit.
            lf, little = _span_terms_of(body["little"])
            bkind, bbody = next(iter(body["big"].items()))
            if bkind != "span_near":
                raise ValueError(
                    f"{kind} big clause must be span_near, got {bkind}"
                )
            bf, bterms, bslop, in_order = _span_near_parts(bbody)
            if not in_order:
                raise ValueError(
                    f"{kind} big span_near must be ordered "
                    "(in_order: true — the evaluator's big chain)"
                )
            if lf != bf:
                raise ValueError(f"{kind} little/big fields differ")
            text = " ".join(little + bterms)
            within_by_slop.setdefault((kind, bslop), []).append(
                (qid, " ".join(little), " ".join(bterms))
            )
        else:  # pragma: no cover — guarded by _SPAN_KINDS at dispatch
            raise ValueError(f"unsupported span query: {kind}")
        texts[qid] = text

    parts: list[DataFrame] = []
    for (slop, in_order), qs in sorted(near_by_opt.items()):
        if span_range_bits is None:
            parts.append(span_near_match(
                spark, postings, sorted(qs), config,
                slop=slop, in_order=in_order,
            ))
        else:
            parts.append(span_near_match_partitioned(
                spark, postings, sorted(qs), config,
                slop=slop, in_order=in_order, range_bits=span_range_bits,
            ))
    if or_qs:
        parts.append(span_or_match(
            spark, postings, sorted(or_qs), config,
            range_bits=span_range_bits,
        ))
    for end, qs in sorted(first_by_end.items()):
        parts.append(span_first_match(
            spark, postings, sorted(qs), config, end=end,
            range_bits=span_range_bits,
        ))
    for (pre, post), qs in sorted(not_by_opt.items()):
        parts.append(span_not_match(
            spark, postings, sorted(qs), config, pre=pre, post=post,
            range_bits=span_range_bits,
        ))
    if within_by_slop:
        from elasticsearch_analysis_combo_spark.query.spans import (
            span_containing_match,
            span_within_match,
        )

        for (wkind, bslop), qs in sorted(within_by_slop.items()):
            fn = (
                span_within_match if wkind == "span_within"
                else span_containing_match
            )
            parts.append(fn(
                spark, postings, sorted(qs), config, slop=bslop,
                range_bits=span_range_bits,
            ))
    hits = parts[0]
    for part in parts[1:]:
        hits = hits.unionByName(part)
    return _score_constituent_hits(
        spark, hits, texts, config, term_stats, term_df,
        n_docs, avgdl, k, k1, b,
    )


def _score_constituent_hits(
    spark: SparkSession,
    hits: DataFrame,
    texts: dict[int, str],
    config: ComboConfig,
    term_stats: DataFrame,
    term_df: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared fixed-constituent BM25 scoring for positional-match hits
    (the span and intervals DSL routes): ``score = idf_sum(analyzed
    constituents) * satu(n_matches)`` with dl riding from the
    constituents' pruned stats scan — every match holds >= 1 constituent
    term, so the filtered scan covers all hits. One tiny dictionary
    probe (O(query text) rows) for the idf dimension."""
    import math

    from elasticsearch_analysis_combo_spark.query.spans import (
        analyze_span_terms,
    )

    terms_by_q = analyze_span_terms(sorted(texts.items()), config)
    probe = sorted({t for ts in terms_by_q.values() for t in ts})
    df_map = {
        r["term"]: int(r["df"])
        for r in term_df.filter(F.col("term").isin(probe))
        .select("term", "df").collect()
    }

    def _idf(dfv: int) -> float:
        return math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))

    idf_df = tiny_df(spark,
        [
            (qid, sum((_idf(df_map[t]) for t in ts if t in df_map), 0.0))
            for qid, ts in sorted(terms_by_q.items())
        ],
        "query_id int, idf_sum double",
    )
    qt = tiny_df(spark,
        sorted(
            (q, t) for q, ts in terms_by_q.items() for t in ts
        ),
        "query_id int, term string",
    )
    dl = (
        term_stats.filter(F.col("term").isin(probe))
        .select("term", "doc_id", "dl")
        .join(F.broadcast(qt), "term")
        .select("query_id", "doc_id", "dl")
        .distinct()
    )
    f_ = F.col("n_matches").cast("double")
    scored = (
        hits.join(F.broadcast(idf_df), "query_id")
        .join(dl, ["query_id", "doc_id"])
        .withColumn(
            "score",
            F.col("idf_sum") * f_ * (k1 + 1.0)
            / (f_ + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
        .select("query_id", "doc_id", "score")
    )
    return _rank_topk(scored, k)


def _intervals_match_texts(rule: dict, acc: list) -> list:
    """Collect the match-leaf texts of an ES intervals rule tree (the
    scoring constituents). prefix/wildcard leaves raise — their
    expansion terms are resolved inside the evaluator, so the route's
    fixed-constituent dl leg could not cover their hits
    (engine.intervals serves them unscored)."""
    kind, body = next(iter(rule.items()))
    if kind == "match":
        acc.append(body["query"])
        return acc
    if kind in ("any_of", "all_of"):
        for kid in body["intervals"]:
            _intervals_match_texts(kid, acc)
        return acc
    raise ValueError(
        f"intervals DSL route supports match/any_of/all_of rules, got "
        f"{kind} (prefix/wildcard sources stay on engine.intervals)"
    )


def dsl_topk(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    postings: InvertedIndex | PostingFrame | None,
    queries: list[tuple[int, dict]],
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    doc_meta: DataFrame | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    partitioned_phrases: bool = False,
    range_bits: int = 4,
    max_expansions: int = 50,
    span_range_bits: int | None = None,
) -> DataFrame:
    """Compile and evaluate ES Query DSL requests (qid, query-node).

    Pure-filter requests (``match_all`` with filters, a lone filter
    bool, or ``constant_score``) return the filtered membership with the
    constant score (1.0, or the ``boost``), ranked by doc_id — all
    straight off the pushed-down metadata scan. Mixed requests score
    through the shared clause evaluator with the filter as a pre-rank
    semi-join. ``pinned`` queries post-process their organic results:
    the pinned ids come first in the given order (score 1e9 - rank, a
    documented stand-in for ES's float-max constant, which double
    precision cannot decrement), organic hits follow re-ranked with the
    pinned docs removed."""
    const_boosts: dict[int, float] = {}
    pinned_specs: dict[int, list[int]] = {}
    # dis_max sub-queries evaluate under synthetic qids allocated above
    # the user's range (evaluate_parsed packs qids into 21 bits), then
    # max-combine per parent. tie_breaker 0 combines the subs' ranked
    # top-ks (the union-of-top-ks containment argument); tie_breaker > 0
    # must blend max + tb * sum(others) BEFORE any top-k cut, so those
    # subs evaluate UNRANKED over their full hit sets (bounded by the
    # clause posting lists) and combine pre-rank.
    dismax_subs: dict[int, int] = {}  # synthetic qid -> parent qid (tb=0)
    dismax_tb_subs: dict[int, int] = {}  # synthetic qid -> parent (tb>0)
    dismax_tb: dict[int, float] = {}  # parent qid -> tie_breaker
    none_qids: list[int] = []
    mpp_specs: dict[int, tuple[str, int, int]] = {}  # match_phrase_prefix
    mbp_specs: dict[int, tuple[str, int]] = {}  # match_bool_prefix
    mlt_specs: dict[int, tuple[int, dict]] = {}  # more_like_this
    span_specs: dict[int, dict] = {}  # top-level span queries
    ivl_specs: dict[int, tuple[str, dict]] = {}  # intervals (text, rule)
    fscore_specs: dict[int, dict] = {}  # function_score transforms
    norm: list[tuple[int, dict]] = []
    next_synth = max((q for q, _ in queries), default=-1) + 1
    for qid, node in queries:
        kind, body = next(iter(node.items()))
        while kind == "wrapper":
            node = json.loads(base64.b64decode(body["query"]))
            kind, body = next(iter(node.items()))
        if kind == "pinned":
            pinned_specs[qid] = [int(i) for i in body["ids"]]
            node = body["organic"]
            kind, body = next(iter(node.items()))
        if kind == "match_none":
            none_qids.append(qid)
            continue
        if kind == "function_score":
            # unwrap: the inner query scores through the clause
            # evaluator UNRANKED and the function transform applies
            # pre-rank (validated below — a route that ranks
            # internally, or a constant-scoring inner, would cut
            # top-k BEFORE the function, which reorders wrongly)
            fscore_specs[qid] = _parse_function_score(body)
            node = body.get("query", {"match_all": {}})
            kind, body = next(iter(node.items()))
        if kind == "boosting":
            # ES boosting query: positive scores normally; docs ALSO
            # matching the negative get score * negative_boost.
            # Supported subset: the negative is a filter-context node
            # (term/terms/range/exists/ids/bool — compiled to one
            # metadata predicate); text negatives raise (their
            # membership would need a stats probe the transform layer
            # doesn't take — compound.boosting_topk covers that).
            if qid in fscore_specs:
                raise ValueError(
                    "nested score-transform queries are unsupported"
                )
            nb = float(body.get("negative_boost", 0.5))
            if not 0.0 <= nb <= 1.0:
                raise ValueError(f"negative_boost must be in [0,1]: {nb}")
            fscore_specs[qid] = {
                "function": "boosting",
                "pred": compile_filter(body["negative"]),
                "nb": nb,
            }
            node = body["positive"]
            kind, body = next(iter(node.items()))
        if kind == "script_score":
            # ES script_score with a documented divergence: the script
            # source is a SQL expression over `_score` and the metadata
            # columns (the runtime_mappings convention), not Painless.
            # A null-valued expression falls back to the base score —
            # matches are never dropped by a missing field.
            if qid in fscore_specs:
                raise ValueError(
                    "nested score-transform queries are unsupported "
                    "(function_score wrapping script_score)"
                )
            src = body["script"]
            if isinstance(src, dict):
                src = src["source"]
            if not isinstance(src, str) or not src.strip():
                raise ValueError("script_score needs a script source")
            fscore_specs[qid] = {
                "function": "script",
                "expr": re.sub(r"\b_score\b", "score", src),
            }
            node = body["query"]
            kind, body = next(iter(node.items()))
        if kind == "match_phrase_prefix":
            # top-level route onto the phrase-prefix evaluator
            # (phrase.phrase_prefix_match): the last term expands as a
            # capped alphabetical prefix; scoring = idf_sum over the
            # FIXED constituents * satu(anchor count) — the prefix slot
            # contributes membership, not idf (documented divergence
            # from Lucene MultiPhraseQuery's per-expansion idf)
            (f, v), = body.items()
            _field(f)
            if isinstance(v, dict):
                text = v["query"]
                mslop = int(v.get("slop", 0))
                mexp = int(v.get("max_expansions", max_expansions))
            else:
                text, mslop, mexp = v, 0, max_expansions
            mpp_specs[qid] = (text, mslop, mexp)
            continue
        if kind == "match_bool_prefix":
            # top-level route onto boolean.match_bool_prefix_topk:
            # every analyzed term but the LAST scores as a term should,
            # the last as a capped distributed prefix expansion
            (f, v), = body.items()
            _field(f)
            if isinstance(v, dict):
                text = v["query"]
                mexp = int(v.get("max_expansions", max_expansions))
            else:
                text, mexp = v, max_expansions
            mbp_specs[qid] = (text, mexp)
            continue
        if kind in _SPAN_KINDS:
            # top-level route onto the query/spans.py evaluators
            # (see _eval_span_specs for scoring semantics)
            span_specs[qid] = node
            continue
        if kind == "intervals":
            # ES intervals query: {"intervals": {field: <rule tree>}} —
            # the rule shape is the evaluator's own input; scoring is
            # the span route's fixed-constituent BM25 over the rule's
            # match-leaf terms (Lucene's IntervalScoreFunction
            # saturates per-interval width instead — documented)
            (f, rule), = body.items()
            _field(f)
            text = " ".join(_intervals_match_texts(rule, []))
            ivl_specs[qid] = (text, rule)
            continue
        if kind == "more_like_this":
            # top-level route onto query/morelikethis.py: the seed doc's
            # top tf*idf terms become the query (one like per node —
            # multi-like union is not expressible in that evaluator)
            like = body.get("like")
            likes = like if isinstance(like, list) else [like]
            ids = [int(l["_id"]) for l in likes]
            if len(ids) != 1:
                raise ValueError(
                    "more_like_this supports exactly one like _id"
                )
            mlt_specs[qid] = (ids[0], body)
            continue
        if kind == "constant_score":
            const_boosts[qid] = float(body.get("boost", 1.0))
            node = {"bool": {"filter": [body["filter"]]}}
        if kind == "dis_max":
            tb = float(body.get("tie_breaker", 0.0))
            if not 0.0 <= tb <= 1.0:
                raise ValueError(f"tie_breaker must be in [0,1]: {tb}")
            if tb > 0.0:
                dismax_tb[qid] = tb
            for sub in body["queries"]:
                if next_synth >= 1 << 21:
                    raise ValueError("too many dis_max sub-queries")
                if tb > 0.0:
                    dismax_tb_subs[next_synth] = qid
                else:
                    dismax_subs[next_synth] = qid
                norm.append((next_synth, sub))
                next_synth += 1
            continue
        norm.append((qid, node))
    queries = norm
    compiled = {qid: compile_dsl(node) for qid, node in queries}
    if doc_meta is None and any(
        c.filter_sql or c.should_consts or c.score_exprs
        for c in compiled.values()
    ):
        raise ValueError("filter context requires doc_meta")
    if fscore_specs:
        if doc_meta is None:
            raise ValueError("function_score requires doc_meta")
        for fq in fscore_specs:
            if fq not in compiled or not compiled[fq].parsed.clauses:
                raise ValueError(
                    "function_score requires a text-scoring inner query "
                    "(its transform applies over the UNRANKED hit set; "
                    "constant/filter-only and internally-ranked inners "
                    "would top-k-cut before the function)"
                )
    for sq in dismax_tb_subs:
        if not compiled[sq].parsed.clauses:
            raise ValueError(
                "dis_max with tie_breaker > 0 requires text-scoring "
                "sub-queries (a constant sub's membership is top-k-cut, "
                "so its blend contribution would be inexact)"
            )

    empty = tiny_df(spark,
        [], "query_id int, rank int, doc_id long, score double"
    )
    out = []
    scored_parsed: dict[int, ParsedQuery] = {}
    # ONE shared filter plan per distinct predicate (repeated tenant
    # filters across a query batch scan the metadata once via reuse)
    filter_frames: dict[str, DataFrame] = {}
    for qid, cq in compiled.items():
        pq, fsql = cq.parsed, cq.filter_sql
        if fsql is not None and fsql not in filter_frames:
            filter_frames[fsql] = doc_meta.filter(F.expr(fsql)).select(
                "doc_id"
            )
        if pq.clauses:
            scored_parsed[qid] = pq
        elif cq.should_consts or cq.score_exprs:
            # pure-constant/feature scoring: sum(expr per matching
            # should) + unconditional must-role feature exprs, in ONE
            # metadata scan; membership = filter AND (>=1 should when
            # no must/filter narrows the universe — ES's default
            # minimum_should_match for a should-only bool)
            base = doc_meta.filter(F.expr(fsql)) if fsql else doc_meta
            # feature queries score their formula alone (no implicit
            # 1.0 membership constant — ES's rank_feature score IS the
            # saturation value); membership-only queries keep 1.0
            default = (
                cq.const_offset if cq.score_exprs
                else (cq.const_offset or 1.0)
            )
            score = F.lit(const_boosts.get(qid, default))
            matched = F.lit(0)
            for expr in cq.score_exprs:
                score = score + F.coalesce(
                    F.expr(expr).cast("double"), F.lit(0.0)
                )
            for pred, boost in cq.should_consts:
                hit = F.expr(pred)
                score = score + F.when(
                    hit, F.coalesce(F.expr(boost).cast("double"), F.lit(0.0))
                ).otherwise(0.0)
                matched = matched + F.when(hit, 1).otherwise(0)
            scored = base.select(
                "doc_id", score.alias("score"), matched.alias("_m")
            )
            # explicit minimum_should_match overrides ES's default
            # (1 when nothing else narrows the universe, else 0)
            required = (
                cq.msm if cq.msm is not None else (0 if fsql else 1)
            )
            if required > 0:
                scored = scored.filter(F.col("_m") >= required)
            topk = scored.orderBy(
                F.col("score").desc(), "doc_id"
            ).limit(k)
            w = Window.partitionBy(F.lit(1)).orderBy(
                F.col("score").desc(), "doc_id"
            )
            out.append(
                topk.withColumn("rank", F.row_number().over(w))
                .select(
                    F.lit(qid).cast("int").alias("query_id"),
                    F.col("rank").cast("int"),
                    F.col("doc_id").cast("long"),
                    F.col("score").cast("double"),
                )
            )
        else:
            base = (
                filter_frames[fsql]
                if fsql is not None
                else doc_meta.select("doc_id")
                if doc_meta is not None
                else None
            )
            if base is None:
                raise ValueError(
                    f"query {qid}: match_all without doc_meta has no "
                    "document universe"
                )
            # orderBy+limit compiles to TakeOrderedAndProject (per-task
            # top-k then one merge); the row_number window then runs
            # over <= k rows — never a global single-partition sort of
            # the whole filtered membership
            topk = base.orderBy("doc_id").limit(k)
            w = Window.partitionBy(F.lit(1)).orderBy("doc_id")
            score_const = const_boosts.get(
                qid, cq.const_offset if cq.const_offset else 1.0
            )
            out.append(
                topk.withColumn("rank", F.row_number().over(w))
                .select(
                    F.lit(qid).cast("int").alias("query_id"),
                    F.col("rank").cast("int"),
                    F.col("doc_id").cast("long"),
                    F.lit(score_const).alias("score"),
                )
            )
    if mpp_specs:
        if postings is None:
            raise ValueError(
                "match_phrase_prefix requires positional postings"
            )
        import math

        from elasticsearch_analysis_combo_spark.analysis.combo import (
            analyze_text,
        )
        from elasticsearch_analysis_combo_spark.query.phrase import (
            phrase_prefix_match,
        )

        fixed_by_q: dict[int, list[str]] = {}
        first_by_q: dict[int, str] = {}
        for qid, (text, _, _) in mpp_specs.items():
            toks = [t.term for t in analyze_text(text, config)]
            if len(toks) < 2:
                raise ValueError(
                    "match_phrase_prefix needs >= 2 analyzed terms "
                    "(a single term is a prefix query)"
                )
            fixed_by_q[qid] = toks[:-1]
            first_by_q[qid] = toks[0]
        # idf over the fixed constituents: one tiny dictionary probe
        # (O(query text) rows, the WAND metadata-fetch class)
        probe = sorted({t for ts in fixed_by_q.values() for t in ts})
        df_map = {
            r["term"]: int(r["df"])
            for r in term_df.filter(F.col("term").isin(probe))
            .select("term", "df").collect()
        }

        def _idf(dfv: int) -> float:
            return math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))

        idf_df = tiny_df(spark,
            [
                (qid, sum((_idf(df_map[t]) for t in ts if t in df_map),
                          0.0))
                for qid, ts in sorted(fixed_by_q.items())
            ],
            "query_id int, idf_sum double",
        )
        by_opt: dict[tuple[int, int], list[tuple[int, str]]] = {}
        for qid, (text, mslop, mexp) in mpp_specs.items():
            by_opt.setdefault((mslop, mexp), []).append((qid, text))
        hit_parts = [
            phrase_prefix_match(
                spark, postings, term_df, sorted(qs), config,
                slop=mslop, max_expansions=mexp,
            )
            for (mslop, mexp), qs in sorted(by_opt.items())
        ]
        hits = hit_parts[0]
        for part in hit_parts[1:]:
            hits = hits.unionByName(part)
        # dl rides from the FIRST fixed constituent's stats row — every
        # matching doc contains that term, and the isin filter keeps the
        # stats scan pruned (no full-corpus distinct for dl)
        first_rows = tiny_df(spark,
            sorted((q, t) for q, t in first_by_q.items()),
            "query_id int, term string",
        )
        dl = (
            term_stats.filter(
                F.col("term").isin(sorted(set(first_by_q.values())))
            )
            .select("term", "doc_id", "dl")
            .join(F.broadcast(first_rows), "term")
            .select("query_id", "doc_id", "dl")
        )
        f_ = F.col("n_matches").cast("double")
        scored = (
            hits.join(F.broadcast(idf_df), "query_id")
            .join(dl, ["query_id", "doc_id"])
            .withColumn(
                "score",
                F.col("idf_sum") * f_ * (k1 + 1.0)
                / (f_ + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
            )
            .select("query_id", "doc_id", "score")
        )
        out.append(_rank_topk(scored, k))

    if span_specs:
        if postings is None:
            raise ValueError("span queries require positional postings")
        out.append(_eval_span_specs(
            spark, postings, term_stats, term_df, span_specs, config,
            n_docs, avgdl, k, k1, b, span_range_bits,
        ))

    if ivl_specs:
        if postings is None:
            raise ValueError(
                "intervals queries require positional postings"
            )
        from elasticsearch_analysis_combo_spark.query.intervals import (
            intervals_match,
        )

        ihits = intervals_match(
            spark, postings,
            sorted((q, rule) for q, (_, rule) in ivl_specs.items()),
            config, range_bits=span_range_bits,
        )
        out.append(_score_constituent_hits(
            spark, ihits, {q: t for q, (t, _) in ivl_specs.items()},
            config, term_stats, term_df, n_docs, avgdl, k, k1, b,
        ))

    if mbp_specs:
        from elasticsearch_analysis_combo_spark.query.boolean import (
            match_bool_prefix_topk,
        )

        mbp_by_exp: dict[int, list[tuple[int, str]]] = {}
        for qid, (text, mexp) in mbp_specs.items():
            mbp_by_exp.setdefault(mexp, []).append((qid, text))
        for mexp, pairs in sorted(mbp_by_exp.items()):
            out.append(match_bool_prefix_topk(
                spark, term_stats, term_df, sorted(pairs), config,
                n_docs, avgdl, k=k, k1=k1, b=b, max_expansions=mexp,
            ))

    if mlt_specs:
        from elasticsearch_analysis_combo_spark.query.morelikethis import (
            more_like_this,
        )

        mlt_by_opt: dict[tuple[int, int, int], list[tuple[int, int]]] = {}
        for qid, (seed, mbody) in mlt_specs.items():
            key = (
                int(mbody.get("max_query_terms", 25)),
                int(mbody.get("min_term_freq", 1)),
                int(mbody.get("min_doc_freq", 2)),
            )
            mlt_by_opt.setdefault(key, []).append((qid, seed))
        for (mqt, mtf, mdf), pairs in sorted(mlt_by_opt.items()):
            pairs.sort()
            res = more_like_this(
                spark, term_stats, term_df, [s for _, s in pairs],
                n_docs, avgdl, max_query_terms=mqt, min_term_freq=mtf,
                min_doc_freq=mdf, k=k, k1=k1, b=b,
            )
            qmap = F.create_map(
                *[F.lit(v)
                  for i, (q, _) in enumerate(pairs) for v in (i, q)]
            )
            out.append(res.select(
                F.element_at(qmap, F.col("query_id")).cast("int")
                .alias("query_id"),
                "rank", "doc_id", "score",
            ))

    if scored_parsed:
        # group scored queries by their filter predicate so each group
        # evaluates in ONE evaluator pass with a shared doc_filter;
        # every pass runs UNRANKED and one shared _rank_topk applies
        # after the pre-rank score adjustments (const offsets, should-
        # const boosts, tie-broken dis_max blends) — identical to
        # ranking inside for queries needing none of them
        by_filter: dict[str | None, dict[int, ParsedQuery]] = {}
        for qid, pq in scored_parsed.items():
            by_filter.setdefault(compiled[qid].filter_sql, {})[qid] = pq
        scored_parts = []
        for fsql, group in sorted(
            by_filter.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")
        ):
            scored_parts.append(evaluate_parsed(
                spark, term_stats, term_df, postings, group, config,
                n_docs, avgdl, k=k, k1=k1, b=b,
                partitioned_phrases=partitioned_phrases,
                range_bits=range_bits, max_expansions=max_expansions,
                doc_filter=None if fsql is None else filter_frames[fsql],
                rank=False,
                min_should={
                    qid: compiled[qid].msm
                    for qid in group
                    if compiled[qid].msm is not None
                } or None,
            ))
        scored_all = scored_parts[0]
        for part in scored_parts[1:]:
            scored_all = scored_all.unionByName(part)
        offsets = {
            qid: cq.const_offset
            for qid, cq in compiled.items()
            if cq.const_offset and qid in scored_parsed
        }
        if offsets:
            # uniform per-query constant from must-role const leaves:
            # shifts every hit's score equally, ranks untouched
            omap = F.create_map(
                *[F.lit(v) for kv in sorted(offsets.items()) for v in kv]
            )
            scored_all = scored_all.withColumn(
                "score",
                F.col("score")
                + F.coalesce(
                    F.element_at(omap, F.col("query_id")), F.lit(0.0)
                ),
            )
        # constant should clauses NEXT TO text clauses: per-doc boost
        # sum from a filter-pruned metadata scan (bounded indicator,
        # never full-corpus scoring). With must-role text clauses the
        # scored set already IS the membership (left-join add); for
        # should-only text the const-matching docs are members too
        # (ES's >=1-should rule), so they union in at their const sum —
        # gated by the query's filter context when present.
        boost_qids = [
            qid for qid, cq in compiled.items()
            if (cq.should_consts or cq.score_exprs) and qid in scored_parsed
        ]
        if boost_qids:
            ind_parts = []
            for qid in boost_qids:
                cq = compiled[qid]
                score = F.lit(0.0)
                # must-role feature exprs apply to every member (their
                # predicate already lives in the filter context), so
                # they make every filter-passing doc an indicator row
                matched = F.lit(bool(cq.score_exprs))
                for expr in cq.score_exprs:
                    score = score + F.coalesce(
                        F.expr(expr).cast("double"), F.lit(0.0)
                    )
                for pred, boost in cq.should_consts:
                    hit = F.expr(pred)
                    score = score + F.when(
                        hit,
                        F.coalesce(F.expr(boost).cast("double"), F.lit(0.0)),
                    ).otherwise(0.0)
                    matched = matched | hit
                base = doc_meta
                if cq.filter_sql is not None:
                    base = doc_meta.filter(F.expr(cq.filter_sql))
                ind_parts.append(
                    base.filter(matched).select(
                        F.lit(qid).cast("int").alias("query_id"),
                        F.col("doc_id").cast("long").alias("doc_id"),
                        score.alias("_cboost"),
                    )
                )
            inds = ind_parts[0]
            for part in ind_parts[1:]:
                inds = inds.unionByName(part)
            union_qids = [
                qid for qid in boost_qids if not compiled[qid].has_must_text
            ]
            joined = scored_all.withColumnRenamed("score", "_tscore").join(
                inds, ["query_id", "doc_id"],
                "full_outer" if union_qids else "left",
            )
            if union_qids:
                # const-only rows (no text score) are members only for
                # should-only-text queries (ES's >=1-should rule);
                # must-text queries keep exactly the text membership
                joined = joined.filter(
                    F.col("_tscore").isNotNull()
                    | F.col("query_id").isin(union_qids)
                )
            scored_all = joined.select(
                "query_id", "doc_id",
                (
                    F.coalesce(F.col("_tscore"), F.lit(0.0))
                    + F.coalesce(F.col("_cboost"), F.lit(0.0))
                ).alias("score"),
            )
        if dismax_tb:
            synth_ids = list(dismax_tb_subs)
            subs = scored_all.filter(F.col("query_id").isin(synth_ids))
            scored_all = scored_all.filter(
                ~F.col("query_id").isin(synth_ids)
            )
            pmap = F.create_map(
                *[F.lit(v) for kv in sorted(dismax_tb_subs.items())
                  for v in kv]
            )
            tbmap = F.create_map(
                *[F.lit(v) for kv in sorted(dismax_tb.items()) for v in kv]
            )
            blended = (
                subs.withColumn(
                    "query_id", F.element_at(pmap, F.col("query_id"))
                )
                .groupBy("query_id", "doc_id")
                .agg(
                    F.max("score").alias("_mx"),
                    F.sum("score").alias("_sm"),
                )
                .withColumn(
                    "score",
                    F.col("_mx")
                    + F.element_at(tbmap, F.col("query_id"))
                    * (F.col("_sm") - F.col("_mx")),
                )
                .select("query_id", "doc_id", "score")
            )
            scored_all = scored_all.unionByName(blended)
        if fscore_specs:
            # after every pre-rank composition (const offsets, should
            # boosts, dis_max blends), exactly where ES applies the
            # function to the final query score
            scored_all = _apply_score_functions(
                scored_all, doc_meta, fscore_specs
            )
        out.append(_rank_topk(scored_all, k))
    if not out:
        return empty
    res = out[0]
    for part in out[1:]:
        res = res.unionByName(part)
    if dismax_subs:
        synth_ids = list(dismax_subs)
        subs = res.filter(F.col("query_id").isin(synth_ids))
        res = res.filter(~F.col("query_id").isin(synth_ids))
        pmap = F.create_map(
            *[F.lit(v) for kv in sorted(dismax_subs.items()) for v in kv]
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "doc_id"
        )
        combined = (
            subs.withColumn(
                "query_id", F.element_at(pmap, F.col("query_id"))
            )
            .groupBy("query_id", "doc_id")
            .agg(F.max("score").alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
        )
        res = res.unionByName(combined)
    if pinned_specs:
        pin_rows = [
            (qid, i + 1, did)
            for qid, ids in pinned_specs.items()
            for i, did in enumerate(ids)
        ]
        pins = tiny_df(spark,
            pin_rows, "query_id int, rank int, doc_id long"
        )
        n_pins = {qid: len(ids) for qid, ids in pinned_specs.items()}
        npin_map = F.create_map(
            *[F.lit(v) for kv in sorted(n_pins.items()) for v in kv]
        )
        # organic hits lose the pinned docs, re-rank consecutively, then
        # shift down by the query's pin count (queries without pins keep
        # their ranks — element_at misses -> 0)
        org = res.join(
            pins.select("query_id", "doc_id"),
            ["query_id", "doc_id"], "left_anti",
        )
        w = Window.partitionBy("query_id").orderBy("rank")
        org = (
            org.withColumn("_rr", F.row_number().over(w))
            .withColumn(
                "rank",
                (
                    F.col("_rr")
                    + F.coalesce(
                        F.element_at(npin_map, F.col("query_id")), F.lit(0)
                    )
                ).cast("int"),
            )
            .drop("_rr")
        )
        pin_df = pins.select(
            "query_id", "rank", "doc_id",
            (F.lit(1.0e9) - F.col("rank")).alias("score"),
        )
        res = pin_df.unionByName(
            org.select("query_id", "rank", "doc_id", "score")
        ).filter(F.col("rank") <= k)
    return res


def render_search_template(template, params: dict) -> dict:
    """ES ``search_template`` (the mustache subset real requests use):
    substitute ``{{var}}`` through a JSON query template. A string
    value that IS exactly one ``{{var}}`` takes the parameter's JSON
    value (number, list, dict — ES's non-string substitution); ``{{var}}``
    inside a longer string splices in ``str(value)``. Missing
    parameters raise (ES renders empty, which silently corrupts
    queries — raising is the safe divergence, documented). Sections,
    partials and ``{{#toJson}}`` are out of scope and raise."""
    import copy

    token = re.compile(r"\{\{([#/^>&!]?)\s*([\w.]+)\s*\}\}")

    def sub(node):
        if isinstance(node, dict):
            return {sub(k): sub(v) for k, v in node.items()}
        if isinstance(node, list):
            return [sub(v) for v in node]
        if not isinstance(node, str):
            return node
        m = token.fullmatch(node)
        if m:
            _check(m)
            return copy.deepcopy(params[m.group(2)])

        def repl(mm):
            _check(mm)
            return str(params[mm.group(2)])

        return token.sub(repl, node)

    def _check(m):
        if m.group(1):
            raise ValueError(
                f"unsupported mustache construct: {m.group(0)!r} "
                "(sections/partials/toJson are out of scope)"
            )
        if m.group(2) not in params:
            raise ValueError(f"missing template parameter: {m.group(2)!r}")

    return sub(template)


def retriever_search(
    spark: SparkSession,
    term_stats: DataFrame,
    term_df: DataFrame,
    postings: InvertedIndex | PostingFrame | None,
    retriever: dict,
    config: ComboConfig,
    n_docs: int,
    avgdl: float,
    emb: DataFrame | None = None,
    doc_meta: DataFrame | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn_mode: str = "exact",
) -> DataFrame:
    """ES 8.14 ``retriever`` tree: the composable replacement for the
    query/knn/rank request sections. Supported nodes —

    * ``standard``: ``{"query": <DSL query node>}`` -> :func:`dsl_topk`
      (full filter-context / clause-evaluator support).
    * ``knn``: the ES knn section -> :func:`knn_search` (pre-filter
      semantics), vec ids doubling as doc ids as in the hybrid gate.
    * ``rrf``: ``{"retrievers": [...], "rank_constant": 60,
      "rank_window_size": K}`` — children evaluate RECURSIVELY at the
      window size, then fuse with :func:`rrf_hybrid`; nesting rrf
      inside rrf works (it's just another ranked leg).

    Every leg ranks on 6-rounded scores (the repo's cross-engine
    determinism policy), so a retriever tree is replayable leg by leg.
    Returns (query_id=0, rank, doc_id, score) — score is the leg's own
    scale (BM25 sum / cosine / rrf sum), as in ES."""
    def _eval(node: dict, k_eff: int) -> DataFrame:
        if not isinstance(node, dict) or len(node) != 1:
            raise ValueError(
                f"retriever node must have exactly one key: {node!r}"
            )
        kind, body = next(iter(node.items()))
        if kind == "standard":
            out = dsl_topk(
                spark, term_stats, term_df, postings,
                [(0, body["query"])], config, n_docs, avgdl,
                doc_meta=doc_meta, k=k_eff, k1=k1, b=b,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc(F.round("score", 6)), F.asc("doc_id")
            )
            return (
                out.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k_eff)
                .select("query_id", "rank", "doc_id", "score")
            )
        if kind == "knn":
            if emb is None:
                raise ValueError("knn retriever requires emb")
            res = knn_search(
                emb, dict(body, k=k_eff), vec_col=vec_col,
                id_col=vec_id_col, mode=knn_mode,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.desc(F.round("cosine", 6)), F.asc(vec_id_col)
            )
            return (
                res.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k_eff)
                .select(
                    "query_id", "rank",
                    F.col(vec_id_col).alias("doc_id"),
                    F.col("cosine").alias("score"),
                )
            )
        if kind == "rrf":
            window = int(body.get("rank_window_size", k_eff))
            legs = [_eval(child, window) for child in body["retrievers"]]
            fused = rrf_hybrid(
                legs, k=k_eff,
                rank_constant=int(body.get("rank_constant", 60)),
            )
            return fused.select(
                "query_id", "rank", "doc_id",
                F.col("rrf_score").alias("score"),
            )
        raise ValueError(f"unsupported retriever: {kind}")

    return _eval(retriever, k)


def resolve_terms_lookup(
    node,
    lookups: dict[str, DataFrame],
    id_col: str = "doc_id",
):
    """ES terms lookup: ``{"terms": {field: {"index": name, "id": i,
    "path": col}}}`` fetches the term list from another document
    instead of inlining it. ``lookups`` maps index name -> DataFrame;
    the referenced row's ``path`` column (array or scalar) becomes the
    literal ``terms`` list — exactly ES's pre-query GET on the lookup
    doc (one id-pruned single-row scan per lookup, never a corpus
    join; ES likewise resolves the list up front and caps it at
    ``max_terms_count``). Returns a deep-rewritten copy of the DSL
    tree ready for :func:`compile_dsl` / ``compile_filter``; plain
    ``terms`` nodes pass through untouched."""
    if isinstance(node, list):
        return [resolve_terms_lookup(x, lookups, id_col) for x in node]
    if not isinstance(node, dict):
        return node
    if len(node) == 1 and "terms" in node and isinstance(
        node["terms"], dict
    ):
        body = node["terms"]
        specs = {
            f: v for f, v in body.items()
            if isinstance(v, dict) and {"index", "id", "path"} <= set(v)
        }
        if specs:
            out = dict(body)
            for f, spec in specs.items():
                idx = spec["index"]
                if idx not in lookups:
                    raise ValueError(f"unknown lookup index: {idx!r}")
                rows = (
                    lookups[idx]
                    .filter(F.col(id_col) == F.lit(spec["id"]))
                    .select(spec["path"])
                    .limit(2)
                    .collect()
                )
                if not rows:
                    raise ValueError(
                        f"lookup doc not found: {idx}/{spec['id']}"
                    )
                val = rows[0][0]
                terms = (
                    [] if val is None
                    else list(val) if isinstance(val, (list, tuple))
                    else [val]
                )
                out[f] = terms
            return {"terms": out}
    return {
        k: resolve_terms_lookup(v, lookups, id_col)
        for k, v in node.items()
    }
