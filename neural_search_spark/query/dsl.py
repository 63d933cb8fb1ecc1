"""OpenSearch query-DSL translation: a search-body dict → DataFrame.

The reference's users issue JSON search bodies, not Java/Python calls —
completeness means accepting that surface. ``search(ctx, body)``
validates and translates a body onto the already-gated builders in this
package, so the translator adds NO new scoring semantics: a green DSL
gate row proves the dict → builder mapping, and the builders' own
oracles pin the math.

Supported query types (each names its dispatch target):

* ``match`` (operator or|and; the raw string is analyzed with the
  context analyzer) → exhaustive.bm25_scores / bm25_conjunctive
* ``match_phrase`` (+ ``slop``) → exhaustive.bm25_phrase[_sloppy]
* ``match_phrase_prefix`` (``max_expansions``) → multiterm.phrase_prefix_topk
* ``prefix`` / ``wildcard`` / ``fuzzy`` → multiterm.*_topk
* ``bool`` (must/should/must_not of match clauses +
  ``minimum_should_match``) → booleans.bool_topk
* ``dis_max`` (match sub-queries + ``tie_breaker``) → booleans.dis_max_topk
* ``hybrid`` (≤5 match/neural/neural_sparse sub-queries; the
  normalization/combination config arrives via ``pipeline=`` exactly
  like the plugin's search-pipeline processor, validated by
  spec.HybridSpec) → hybrid.normalize/combine/rrf_combine
* ``neural`` (``query_vector_id``, ``k``; serves from ``ctx.graphs``
  when present, exact otherwise) → similarity.cosine_topk /
  graph_ann.hnsw_topk
* ``neural_sparse`` (``query_tokens``) → sparse.sparse_topk_two_phase
* ``nested`` (``path`` + inner ``match`` + ``score_mode`` — Lucene
  block-join ScoreMode: max/sum aka total/avg (default)/min; the
  reference's ITs wrap nested with ScoreMode.Total and compose it in
  hybrid, HybridQueryIT.java:436-449) → operators.nested
  .nested_chunk_scores over the corpus's one nested path
* ``term`` / ``terms`` / ``range`` / ``exists`` / ``match_all`` /
  ``constant_score`` — the constant-score leaf family (scoring,
  top-level AND as hybrid sub-queries; the reference's hybrid ITs
  compose exactly these, HybridQueryIT.java:71-82):
  range/exists/match_all/keyword-term/terms score 1.0 (Lucene's
  ConstantScore rewrite — TermInSetQuery and FieldExistsQuery never
  score), constant_score applies its boost, term on the TEXT column
  scores single-term BM25 (terms on it is rejected: unanalyzed
  equality there would silently diverge from per-token match)

Body keys: ``query`` (required), ``size``, ``from`` (hybrid rejects
from≠0, mirroring HybridQueryPhaseSearcher.java:123-148), ``post_filter``
(term/terms/range/exists over corpus columns), ``sort``, ``collapse``. Anything
unknown raises ``DslError`` naming the supported set — the reference's
parsers are likewise strict (fromXContent throws on unknown fields).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import analyze_query
from .spec import HybridSpec


class DslError(ValueError):
    pass


@dataclass
class SearchContext:
    """The data surfaces a search body can address. With ``reader``
    (an index.IndexReader) the translator dispatches match /
    match_phrase / match_phrase_prefix / prefix / wildcard / fuzzy /
    bool onto the INDEXED kernels (the production path; the query
    string is then analyzed with the index's OWN analyzer, as Lucene's
    QueryBuilder does); dis_max and hybrid sub-queries score
    exhaustively over ``docs`` (their indexed compositions are separate
    registry entries: indexed_hybrid_neural, indexed_hybrid_rrf)."""

    docs: DataFrame
    embeddings: DataFrame | None = None
    sparse_features: DataFrame | None = None
    graphs: DataFrame | None = None
    reader: "Any | None" = None
    analyzer: str = "simple"
    id_col: str = "doc_id"
    text_col: str = "text"
    # nested mapping: the one nested path the corpus defines (children
    # are delimiter-chunks of text_col, the TextChunkingProcessor
    # ingest shape); a `nested` query must address exactly this path
    nested_path: str | None = None
    nested_delimiter: str | None = None

    def index_analyzer(self) -> str:
        return self.reader.meta.get("tokenizer", "simple") if self.reader else self.analyzer


_BODY_KEYS = {"query", "size", "from", "post_filter", "sort", "collapse",
              "highlight", "explain", "rescore", "search_after"}
_QUERY_TYPES = (
    "match match_phrase match_phrase_prefix prefix wildcard fuzzy regexp "
    "bool dis_max hybrid neural neural_sparse nested "
    "term terms range exists ids match_all constant_score "
    "multi_match boosting function_score simple_query_string "
    "more_like_this rank_feature match_bool_prefix query_string terms_set "
    "knn script_score pinned wrapper match_none distance_feature "
    "span_term span_near span_or span_first span_not span_multi "
    "span_containing span_within intervals"
).split()


def _one(d: Any, what: str) -> tuple[str, Any]:
    if not isinstance(d, dict) or len(d) != 1:
        raise DslError(f"[{what}] expects exactly one key, got {d!r}")
    return next(iter(d.items()))


def _params(spec: Any, value_key: str) -> dict:
    """Field spec may be shorthand (`{"text": "query string"}`) or the
    full object form (`{"text": {"query": ..., "slop": 2}}`)."""
    return dict(spec) if isinstance(spec, dict) else {value_key: spec}


def _reject_unknown(params: dict, allowed: set[str], what: str) -> None:
    if unknown := set(params) - allowed:
        raise DslError(f"[{what}] does not support {sorted(unknown)}; "
                       f"supported: {sorted(allowed)}")


def _terms(ctx: SearchContext, text: Any, what: str) -> list[str]:
    if not isinstance(text, str) or not text.strip():
        raise DslError(f"[{what}] needs a non-empty query string")
    return sorted(set(analyze_query(text, ctx.analyzer)))


def _match_clause(
    ctx: SearchContext, spec: Any, what: str, analyzer: str | None = None
) -> tuple[list[str], str]:
    """A match clause as (analyzed terms, operator). Every caller must
    HONOR the operator — paths that only implement OR semantics go
    through `_match_terms`, which rejects operator=and explicitly
    instead of silently scoring with the wrong semantics."""
    field, params = _one(spec, what)
    params = _params(params, "query")
    _reject_unknown(params, {"query", "operator"}, what)
    if field != ctx.text_col:
        raise DslError(f"[{what}] field [{field}] is not the corpus text "
                       f"column [{ctx.text_col}]")
    op = params.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"[{what}] operator must be or|and, got [{op}]")
    text = params["query"]
    if not isinstance(text, str) or not text.strip():
        raise DslError(f"[{what}] needs a non-empty query string")
    return sorted(set(analyze_query(text, analyzer or ctx.analyzer))), op


def _match_terms(ctx: SearchContext, spec: Any, what: str) -> list[str]:
    terms, op = _match_clause(ctx, spec, what)
    if op != "or":
        raise DslError(f"[{what}] operator=and is not supported in this "
                       "position (only OR semantics are implemented here)")
    return terms


_IDENT_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _col_name(col: str) -> str:
    if not isinstance(col, str) or not _IDENT_RE.match(col):
        raise DslError(f"invalid field name {col!r}")
    return col


def decay_factor_sql(kind: str, field: str, origin: float, scale: float,
                     offset: float = 0.0, decay: float = 0.5) -> str:
    """Decay-function factor as ONE SQL expression valid in BOTH Spark
    SQL and DuckDB (exp/abs/greatest/coalesce coincide), so the engine
    and the oracle provably evaluate the same math.

    OpenSearch numeric decay semantics: with
    ``dist = max(0, |value - origin| - offset)``,
    gauss = exp(-dist² / (2σ²)) with σ² = -scale²/(2·ln(decay));
    exp = exp(λ·dist) with λ = ln(decay)/scale;
    linear = max(0, (s - dist)/s) with s = scale/(1 - decay).
    A missing field value scores 1.0 (the documented rule). The
    shape constants are folded in Python so both engines see plain
    double literals."""
    if kind not in ("gauss", "exp", "linear"):
        raise ValueError(f"unknown decay kind [{kind}]")
    if not scale > 0:
        raise ValueError(f"scale must be > 0, got {scale}")
    if not 0.0 < decay < 1.0:
        raise ValueError(f"decay must be in (0, 1), got {decay}")
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    dist = (f"greatest(CAST(0.0 AS DOUBLE), "
            f"abs(CAST({field} AS DOUBLE) - {origin!r}) - {offset!r})")
    if kind == "gauss":
        denom = -(scale * scale) / math.log(decay)  # 2σ²
        fn = f"exp(-(({dist}) * ({dist})) / {denom!r})"
    elif kind == "exp":
        lam = math.log(decay) / scale
        fn = f"exp({lam!r} * ({dist}))"
    else:
        s = scale / (1.0 - decay)
        fn = (f"greatest(CAST(0.0 AS DOUBLE), "
              f"({s!r} - ({dist})) / {s!r})")
    return f"coalesce({fn}, CAST(1.0 AS DOUBLE))"


def rank_feature_sql(kind: str, field: str, pivot: float | None = None,
                     scaling_factor: float | None = None,
                     exponent: float | None = None,
                     boost: float = 1.0) -> str:
    """rank_feature score as ONE SQL expression valid in BOTH Spark SQL
    and DuckDB (ln/power coincide). OpenSearch RankFeatureQuery over a
    positive feature value x:
    saturation = x/(x+pivot); log = ln(scaling_factor + x);
    sigmoid = x^exp/(x^exp + pivot^exp); linear = x — each × boost.
    The reference derives a missing saturation pivot from index stats
    (approximate geometric mean) — nondeterministic across engines, so
    the pivot is REQUIRED here (documented boundary). The caller gates
    the match set on x > 0 (rank_feature fields are positive; docs
    without the feature do not match)."""
    x = f"CAST({field} AS DOUBLE)"
    if kind == "saturation":
        if pivot is None:
            raise ValueError("saturation needs an explicit [pivot] (the "
                             "reference's stats-derived default is not "
                             "reproducible)")
        if not pivot > 0:
            raise ValueError(f"pivot must be > 0, got {pivot}")
        fn = f"({x} / ({x} + {float(pivot)!r}))"
    elif kind == "log":
        sf = 1.0 if scaling_factor is None else float(scaling_factor)
        if not sf > 0:
            raise ValueError(f"scaling_factor must be > 0, got {sf}")
        fn = f"ln({sf!r} + {x})"
    elif kind == "sigmoid":
        if pivot is None or exponent is None:
            raise ValueError("sigmoid needs [pivot] and [exponent]")
        if not pivot > 0 or not exponent > 0:
            raise ValueError("pivot and exponent must be > 0")
        fn = (f"(power({x}, {float(exponent)!r}) / "
              f"(power({x}, {float(exponent)!r}) + "
              f"power({float(pivot)!r}, {float(exponent)!r})))")
    elif kind == "linear":
        fn = x
    else:
        raise ValueError(f"unknown rank_feature function [{kind}]")
    if float(boost) != 1.0:
        fn = f"({fn} * {float(boost)!r})"
    return fn


def _scalar_lit(val: Any, what: str) -> str:
    """Quote one scalar as a SQL literal; anything non-scalar is
    rejected, never interpolated."""
    if isinstance(val, str):
        return "'" + val.replace("'", "''") + "'"
    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, (int, float)):
        return repr(val)
    raise DslError(f"[{what}] value must be a scalar, got {val!r}")


def _predicate_sql(q: dict) -> str:
    """term/terms/range/exists filter → SQL over corpus columns (the
    filter context never scores, exactly as in the reference). Field
    names must be plain identifiers and values plain scalars —
    anything else is rejected, never interpolated."""
    typ, spec = _one(q, "filter")
    if typ == "term":
        col, val = _one(spec, "term")
        col = _col_name(col)
        return f"{col} = {_scalar_lit(val, 'term')}"
    if typ == "terms":
        col, vals = _one(spec, "terms")
        col = _col_name(col)
        if not isinstance(vals, list):
            raise DslError(f"[terms] expects a list of values, got {vals!r}")
        if not vals:
            # TermsQueryBuilder with an empty list rewrites to
            # MatchNoDocsQuery — the filter matches nothing
            return "false"
        return f"{col} IN (" + ", ".join(_scalar_lit(v, "terms") for v in vals) + ")"
    if typ == "exists":
        if not isinstance(spec, dict) or set(spec) != {"field"}:
            raise DslError(f"[exists] expects {{'field': name}}, got {spec!r}")
        return f"{_col_name(spec['field'])} IS NOT NULL"
    if typ == "range":
        col, bounds = _one(spec, "range")
        col = _col_name(col)
        ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
        _reject_unknown(bounds, set(ops), "range")
        for v in bounds.values():
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                raise DslError(f"[range] bounds must be numeric, got {v!r}")
        parts = [f"{col} {ops[op]} {float(v)}" for op, v in sorted(bounds.items())]
        return " AND ".join(parts)
    raise DslError(f"unsupported filter type [{typ}]; "
                   "supported: term, terms, range, exists")


# --- constant-score leaf family -------------------------------------------


def _filter_frame(ctx: SearchContext, q: dict) -> DataFrame:
    """(doc_id, 1.0) for a term/range filter — the non-scoring match
    set at Lucene's ConstantScore 1.0."""
    return ctx.docs.where(F.expr(_predicate_sql(q))).select(
        F.col(ctx.id_col).alias("doc_id"), F.lit(1.0).cast("double").alias("score")
    )


def _leaf_scores(ctx: SearchContext, typ: str, spec: Any) -> DataFrame | None:
    """Scoring frames for the leaf types the reference composes inside
    hybrid queries (HybridQueryIT.java:71-82 mixes term/range clauses;
    RangeQueryBuilder import :35). Lucene rewrites range to
    ConstantScore(1.0); match_all scores 1.0; constant_score wraps any
    filter with a boost. A ``term`` query on the analyzed text column
    scores single-term BM25 (TermQuery on a text field, value used
    VERBATIM — term queries are never analyzed); on any other corpus
    column it is the keyword-field shape: non-analyzed equality at
    constant score 1.0. Returns None for non-leaf types."""
    if typ == "match_all":
        if not isinstance(spec, dict) or spec:
            raise DslError("[match_all] takes an empty object")
        return ctx.docs.select(F.col(ctx.id_col).alias("doc_id"),
                               F.lit(1.0).cast("double").alias("score"))
    if typ == "range":
        return _filter_frame(ctx, {"range": spec})
    if typ == "terms":
        # TermInSetQuery scores constant 1.0 on ANY field; on the
        # analyzed text column exact-value equality would silently
        # diverge from the reference's per-token match, so reject
        col, _ = _one(spec, "terms")
        if col == ctx.text_col:
            raise DslError(f"[terms] on the analyzed text column "
                           f"[{ctx.text_col}] is not supported; use match")
        return _filter_frame(ctx, {"terms": spec})
    if typ == "exists":
        return _filter_frame(ctx, {"exists": spec})
    if typ == "ids":
        # IdsQueryBuilder: constant-score 1.0 over the listed doc ids
        # (Lucene rewrites to a ConstantScore TermInSetQuery on _id)
        _reject_unknown(spec, {"values"}, "ids")
        vals = spec.get("values")
        if (not isinstance(vals, list) or not vals
                or not all(isinstance(v, int) and not isinstance(v, bool)
                           for v in vals)):
            raise DslError("[ids] needs a non-empty integer [values] list")
        return ctx.docs.where(F.col(ctx.id_col).isin(vals)).select(
            F.col(ctx.id_col).alias("doc_id"),
            F.lit(1.0).cast("double").alias("score"),
        )
    if typ == "term":
        col, params = _one(spec, "term")
        params = _params(params, "value")
        _reject_unknown(params, {"value"}, "term")
        val = params["value"]
        if col == ctx.text_col:
            from .exhaustive import bm25_scores

            if not isinstance(val, str) or not val.strip():
                raise DslError("[term] on the text column needs a non-empty "
                               "string value")
            return bm25_scores(ctx.docs, [val], id_col=ctx.id_col,
                               text_col=ctx.text_col, round_to=None,
                               tokenizer=ctx.analyzer)
        return _filter_frame(ctx, {"term": {col: val}})
    if typ == "rank_feature":
        # RankFeatureQueryBuilder: score = fn(feature value) × boost
        # over docs where the feature is present and positive
        # (rank_feature fields are positive by construction in the
        # reference; absent feature -> no match)
        _reject_unknown(spec, {"field", "boost", "saturation", "log",
                               "sigmoid", "linear"}, "rank_feature")
        if "field" not in spec:
            raise DslError("[rank_feature] needs a [field]")
        fld = _col_name(spec["field"])
        if fld == ctx.text_col:
            raise DslError(f"[rank_feature] field [{fld}] is the analyzed "
                           "text column; it needs a numeric feature field")
        fns = [kk for kk in ("saturation", "log", "sigmoid", "linear")
               if kk in spec]
        if len(fns) > 1:
            raise DslError("[rank_feature] takes at most one function")
        kind = fns[0] if fns else "saturation"
        params = spec.get(kind, {}) if fns else {}
        if not isinstance(params, dict):
            raise DslError(f"[rank_feature.{kind}] must be an object")
        _reject_unknown(params, {"pivot", "scaling_factor", "exponent"}, kind)
        try:
            fexpr = rank_feature_sql(
                kind, fld,
                pivot=params.get("pivot"),
                scaling_factor=params.get("scaling_factor"),
                exponent=params.get("exponent"),
                boost=float(spec.get("boost", 1.0)),
            )
        except (TypeError, ValueError) as e:
            raise DslError(f"[rank_feature] {e}") from e
        return ctx.docs.where(
            F.col(fld).isNotNull() & (F.col(fld).cast("double") > 0)
        ).select(
            F.col(ctx.id_col).alias("doc_id"),
            F.expr(fexpr).alias("score"),
        )
    if typ == "match_none":
        # MatchNoneQueryBuilder: matches nothing (Lucene
        # MatchNoDocsQuery) — an empty frame with the standard shape
        if not isinstance(spec, dict) or spec:
            raise DslError("[match_none] takes an empty object")
        return ctx.docs.where(F.lit(False)).select(
            F.col(ctx.id_col).alias("doc_id"),
            F.lit(1.0).cast("double").alias("score"),
        )
    if typ == "distance_feature":
        # DistanceFeatureQueryBuilder on a numeric field:
        # score = boost × pivot / (pivot + |value − origin|), matching
        # every doc where the field is present (Lucene
        # LongField.newDistanceFeatureQuery semantics). One shared SQL
        # expression — abs/arithmetic coincide in Spark SQL and DuckDB,
        # so the oracle provably evaluates the same math.
        _reject_unknown(spec, {"field", "origin", "pivot", "boost"},
                        "distance_feature")
        for req in ("field", "origin", "pivot"):
            if req not in spec:
                raise DslError(f"[distance_feature] needs [{req}]")
        fld = _col_name(spec["field"])
        if fld == ctx.text_col:
            raise DslError(f"[distance_feature] field [{fld}] is the "
                           "analyzed text column; it needs a numeric field")
        try:
            origin = float(spec["origin"])
            pivot = float(spec["pivot"])
            boost = float(spec.get("boost", 1.0))
        except (TypeError, ValueError) as e:
            raise DslError("[distance_feature] origin/pivot/boost must be "
                           "numeric") from e
        if pivot <= 0:
            raise DslError(f"[distance_feature] pivot must be > 0, got {pivot}")
        if boost < 0:
            raise DslError(f"[distance_feature] boost must be >= 0, got {boost}")
        fexpr = (f"{boost!r} * ({pivot!r} / ({pivot!r} + "
                 f"abs(CAST({fld} AS DOUBLE) - {origin!r})))")
        return ctx.docs.where(F.col(fld).isNotNull()).select(
            F.col(ctx.id_col).alias("doc_id"),
            F.expr(fexpr).alias("score"),
        )
    if typ == "constant_score":
        _reject_unknown(spec, {"filter", "boost"}, "constant_score")
        if "filter" not in spec:
            raise DslError("[constant_score] needs a [filter]")
        boost = float(spec.get("boost", 1.0))
        out = _filter_frame(ctx, spec["filter"])
        if boost != 1.0:
            out = out.select("doc_id", (F.col("score") * F.lit(boost)).alias("score"))
        return out
    return None


def _multi_match_spec(ctx: SearchContext, spec: Any) -> tuple[dict, float]:
    """``multi_match`` → the single-field ``match`` it reduces to, plus
    the field boost. The corpus maps ONE analyzed text field, so
    ``best_fields`` and ``most_fields`` coincide (MultiMatchQuery's
    DisMax / sum over a single field query is the identity) — the
    translator accepts exactly that shape and rejects multi-field lists
    instead of silently scoring fields the corpus does not map. A
    ``field^boost`` suffix scales the field's scores (Lucene
    BoostQuery), order-preserving at top level but visible inside
    dis_max / pre-normalization hybrid composition."""
    _reject_unknown(spec, {"query", "fields", "type", "operator"}, "multi_match")
    mm_type = spec.get("type", "best_fields")
    if mm_type not in ("best_fields", "most_fields"):
        raise DslError(f"[multi_match] type must be best_fields|most_fields "
                       f"(single-text-field corpus), got [{mm_type}]")
    fields = spec.get("fields")
    if not isinstance(fields, list) or not fields:
        raise DslError("[multi_match] needs a non-empty [fields] list")
    if len(fields) != 1:
        raise DslError(f"[multi_match] this corpus maps a single analyzed "
                       f"text field [{ctx.text_col}]; got {fields!r}")
    fspec = fields[0]
    boost = 1.0
    if isinstance(fspec, str) and "^" in fspec:
        fspec, _, braw = fspec.partition("^")
        try:
            boost = float(braw)
        except ValueError:
            raise DslError(f"[multi_match] bad field boost {braw!r}") from None
        if not boost > 0:
            raise DslError(f"[multi_match] field boost must be > 0, got {boost}")
    if fspec != ctx.text_col:
        raise DslError(f"[multi_match] field [{fspec}] is not [{ctx.text_col}]")
    params: dict = {"query": spec.get("query")}
    if "operator" in spec:
        params["operator"] = spec["operator"]
    return {ctx.text_col: params}, boost


def _boosted(s: DataFrame, boost: float) -> DataFrame:
    if boost == 1.0:
        return s
    return s.select("doc_id", (F.col("score") * F.lit(boost)).alias("score"))


def _scores_frame(ctx: SearchContext, q: Any, what: str) -> DataFrame:
    """Full raw (doc_id, score) frame for one scoring query — the
    compound wrappers (``boosting``, ``function_score``) compose over
    exactly the sub-query family the hybrid translator scores."""
    if not isinstance(q, dict):
        raise DslError(f"[{what}] expects a query object, got {q!r}")
    try:
        return _sub_scores(ctx, q, 0).drop("subquery_idx")
    except DslError as e:
        raise DslError(f"[{what}] {e}") from e


# --- sub-query scorers (hybrid) ------------------------------------------


def _nested_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``nested`` query → per-parent scores over the corpus's one
    nested path (NestedQueryBuilder analog: inner query scores the
    child docs, ScoreMode rolls them up to the parent — default Avg,
    exactly Lucene's; the reference's ITs wrap match/neural inner
    queries with ScoreMode.Total, HybridQueryIT.java:436-440). Returns
    the FULL parent match set so hybrid normalization statistics see
    every matched doc."""
    from ..operators.nested import NESTED_SCORE_MODES, nested_chunk_scores

    if not isinstance(spec, dict):
        raise DslError(f"[nested] expects an object, got {spec!r}")
    _reject_unknown(spec, {"path", "query", "score_mode"}, "nested")
    if ctx.nested_path is None or ctx.nested_delimiter is None:
        raise DslError("nested query needs ctx.nested_path + "
                       "ctx.nested_delimiter (the corpus has no nested "
                       "mapping)")
    if spec.get("path") != ctx.nested_path:
        raise DslError(f"[nested] unknown path [{spec.get('path')}]; the "
                       f"corpus defines [{ctx.nested_path}]")
    mode = spec.get("score_mode", "avg")
    if mode not in NESTED_SCORE_MODES:
        raise DslError(f"[nested] score_mode must be one of "
                       f"{sorted(NESTED_SCORE_MODES)}, got [{mode}]")
    ityp, ispec = _one(spec.get("query"), "nested inner query")
    if ityp == "neural_sparse":
        # the reference's actual nested IT shape: an ingest-encoded
        # neural inner query rolled up by ScoreMode
        # (TextEmbeddingProcessorIT.java:130-135); chunk features are
        # the deterministic ingest encodings (nested_chunk_encode)
        from ..operators.nested import nested_sparse_scores

        field, params = _one(ispec, "neural_sparse")
        expected = f"{ctx.nested_path}.sparse"
        if field != expected:
            raise DslError(f"[nested] neural_sparse field [{field}] must "
                           f"address the nested encoding [{expected}]")
        params = _params(params, "query_tokens")
        _reject_unknown(params, {"query_tokens"}, "neural_sparse")
        qt = params["query_tokens"]
        if not isinstance(qt, dict) or not qt or not all(
                isinstance(k, str) and isinstance(v, (int, float))
                and not isinstance(v, bool) for k, v in qt.items()):
            raise DslError("[nested] neural_sparse needs a non-empty "
                           "{token: number} query_tokens object")
        return nested_sparse_scores(
            ctx.docs, {k: float(v) for k, v in qt.items()},
            ctx.nested_delimiter, score_mode=mode,
            id_col=ctx.id_col, text_col=ctx.text_col,
        )
    if ityp != "match":
        raise DslError(f"[nested] inner query type [{ityp}] unsupported; "
                       "supported: match, neural_sparse")
    field, params = _one(ispec, "match")
    params = _params(params, "query")
    _reject_unknown(params, {"query", "operator"}, "match")
    expected = f"{ctx.nested_path}.{ctx.text_col}"
    if field != expected:
        raise DslError(f"[nested] match field [{field}] must address the "
                       f"nested text field [{expected}]")
    op = params.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"[nested] match operator must be or|and, got [{op}]")
    text = params["query"]
    if not isinstance(text, str) or not text.strip():
        raise DslError("[nested] match needs a non-empty query string")
    terms = sorted(set(analyze_query(text, ctx.analyzer)))
    if not terms:
        raise DslError("[nested] match query analyzed to zero tokens")
    return nested_chunk_scores(
        ctx.docs, terms, ctx.nested_delimiter, score_mode=mode,
        id_col=ctx.id_col, text_col=ctx.text_col, operator=op,
    )


def _hybrid_tagged(ctx: SearchContext, spec: Any, pipeline: dict | None,
                   k: int, from_: int) -> tuple[HybridSpec, DataFrame]:
    """Validate one hybrid spec + pipeline config and score every
    sub-query into one tagged (subquery_idx, doc_id, score) frame —
    shared by the top-k and explain hybrid branches (one parse, one
    dispatch; malformed bodies raise DslError, never KeyError)."""
    _reject_unknown(spec, {"queries"}, "hybrid")
    subs = spec.get("queries")
    if not isinstance(subs, list) or not subs:
        raise DslError("[hybrid] needs a non-empty [queries] list")
    p = dict(pipeline or {})
    _reject_unknown(p, {"normalization", "combination", "weights"}, "pipeline")
    hs = HybridSpec(
        n_subqueries=len(subs),
        normalization=p.get("normalization", "min_max"),
        combination=p.get("combination", "arithmetic_mean"),
        weights=p.get("weights"), k=k, from_=from_,
    ).validate()
    tagged = None
    for i, sq in enumerate(subs):
        s = _sub_scores(ctx, sq, i)
        tagged = s if tagged is None else tagged.unionByName(s)
    return hs, tagged


def _phrase_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """Full-frame raw scores for one ``match_phrase`` spec (slop
    included) — shared by the exhaustive top-level body and hybrid
    sub-queries (PhraseQuery scores by term statistics; positions only
    gate matching)."""
    from .exhaustive import bm25_phrase, bm25_phrase_sloppy

    field, params = _one(spec, "match_phrase")
    params = _params(params, "query")
    _reject_unknown(params, {"query", "slop"}, "match_phrase")
    if field != ctx.text_col:
        raise DslError(f"[match_phrase] field [{field}] is not "
                       f"[{ctx.text_col}]")
    toks = analyze_query(params["query"], ctx.analyzer)  # order matters
    if not toks:
        raise DslError("[match_phrase] query analyzed to zero tokens")
    slop = int(params.get("slop", 0))
    kw = dict(id_col=ctx.id_col, text_col=ctx.text_col, round_to=None,
              tokenizer=ctx.analyzer)
    s = (
        bm25_phrase_sloppy(ctx.docs, toks, slop=slop, **kw)
        if slop
        else bm25_phrase(ctx.docs, toks, **kw)
    )
    return s.select("doc_id", "score")


_SPAN_CLAUSE_TYPES = ("span_term", "span_or", "span_multi")


def _span_term_value(ctx: SearchContext, spec: Any) -> str:
    """SpanTermQuery takes the term VERBATIM (no query-time analysis,
    like Lucene); a value that is not already one analyzed token would
    silently match nothing, so it is rejected loudly instead."""
    field, params = _one(spec, "span_term")
    if field != ctx.text_col:
        raise DslError(f"[span_term] field [{field}] is not the corpus "
                       f"text column [{ctx.text_col}]")
    params = _params(params, "value")
    _reject_unknown(params, {"value"}, "span_term")
    val = params.get("value")
    if not isinstance(val, str) or not val:
        raise DslError("[span_term] needs a non-empty string [value]")
    if analyze_query(val, ctx.analyzer) != [val]:
        raise DslError(f"[span_term] takes one already-analyzed term; "
                       f"[{val}] is not a single normalized token under "
                       f"the [{ctx.analyzer}] analyzer")
    return val


def _span_multi_matcher(ctx: SearchContext, spec: Any) -> str:
    """span_multi: a prefix / wildcard / fuzzy / regexp query wrapped
    for position-level matching (SpanMultiTermQueryWrapper). Returns
    the shared Spark/DuckDB dictionary matcher; the wrapped builder's
    own validation rules apply unchanged."""
    from .multiterm import (
        _matcher_sql,
        like_escape,
        regexp_matcher,
        wildcard_to_like,
    )

    _reject_unknown(spec, {"match"}, "span_multi")
    if "match" not in spec:
        raise DslError("[span_multi] needs a [match] query")
    ityp, ispec = _one(spec["match"], "span_multi.match")
    if ityp not in ("prefix", "wildcard", "fuzzy", "regexp"):
        raise DslError(f"[span_multi] match type [{ityp}] unsupported; "
                       "supported: prefix, wildcard, fuzzy, regexp")
    field, params = _one(ispec, ityp)
    if field != ctx.text_col:
        raise DslError(f"[span_multi.{ityp}] field [{field}] is not the "
                       f"corpus text column [{ctx.text_col}]")
    params = _params(params, "value")
    allowed = {"value"} | ({"fuzziness"} if ityp == "fuzzy" else set())
    _reject_unknown(params, allowed, f"span_multi.{ityp}")
    val = params.get("value")
    if not isinstance(val, str) or not val:
        raise DslError(f"[span_multi.{ityp}] needs a non-empty [value]")
    try:
        if ityp == "prefix":
            return _matcher_sql(like=like_escape(val) + "%")
        if ityp == "wildcard":
            return _matcher_sql(like=wildcard_to_like(val))
        if ityp == "regexp":
            return regexp_matcher(val)
        # same default max_edits as the standalone fuzzy query (the
        # exhaustive fuzzy_topk and the indexed dispatch both use 1)
        return _matcher_sql(fuzzy=(val, int(params.get("fuzziness", 1)), 0))
    except (TypeError, ValueError) as e:
        raise DslError(f"[span_multi.{ityp}] {e}") from e


def _span_clause_terms(ctx: SearchContext, q: Any, what: str) -> list[str]:
    """A span clause as its position SET: the corpus terms whose
    occurrences the clause's iterator would enumerate. span_multi
    expands against the corpus dictionary under the same
    max_expansions=50 top-terms cut as the standalone multi-term
    rewrites; an empty list means the clause matches nothing."""
    from .multiterm import expand_terms_corpus

    typ, spec = _one(q, what)
    if typ == "span_term":
        return [_span_term_value(ctx, spec)]
    if typ == "span_multi":
        if not isinstance(spec, dict):
            raise DslError("[span_multi] must be an object")
        matcher = _span_multi_matcher(ctx, spec)
        if ctx.reader is not None:
            # index-backed dictionary — identical term set by
            # construction (same corpus, same df ordering)
            from .multiterm import expand_terms_indexed

            return expand_terms_indexed(ctx.reader, matcher=matcher)
        return expand_terms_corpus(ctx.docs, matcher=matcher,
                                   id_col=ctx.id_col, text_col=ctx.text_col,
                                   tokenizer=ctx.analyzer)
    if typ == "span_or":
        if not isinstance(spec, dict):
            raise DslError("[span_or] must be an object")
        _reject_unknown(spec, {"clauses"}, "span_or")
        clauses = spec.get("clauses")
        if not isinstance(clauses, list) or not clauses:
            raise DslError("[span_or] needs a non-empty [clauses] list")
        out: set[str] = set()
        for c in clauses:
            sub_typ, _ = _one(c, "span_or clause")
            if sub_typ == "span_or":
                raise DslError("[span_or] nested span_or is unsupported; "
                               "flatten the clauses")
            out.update(_span_clause_terms(ctx, c, "span_or clause"))
        return sorted(out)
    raise DslError(f"[{what}] span clause type [{typ}] unsupported; "
                   "supported: span_term, span_or, span_multi")


def _int_param(val: Any, what: str, default: int | None = None) -> int:
    if val is None and default is not None:
        return default
    if isinstance(val, bool) or not isinstance(val, int):
        raise DslError(f"[{what}] must be an integer, got {val!r}")
    return val


def _near_plan(ctx: SearchContext, nspec: Any,
               max_end: int | None = None) -> dict | None:
    from .spans import MAX_ORDERED_CLAUSES, _clause_map

    if not isinstance(nspec, dict):
        raise DslError("[span_near] must be an object")
    _reject_unknown(nspec, {"clauses", "slop", "in_order"}, "span_near")
    clauses = nspec.get("clauses")
    if not isinstance(clauses, list) or len(clauses) < 2:
        raise DslError("[span_near] needs a [clauses] list of >= 2 "
                       "span queries")
    in_order = nspec.get("in_order", True)
    if not isinstance(in_order, bool):
        raise DslError("[span_near] in_order must be a boolean")
    if in_order and len(clauses) > MAX_ORDERED_CLAUSES:
        raise DslError(f"[span_near] ordered span_near supports at most "
                       f"{MAX_ORDERED_CLAUSES} clauses, got {len(clauses)}")
    if not in_order and len(clauses) != 2:
        raise DslError("[span_near] unordered span_near supports "
                       "exactly 2 clauses")
    slop = _int_param(nspec.get("slop"), "span_near.slop", default=0)
    if slop < 0:
        raise DslError(f"[span_near] slop must be >= 0, got {slop}")
    sets = [_span_clause_terms(ctx, c, "span_near clause") for c in clauses]
    try:
        # disjointness; empty expansions get unique placeholders so the
        # provably-empty case still returns None below instead of raising
        _clause_map([s or [f"__missing_{i}__"] for i, s in enumerate(sets)])
    except ValueError as e:
        raise DslError(f"[span_near] {e}") from e
    if any(not s for s in sets):
        return None
    return {"kind": "near", "required": sets, "slop": slop,
            "in_order": in_order, "max_end": max_end}


def _span_plan(ctx: SearchContext, typ: str, spec: Any) -> dict | None:
    """Parse a span query into the normalized plan both executors
    consume (query/spans.py exhaustively; query/spans_indexed.py over
    the positional index). None = provably empty (a clause's dictionary
    expansion matched no term)."""
    if not isinstance(spec, dict):
        raise DslError(f"[{typ}] must be an object")
    if typ in _SPAN_CLAUSE_TYPES:
        terms = _span_clause_terms(ctx, {typ: spec}, typ)
        return {"kind": "set", "required": [terms]} if terms else None
    if typ == "span_near":
        return _near_plan(ctx, spec)
    if typ in ("span_containing", "span_within"):
        # SpanContainingQuery / SpanWithinQuery: BIG spans that contain
        # a little occurrence survive (containing scores the big spans,
        # within the little ones). big = an ordered span_near; little =
        # a single-token span clause
        _reject_unknown(spec, {"big", "little"}, typ)
        if "big" not in spec or "little" not in spec:
            raise DslError(f"[{typ}] needs [big] and [little]")
        btyp, bspec = _one(spec["big"], f"{typ}.big")
        if btyp != "span_near":
            raise DslError(f"[{typ}] big must be a span_near, got [{btyp}]")
        # structural check BEFORE expansion — an empty dictionary
        # expansion must not data-dependently accept an invalid shape
        if isinstance(bspec, dict) and bspec.get("in_order", True) is not True:
            raise DslError(f"[{typ}] big span_near must be in_order")
        bplan = _near_plan(ctx, bspec)
        little = _span_clause_terms(ctx, spec["little"], f"{typ}.little")
        if bplan is None or not little:
            return None
        big_terms = {t for terms in bplan["required"] for t in terms}
        if big_terms & set(little):
            raise DslError(f"[{typ}] big/little term sets overlap: "
                           f"{sorted(big_terms & set(little))}")
        return {"kind": "contain", "required": bplan["required"],
                "little": little, "slop": bplan["slop"],
                "within": typ == "span_within"}
    if typ == "span_first":
        _reject_unknown(spec, {"match", "end"}, "span_first")
        if "match" not in spec or "end" not in spec:
            raise DslError("[span_first] needs [match] and [end]")
        end = _int_param(spec["end"], "span_first.end")
        if end < 0:
            raise DslError(f"[span_first] end must be >= 0, got {end}")
        ityp, ispec = _one(spec["match"], "span_first.match")
        if ityp == "span_near":
            return _near_plan(ctx, ispec, max_end=end)
        if ityp in _SPAN_CLAUSE_TYPES:
            terms = _span_clause_terms(ctx, spec["match"], "span_first.match")
            if not terms:
                return None
            return {"kind": "set", "required": [terms], "max_end": end}
        raise DslError(f"[span_first] match type [{ityp}] unsupported; "
                       "supported: span_term, span_or, span_multi, "
                       "span_near")
    # span_not
    _reject_unknown(spec, {"include", "exclude", "pre", "post", "dist"},
                    "span_not")
    if "include" not in spec or "exclude" not in spec:
        raise DslError("[span_not] needs [include] and [exclude]")
    if "dist" in spec and ("pre" in spec or "post" in spec):
        raise DslError("[span_not] dist is shorthand for pre+post; give "
                       "one or the other")
    dist = _int_param(spec.get("dist"), "span_not.dist", default=0)
    pre = _int_param(spec.get("pre"), "span_not.pre", default=dist)
    post = _int_param(spec.get("post"), "span_not.post", default=dist)
    if pre < 0 or post < 0:
        raise DslError(f"[span_not] pre/post must be >= 0, got {pre}/{post}")
    include = _span_clause_terms(ctx, spec["include"], "span_not.include")
    exclude = _span_clause_terms(ctx, spec["exclude"], "span_not.exclude")
    if set(include) & set(exclude):
        raise DslError("[span_not] include/exclude term sets overlap: "
                       f"{sorted(set(include) & set(exclude))}")
    if not include:
        return None
    if not exclude:
        # nothing to exclude: plain span over the include set
        return {"kind": "set", "required": [include]}
    return {"kind": "not", "required": [include], "exclude": exclude,
            "pre": pre, "post": post}


def _intervals_plan(ctx: SearchContext, spec: Any,
                    analyzer: str | None = None) -> tuple:
    """Parse an ``intervals`` body into (clause term sets, max_gaps,
    ordered). Supported sources: ``match`` (one single-term clause per
    analyzed token, position order preserved) and ``any_of`` over
    single-term matches (one union clause — every occurrence is a
    length-1 minimal interval). The filter algebra (all_of, prefix,
    before/after/containing, ...) is rejected by name. ``analyzer``
    lets the indexed dispatch analyze with the index's OWN analyzer
    (the reader-path convention); the exhaustive executor passes
    ctx.analyzer so query and corpus tokenize identically."""
    analyzer = analyzer or ctx.analyzer
    if not isinstance(spec, dict):
        raise DslError("[intervals] must be an object")
    field, src = _one(spec, "intervals")
    if field != ctx.text_col:
        raise DslError(f"[intervals] field [{field}] is not the corpus "
                       f"text column [{ctx.text_col}]")
    styp, sspec = _one(src, "intervals source")
    if styp == "match":
        if not isinstance(sspec, dict):
            raise DslError("[intervals.match] must be an object")
        _reject_unknown(sspec, {"query", "max_gaps", "ordered"},
                        "intervals.match")
        query = sspec.get("query")
        if not isinstance(query, str) or not query.strip():
            raise DslError("[intervals.match] needs a non-empty [query]")
        toks = analyze_query(query, analyzer)  # order matters
        if not toks:
            raise DslError("[intervals.match] query analyzed to zero tokens")
        if len(set(toks)) != len(toks):
            raise DslError("[intervals.match] repeated terms are "
                           "unsupported (the position tagging would be "
                           "ambiguous)")
        ordered = sspec.get("ordered", False)
        if not isinstance(ordered, bool):
            raise DslError("[intervals.match] ordered must be a boolean")
        from .spans import MAX_ORDERED_CLAUSES

        if ordered and len(toks) > MAX_ORDERED_CLAUSES:
            raise DslError(f"[intervals.match] ordered supports at most "
                           f"{MAX_ORDERED_CLAUSES} terms, got {len(toks)}")
        if not ordered and len(toks) > 2:
            raise DslError("[intervals.match] unordered supports at most "
                           f"2 terms, got {len(toks)}")
        max_gaps = _int_param(sspec.get("max_gaps"), "intervals.match"
                              ".max_gaps", default=-1)
        if max_gaps < -1:
            raise DslError(f"[intervals.match] max_gaps must be >= -1, "
                           f"got {max_gaps}")
        return [[t] for t in toks], max_gaps, ordered
    if styp == "any_of":
        if not isinstance(sspec, dict):
            raise DslError("[intervals.any_of] must be an object")
        _reject_unknown(sspec, {"intervals"}, "intervals.any_of")
        subs = sspec.get("intervals")
        if not isinstance(subs, list) or not subs:
            raise DslError("[intervals.any_of] needs a non-empty "
                           "[intervals] list")
        terms: set[str] = set()
        for sub in subs:
            sub_typ, sub_spec = _one(sub, "intervals.any_of entry")
            if sub_typ != "match":
                raise DslError("[intervals.any_of] entries must be "
                               "single-term [match] sources")
            if not isinstance(sub_spec, dict):
                raise DslError("[intervals.any_of.match] must be an object")
            _reject_unknown(sub_spec, {"query"}, "intervals.any_of.match")
            sub_q = sub_spec.get("query")
            if not isinstance(sub_q, str) or not sub_q.strip():
                raise DslError("[intervals.any_of.match] needs a non-empty "
                               "string [query]")
            sub_toks = analyze_query(sub_q, analyzer)
            if len(sub_toks) != 1:
                raise DslError("[intervals.any_of] entries must analyze "
                               "to exactly one term")
            terms.add(sub_toks[0])
        return [sorted(terms)], -1, False
    raise DslError(f"[intervals] source [{styp}] unsupported; supported: "
                   "match, any_of")


def _intervals_scores(ctx: SearchContext, spec: Any,
                      round_to: int | None = None) -> DataFrame:
    from .intervals import interval_scores

    clauses, max_gaps, ordered = _intervals_plan(ctx, spec)
    try:
        return interval_scores(
            ctx.docs, clauses, max_gaps=max_gaps, ordered=ordered,
            analyzer=ctx.analyzer, id_col=ctx.id_col, text_col=ctx.text_col,
            round_to=round_to,
        ).select("doc_id", "score")
    except ValueError as e:
        raise DslError(f"[intervals] {e}") from e


def _span_scores(ctx: SearchContext, typ: str, spec: Any,
                 round_to: int | None = None) -> DataFrame:
    """Full-frame (doc_id, score) for any span query — the shape
    hybrid normalization (raw, round_to=None) and the exhaustive top-k
    (round_to=4: the dictionary-expansion convention — pre-round the
    cross-engine-ULP-prone sums BEFORE ranking) both consume.
    Semantics and scoring: query/spans.py module docstring."""
    from .spans import span_near_scores, span_not_scores, span_set_scores

    plan = _span_plan(ctx, typ, spec)
    if plan is None:
        return ctx.docs.where(F.lit(False)).select(
            F.col(ctx.id_col).alias("doc_id"),
            F.lit(0.0).cast("double").alias("score"),
        )

    def call(fn, *args, **kwargs):
        kwargs.update(analyzer=ctx.analyzer, id_col=ctx.id_col,
                      text_col=ctx.text_col, round_to=round_to)
        try:
            return fn(ctx.docs, *args, **kwargs).select("doc_id", "score")
        except ValueError as e:
            raise DslError(f"[{typ}] {e}") from e

    if plan["kind"] == "set":
        return call(span_set_scores, plan["required"][0],
                    max_end=plan.get("max_end"))
    if plan["kind"] == "not":
        return call(span_not_scores, plan["required"][0], plan["exclude"],
                    pre=plan["pre"], post=plan["post"])
    if plan["kind"] == "contain":
        from .spans import span_contain_scores

        return call(span_contain_scores, plan["required"], plan["little"],
                    slop=plan["slop"], within=plan["within"])
    return call(span_near_scores, plan["required"], slop=plan["slop"],
                in_order=plan["in_order"], max_end=plan.get("max_end"))


def _prefix_matcher_sql(prefix: str) -> str:
    from .multiterm import _matcher_sql, like_escape

    return _matcher_sql(like=like_escape(prefix) + "%")


def _prefix_const_frame(ctx: SearchContext, prefix: str) -> DataFrame:
    """Constant-score prefix clause: docs with ≥1 analyzed token
    starting with the normalized prefix score 1.0 — Lucene PrefixQuery
    under SimpleQueryParser's constant-score rewrite. Routed through
    the shared matcher frame (index kernel when ctx.reader is set)."""
    return _matcher_const_frame(ctx, _prefix_matcher_sql(prefix))


def _simple_query_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``simple_query_string`` body → full raw (doc_id, score) frame.
    The parsed clauses score like BooleanQuery: each matched scoring
    clause contributes its BM25 (phrases their phrase-gated BM25,
    prefixes constant 1.0), summed per doc; AND mode gates on every
    clause, OR mode on max(minimum_should_match, 1) clauses; ``-``
    clauses exclude their match set. All positive term chunks batch
    into ONE corpus traversal (bm25_scores_by_group — the msearch
    membership-table shape), so clause count never multiplies corpus
    passes; phrase / prefix / negated / conjunctive-chunk clauses get
    one frame each. ``minimum_should_match`` is ignored in AND mode
    (every clause is already MUST — the reference's msm applies to
    optional clauses only)."""
    from ..functions.tokenize import resolve_analyzer
    from .exhaustive import bm25_scores_by_group
    from .simpleq import parse_simple_query

    if not isinstance(spec, dict):
        raise DslError(f"[simple_query_string] expects an object, got {spec!r}")
    _reject_unknown(spec, {"query", "fields", "default_operator",
                           "minimum_should_match"}, "simple_query_string")
    fields = spec.get("fields", [ctx.text_col])
    if fields != [ctx.text_col]:
        raise DslError(
            f"[simple_query_string] fields must be [{ctx.text_col!r}] — the "
            f"corpus's one analyzed text field — got {fields!r}")
    default_op = spec.get("default_operator", "or")
    mode, leaves = parse_simple_query(spec.get("query"), default_op)
    # with an index: the index's analyzer + kernel dispatch per clause
    # (no corpus re-tokenize) — same routing as query_string
    indexed = ctx.reader is not None
    analyzer = ctx.index_analyzer() if indexed else ctx.analyzer
    lower = resolve_analyzer(analyzer)[2]

    or_groups: list[list[str]] = []
    frames: list[DataFrame] = []
    neg: list[DataFrame] = []
    n_pos = 0
    for leaf in leaves:
        if leaf.kind == "chunk":
            terms = analyze_query(leaf.text, analyzer)
            if not terms:
                continue  # an all-delimiter chunk analyzes away (Lucene drops it)
            conj = default_op == "and" and len(terms) > 1
            if not indexed and not leaf.negated and not conj:
                or_groups.append(terms)
                n_pos += 1
                continue
            frame = _term_clause_frame(ctx, terms, conj)
        elif leaf.kind == "phrase":
            toks = analyze_query(leaf.text, analyzer)
            if not toks:
                continue
            frame = _phrase_clause_frame(ctx, toks, 0)
        else:  # prefix
            pfx = leaf.text.lower() if lower else leaf.text
            frame = _matcher_const_frame(ctx, _prefix_matcher_sql(pfx))
        if leaf.negated:
            neg.append(frame.select("doc_id"))
        else:
            frames.append(frame)
            n_pos += 1
    if n_pos == 0:
        raise DslError("[simple_query_string] needs at least one positive "
                       "clause (all clauses were negated or analyzed away)")
    msm = _msm_int(spec.get("minimum_should_match", 0),
                   "simple_query_string")
    need = n_pos if mode == "and" else max(msm, 1)
    if need > n_pos:
        raise DslError(f"[simple_query_string] minimum_should_match={msm} "
                       f"exceeds the {n_pos} positive clauses")
    tagged = None
    if or_groups:
        tagged = bm25_scores_by_group(
            ctx.docs, or_groups, id_col=ctx.id_col, text_col=ctx.text_col,
            tokenizer=analyzer,
        ).withColumnRenamed("subquery_idx", "cid")
    for j, frame in enumerate(frames):
        t = frame.select(F.lit(len(or_groups) + j).alias("cid"),
                         "doc_id", "score")
        tagged = t if tagged is None else tagged.unionByName(t)
    agg = tagged.groupBy("doc_id").agg(
        F.sum("score").alias("score"),
        F.countDistinct("cid").alias("nss_n"),
    )
    out = agg.where(F.col("nss_n") >= F.lit(need)).select("doc_id", "score")
    for nf in neg:
        out = out.join(nf.distinct(), "doc_id", "left_anti")
    return out


def _fuzzy_match_matcher(ctx: SearchContext, params: dict) -> str:
    """``match`` with ``fuzziness``: a shared-SQL dictionary matcher
    OR-ing each analyzed token's fuzzy window (Levenshtein <= e with
    e per token — an int 1|2, or the documented AUTO rule: 0 edits
    under 3 chars, 1 for 3-5, 2 from 6). The expansion is then ONE
    rewritten boolean with a global top-terms cap — the engine's
    convention (Lucene caps per FuzzyQuery clause; one global cut is
    the same total order both engines apply, documented). fuzziness
    composes with neither operator=and nor minimum_should_match —
    rejected loudly, not approximated."""
    from .multiterm import _matcher_sql

    if params.get("operator", "or") == "and":
        raise DslError("[match] fuzziness with operator=and is not "
                       "supported")
    if "minimum_should_match" in params:
        raise DslError("[match] fuzziness with minimum_should_match is "
                       "not supported")
    fz = params["fuzziness"]
    if isinstance(fz, str) and fz.upper() == "AUTO":
        edits = None
    elif isinstance(fz, int) and not isinstance(fz, bool) and fz in (1, 2):
        edits = fz
    else:
        raise DslError(f"[match] fuzziness must be 1, 2 or 'AUTO', "
                       f"got {fz!r}")
    toks = analyze_query(params.get("query") or "", ctx.analyzer)
    if not toks:
        raise DslError("[match] query analyzed to zero tokens")
    parts = []
    for t in sorted(set(toks)):
        e = edits
        if e is None:  # AUTO:3,6
            e = 0 if len(t) < 3 else (1 if len(t) < 6 else 2)
        if e == 0:
            parts.append(f"term = '{t.replace(chr(39), chr(39) * 2)}'")
        else:
            parts.append(_matcher_sql(fuzzy=(t, e, 0)))
    return " OR ".join(f"({p})" for p in parts)


def _msm_int(val: Any, what: str) -> int:
    """Integer minimum_should_match or a loud DslError (these surfaces
    count CLAUSES; the 'P%' form belongs to more_like_this only)."""
    if isinstance(val, bool) or not isinstance(val, int):
        raise DslError(f"[{what}] minimum_should_match must be an integer, "
                       f"got {val!r}")
    return val


def _matcher_const_frame(ctx: SearchContext, matcher: str) -> DataFrame:
    """Constant-score multi-term clause: docs with ≥1 analyzed token
    satisfying ``matcher`` (a shared-SQL predicate over ``term`` —
    query/multiterm._matcher_sql) score 1.0. Lucene QueryParser's
    default CONSTANT_SCORE rewrite for prefix/wildcard/fuzzy clauses.
    With ``ctx.reader`` the match set comes from the index: dictionary
    expansion over postings metadata, then the kernel's match stream —
    the corpus text is never re-tokenized."""
    if ctx.reader is not None:
        from .multiterm import expand_terms_indexed
        from .wand import bm25_scores_indexed

        _require_doc_key(ctx)
        exp = expand_terms_indexed(ctx.reader, matcher=matcher)
        if not exp:
            return ctx.docs.sparkSession.createDataFrame(
                [], "doc_id long, score double")
        return bm25_scores_indexed(ctx.reader, exp).select(
            F.col(ctx.id_col).alias("doc_id"), F.lit(1.0).cast("double").alias("score"))
    from .exhaustive import tokenized

    toks = tokenized(ctx.docs, ctx.id_col, ctx.text_col, ctx.analyzer)
    return (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.expr(matcher))
        .select("doc_id").distinct()
        .select("doc_id", F.lit(1.0).cast("double").alias("score"))
    )


def _term_clause_frame(ctx: SearchContext, terms: list[str],
                       conj: bool) -> DataFrame:
    """Full raw (doc_id, score) frame for one term clause — the index
    kernel when ``ctx.reader`` is set (partition-pruned term buckets,
    never a corpus re-tokenize), the one-traversal exhaustive scorer
    otherwise."""
    if ctx.reader is not None:
        from .wand import bm25_scores_indexed

        _require_doc_key(ctx)
        return bm25_scores_indexed(ctx.reader, terms,
                                   mode="and" if conj else "or").select(
            F.col(ctx.id_col).alias("doc_id"), "score")
    from .exhaustive import bm25_conjunctive, bm25_scores

    fn = bm25_conjunctive if conj else bm25_scores
    return fn(ctx.docs, terms, id_col=ctx.id_col, text_col=ctx.text_col,
              round_to=None, tokenizer=ctx.analyzer)


def _phrase_clause_frame(ctx: SearchContext, toks: list[str],
                         slop: int) -> DataFrame:
    """Full raw (doc_id, score) frame for one (sloppy) phrase clause —
    the positional kernel when the index stores positions, the
    exhaustive position gate otherwise."""
    if ctx.reader is not None and ctx.reader.meta.get("store_positions"):
        from .phrase import bm25_phrase_indexed

        _require_doc_key(ctx)
        return bm25_phrase_indexed(ctx.reader, toks, slop=slop).select(
            F.col(ctx.id_col).alias("doc_id"), "score")
    from .exhaustive import bm25_phrase, bm25_phrase_sloppy

    fn = bm25_phrase_sloppy if slop else bm25_phrase
    kw = {"slop": slop} if slop else {}
    return fn(ctx.docs, toks, id_col=ctx.id_col, text_col=ctx.text_col,
              round_to=None, tokenizer=ctx.index_analyzer(),
              **kw).select("doc_id", "score")


def _query_string_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``query_string`` body → full raw (doc_id, score) frame. The
    parsed clauses (query/querystring.py — the documented QueryParser
    subset) score like BooleanQuery: term clauses their BM25 (batched
    into ONE corpus traversal), (sloppy) phrases their phrase-gated
    BM25, prefix/wildcard/fuzzy constant 1.0 (QueryParser's default
    multi-term CONSTANT_SCORE rewrite); a clause's ``^boost``
    multiplies its contribution; AND mode gates on every positive
    clause, OR mode on max(minimum_should_match, 1); NOT/- clauses
    exclude their match set (the engine's shared negation convention
    with simple_query_string)."""
    from ..functions.tokenize import resolve_analyzer
    from .exhaustive import bm25_scores_by_group
    from .multiterm import _matcher_sql, like_escape, wildcard_to_like
    from .querystring import QueryStringError, parse_query_string

    if not isinstance(spec, dict):
        raise DslError(f"[query_string] expects an object, got {spec!r}")
    _reject_unknown(spec, {"query", "default_field", "fields",
                           "default_operator", "minimum_should_match"},
                    "query_string")
    tc = ctx.text_col
    if spec.get("default_field", tc) != tc:
        raise DslError(f"[query_string] default_field must be [{tc}]")
    if spec.get("fields", [tc]) != [tc]:
        raise DslError(f"[query_string] fields must be [{tc!r}] — the "
                       "corpus's one analyzed text field")
    try:
        mode, leaves = parse_query_string(spec.get("query"),
                                          spec.get("default_operator", "or"))
    except QueryStringError as e:
        raise DslError(f"[query_string] {e}") from e
    # with an index: analyze with ITS analyzer and dispatch every
    # clause onto the kernels — the corpus text is never re-tokenized
    # (partition-pruned term buckets instead of a full scan)
    indexed = ctx.reader is not None
    analyzer = ctx.index_analyzer() if indexed else ctx.analyzer
    lower = resolve_analyzer(analyzer)[2]

    or_groups: list[list[str]] = []
    frames: list[DataFrame] = []
    neg: list[DataFrame] = []
    n_pos = 0
    for leaf in leaves:
        if leaf.field is not None and leaf.field != tc:
            raise DslError(f"[query_string] field [{leaf.field}] is not "
                           f"[{tc}] (one analyzed text field)")
        if leaf.kind == "term":
            terms = analyze_query(leaf.text, analyzer)
            if not terms:
                continue  # an all-delimiter clause analyzes away
            # a clause whose text analyzes to several tokens applies the
            # default operator INSIDE the clause (Lucene QueryBuilder.
            # createBooleanQuery with MUST under AND) — the same rule
            # simple_query_string's chunks follow
            conj = mode == "and" and len(terms) > 1
            if (not indexed and not leaf.negated and leaf.boost == 1.0
                    and not conj):
                or_groups.append(terms)
                n_pos += 1
                continue
            frame = _term_clause_frame(ctx, terms, conj)
        elif leaf.kind == "phrase":
            toks = analyze_query(leaf.text, analyzer)
            if not toks:
                continue
            frame = _phrase_clause_frame(ctx, toks, leaf.slop)
        else:
            text = leaf.text.lower() if lower else leaf.text
            if leaf.kind == "prefix":
                matcher = _matcher_sql(like=like_escape(text) + "%")
            elif leaf.kind == "wildcard":
                matcher = _matcher_sql(like=wildcard_to_like(text))
            else:  # fuzzy
                matcher = _matcher_sql(fuzzy=(text, leaf.slop, 0))
            frame = _matcher_const_frame(ctx, matcher)
        if leaf.boost != 1.0:
            frame = frame.select(
                "doc_id", (F.col("score") * F.lit(leaf.boost)).alias("score"))
        if leaf.negated:
            neg.append(frame.select("doc_id"))
        else:
            frames.append(frame)
            n_pos += 1
    if n_pos == 0:
        raise DslError("[query_string] needs at least one positive clause "
                       "(all clauses were negated or analyzed away)")
    msm = _msm_int(spec.get("minimum_should_match", 0), "query_string")
    need = n_pos if mode == "and" else max(msm, 1)
    if need > n_pos:
        raise DslError(f"[query_string] minimum_should_match={msm} exceeds "
                       f"the {n_pos} positive clauses")
    tagged = None
    if or_groups:
        tagged = bm25_scores_by_group(
            ctx.docs, or_groups, id_col=ctx.id_col, text_col=tc,
            tokenizer=analyzer,
        ).withColumnRenamed("subquery_idx", "cid")
    for j, frame in enumerate(frames):
        t = frame.select(F.lit(len(or_groups) + j).alias("cid"),
                         "doc_id", "score")
        tagged = t if tagged is None else tagged.unionByName(t)
    agg = tagged.groupBy("doc_id").agg(
        F.sum("score").alias("score"),
        F.countDistinct("cid").alias("nss_n"),
    )
    out = agg.where(F.col("nss_n") >= F.lit(need)).select("doc_id", "score")
    for nf in neg:
        out = out.join(nf.distinct(), "doc_id", "left_anti")
    return out


def _match_bool_prefix_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``match_bool_prefix``: the analyzed terms become a bool-should —
    every token but the last a term clause (BM25), the last a prefix
    clause at constant score 1.0 (the engine's multi-term prefix
    convention, shared with simple_query_string's trailing-*) —
    with ``operator``/``minimum_should_match`` counting CLAUSES
    (MatchBoolPrefixQueryBuilder constructs exactly this BooleanQuery).
    Duplicate tokens collapse to one clause each, the match-path
    convention. All term clauses batch into ONE corpus traversal."""
    from .exhaustive import bm25_scores_by_group

    field, params = _one(spec, "match_bool_prefix")
    params = _params(params, "query")
    _reject_unknown(params, {"query", "operator", "minimum_should_match"},
                    "match_bool_prefix")
    if field != ctx.text_col:
        raise DslError(f"[match_bool_prefix] field [{field}] is not "
                       f"[{ctx.text_col}]")
    op = params.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"[match_bool_prefix] operator must be or|and, "
                       f"got [{op}]")
    if not isinstance(params.get("query"), str):
        raise DslError("[match_bool_prefix] query must be a string")
    toks = analyze_query(
        params["query"],
        ctx.index_analyzer() if ctx.reader is not None else ctx.analyzer)
    if not toks:
        raise DslError("[match_bool_prefix] query analyzed to zero tokens")
    pfx = toks[-1]
    seen: set[str] = set()
    terms = [t for t in toks[:-1] if not (t in seen or seen.add(t))]
    n_pos = len(terms) + 1
    msm = _msm_int(params.get("minimum_should_match", 0),
                   "match_bool_prefix")
    need = n_pos if op == "and" else max(msm, 1)
    if need > n_pos:
        raise DslError(f"[match_bool_prefix] minimum_should_match={msm} "
                       f"exceeds the {n_pos} clauses")
    # toks are post-analysis (already normalized) — no extra lowering
    tagged = _prefix_const_frame(ctx, pfx).select(
        F.lit(len(terms)).alias("cid"), "doc_id", "score")
    if terms and ctx.reader is not None:
        # indexed: per-term kernel frames (partition-pruned buckets)
        term_frames = None
        for i, t in enumerate(terms):
            f2 = _term_clause_frame(ctx, [t], False).select(
                F.lit(i).alias("cid"), "doc_id", "score")
            term_frames = f2 if term_frames is None else term_frames.unionByName(f2)
        tagged = term_frames.unionByName(tagged)
    elif terms:
        term_frames = bm25_scores_by_group(
            ctx.docs, [[t] for t in terms],
            id_col=ctx.id_col, text_col=ctx.text_col, tokenizer=ctx.analyzer,
        ).withColumnRenamed("subquery_idx", "cid")
        tagged = term_frames.unionByName(tagged)
    agg = tagged.groupBy("doc_id").agg(
        F.sum("score").alias("score"),
        F.countDistinct("cid").alias("nss_n"),
    )
    return agg.where(F.col("nss_n") >= F.lit(need)).select("doc_id", "score")


def _sub_scores(ctx: SearchContext, q: dict, idx: int) -> DataFrame:
    typ, spec = _one(q, "hybrid sub-query")
    if typ == "match":
        from .exhaustive import bm25_conjunctive, bm25_scores

        terms, op = _match_clause(ctx, spec, "match")
        fn = bm25_conjunctive if op == "and" else bm25_scores
        s = fn(ctx.docs, terms, id_col=ctx.id_col, text_col=ctx.text_col,
               round_to=None, tokenizer=ctx.analyzer)
    elif typ == "multi_match":
        from .exhaustive import bm25_conjunctive, bm25_scores

        mspec, boost = _multi_match_spec(ctx, spec)
        terms, op = _match_clause(ctx, mspec, "multi_match")
        fn = bm25_conjunctive if op == "and" else bm25_scores
        s = _boosted(
            fn(ctx.docs, terms, id_col=ctx.id_col, text_col=ctx.text_col,
               round_to=None, tokenizer=ctx.analyzer),
            boost,
        )
    elif typ == "match_phrase":
        # phrase sub-queries score their FULL match set, raw — the
        # normalization statistics then see every phrase hit, exactly
        # like the other full-frame sub-queries
        s = _phrase_scores(ctx, spec)
    elif typ == "neural":
        s = _neural_topk(ctx, spec).select(
            F.col("vec_id").alias("doc_id"), F.col("cos").alias("score")
        )
    elif typ == "knn":
        # raw-vector kNN sub-query: the candidate pool is its own k
        # (KNNQueryBuilder semantics), scores enter normalization raw
        s = _knn_topk(ctx, spec).select(
            F.col("vec_id").alias("doc_id"), F.col("cos").alias("score")
        )
    elif typ == "script_score":
        # full match-set frame, like the other full-frame sub-queries —
        # normalization statistics see every matched doc
        s = _script_scores(ctx, spec)
    elif typ.startswith("span_") and typ in _QUERY_TYPES:
        # span queries enter normalization as full match-set frames
        s = _span_scores(ctx, typ, spec)
    elif typ == "intervals":
        s = _intervals_scores(ctx, spec)
    elif typ == "neural_sparse":
        field, params = _one(spec, "neural_sparse")
        params = _params(params, "query_tokens")
        _reject_unknown(params, {"query_tokens", "k"}, "neural_sparse")
        if ctx.sparse_features is None:
            raise DslError("neural_sparse needs ctx.sparse_features")
        if "k" in params:
            from .sparse import sparse_topk_two_phase

            s = sparse_topk_two_phase(
                ctx.sparse_features, dict(params["query_tokens"]),
                k=_int_param(params["k"], "neural_sparse.k"), round_to=None,
            ).select("doc_id", "score")
        else:
            # no k → the sub-query scores its FULL match set, exactly
            # like the engine's exhaustive hybrid twins (normalization
            # statistics then see every matched doc, not a cut)
            from .sparse import sparse_scores

            s = sparse_scores(
                ctx.sparse_features, dict(params["query_tokens"])
            ).select("doc_id", "score")
    elif typ == "nested":
        # the reference composes hybrid over term + nested sub-queries
        # (HybridQueryIT.java:436-449); full match set, like match
        s = _nested_scores(ctx, spec)
    elif typ == "simple_query_string":
        # the parser families score their FULL match set raw, like the
        # other full-frame sub-queries — the normalization statistics
        # then see every matched doc
        s = _simple_query_scores(ctx, spec)
    elif typ == "query_string":
        s = _query_string_scores(ctx, spec)
    elif typ == "match_bool_prefix":
        s = _match_bool_prefix_scores(ctx, spec)
    else:
        s = _leaf_scores(ctx, typ, spec)
        if s is None:
            raise DslError(f"hybrid sub-query type [{typ}] unsupported; "
                           "supported: match, multi_match, match_phrase, "
                           "match_bool_prefix, simple_query_string, "
                           "query_string, neural, knn, script_score, "
                           "neural_sparse, nested, term, terms, range, "
                           "exists, ids, match_all, constant_score, "
                           "rank_feature, match_none, distance_feature, "
                           "span_term, span_near, span_or, span_first, "
                           "span_not, span_multi, span_containing, "
                           "span_within, intervals")
    return s.select(F.lit(idx).alias("subquery_idx"), "doc_id", "score")


def _neural_topk(ctx: SearchContext, spec: Any) -> DataFrame:
    field, params = _one(spec, "neural")
    params = _params(params, "query_vector_id")
    _reject_unknown(params, {"query_vector_id", "k", "ef"}, "neural")
    if ctx.embeddings is None:
        raise DslError("neural query needs ctx.embeddings")
    qid = int(params["query_vector_id"])
    k = _int_param(params.get("k"), "neural.k", 10)
    if ctx.graphs is not None:
        from ..pipeline.graph_ann import hnsw_topk

        kw = {"ef": int(params["ef"])} if "ef" in params else {}
        return hnsw_topk(ctx.embeddings, qid, k=k, graphs=ctx.graphs, **kw)
    from ..pipeline.similarity import cosine_topk

    return cosine_topk(ctx.embeddings, qid, k=k)


def _knn_topk(ctx: SearchContext, spec: Any) -> DataFrame:
    """Raw ``knn`` query — the builder NeuralQueryBuilder.doRewrite
    actually produces (KNNQueryBuilder: field + literal vector + k +
    optional filter, NeuralQueryBuilder.java:300-325). The vector is
    carried in the body, so scoring is exact brute force against the
    literal; ``filter`` restricts candidates pre-scoring (the k-NN
    engine's efficient-filter slot), a term/terms/range/exists DSL
    object over the embedding table's columns."""
    from ..pipeline.similarity import cosine_topk_vector

    field, params = _one(spec, "knn")
    if ctx.embeddings is None:
        raise DslError("knn query needs ctx.embeddings")
    if not isinstance(params, dict):
        raise DslError("[knn] field spec must be an object")
    _reject_unknown(params, {"vector", "k", "filter"}, "knn")
    if field not in ctx.embeddings.columns or field == "vec_id":
        raise DslError(f"[knn] field [{field}] is not a vector column of "
                       "the embedding table")
    vec = params.get("vector")
    if (not isinstance(vec, list) or not vec
            or not all(isinstance(x, (int, float)) and not isinstance(x, bool)
                       for x in vec)):
        raise DslError("[knn] needs a non-empty numeric [vector] list")
    k = _int_param(params.get("k"), "knn.k", 10)
    pred = None
    if "filter" in params:
        if not isinstance(params["filter"], dict):
            raise DslError("[knn] filter must be a query object")
        pred = _predicate_sql(params["filter"])
    return cosine_topk_vector(ctx.embeddings, [float(x) for x in vec], k=k,
                              vec_col=field, predicate=pred)


_SCRIPT_VEC_RE = __import__("re").compile(
    r"^\s*(cosineSimilarity|dotProduct)\(\s*params\.(\w+)\s*,\s*"
    r"doc\['(\w+)'\]\s*\)\s*(?:\+\s*([0-9]+(?:\.[0-9]+)?))?\s*$")
_SCRIPT_BOOST_RE = __import__("re").compile(
    r"^\s*_score\s*\*\s*(?:params\.(\w+)|([0-9]+(?:\.[0-9]+)?))\s*$")


def _script_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``script_score`` with the deterministic Painless subset the
    reference's exact-kNN recipe uses (the documented escape hatch when
    an ANN index is unavailable): ``cosineSimilarity(params.v,
    doc['field']) + C`` / ``dotProduct(...)`` over the embedding
    column, and ``_score * factor`` over the wrapped query's BM25
    score. Anything else rejects loudly — there is no script engine.

    Match set = the wrapped query's; for the vector functions, docs
    without an embedding row drop from the result (the reference
    errors per-doc on a missing vector field; the inner join keeps the
    pipeline total — documented boundary). Cosine/dot round at 6 like
    every other vector kernel, so the oracle's list_dot_product math
    provably coincides."""
    if not isinstance(spec, dict):
        raise DslError("[script_score] expects an object")
    _reject_unknown(spec, {"query", "script", "min_score"}, "script_score")
    if "query" not in spec or "script" not in spec:
        raise DslError("[script_score] needs [query] and [script]")
    script = spec["script"]
    if not isinstance(script, dict):
        raise DslError("[script_score] script must be an object")
    _reject_unknown(script, {"source", "params"}, "script")
    source = script.get("source")
    if not isinstance(source, str):
        raise DslError("[script_score] script needs a string [source]")
    sparams = script.get("params", {})
    if not isinstance(sparams, dict):
        raise DslError("[script_score] script params must be an object")
    inner = _scores_frame(ctx, spec["query"], "script_score.query")

    if m := _SCRIPT_BOOST_RE.match(source):
        pname, lit = m.groups()
        if pname is not None:
            if pname not in sparams:
                raise DslError(f"[script_score] params.{pname} is not bound")
            factor = sparams[pname]
        else:
            factor = float(lit)
        if (not isinstance(factor, (int, float)) or isinstance(factor, bool)
                or float(factor) < 0):
            raise DslError("[script_score] _score factor must be a "
                           "non-negative number")
        out = inner.select(
            "doc_id", (F.col("score") * F.lit(float(factor))).alias("score"))
    elif m := _SCRIPT_VEC_RE.match(source):
        from ..pipeline.similarity import DOT, NORM, _as_double

        fn, pname, fld, const = m.groups()
        if ctx.embeddings is None:
            raise DslError("[script_score] vector functions need "
                           "ctx.embeddings")
        if fld not in ctx.embeddings.columns or fld == "vec_id":
            raise DslError(f"[script_score] doc['{fld}'] is not a vector "
                           "column of the embedding table")
        qv = sparams.get(pname)
        if (not isinstance(qv, list) or not qv
                or not all(isinstance(x, (int, float))
                           and not isinstance(x, bool) for x in qv)):
            raise DslError(f"[script_score] params.{pname} must be a "
                           "non-empty numeric vector")
        vecs = _as_double(ctx.embeddings, "vec_id", fld, "doc_id", "v")
        qlit = F.array(*[F.lit(float(x)).cast("double") for x in qv])
        dot = F.expr(DOT.format(a="v", b="qv"))
        if fn == "cosineSimilarity":
            val = dot / (F.expr(NORM.format(a="v")) * F.expr(NORM.format(a="qv")))
        else:
            val = dot
        val = F.round(val, 6)
        if const is not None:
            val = val + F.lit(float(const))
        out = inner.join(
            vecs.withColumn("qv", qlit).select("doc_id", val.alias("nss_s")),
            "doc_id",
        ).select("doc_id", F.col("nss_s").alias("score"))
    else:
        raise DslError(
            "[script_score] unsupported script source (no script engine); "
            "supported shapes: cosineSimilarity(params.V, doc['F']) [+ C], "
            "dotProduct(params.V, doc['F']) [+ C], _score * factor")
    if "min_score" in spec:
        ms = spec["min_score"]
        if not isinstance(ms, (int, float)) or isinstance(ms, bool):
            raise DslError("[script_score] min_score must be numeric")
        out = out.where(F.col("score") >= F.lit(float(ms)))
    return out


# --- top-level dispatch ---------------------------------------------------


def _ranked(df: DataFrame, id_col: str) -> DataFrame:
    """(doc_id, score, rank) with the engine's standard tiebreak —
    identical shaping to the exhaustive topk() output. The index's key
    column ``id_col`` becomes the output ``doc_id`` (a no-op for
    kernels that already name it so). A cut that carries its own
    ``rank`` (the indexed top-k answers) keeps it: re-ranking a
    driver-served local frame would cost a Window's two Spark jobs."""
    if "rank" in df.columns:
        rank = F.col("rank")
    else:
        rank = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    return df.withColumnRenamed(id_col, "doc_id").select(
        "doc_id", F.round("score", 4).alias("score"), rank.cast("int").alias("rank"),
    )


def _require_doc_key(ctx: SearchContext) -> None:
    keys = list(ctx.reader.meta.get("key_cols", []))
    if keys != [ctx.id_col]:
        raise DslError(
            f"indexed DSL dispatch needs the index keyed by [{ctx.id_col}], "
            f"got {keys}"
        )


def _indexed_topk(ctx: SearchContext, typ: str, spec: Any, k: int) -> DataFrame | None:
    """Dispatch onto the index kernels; None = this type has no indexed
    path (caller falls through to the exhaustive builders)."""
    if ctx.reader is None:
        return None
    r = ctx.reader
    if typ.startswith("span_") and typ in _QUERY_TYPES:
        # span queries serve from the POSITIONAL index: candidate-block
        # position decode + vectorized searchsorted span iterators —
        # no corpus re-tokenize (query/spans_indexed.py)
        from .spans_indexed import span_topk_indexed

        if typ in ("span_containing", "span_within"):
            # containment probes have no kernel mode yet — fall through
            # to the exhaustive branch BEFORE building the plan, so a
            # span_multi clause's dictionary expansion runs once
            return None
        _require_doc_key(ctx)
        # span_term values are checked against the index's own analyzer,
        # as the intervals branch below analyzes with it
        plan = _span_plan(replace(ctx, analyzer=ctx.index_analyzer()), typ, spec)
        if plan is None:
            return ctx.docs.sparkSession.createDataFrame(
                [], "doc_id long, score double, rank int")
        try:
            # round_to=4 pre-rounds inside the kernel cut (round-then-
            # rank, matching the exhaustive span branch)
            return _ranked(span_topk_indexed(r, plan, k=k, round_to=4), ctx.id_col)
        except ValueError as e:
            raise DslError(f"[{typ}] {e}") from e
    if typ == "intervals":
        # minimal-interval enumeration over the SAME positional kernel
        # (spans_indexed._enumerate_iv) — no corpus re-tokenize
        from .spans_indexed import span_topk_indexed

        _require_doc_key(ctx)
        clauses, max_gaps, ordered = _intervals_plan(
            ctx, spec, analyzer=ctx.index_analyzer())
        plan = {"kind": "iv", "required": clauses, "max_gaps": max_gaps,
                "ordered": ordered}
        try:
            return _ranked(span_topk_indexed(r, plan, k=k, round_to=4), ctx.id_col)
        except ValueError as e:
            raise DslError(f"[intervals] {e}") from e
    if typ == "match":
        from .wand import match_text_topk

        _require_doc_key(ctx)
        field, params = _one(spec, "match")
        params = _params(params, "query")
        _reject_unknown(params, {"query", "operator", "minimum_should_match",
                                 "fuzziness"}, "match")
        if field != ctx.text_col:
            raise DslError(f"[match] field [{field}] is not [{ctx.text_col}]")
        op = params.get("operator", "or")
        if op not in ("or", "and"):
            raise DslError(f"[match] operator must be or|and, got [{op}]")
        if "fuzziness" in params:
            # fuzzy match: the analyzed tokens' fuzzy expansions as ONE
            # rewritten boolean with a global top-terms cap (documented
            # convention — Lucene caps per FuzzyQuery clause)
            from .multiterm import multiterm_topk_indexed

            matcher = _fuzzy_match_matcher(ctx, params)
            return _ranked(multiterm_topk_indexed(r, matcher=matcher, k=k),
                           ctx.id_col)
        msm = _msm_int(params.get("minimum_should_match", 0), "match")
        if msm > 0 and op == "or":
            # the kernel's msm mode gates on >= m distinct matched terms
            return _ranked(match_text_topk(r, params["query"], k=k,
                                           mode=f"msm:{msm}"), ctx.id_col)
        return _ranked(match_text_topk(r, params["query"], k=k, mode=op), ctx.id_col)
    if typ == "match_phrase":
        from .phrase import bm25_phrase_indexed

        _require_doc_key(ctx)
        field, params = _one(spec, "match_phrase")
        params = _params(params, "query")
        _reject_unknown(params, {"query", "slop"}, "match_phrase")
        if field != ctx.text_col:
            raise DslError(f"[match_phrase] field [{field}] is not [{ctx.text_col}]")
        terms = analyze_query(params["query"], ctx.index_analyzer())
        if not terms:
            raise DslError("[match_phrase] query analyzed to zero tokens")
        top = bm25_phrase_indexed(r, terms, k=k, slop=int(params.get("slop", 0)))
        return _ranked(top, ctx.id_col)
    if typ == "match_phrase_prefix":
        from .multiterm import phrase_prefix_topk_indexed

        _require_doc_key(ctx)
        field, params = _one(spec, "match_phrase_prefix")
        params = _params(params, "query")
        _reject_unknown(params, {"query", "max_expansions"}, "match_phrase_prefix")
        if field != ctx.text_col:
            raise DslError(f"[match_phrase_prefix] field [{field}] is not "
                           f"[{ctx.text_col}]")
        toks = analyze_query(params["query"], ctx.index_analyzer())
        if not toks:
            raise DslError("[match_phrase_prefix] query analyzed to zero tokens")
        kw = {"max_expansions": int(params["max_expansions"])} if "max_expansions" in params else {}
        return _ranked(phrase_prefix_topk_indexed(r, toks[:-1], toks[-1], k=k, **kw),
                       ctx.id_col)
    if typ in ("prefix", "wildcard", "fuzzy", "regexp"):
        from .multiterm import (
            like_escape,
            multiterm_topk_indexed,
            regexp_matcher,
            wildcard_to_like,
        )

        _require_doc_key(ctx)
        field, params = _one(spec, typ)
        params = _params(params, "value")
        allowed = {"value", "max_expansions"}
        if typ == "fuzzy":
            allowed.add("fuzziness")
        _reject_unknown(params, allowed, typ)
        kw = {"max_expansions": int(params["max_expansions"])} if "max_expansions" in params else {}
        if typ == "prefix":
            top = multiterm_topk_indexed(r, like=like_escape(params["value"]) + "%", k=k, **kw)
        elif typ == "wildcard":
            top = multiterm_topk_indexed(r, like=wildcard_to_like(params["value"]), k=k, **kw)
        elif typ == "regexp":
            try:
                matcher = regexp_matcher(params["value"])
            except ValueError as e:
                raise DslError(f"[regexp] {e}") from e
            top = multiterm_topk_indexed(r, matcher=matcher, k=k, **kw)
        else:
            top = multiterm_topk_indexed(
                r, fuzzy=(params["value"], int(params.get("fuzziness", 1)), 0), k=k, **kw
            )
        return _ranked(top, ctx.id_col)
    if typ == "bool":
        from .booleans import bool_clauses_topk_indexed

        _require_doc_key(ctx)
        _reject_unknown(spec,
                        {"must", "should", "must_not", "minimum_should_match",
                         "filter"}, "bool")
        if spec.get("filter"):
            # indexed FILTER occur: predicate pushed into the docs scan,
            # mapped to per-segment allow-lists through docmap, AND-ed
            # into the kernel — non-scoring, stats global
            from .wand import bm25_topk_indexed

            scoring = {kk: vv for kk, vv in spec.items() if kk != "filter"}
            if set(scoring) != {"must"} or len(scoring["must"]) != 1:
                raise DslError("[bool] filter context supports a single must "
                               "match clause (the FILTER-occur shape)")
            preds = [_predicate_sql(c) for c in spec["filter"]]
            pred = F.expr(" AND ".join(f"({p})" for p in preds))
            f2, p2 = _one(scoring["must"][0], "bool.must")
            if f2 != "match":
                raise DslError("bool [must] clauses must be match queries")
            terms, op = _match_clause(ctx, p2, "match",
                                      analyzer=ctx.index_analyzer())
            allowed = (
                r.docmap().join(ctx.docs.where(pred), ctx.id_col).select("nss_doc_id")
            )
            return _ranked(bm25_topk_indexed(r, terms, k=k, mode=op, allowed=allowed),
                           ctx.id_col)
        # per-CLAUSE semantics (a multi-term must clause with the
        # default operator=or requires ONE of its terms, and
        # minimum_should_match counts clauses — BooleanQuery semantics,
        # identical to the exhaustive bool path and the aggs path)
        analyzer = ctx.index_analyzer()

        def clause_list(key):
            out = []
            for c in spec.get(key) or []:
                ct, cs = _one(c, f"bool.{key}")
                if ct != "match":
                    raise DslError(f"bool [{key}] clauses must be match queries")
                out.append(_match_clause(ctx, cs, "match", analyzer=analyzer))
            return out

        try:
            return bool_clauses_topk_indexed(
                r, must=clause_list("must"), should=clause_list("should"),
                must_not=clause_list("must_not"),
                minimum_should_match=int(spec.get("minimum_should_match", 0)),
                k=k,
            )
        except ValueError as e:
            raise DslError(f"[bool] {e}") from e
    return None


def _topk_frame(ctx: SearchContext, q: dict, k: int) -> DataFrame:
    from .exhaustive import topk

    typ, spec = _one(q, "query")
    if typ not in _QUERY_TYPES:
        raise DslError(f"unknown query type [{typ}]; supported: {_QUERY_TYPES}")
    tc, ic = ctx.text_col, ctx.id_col
    if typ == "multi_match":
        mspec, boost = _multi_match_spec(ctx, spec)
        if boost == 1.0:
            # boost-free multi_match IS the match query (single mapped
            # text field) — reuse every match path, indexed included
            return _topk_frame(ctx, {"match": mspec}, k)
        if ctx.reader is not None:
            from .wand import match_text_topk

            _require_doc_key(ctx)
            _f, params = _one(mspec, "match")
            params = _params(params, "query")
            op = params.get("operator", "or")
            if op not in ("or", "and"):
                raise DslError(f"[multi_match] operator must be or|and, got [{op}]")
            top = match_text_topk(ctx.reader, params["query"], k=k, mode=op)
            return _ranked(_boosted(top, boost), ctx.id_col)
        from .exhaustive import bm25_conjunctive, bm25_scores

        terms, op = _match_clause(ctx, mspec, "multi_match")
        fn = bm25_conjunctive if op == "and" else bm25_scores
        s = fn(ctx.docs, terms, id_col=ic, text_col=tc, round_to=None,
               tokenizer=ctx.analyzer)
        return topk(_boosted(s, boost), k=k)

    indexed = _indexed_topk(ctx, typ, spec, k)
    if indexed is not None:
        return indexed

    if typ == "match":
        from .exhaustive import bm25_conjunctive, bm25_scores

        _f, mparams = _one(spec, "match")
        mparams = _params(mparams, "query")
        if "fuzziness" in mparams:
            from .multiterm import expand_terms_corpus

            matcher = _fuzzy_match_matcher(ctx, mparams)
            exp = expand_terms_corpus(ctx.docs, matcher=matcher,
                                      id_col=ic, text_col=tc,
                                      tokenizer=ctx.analyzer)
            if not exp:
                spark = ctx.docs.sparkSession
                return spark.createDataFrame(
                    [], "doc_id long, score double, rank int")
            return topk(bm25_scores(ctx.docs, exp, id_col=ic, text_col=tc,
                                    round_to=4, tokenizer=ctx.analyzer),
                        k=k, round_to=None)
        if "minimum_should_match" in mparams:
            from .exhaustive import bm25_msm

            msm = _msm_int(mparams["minimum_should_match"], "match")
            spec2 = {_f: {kk: vv for kk, vv in mparams.items()
                          if kk != "minimum_should_match"}}
            terms, op = _match_clause(ctx, spec2, "match")
            if msm > 0 and op == "or":
                if msm > len(terms):
                    # a doc cannot match more distinct terms than queried
                    spark = ctx.docs.sparkSession
                    return spark.createDataFrame(
                        [], "doc_id long, score double, rank int")
                scored = bm25_msm(ctx.docs, terms, msm, id_col=ic, text_col=tc,
                                  round_to=4, tokenizer=ctx.analyzer)
                return topk(scored, k=k, round_to=None)
            # operator=and makes every term required — msm is a no-op
            # on required clauses (the Lucene rule)
            fn = bm25_conjunctive if op == "and" else bm25_scores
            return topk(fn(ctx.docs, terms, id_col=ic, text_col=tc,
                           round_to=None, tokenizer=ctx.analyzer), k=k)
        terms, op = _match_clause(ctx, spec, "match")
        fn = bm25_conjunctive if op == "and" else bm25_scores
        return topk(fn(ctx.docs, terms, id_col=ic, text_col=tc, round_to=None,
                       tokenizer=ctx.analyzer), k=k)

    if typ in ("term", "terms", "range", "exists", "ids", "match_all",
               "constant_score", "rank_feature", "match_none",
               "distance_feature"):
        return topk(_leaf_scores(ctx, typ, spec), k=k)

    if typ.startswith("span_"):
        # round-then-rank (the dictionary-expansion convention)
        return topk(_span_scores(ctx, typ, spec, round_to=4), k=k,
                    round_to=None)

    if typ == "intervals":
        return topk(_intervals_scores(ctx, spec, round_to=4), k=k,
                    round_to=None)

    if typ == "script_score":
        return topk(_script_scores(ctx, spec), k=k)

    if typ == "wrapper":
        # WrapperQueryBuilder: a base64-encoded JSON query body,
        # decoded and dispatched through the SAME translator — the
        # transport-embedding shape, not a new query semantics
        import base64
        import json as _json

        _reject_unknown(spec, {"query"}, "wrapper")
        raw = spec.get("query")
        if not isinstance(raw, str) or not raw:
            raise DslError("[wrapper] needs a base64 [query] string")
        try:
            inner = _json.loads(base64.b64decode(raw, validate=True))
        except Exception as e:
            raise DslError(f"[wrapper] query is not base64-encoded JSON: "
                           f"{e}") from e
        if not isinstance(inner, dict):
            raise DslError("[wrapper] decoded query must be an object")
        return _topk_frame(ctx, inner, k)

    if typ == "pinned":
        # PinnedQueryBuilder: the listed ids rank first IN LIST ORDER,
        # organic hits follow by their own scores; a pinned doc never
        # also appears organically. The reference pins with float
        # scores just above Float.MAX_VALUE/2 — the absolute pinned
        # score is an implementation detail there too; here the pinned
        # band is PINNED_BASE + (n − position) with PINNED_BASE far
        # above any BM25/cosine score, which preserves the contract
        # (pinned order, then organic order) with exact doubles in
        # both engines.
        _reject_unknown(spec, {"ids", "organic"}, "pinned")
        ids = spec.get("ids")
        if (not isinstance(ids, list) or not ids
                or not all(isinstance(v, int) and not isinstance(v, bool)
                           for v in ids)
                or len(set(ids)) != len(ids)):
            raise DslError("[pinned] needs a non-empty duplicate-free "
                           "integer [ids] list")
        if "organic" not in spec:
            raise DslError("[pinned] needs an [organic] query")
        org = _scores_frame(ctx, spec["organic"], "pinned.organic")
        base = 1.0e9
        n = len(ids)
        pin_score = F.create_map(*[
            x for i, v in enumerate(ids)
            for x in (F.lit(v), F.lit(base + (n - i)))
        ])
        pinned = (ctx.docs.where(F.col(ic).isin(ids))
                  .select(F.col(ic).alias("doc_id"))
                  .withColumn("score", pin_score[F.col("doc_id")]))
        organic = org.where(~F.col("doc_id").isin(ids))
        return topk(pinned.unionByName(organic), k=k)

    if typ == "knn":
        # same k/size interplay rule as neural: the pool is never
        # smaller than the requested size
        field, params = _one(spec, "knn")
        if not isinstance(params, dict):
            raise DslError("[knn] field spec must be an object")
        if "k" not in params:
            params = dict(params); params["k"] = max(k, 10)
        elif _int_param(params["k"], "knn.k") < k:
            params = dict(params); params["k"] = k
        top = _knn_topk(ctx, {field: params})
        w = F.row_number().over(Window.orderBy(F.col("cos").desc(),
                                               F.col("vec_id").asc()))
        out = top.select(F.col("vec_id").alias("doc_id"),
                         F.round("cos", 4).alias("score"),
                         w.cast("int").alias("rank"))
        return out.where(F.col("rank") <= k)

    if typ == "nested":
        return topk(_nested_scores(ctx, spec), k=k)

    if typ == "simple_query_string":
        return topk(_simple_query_scores(ctx, spec), k=k)

    if typ == "match_bool_prefix":
        return topk(_match_bool_prefix_scores(ctx, spec), k=k)

    if typ == "query_string":
        return topk(_query_string_scores(ctx, spec), k=k)

    if typ == "terms_set":
        # TermsSetQueryBuilder (Lucene CoveringQuery): a boolean OR of
        # term clauses, each doc gated on its own minimum — from a
        # numeric corpus column (minimum_should_match_field) or a
        # constant-integer script (the one script shape that is
        # deterministic without a script engine; anything else rejects).
        # On the analyzed text column the terms match tokens VERBATIM,
        # the term-query convention (terms_set is never analyzed).
        from .exhaustive import bm25_msm

        field, params = _one(spec, "terms_set")
        if field != tc:
            raise DslError(f"[terms_set] field [{field}] is not [{tc}] "
                           "(the analyzed text column)")
        if not isinstance(params, dict):
            raise DslError("[terms_set] field spec must be an object")
        _reject_unknown(params, {"terms", "minimum_should_match_field",
                                 "minimum_should_match_script"}, "terms_set")
        tlist = params.get("terms")
        if (not isinstance(tlist, list) or not tlist
                or not all(isinstance(t, str) and t for t in tlist)):
            raise DslError("[terms_set] needs a non-empty string [terms] list")
        has_field = "minimum_should_match_field" in params
        has_script = "minimum_should_match_script" in params
        if has_field == has_script:
            raise DslError("[terms_set] needs exactly one of "
                           "minimum_should_match_field / "
                           "minimum_should_match_script")
        try:
            if has_field:
                out = bm25_msm(ctx.docs, tlist,
                               msm_col=_col_name(
                                   params["minimum_should_match_field"]),
                               id_col=ic, text_col=tc, round_to=4,
                               tokenizer=ctx.analyzer)
            else:
                script = params["minimum_should_match_script"]
                if (not isinstance(script, dict)
                        or set(script) != {"source"}
                        or not str(script["source"]).strip().isdigit()):
                    raise DslError(
                        "[terms_set] minimum_should_match_script supports "
                        "only a constant integer source (no script engine)")
                m = int(str(script["source"]).strip())
                if m > len(set(tlist)):
                    # a doc cannot match more distinct terms than queried
                    spark = ctx.docs.sparkSession
                    return spark.createDataFrame(
                        [], "doc_id long, score double, rank int")
                out = bm25_msm(ctx.docs, tlist, max(m, 1),
                               id_col=ic, text_col=tc, round_to=4,
                               tokenizer=ctx.analyzer)
        except ValueError as e:
            raise DslError(f"[terms_set] {e}") from e
        return topk(out, k=k, round_to=None)

    if typ == "more_like_this":
        # MoreLikeThisQueryBuilder with one like-document reference:
        # interesting-term selection + boolean-OR rewrite in
        # query/mlt.py; raw-text likes and multi-doc likes are rejected
        # loudly, never approximated
        from . import mlt

        _reject_unknown(spec, {"fields", "like", "max_query_terms",
                               "min_term_freq", "min_doc_freq",
                               "minimum_should_match", "include"},
                        "more_like_this")
        fields = spec.get("fields", [tc])
        if fields != [tc]:
            raise DslError(f"[more_like_this] supports fields=[{tc!r}] "
                           f"(the analyzed text column), got {fields!r}")
        like = spec.get("like")
        if isinstance(like, dict):
            like = [like]
        if (not isinstance(like, list) or len(like) != 1
                or not isinstance(like[0], dict)):
            raise DslError("[more_like_this] supports exactly one "
                           "{'_id': N} like-document reference")
        ref = like[0]
        _reject_unknown(ref, {"_id"}, "more_like_this.like")
        if ("_id" not in ref or isinstance(ref["_id"], bool)
                or not isinstance(ref["_id"], int)):
            raise DslError("[more_like_this] like._id must be an integer "
                           "doc id")
        try:
            return mlt.more_like_this_topk(
                ctx.docs, ref["_id"],
                max_query_terms=int(spec.get("max_query_terms",
                                             mlt.MAX_QUERY_TERMS)),
                min_term_freq=int(spec.get("min_term_freq",
                                           mlt.MIN_TERM_FREQ)),
                min_doc_freq=int(spec.get("min_doc_freq",
                                          mlt.MIN_DOC_FREQ)),
                minimum_should_match=spec.get("minimum_should_match",
                                              mlt.DEFAULT_MSM),
                include=bool(spec.get("include", False)),
                k=k, id_col=ic, text_col=tc,
            )
        except ValueError as e:
            raise DslError(f"[more_like_this] {e}") from e

    if typ == "boosting":
        # BoostingQueryBuilder: hits = the positive query's match set;
        # docs also matched by the negative query keep their positive
        # score DEMOTED by negative_boost (the negative score itself is
        # never used — Lucene FunctionScoreQuery.boostByQuery)
        _reject_unknown(spec, {"positive", "negative", "negative_boost"},
                        "boosting")
        for req in ("positive", "negative", "negative_boost"):
            if req not in spec:
                raise DslError(f"[boosting] needs [{req}]")
        nb = spec["negative_boost"]
        if (not isinstance(nb, (int, float)) or isinstance(nb, bool)
                or not 0.0 <= float(nb) <= 1.0):
            raise DslError(f"[boosting] negative_boost must be a float in "
                           f"[0, 1], got {nb!r}")
        pos = _scores_frame(ctx, spec["positive"], "boosting.positive")
        neg = (_scores_frame(ctx, spec["negative"], "boosting.negative")
               .select("doc_id").distinct().withColumn("nss_neg", F.lit(True)))
        demoted = pos.join(neg, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("nss_neg"),
                   F.col("score") * F.lit(float(nb)))
            .otherwise(F.col("score")).alias("score"),
        )
        return topk(demoted, k=k)

    if typ == "function_score":
        # FunctionScoreQueryBuilder with ONE function — either
        # field_value_factor or a decay function (gauss/exp/linear on a
        # numeric field): match set = the wrapped query's (default
        # match_all); per-doc factor combined by boost_mode. For
        # field_value_factor without [missing], docs whose field is
        # NULL drop from the result (the reference errors per-doc there
        # — the translator's documented boundary keeps the pipeline
        # total); decay functions score missing fields 1.0 (the
        # documented OpenSearch rule).
        _reject_unknown(spec, {"query", "field_value_factor", "boost_mode",
                               "gauss", "exp", "linear"}, "function_score")
        fn_keys = [kk for kk in ("field_value_factor", "gauss", "exp",
                                 "linear") if kk in spec]
        if len(fn_keys) != 1:
            raise DslError("[function_score] supports exactly one function: "
                           "field_value_factor | gauss | exp | linear")
        boost_mode = spec.get("boost_mode", "multiply")
        if boost_mode not in ("multiply", "sum", "replace"):
            raise DslError(f"[function_score] boost_mode must be "
                           f"multiply|sum|replace, got [{boost_mode}]")
        if fn_keys[0] in ("gauss", "exp", "linear"):
            kind = fn_keys[0]
            fld, dparams = _one(spec[kind], kind)
            fld = _col_name(fld)
            if fld == tc:
                raise DslError(f"[{kind}] field [{fld}] is the analyzed "
                               "text column; decay needs a numeric field")
            if not isinstance(dparams, dict):
                raise DslError(f"[{kind}] field spec must be an object")
            _reject_unknown(dparams, {"origin", "scale", "offset", "decay"},
                            kind)
            try:
                fexpr = decay_factor_sql(
                    kind, fld,
                    origin=float(dparams["origin"]),
                    scale=float(dparams["scale"]),
                    offset=float(dparams.get("offset", 0.0)),
                    decay=float(dparams.get("decay", 0.5)),
                )
            except (KeyError, TypeError) as e:
                raise DslError(f"[{kind}] needs numeric origin and scale") from e
            except ValueError as e:
                raise DslError(f"[{kind}] {e}") from e
            base = spec.get("query", {"match_all": {}})
            s = _scores_frame(ctx, base, "function_score.query")
            joined = s.join(
                ctx.docs.select(F.col(ic).alias("doc_id"),
                                F.expr(fexpr).alias("nss_f")),
                "doc_id",
            )
            combined = {
                "multiply": F.col("score") * F.col("nss_f"),
                "sum": F.col("score") + F.col("nss_f"),
                "replace": F.col("nss_f"),
            }[boost_mode]
            return topk(joined.select("doc_id", combined.alias("score")), k=k)
        fvf = spec["field_value_factor"]
        if not isinstance(fvf, dict) or "field" not in fvf:
            raise DslError("[field_value_factor] needs a [field]")
        _reject_unknown(fvf, {"field", "factor", "modifier", "missing"},
                        "field_value_factor")
        fld = _col_name(fvf["field"])
        if fld == tc:
            raise DslError(f"[field_value_factor] field [{fld}] is the "
                           "analyzed text column; it needs a numeric field")
        factor = float(fvf.get("factor", 1.0))
        modifier = fvf.get("modifier", "none")
        mods = {
            "none": lambda c: c,
            "log1p": lambda c: F.log10(c + F.lit(1.0)),
            "log2p": lambda c: F.log10(c + F.lit(2.0)),
            "ln1p": lambda c: F.log(c + F.lit(1.0)),
            "ln2p": lambda c: F.log(c + F.lit(2.0)),
            "sqrt": F.sqrt,
            "square": lambda c: c * c,
            "reciprocal": lambda c: F.lit(1.0) / c,
        }
        if modifier not in mods:
            raise DslError(f"[field_value_factor] modifier must be one of "
                           f"{sorted(mods)}, got [{modifier}]")
        base = spec.get("query", {"match_all": {}})
        s = _scores_frame(ctx, base, "function_score.query")
        val = F.col(fld).cast("double")
        if "missing" in fvf:
            val = F.coalesce(val, F.lit(float(fvf["missing"])))
        fval = mods[modifier](val * F.lit(factor))
        joined = s.join(
            ctx.docs.select(F.col(ic).alias("doc_id"), fval.alias("nss_f")),
            "doc_id",
        ).where(F.col("nss_f").isNotNull())
        combined = {
            "multiply": F.col("score") * F.col("nss_f"),
            "sum": F.col("score") + F.col("nss_f"),
            "replace": F.col("nss_f"),
        }[boost_mode]
        return topk(joined.select("doc_id", combined.alias("score")), k=k)

    if typ == "match_phrase":
        return topk(_phrase_scores(ctx, spec), k=k)

    if typ == "match_phrase_prefix":
        from .multiterm import phrase_prefix_topk

        field, params = _one(spec, "match_phrase_prefix")
        params = _params(params, "query")
        _reject_unknown(params, {"query", "max_expansions"}, "match_phrase_prefix")
        toks = analyze_query(params["query"], ctx.analyzer)
        if not toks:
            raise DslError("[match_phrase_prefix] query analyzed to zero tokens")
        kw = {"max_expansions": int(params["max_expansions"])} if "max_expansions" in params else {}
        return phrase_prefix_topk(ctx.docs, toks[:-1], toks[-1], k=k,
                                  id_col=ic, text_col=tc, tokenizer=ctx.analyzer, **kw)

    if typ in ("prefix", "wildcard", "fuzzy", "regexp"):
        from . import multiterm

        field, params = _one(spec, typ)
        params = _params(params, "value")
        allowed = {"value", "max_expansions"}
        if typ == "fuzzy":
            allowed.add("fuzziness")
        _reject_unknown(params, allowed, typ)
        kw = {"max_expansions": int(params["max_expansions"])} if "max_expansions" in params else {}
        if typ == "fuzzy" and "fuzziness" in params:
            kw["max_edits"] = int(params["fuzziness"])
        fn = {"prefix": multiterm.prefix_topk, "wildcard": multiterm.wildcard_topk,
              "fuzzy": multiterm.fuzzy_topk, "regexp": multiterm.regexp_topk}[typ]
        try:
            return fn(ctx.docs, params["value"], k=k, id_col=ic, text_col=tc,
                      tokenizer=ctx.analyzer, **kw)
        except ValueError as e:
            raise DslError(f"[{typ}] {e}") from e

    if typ == "bool":
        from .booleans import bool_clauses_topk

        _reject_unknown(spec,
                        {"must", "should", "must_not", "minimum_should_match",
                         "filter"}, "bool")
        if spec.get("filter"):
            # FILTER occur (HybridQuery.java:48-59 semantics): the
            # predicate restricts the MATCH SET, scores and stats stay
            # global — never re-scored, never affecting IDF
            from .exhaustive import topk
            from .filters import filtered_scores

            scoring = {kk: vv for kk, vv in spec.items() if kk != "filter"}
            preds = [_predicate_sql(c) for c in spec["filter"]]
            pred = F.expr(" AND ".join(f"({p})" for p in preds))
            if set(scoring) == {"must"} and len(scoring["must"]) == 1:
                from .exhaustive import bm25_conjunctive, bm25_scores

                terms, op = _match_clause(
                    ctx, _one(scoring["must"][0], "bool.must")[1], "match")
                fn = bm25_conjunctive if op == "and" else bm25_scores
                scores = fn(ctx.docs, terms, id_col=ic, text_col=tc,
                            round_to=None, tokenizer=ctx.analyzer)
                return topk(filtered_scores(scores, ctx.docs, pred), k=k)
            raise DslError("[bool] filter context supports a single must "
                           "match clause (the FILTER-occur shape)")

        # per-CLAUSE semantics: each match clause is its own scorer
        # (OR over its terms by default, AND with operator=and);
        # minimum_should_match counts clauses, not terms
        def clause_list(key):
            out = []
            for c in spec.get(key) or []:
                ct, cs = _one(c, f"bool.{key}")
                if ct != "match":
                    raise DslError(f"bool [{key}] clauses must be match queries")
                out.append(_match_clause(ctx, cs, "match"))
            return out

        try:
            return bool_clauses_topk(
                ctx.docs, must=clause_list("must"), should=clause_list("should"),
                must_not=clause_list("must_not"),
                minimum_should_match=int(spec.get("minimum_should_match", 0)),
                k=k, id_col=ic, text_col=tc, tokenizer=ctx.analyzer,
            )
        except ValueError as e:
            raise DslError(f"[bool] {e}") from e

    if typ == "dis_max":
        from .booleans import dis_max_topk

        _reject_unknown(spec, {"queries", "tie_breaker"}, "dis_max")
        tb = float(spec.get("tie_breaker", 0.0))
        if not 0.0 <= tb <= 1.0:
            raise DslError(f"[dis_max] tie_breaker must be in [0, 1], got {tb}")
        subs = spec.get("queries")
        if not isinstance(subs, list) or not subs:
            raise DslError("[dis_max] needs a non-empty [queries] list")
        parsed = [_one(sq, "dis_max sub-query") for sq in subs]
        if all(t == "match" for t, _ in parsed):
            clauses = [_match_clause(ctx, s, "match") for _, s in parsed]
            if all(op == "or" for _, op in clauses):
                # all-OR fast path: every sub-query scores in ONE
                # corpus traversal (bm25_scores_by_group)
                groups = [terms for terms, _ in clauses]
                return dis_max_topk(ctx.docs, groups, tie_breaker=tb,
                                    k=k, id_col=ic, text_col=tc,
                                    tokenizer=ctx.analyzer)
            # all-match with an AND sub: per-sub frames straight from
            # the already-parsed clauses (bm25_conjunctive for AND)
            from .exhaustive import bm25_conjunctive, bm25_scores

            tagged = None
            for i, (terms, op) in enumerate(clauses):
                fn = bm25_conjunctive if op == "and" else bm25_scores
                s = fn(ctx.docs, terms, id_col=ic, text_col=tc,
                       round_to=None, tokenizer=ctx.analyzer).select(
                    F.lit(i).alias("subquery_idx"), "doc_id", "score")
                tagged = s if tagged is None else tagged.unionByName(s)
        else:
            # heterogeneous sub-queries — the reference's own two-phase
            # IT composes DisMax over neural_sparse + match_all
            # (NeuralSparseTwoPhaseProcessorIT.java:427-430); per-sub
            # score frames reduce by Lucene's DisjunctionMaxQuery rule:
            # max + tie_breaker * (sum of the rest)
            tagged = None
            for i, sq in enumerate(subs):
                s = _sub_scores(ctx, sq, i)
                tagged = s if tagged is None else tagged.unionByName(s)
        scored = tagged.groupBy("doc_id").agg(
            (F.max("score")
             + F.lit(tb) * (F.sum("score") - F.max("score"))).alias("score"))
        return topk(scored, k=k)

    if typ == "neural":
        # the neural query's own k is the ANN candidate pool; the BODY
        # size (the k passed here) bounds the returned hits. One rule
        # for both cases: the pool is never smaller than the size —
        # a missing k defaults to max(size, 10), an explicit k < size
        # is widened to size (so size hits always come back)
        field, params = _one(spec, "neural")
        params = _params(params, "query_vector_id")
        if "k" not in params:
            params = dict(params); params["k"] = max(k, 10)
        elif _int_param(params["k"], "neural.k") < k:
            params = dict(params); params["k"] = k
        top = _neural_topk(ctx, {field: params})
        w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
        out = top.select(F.col("vec_id").alias("doc_id"),
                         F.round("cos", 4).alias("score"),
                         w.cast("int").alias("rank"))
        return out.where(F.col("rank") <= k)

    if typ == "neural_sparse":
        from .exhaustive import topk

        scores = _sub_scores(ctx, {typ: spec}, 0).drop("subquery_idx")
        return topk(scores, k=k)

    raise DslError(f"[{typ}] is only valid inside a hybrid query")  # pragma: no cover


def _parse_sorts(body_sort: Any) -> list[tuple[str, str]]:
    sorts = []
    for s in body_sort:
        if isinstance(s, str):
            sorts.append((s, "asc"))
        else:
            col, o = _one(s, "sort")
            sorts.append((col, o["order"] if isinstance(o, dict) else o))
    return sorts


def _phrase_terms(ctx: SearchContext, spec: Any, analyzer: str) -> list[str]:
    field, params = _one(spec, "match_phrase")
    params = _params(params, "query")
    _reject_unknown(params, {"query", "slop"}, "match_phrase")
    if field != ctx.text_col:
        raise DslError(f"[match_phrase] field [{field}] is not [{ctx.text_col}]")
    toks = analyze_query(params["query"], analyzer)
    if not toks:
        raise DslError("[match_phrase] query analyzed to zero tokens")
    return sorted(set(toks))


def _explainable_terms(ctx: SearchContext, typ: str, spec: Any) -> list[str]:
    """The scoring terms whose per-term contributions sum EXACTLY to
    each hit's score — the invariant the factor table exposes.
    Restricted to shapes where it holds: match, match_phrase (phrase
    queries score by term statistics), and bool bodies whose scoring
    clauses are all operator=or with no term repeated across clauses
    (an AND clause can match partially without scoring; a repeated term
    scores once per clause)."""
    analyzer = ctx.index_analyzer() if ctx.reader else ctx.analyzer
    if typ == "match":
        terms, _ = _match_clause(ctx, spec, "match", analyzer=analyzer)
        return terms
    if typ == "match_phrase":
        return _phrase_terms(ctx, spec, analyzer)
    if typ == "bool":
        # must_not/filter clauses are non-scoring — they shape the hit
        # list (which comes from the dispatched bool kernel) but never
        # enter the factor breakdown
        seen: set[str] = set()
        for key in ("must", "should"):
            for c in spec.get(key) or []:
                ct, cs = _one(c, f"bool.{key}")
                if ct != "match":
                    raise DslError(f"bool [{key}] clauses must be match queries")
                terms, op = _match_clause(ctx, cs, "match", analyzer=analyzer)
                if op != "or":
                    raise DslError("[explain] bool clauses must be operator=or "
                                   "(a partially-matched AND clause breaks the "
                                   "contribution-sum invariant)")
                if dup := seen & set(terms):
                    raise DslError(f"[explain] terms repeated across clauses "
                                   f"{sorted(dup)} would double-count")
                seen |= set(terms)
        if not seen:
            raise DslError("bool query needs at least one scoring clause")
        return sorted(seen)
    raise DslError("[explain] supports match, match_phrase and bool bodies")


def _highlightable_terms(ctx: SearchContext, typ: str, spec: Any) -> list[str]:
    """All scoring terms of the body — the snippet window centers on
    the first occurrence of any of them (no sum invariant needed)."""
    analyzer = ctx.index_analyzer() if ctx.reader else ctx.analyzer
    if typ == "match":
        terms, _ = _match_clause(ctx, spec, "match", analyzer=analyzer)
        return terms
    if typ == "match_phrase":
        return _phrase_terms(ctx, spec, analyzer)
    if typ == "bool":
        out: set[str] = set()
        for key in ("must", "should"):
            for c in spec.get(key) or []:
                ct, cs = _one(c, f"bool.{key}")
                if ct != "match":
                    raise DslError(f"bool [{key}] clauses must be match queries")
                terms, _ = _match_clause(ctx, cs, "match", analyzer=analyzer)
                out |= set(terms)
        if not out:
            raise DslError("bool query needs at least one scoring clause")
        return sorted(out)
    raise DslError("[highlight] supports match, match_phrase and bool bodies")


def _plain_or_match(ctx: SearchContext, typ: str, spec: Any) -> bool:
    return (typ == "match" and ctx.reader is None
            and _match_clause(ctx, spec, "match")[1] == "or")


def search(ctx: SearchContext, body: dict, pipeline: dict | None = None) -> DataFrame:
    """Run one OpenSearch-style search body. ``pipeline`` carries the
    hybrid normalization/combination config (the plugin configures it
    on a search pipeline, not in the body)."""
    if "aggs" in body:
        if int(body.get("size", 0)) != 0:
            raise DslError("search() returns one frame; a hits+aggs body "
                           "(size > 0 with aggs) goes through "
                           "search_with_aggs(), which returns both")
        return aggregate(ctx, body)
    if "suggest" in body:
        # the suggest section (term suggester): a spell-correction
        # frame, not a hit list — combining it with a query in one body
        # is rejected (one frame per search() call, like aggs)
        from .suggest import term_suggest

        if set(body) - {"suggest", "size"} or int(body.get("size", 0)) != 0:
            raise DslError("[suggest] bodies support the suggest section "
                           "only (size: 0)")
        name, sspec = _one(body["suggest"], "suggest")
        if not isinstance(sspec, dict):
            raise DslError(f"[suggest.{name}] must be an object")
        if "completion" in sspec:
            # completion suggester: prefix or regex against the term
            # dictionary (the completion-field analog; df = weight)
            from .multiterm import regexp_matcher
            from .suggest import completion_suggest

            _reject_unknown(sspec, {"prefix", "regex", "completion"},
                            f"suggest.{name}")
            if ("prefix" in sspec) == ("regex" in sspec):
                raise DslError(f"[suggest.{name}] completion needs exactly "
                               "one of [prefix] / [regex]")
            cspec = sspec["completion"]
            if not isinstance(cspec, dict):
                raise DslError(f"[suggest.{name}.completion] must be an "
                               "object")
            _reject_unknown(cspec, {"field", "size"},
                            f"suggest.{name}.completion")
            if cspec.get("field", ctx.text_col) != ctx.text_col:
                raise DslError(f"[suggest.{name}.completion] field must be "
                               f"[{ctx.text_col}]")
            size_v = _int_param(cspec.get("size"),
                               f"suggest.{name}.completion.size", default=5)
            try:
                matcher = None
                if "regex" in sspec:
                    if not isinstance(sspec["regex"], str):
                        raise ValueError("regex must be a string")
                    matcher = regexp_matcher(sspec["regex"])
                return completion_suggest(
                    ctx.docs, prefix=sspec.get("prefix"), matcher=matcher,
                    size=size_v, analyzer=ctx.analyzer,
                    id_col=ctx.id_col, text_col=ctx.text_col,
                )
            except (TypeError, ValueError) as e:
                raise DslError(f"[suggest.{name}] {e}") from e
        _reject_unknown(sspec, {"text", "term"}, f"suggest.{name}")
        if "text" not in sspec or "term" not in sspec:
            raise DslError(f"[suggest.{name}] needs [text] and [term]")
        tspec = sspec["term"]
        if not isinstance(tspec, dict):
            raise DslError(f"[suggest.{name}.term] must be an object")
        _reject_unknown(tspec, {"field", "size", "max_edits",
                                "suggest_mode"}, f"suggest.{name}.term")
        if tspec.get("field", ctx.text_col) != ctx.text_col:
            raise DslError(f"[suggest.{name}.term] field must be "
                           f"[{ctx.text_col}]")
        try:
            return term_suggest(
                ctx.docs, sspec["text"],
                size=int(tspec.get("size", 5)),
                max_edits=int(tspec.get("max_edits", 2)),
                suggest_mode=tspec.get("suggest_mode", "missing"),
                analyzer=ctx.analyzer,
                id_col=ctx.id_col, text_col=ctx.text_col,
            )
        except (TypeError, ValueError) as e:
            raise DslError(f"[suggest.{name}] {e}") from e
    _reject_unknown(body, _BODY_KEYS, "search body")
    if "query" not in body:
        raise DslError("search body needs a [query]")
    q = body["query"]
    typ, spec = _one(q, "query")
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))

    if body.get("explain"):
        # per-hit scoring explanation (Lucene Explanation analog): the
        # BM25 factor table, on match / match_phrase / bool bodies and
        # on the indexed path (the hits come from the dispatched kernel,
        # the breakdown joins to them — bounded by k × |terms| rows)
        from .exhaustive import bm25_explain

        if from_ != 0 or set(body) - {"query", "size", "explain"}:
            raise DslError("[explain] bodies support query + size only")
        if typ == "hybrid":
            # hybrid bodies explain through the NORMALIZATION provenance
            # processor (the plugin's explanation response processor
            # documents raw/normalized/weight/combined per sub-query),
            # not the per-term BM25 factor table
            from .hybrid import explain_scores

            if int(body.get("size", 0)) != 0:
                raise DslError("[explain] hybrid provenance covers the "
                               "FULL match set; use size: 0")
            hs, tagged = _hybrid_tagged(ctx, spec, pipeline, 10, 0)
            if hs.normalization == "rrf":
                raise DslError("[explain] rrf is rank-based — it has no "
                               "normalization provenance to explain")
            out = explain_scores(tagged, hs.normalization, hs.combination,
                                 hs.weights, hs.n_subqueries)
            return out.select(
                "doc_id",
                F.col("subquery_idx").cast("int").alias("subquery_idx"),
                F.round("raw_score", 4).alias("raw_score"),
                F.round("norm_score", 4).alias("norm_score"),
                "weight",
                F.round("combined_score", 4).alias("combined_score"),
            )
        terms = _explainable_terms(ctx, typ, spec)
        if _plain_or_match(ctx, typ, spec):
            hits = None  # the scorer's own top-k IS the hit list
        else:
            hits = _topk_frame(ctx, q, size)
        return bm25_explain(ctx.docs, terms, k=size,
                            id_col=ctx.id_col, text_col=ctx.text_col, hits=hits,
                            tokenizer=ctx.index_analyzer())

    if "highlight" in body:
        from .highlight import highlight_topk

        hl = body["highlight"]
        _reject_unknown(hl, {"fields", "window"}, "highlight")
        field, fspec = _one(hl["fields"], "highlight.fields")
        if field != ctx.text_col:
            raise DslError("[highlight] supports the corpus text field only")
        if from_ != 0 or set(body) - {"query", "size", "highlight"}:
            raise DslError("[highlight] bodies support query + size only")
        kw = {"window": int(hl["window"])} if "window" in hl else {}
        terms = _highlightable_terms(ctx, typ, spec)
        if _plain_or_match(ctx, typ, spec):
            hits = None
        else:
            # phrase/bool/indexed: the dispatched kernel produces the
            # hits; the highlighter only windows their token streams
            hits = _topk_frame(ctx, q, size)
        return highlight_topk(ctx.docs, terms, k=size,
                              id_col=ctx.id_col, text_col=ctx.text_col,
                              hits=hits, tokenizer=ctx.index_analyzer(), **kw)

    if "sort" in body and typ != "hybrid":
        # OpenSearch sort semantics: the sort REPLACES relevance
        # ranking — the size window cuts the sorted FULL hit set, and
        # search_after keyset-pages through that order
        # (PagingFieldCollector; reference HybridCollectorManager.java:
        # 295-310 builds exactly these field collectors)
        from .paginate import search_after_fields, sort_by_fields

        _reject_unknown(body, {"query", "size", "sort", "search_after",
                               "post_filter"}, "sort body")
        sorts = _parse_sorts(body["sort"])
        fields = [_col_name(c) for c, _ in sorts]
        matched = _matched_docs(ctx, q)
        if "post_filter" in body:
            matched = matched.where(F.expr(_predicate_sql(body["post_filter"])))
        base = matched.select(F.col(ctx.id_col).alias("doc_id"), *fields)
        if "search_after" in body:
            sa = body["search_after"]
            if not isinstance(sa, (list, tuple)) or len(sa) != len(sorts) + 1:
                raise DslError("[search_after] with sort expects "
                               "[*sort_values, doc_id] — the previous page's "
                               "last sort tuple plus its doc_id tiebreak")
            return search_after_fields(base, sorts, list(sa[:-1]), int(sa[-1]),
                                       k=size)
        return sort_by_fields(base, sorts, k=size)

    if typ == "hybrid":
        from .hybrid import combine, normalize, rrf_combine

        # hybrid cannot contain hybrid: _sub_scores dispatches only
        # match/neural/neural_sparse/nested + the constant-score leaf
        # family, which enforces the top-level-only placement rule by
        # construction (a `nested` sub-query is a leaf here — its inner
        # query scores child docs, never another compound)
        _reject_unknown(body, {"query", "size", "from", "post_filter",
                               "sort", "collapse"}, "hybrid body")
        hs, tagged = _hybrid_tagged(ctx, spec, pipeline, size, from_)
        n = hs.n_subqueries
        if hs.normalization == "rrf":
            out = rrf_combine(tagged, weights=hs.weights, n_subqueries=n)
        else:
            out = combine(normalize(tagged, hs.normalization), hs.combination,
                          hs.weights or [1.0 / n] * n, n,
                          keep_negative=hs.normalization == "z_score")
        out = out.withColumn("score", F.round("score", 4))
        from .exhaustive import topk

        return _post_stages(ctx, topk(out, k=size), body)

    if "search_after" in body:
        # keyset pagination: the client supplies the previous page's
        # last (score, doc_id) sort tuple — the page is O(size) work
        # after one predicate, no deepening from-offset scan
        from .exhaustive import bm25_scores
        from .paginate import search_after

        if typ != "match" or set(body) - {"query", "size", "search_after"}:
            raise DslError("[search_after] supports plain match bodies "
                           "(query + size only)")
        sa = body["search_after"]
        if not isinstance(sa, (list, tuple)) or len(sa) != 2:
            raise DslError("[search_after] expects [score, doc_id] — the "
                           "previous page's last sort tuple")
        scores = bm25_scores(ctx.docs, _match_terms(ctx, spec, "match"),
                             id_col=ctx.id_col, text_col=ctx.text_col, round_to=4,
                             tokenizer=ctx.analyzer)
        page = search_after(scores, float(sa[0]), int(sa[1]), k=size)
        w = Window.orderBy(F.col("score").desc(), F.col(ctx.id_col).asc())
        return page.withColumn("rank", F.row_number().over(w).cast("int"))

    if "rescore" in body:
        # OpenSearch rescore: re-rank the top window_size hits of the
        # main query by a weighted combination with a rescore query's
        # scores — the window is re-ranked, the corpus never re-scored
        from .exhaustive import bm25_scores
        from .rerank import rescore as _rescore

        if typ != "match" or set(body) - {"query", "size", "rescore"}:
            raise DslError("[rescore] supports plain match bodies "
                           "(query + size only)")
        rs = body["rescore"]
        _reject_unknown(rs, {"window_size", "query"}, "rescore")
        rq = rs["query"]
        _reject_unknown(rq, {"rescore_query", "query_weight",
                             "rescore_query_weight"}, "rescore.query")
        rtyp, rspec = _one(rq["rescore_query"], "rescore_query")
        if rtyp != "match":
            raise DslError("[rescore_query] must be a match query")
        window = int(rs.get("window_size", 10))
        main = bm25_scores(ctx.docs, _match_terms(ctx, spec, "match"),
                           id_col=ctx.id_col, text_col=ctx.text_col, round_to=None,
                           tokenizer=ctx.analyzer)
        win = main.orderBy(F.col("score").desc(), F.col(ctx.id_col).asc()).limit(window)
        rsc = bm25_scores(ctx.docs, _match_terms(ctx, rspec, "match"),
                          id_col=ctx.id_col, text_col=ctx.text_col, round_to=None,
                          tokenizer=ctx.analyzer)
        out = _rescore(win, rsc,
                       weight_original=float(rq.get("query_weight", 1.0)),
                       weight_rescore=float(rq.get("rescore_query_weight", 1.0)),
                       k=size)
        return out.withColumn("score", F.round("score", 4))

    if from_ != 0:
        # supported for non-hybrid: fetch from+size, drop leading ranks
        top = _topk_frame(ctx, q, from_ + size)
        top = top.where(F.col("rank") > from_)
        return _post_stages(ctx, top, body)
    return _post_stages(ctx, _topk_frame(ctx, q, size), body)


def _post_stages(ctx: SearchContext, out: DataFrame, body: dict) -> DataFrame:
    if "post_filter" in body:
        from .filters import post_filter

        out = post_filter(out, ctx.docs, F.expr(_predicate_sql(body["post_filter"])))
    if "sort" in body:
        from .paginate import sort_by_fields

        sorts = _parse_sorts(body["sort"])
        joined = out.join(ctx.docs.drop(ctx.text_col), ctx.id_col)
        out = sort_by_fields(joined, sorts, k=int(body.get("size", 10)))
    if "collapse" in body:
        from .paginate import field_collapse

        out = field_collapse(out, ctx.docs, body["collapse"]["field"],
                             k=int(body.get("size", 10)), id_col=ctx.id_col)
    return out


# --- aggregations (size=0 analytics bodies) -------------------------------

_METRICS = ("avg", "sum", "min", "max", "value_count", "cardinality")


def _metric_expr(name: str, typ: str, spec: dict):
    _reject_unknown(spec, {"field"}, typ)
    c = F.col(spec["field"])
    if typ == "avg":
        return F.round(F.avg(c), 4).alias(name)
    if typ == "sum":
        return F.round(F.sum(c).cast("double"), 4).alias(name)
    if typ == "min":
        return F.min(c).alias(name)
    if typ == "max":
        return F.max(c).alias(name)
    if typ == "value_count":
        return F.count(c).alias(name)
    if typ == "cardinality":
        # exact distinct count (the plugin's cardinality is an HLL
        # approximation at scale — the engine's HLL variant is
        # query/aggs.cardinality_hll, gated by hybrid_cardinality_hll)
        return F.count_distinct(c).alias(name)
    raise DslError(f"unknown metric agg [{typ}]; supported: {sorted(_METRICS)}")


def _clause_matched(ctx: SearchContext, tok, clause: dict) -> DataFrame:
    """Doc-id set matching one match clause (OR over its terms by
    default, all-terms with operator=and — same per-clause semantics
    as the search() bool path, so hits and aggs agree on one body)."""
    ct, cs = _one(clause, "bool clause")
    if ct != "match":
        raise DslError("aggs bool clauses must be match queries")
    # index analyzer: search() dispatches this body to the indexed bool
    # kernel, so the aggs hit set must analyze the same way or the two
    # disagree on one body (no reader -> ctx.analyzer, unchanged)
    terms, op = _match_clause(ctx, cs, "match", analyzer=ctx.index_analyzer())
    m = (
        tok.select(ctx.id_col, F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
    )
    if op == "and":
        return (
            m.groupBy(ctx.id_col)
            .agg(F.count_distinct("term").alias("_nt"))
            .where(F.col("_nt") == len(terms))
            .select(ctx.id_col)
        )
    return m.select(ctx.id_col).distinct()


def _matched_docs(ctx: SearchContext, q: dict) -> DataFrame:
    """The FULL hit set (no top-k cut) joined back to the corpus —
    aggregations run over every matching doc, as in the reference
    (aggs see all hits, not the size window)."""
    from .exhaustive import tokenized

    typ, spec = _one(q, "query")
    if typ == "match" and ctx.reader is not None:
        # indexed hit set: the kernel's match stream through docmap —
        # no corpus re-tokenize for an aggs/sort body when an index
        # exists (same dispatch rule as the top-k path)
        from .wand import matched_ids_indexed

        _require_doc_key(ctx)
        terms, op = _match_clause(ctx, spec, "match",
                                  analyzer=ctx.index_analyzer())
        ids = matched_ids_indexed(ctx.reader, terms, mode=op)
        m = (
            ctx.reader.docmap()
            .join(ids.select("nss_doc_id"), "nss_doc_id")
            .select(ctx.id_col)
        )
        return m.join(ctx.docs, ctx.id_col)
    if typ == "bool" and ctx.reader is not None:
        # indexed bool hit set: per-clause kernel match streams through
        # the SHARED gate builder (booleans.bool_gate_indexed — the same
        # gate the indexed bool top-k uses, so search() and aggregate()
        # match sets cannot drift), then docmap — no corpus re-tokenize
        from .booleans import bool_gate_indexed

        _require_doc_key(ctx)
        _reject_unknown(spec, {"must", "should", "must_not",
                               "minimum_should_match"}, "bool")

        def _clause(clause):
            ct, cs = _one(clause, "bool clause")
            if ct != "match":
                raise DslError("aggs bool clauses must be match queries")
            return _match_clause(ctx, cs, "match",
                                 analyzer=ctx.index_analyzer())

        must = [_clause(c) for c in spec.get("must") or []]
        should = [_clause(c) for c in spec.get("should") or []]
        must_not = [_clause(c) for c in spec.get("must_not") or []]
        if not must and not should:
            raise DslError("bool query needs at least one scoring clause")
        gate = bool_gate_indexed(
            ctx.reader, must, should, must_not,
            minimum_should_match=int(spec.get("minimum_should_match", 0)),
        )
        ids = (
            ctx.reader.docmap()
            .join(gate.select("nss_doc_id"), "nss_doc_id")
            .select(ctx.id_col)
        )
        return ids.join(ctx.docs, ctx.id_col)
    # corpus tokens: the index's own analyzer when a reader is set,
    # the context analyzer otherwise — the analyzer the search()
    # dispatch scores these bodies with. Built lazily: only the
    # match/bool fallthroughs consume the token stream.
    def tok_frame():
        return tokenized(ctx.docs, ctx.id_col, ctx.text_col,
                         tokenizer=ctx.index_analyzer())

    if typ == "match":
        tok = tok_frame()
        terms, op = _match_clause(ctx, spec, "match",
                                  analyzer=ctx.index_analyzer())
        m = (
            tok.select(ctx.id_col, F.explode("toks").alias("term"))
            .where(F.col("term").isin(terms))
        )
        if op == "and":
            m = (
                m.groupBy(ctx.id_col)
                .agg(F.count_distinct("term").alias("_nt"))
                .where(F.col("_nt") == len(terms))
                .select(ctx.id_col)
            )
        else:
            m = m.select(ctx.id_col).distinct()
    elif typ == "bool":
        tok = tok_frame()
        _reject_unknown(spec, {"must", "should", "must_not", "minimum_should_match"},
                        "bool")
        must = [_clause_matched(ctx, tok, c) for c in spec.get("must") or []]
        should = [_clause_matched(ctx, tok, c) for c in spec.get("should") or []]
        msm = int(spec.get("minimum_should_match", 0))
        if not must and not should:
            raise DslError("bool query needs at least one scoring clause")
        m = None
        for f in must:
            m = f if m is None else m.join(f, ctx.id_col)
        if should:
            # count how many should clauses each doc matches
            tagged = None
            for i, f in enumerate(should):
                t = f.select(ctx.id_col, F.lit(i).alias("_c"))
                tagged = t if tagged is None else tagged.unionByName(t)
            counts = tagged.groupBy(ctx.id_col).agg(F.count(F.lit(1)).alias("_ns"))
            need = msm if msm > 0 else (0 if must else 1)
            ok = counts.where(F.col("_ns") >= need).select(ctx.id_col)
            m = ok if m is None else (m.join(ok, ctx.id_col) if msm > 0 else m)
            if must and msm == 0:
                pass  # should is purely optional when must exists and msm=0
        for c in spec.get("must_not") or []:
            m = m.join(_clause_matched(ctx, tok, c), ctx.id_col, "left_anti")
        m = m.select(ctx.id_col)
    elif typ in ("term", "terms", "range", "exists", "match_all", "constant_score"):
        m = _leaf_scores(ctx, typ, spec).select(
            F.col("doc_id").alias(ctx.id_col)).distinct()
    elif typ == "nested":
        m = _nested_scores(ctx, spec).select(
            F.col("doc_id").alias(ctx.id_col)).distinct()
    elif typ == "hybrid":
        # a hybrid's hit set is the UNION of its sub-queries' matches
        # (HybridQueryScorer iterates all sub-scorers; totalHits counts
        # any-match docs) — aggs then run over every matched doc
        _reject_unknown(spec, {"queries"}, "hybrid")
        hsubs = spec.get("queries")
        if not isinstance(hsubs, list) or not hsubs:
            raise DslError("[hybrid] needs a non-empty [queries] list")
        m = None
        for i, sq in enumerate(hsubs):
            ids = _sub_scores(ctx, sq, i).select("doc_id")
            m = ids if m is None else m.unionByName(ids)
        m = m.distinct().select(F.col("doc_id").alias(ctx.id_col))
    else:
        raise DslError("aggs/sort hit sets support match, bool, hybrid and "
                       f"the constant-score leaf family, got [{typ}]")
    return m.join(ctx.docs, ctx.id_col)


def aggregate(ctx: SearchContext, body: dict) -> DataFrame:
    """Run a ``size: 0`` analytics body: one optional ``terms`` bucket
    agg (with metric sub-aggs) or a flat set of metric aggs over the
    full hit set. Scale shape: the hit-set join + ONE groupBy on the
    bucket field — identical to the gated hybrid_aggs family."""
    _reject_unknown(body, {"query", "size", "aggs"}, "aggs body")
    if int(body.get("size", 0)) != 0:
        raise DslError("aggs bodies must set size: 0 (hits+aggs in one "
                       "response is not supported; issue two searches)")
    matched = _matched_docs(ctx, body["query"])
    aggs = body["aggs"]
    if len(aggs) == 1:
        name, spec = _one(aggs, "aggs")
        if "terms" in spec:
            _reject_unknown(spec, {"terms", "aggs"}, name)
            t = spec["terms"]
            _reject_unknown(t, {"field", "size"}, "terms")
            subs = [F.count(F.lit(1)).alias("doc_count")]
            for sub_name, sub_spec in (spec.get("aggs") or {}).items():
                st, ss = _one(sub_spec, sub_name)
                subs.append(_metric_expr(sub_name, st, ss))
            out = matched.groupBy(t["field"]).agg(*subs)
            if "size" in t:
                out = out.orderBy(F.col("doc_count").desc(),
                                  F.col(t["field"]).asc()).limit(int(t["size"]))
            return out
    exprs = []
    for name, spec in aggs.items():
        st, ss = _one(spec, name)
        if st == "terms":
            raise DslError("terms must be the single top-level agg")
        exprs.append(_metric_expr(name, st, ss))
    return matched.agg(*exprs)


def search_with_aggs(
    ctx: SearchContext, body: dict, pipeline: dict | None = None
) -> tuple[DataFrame, DataFrame]:
    """Hits AND aggregations from ONE body — the reference returns both
    in one response (MetricAggregationsWithHybridQueryIT.java:83-179
    runs metric aggs alongside hybrid hits). Returns (hits, aggs): the
    hits frame is the ranked top-``size`` cut; the aggs frame is
    computed over the FULL hit set (aggregations see every matching
    doc, never the size window — HybridAggregationProcessor runs before
    the fetch phase truncates).

    Scale shape: the two frames share the query's matched set
    definition but materialize independently — the hits path keeps its
    TakeOrderedAndProject cut, the aggs path its single groupBy; no
    corpus pass is added over issuing the two bodies separately, and
    callers that cache ``ctx.docs`` pay the scan once."""
    if "aggs" not in body:
        raise DslError("search_with_aggs needs an [aggs] block — use "
                       "search() for hits-only bodies")
    size = int(body.get("size", 10))
    if size <= 0:
        raise DslError("search_with_aggs needs size > 0 — use search() "
                       "for size: 0 aggs-only bodies")
    hits_body = {kk: vv for kk, vv in body.items() if kk != "aggs"}
    aggs_body = {"query": body["query"], "size": 0, "aggs": body["aggs"]}
    return search(ctx, hits_body, pipeline), aggregate(ctx, aggs_body)


# --- msearch ---------------------------------------------------------------


def msearch(ctx: SearchContext, bodies: list[dict]) -> DataFrame:
    """Batch API (the reference's ``_msearch``): a list of search
    bodies executed together. With ``ctx.reader``, the plain match
    bodies of the batch compile into ONE multi-query kernel pass + ONE
    key lookup per shared size (``bm25_topk_indexed_multi`` — one
    local frame and 0 Spark jobs for a group under the driver
    executor's postings bound, 2 jobs above it; bit-identical per query
    to individual execution); every other hit-returning body (match_phrase, bool,
    dis_max, prefix/wildcard/fuzzy, nested, the constant-score leaf
    family, ...) dispatches through ``search()`` — its own indexed
    branches included — with the body's batch position tagged. Bodies
    whose result is not a (doc_id, score, rank) hit list (aggs, sort,
    explain, ...) are rejected by the ``{query, size}`` key gate, as
    in the single-body translator. Returns (query_idx, doc_id, score,
    rank) — query_idx = the body's position in the batch."""
    if ctx.reader is None:
        raise DslError("msearch needs ctx.reader (the batch kernel is the "
                       "indexed path); issue individual search() calls otherwise")
    _require_doc_key(ctx)
    from .wand import bm25_topk_indexed_multi

    analyzer = ctx.index_analyzer()
    match_bodies: list[tuple[int, tuple[list[str], str], int]] = []
    other_bodies: list[tuple[int, dict]] = []
    for i, body in enumerate(bodies):
        _reject_unknown(body, {"query", "size"}, "msearch body")
        typ, spec = _one(body.get("query"), "query")
        if typ == "match":
            q = _match_clause(ctx, spec, "match", analyzer=analyzer)
            match_bodies.append((i, q, int(body.get("size", 10))))
        else:
            other_bodies.append((i, body))
    if not match_bodies and not other_bodies:
        raise DslError("msearch needs at least one body")

    frames = []
    by_size: dict[int, list[tuple[int, tuple[list[str], str]]]] = {}
    for i, q, s in match_bodies:
        by_size.setdefault(s, []).append((i, q))
    for s, grp in sorted(by_size.items()):
        out = bm25_topk_indexed_multi(ctx.reader, [q for _, q in grp], k=s)
        # kernel query_idx is the group-local position — map it back to
        # the body's position in the batch (bounded literal map)
        remap = F.create_map(
            *[F.lit(x) for j, (i, _) in enumerate(grp) for x in (j, i)])
        frames.append(out.select(
            remap[F.col("query_idx")].cast("int").alias("query_idx"),
            F.col(ctx.id_col).alias("doc_id"), F.round("score", 4).alias("score"),
            "rank"))
    for i, body in other_bodies:
        hits = search(ctx, body)
        if set(hits.columns) != {"doc_id", "score", "rank"}:
            raise DslError(  # pragma: no cover - the key gate rejects these
                f"msearch body {i} did not produce a hit list")
        frames.append(hits.select(
            F.lit(i).cast("int").alias("query_idx"), "doc_id", "score", "rank"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
