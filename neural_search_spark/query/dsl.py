"""OpenSearch query-DSL translation: a search-body dict → DataFrame.

The reference's users issue JSON search bodies, not Java/Python calls —
completeness means accepting that surface. ``search(ctx, body)``
validates and translates a body onto the already-gated builders in this
package, so the translator adds NO new scoring semantics: a green DSL
gate row proves the dict → builder mapping, and the builders' own
oracles pin the math.

One handler per query type, as each of the reference's query builders
owns its ``fromXContent``: ``_HANDLERS`` maps every type to a
``_Handler`` that parses the type once and exposes its paths (raw
scores, exhaustive and indexed top-k, aggs/sort hit set, explain and
highlight terms). Every entry point dispatches through that table and
``_QUERY_TYPES`` and each "supported: …" message are read from it, so
**adding a query type means adding one handler entry**. Shared rules
live in one place each: the analyzer choice in ``_analyzer`` (the only
reader of ``ctx.analyzer`` and ``ctx.index_analyzer()``), the match and
bool clause parses in ``_match_params`` / ``_bool_spec``, number
coercion in ``_int_param`` / ``_float_param``, boost in ``_boosted``,
round-then-rank in ``_rank``, and builder ValueErrors become a
``DslError`` naming the query type in ``_rejects``.

Supported query types (each names its dispatch target):

* ``match`` (operator or|and; the raw string is analyzed with the
  context analyzer) → exhaustive.bm25_scores / bm25_conjunctive
* ``match_phrase`` (+ ``slop``) → exhaustive.bm25_phrase[_sloppy]
* ``match_phrase_prefix`` (``max_expansions``) → multiterm.phrase_prefix_topk
* ``prefix`` / ``wildcard`` / ``fuzzy`` / ``regexp`` → one dictionary
  matcher, expanded and scored as a rewritten boolean
* ``bool`` (must/should/must_not of match clauses +
  ``minimum_should_match``) → booleans.bool_clauses_topk
* ``dis_max`` (sub-queries + ``tie_breaker``) → booleans.dis_max_topk
* ``hybrid`` (≤5 scoring sub-queries; the normalization/combination
  config arrives via ``pipeline=`` exactly like the plugin's
  search-pipeline processor, validated by spec.HybridSpec) →
  hybrid.normalize/combine/rrf_combine
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
* the rest of the table — multi_match, boosting, function_score,
  script_score, pinned, wrapper, more_like_this, terms_set, the parser
  families, the span family and intervals — each documented on its
  handler below.

Body keys: ``query`` (required), ``size``, ``from`` (hybrid rejects
from≠0, mirroring HybridQueryPhaseSearcher.java:123-148), ``post_filter``
(term/terms/range/exists over corpus columns), ``sort``, ``collapse``. Anything
unknown raises ``DslError`` naming the supported set — the reference's
parsers are likewise strict (fromXContent throws on unknown fields).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial
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
    (an index.IndexReader) the translator dispatches every type with an
    indexed handler path onto the INDEXED kernels (the production path;
    the query string is then analyzed with the index's OWN analyzer, as
    Lucene's QueryBuilder does); dis_max and hybrid sub-queries score
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


# --- shared rules -----------------------------------------------------------


def _analyzer(ctx: SearchContext, indexed: bool) -> str:
    """The one analyzer rule. ``indexed`` paths — the index kernels, and
    whatever must agree with them under a reader (aggs/sort hit sets,
    explain, highlight, msearch, the parser families' clause frames) —
    analyze with the index's own analyzer, as Lucene's QueryBuilder
    analyzes with the field's; exhaustive scorers analyze with
    ``ctx.analyzer``, so query and corpus tokens agree. Without a
    reader both are ``ctx.analyzer``."""
    return ctx.index_analyzer() if indexed else ctx.analyzer


@contextmanager
def _rejects(what: str):
    """A builder's ValueError on a body it cannot serve (zero analyzed
    terms, a bad pattern, an unmet bool gate, ...) surfaces as the
    DslError naming the query type."""
    try:
        yield
    except DslError:
        raise
    except ValueError as e:
        raise DslError(f"[{what}] {e}") from e


def _one(d: Any, what: str) -> tuple[str, Any]:
    if not isinstance(d, dict) or len(d) != 1:
        raise DslError(f"[{what}] expects exactly one key, got {d!r}")
    return next(iter(d.items()))


def _params(spec: Any, value_key: str) -> dict:
    """Field spec may be shorthand (`{"text": "query string"}`) or the
    full object form (`{"text": {"query": ..., "slop": 2}}`)."""
    return dict(spec) if isinstance(spec, dict) else {value_key: spec}


def _reject_unknown(params: Any, allowed: set[str], what: str) -> None:
    if not isinstance(params, dict):
        raise DslError(f"[{what}] must be an object, got {params!r}")
    if unknown := set(params) - allowed:
        raise DslError(f"[{what}] does not support {sorted(unknown)}; "
                       f"supported: {sorted(allowed)}")


def _int_param(val: Any, what: str, lo: int | None = None) -> int:
    """An integer parameter or a DslError: bools, strings and floats
    never coerce. Callers pass ``d.get(key, default)``, so an absent key
    takes its default and an explicit null is rejected."""
    if isinstance(val, bool) or not isinstance(val, int):
        raise DslError(f"[{what}] must be an integer, got {val!r}")
    if lo is not None and val < lo:
        raise DslError(f"[{what}] must be >= {lo}, got {val}")
    return val


def _float_param(val: Any, what: str) -> float:
    """A finite number parameter or a DslError (same rules as
    ``_int_param``; ints widen to float)."""
    if (isinstance(val, bool) or not isinstance(val, (int, float))
            or not math.isfinite(val)):
        raise DslError(f"[{what}] must be a number, got {val!r}")
    return float(val)


def _field_params(ctx: SearchContext, spec: Any, what: str, value_key: str,
                  allowed: set[str], field: str | None = None) -> dict:
    """The field-keyed shape every text query shares — ``{field: value}``
    or ``{field: {value_key: ..., ...}}`` — on the corpus text column
    (or ``field``), with params limited to ``allowed``."""
    fld, params = _one(spec, what)
    want = ctx.text_col if field is None else field
    if fld != want:
        raise DslError(f"[{what}] field [{fld}] is not the corpus text "
                       f"column [{want}]")
    params = _params(params, value_key)
    _reject_unknown(params, allowed, what)
    return params


def _query_text(params: dict, what: str) -> str:
    text = params.get("query")
    if not isinstance(text, str) or not text.strip():
        raise DslError(f"[{what}] needs a non-empty query string")
    return text


def _match_params(ctx: SearchContext, spec: Any, what: str,
                  extra: tuple[str, ...] = (),
                  field: str | None = None) -> tuple[dict, str]:
    """The one match-clause parse: field, params (``query``,
    ``operator`` + ``extra``), operator or|and, a non-empty query
    string."""
    params = _field_params(ctx, spec, what, "query",
                           {"query", "operator", *extra}, field)
    op = params.get("operator", "or")
    if op not in ("or", "and"):
        raise DslError(f"[{what}] operator must be or|and, got [{op}]")
    _query_text(params, what)
    return params, op


def _match_clause(ctx: SearchContext, spec: Any, what: str,
                  analyzer: str) -> tuple[list[str], str]:
    """A match clause as (analyzed terms, operator). Every caller must
    HONOR the operator — paths that only implement OR semantics go
    through `_match_terms`, which rejects operator=and explicitly
    instead of silently scoring with the wrong semantics."""
    params, op = _match_params(ctx, spec, what)
    return sorted(set(analyze_query(params["query"], analyzer))), op


def _match_terms(ctx: SearchContext, spec: Any, what: str) -> list[str]:
    terms, op = _match_clause(ctx, spec, what, _analyzer(ctx, False))
    if op != "or":
        raise DslError(f"[{what}] operator=and is not supported in this "
                       "position (only OR semantics are implemented here)")
    return terms


def _nonempty_list(spec: dict, key: str, what: str) -> list:
    val = spec.get(key)
    if not isinstance(val, list) or not val:
        raise DslError(f"[{what}] needs a non-empty [{key}] list")
    return val


_BOOL_KEYS = {"must", "should", "must_not", "minimum_should_match", "filter"}


def _bool_spec(ctx: SearchContext, spec: Any, indexed: bool,
               allowed: set[str] = _BOOL_KEYS) -> tuple[dict, int]:
    """The one bool parse: per-occur lists of match clauses as
    (analyzed terms, operator) — per-CLAUSE semantics (a multi-term
    must clause with the default operator=or requires ONE of its terms)
    — and the clause-counting ``minimum_should_match`` (BooleanQuery
    semantics, shared by the top-k, hit-set and explain paths)."""
    _reject_unknown(spec, allowed, "bool")
    an = _analyzer(ctx, indexed)
    clauses = {}
    for key in ("must", "should", "must_not"):
        clauses[key] = []
        if not isinstance(spec.get(key) or [], list):
            raise DslError(f"[bool] [{key}] must be a list of queries")
        for c in spec.get(key) or []:
            ct, cs = _one(c, f"bool.{key}")
            if ct != "match":
                raise DslError(f"bool [{key}] clauses must be match queries")
            clauses[key].append(_match_clause(ctx, cs, "match", an))
    msm = _int_param(spec.get("minimum_should_match", 0),
                     "bool.minimum_should_match")
    return clauses, msm


def _filter_must(spec: dict, clauses: dict) -> tuple[list[str], str]:
    """The FILTER-occur shape (HybridQuery.java:48-59 semantics): one
    must match clause whose MATCH SET the filter predicates restrict;
    scores and stats stay global — never re-scored, never affecting
    IDF."""
    if set(spec) - {"filter"} != {"must"} or len(clauses["must"]) != 1:
        raise DslError("[bool] filter context supports a single must "
                       "match clause (the FILTER-occur shape)")
    return clauses["must"][0]


_IDENT_RE = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal")


def _schema(df: DataFrame) -> dict[str, str]:
    """Column name (lower-cased: Spark resolves names case-insensitively)
    → Spark type name."""
    return {f.name.lower(): f.dataType.simpleString() for f in df.schema.fields}


def _field(col: Any, schema: dict[str, str], what: str,
           numeric: bool = False) -> str:
    """A column a body names: a plain identifier (never interpolated
    otherwise) that exists in ``schema`` — numeric when the body does
    arithmetic on it."""
    if not isinstance(col, str) or not _IDENT_RE.match(col):
        raise DslError(f"invalid field name {col!r}")
    typ = schema.get(col.lower())
    if typ is None:
        raise DslError(f"[{what}] unknown field [{col}]; fields: "
                       f"{sorted(schema)}")
    if numeric and not typ.startswith(_NUMERIC):
        raise DslError(f"[{what}] field [{col}] is {typ}, not numeric")
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


def _scalar_lit(val: Any, col_type: str, what: str) -> str:
    """Quote one scalar as a SQL literal of a column of Spark type
    ``col_type``; a value of another kind (which ANSI SQL would fail to cast
    at run time) or anything non-scalar is rejected, never
    interpolated."""
    if isinstance(val, str) and col_type == "string":
        return "'" + val.replace("'", "''") + "'"
    if isinstance(val, bool) and col_type == "boolean":
        return "true" if val else "false"
    if (isinstance(val, (int, float)) and not isinstance(val, bool)
            and math.isfinite(val) and col_type.startswith(_NUMERIC)):
        return repr(val)
    raise DslError(f"[{what}] value {val!r} does not fit a {col_type} field")


def _predicate_sql(q: dict, schema: dict[str, str]) -> str:
    """term/terms/range/exists filter → SQL over the columns of
    ``schema`` (the filter context never scores, exactly as in the
    reference). Field names must be existing plain identifiers and
    values plain scalars of the column's kind — anything else is
    rejected, never interpolated."""
    kind, spec = _one(q, "filter")
    preds = {"term": _term_pred, "terms": _terms_pred,
             "range": _range_pred, "exists": _exists_pred}
    if kind not in preds:
        raise DslError(f"unsupported filter type [{kind}]; "
                       f"supported: {', '.join(preds)}")
    return preds[kind](spec, schema)


def _term_pred(spec: Any, schema: dict[str, str]) -> str:
    col, val = _one(spec, "term")
    col = _field(col, schema, "term")
    return f"{col} = {_scalar_lit(val, schema[col.lower()], 'term')}"


def _terms_pred(spec: Any, schema: dict[str, str]) -> str:
    col, vals = _one(spec, "terms")
    col = _field(col, schema, "terms")
    if not isinstance(vals, list):
        raise DslError(f"[terms] expects a list of values, got {vals!r}")
    if not vals:
        # TermsQueryBuilder with an empty list rewrites to
        # MatchNoDocsQuery — the filter matches nothing
        return "false"
    typ = schema[col.lower()]
    return f"{col} IN (" + ", ".join(_scalar_lit(v, typ, "terms") for v in vals) + ")"


def _exists_pred(spec: Any, schema: dict[str, str]) -> str:
    if not isinstance(spec, dict) or set(spec) != {"field"}:
        raise DslError(f"[exists] expects {{'field': name}}, got {spec!r}")
    return f"{_field(spec['field'], schema, 'exists')} IS NOT NULL"


def _range_pred(spec: Any, schema: dict[str, str]) -> str:
    col, bounds = _one(spec, "range")
    col = _field(col, schema, "range", numeric=True)
    ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
    _reject_unknown(bounds, set(ops), "range")
    if not bounds:
        raise DslError("[range] needs at least one bound")
    parts = [f"{col} {ops[op]} {_float_param(v, f'range.{op}')}"
             for op, v in sorted(bounds.items())]
    return " AND ".join(parts)


def _numeric_field(ctx: SearchContext, spec: dict, what: str) -> str:
    """``spec``'s required [field]: a numeric corpus column (the analyzed
    text column never is)."""
    if "field" not in spec:
        raise DslError(f"[{what}] needs a [field]")
    return _field(spec["field"], _schema(ctx.docs), what, numeric=True)


def _filter_pred(ctx: SearchContext, filters: Any):
    if not isinstance(filters, list):
        raise DslError("[bool] [filter] must be a list of queries")
    schema = _schema(ctx.docs)
    return F.expr(" AND ".join(f"({_predicate_sql(c, schema)})" for c in filters))


# --- scored frames and ranking ----------------------------------------------


def _const(ctx: SearchContext, df: DataFrame, score: float = 1.0) -> DataFrame:
    """(doc_id, score) at one constant score — Lucene's ConstantScore
    shape for every non-scoring match set."""
    return df.select(F.col(ctx.id_col).alias("doc_id"),
                     F.lit(score).cast("double").alias("score"))


def _no_hits(ctx: SearchContext) -> DataFrame:
    return ctx.docs.sparkSession.createDataFrame(
        [], "doc_id long, score double, rank int")


def _bm25(ctx: SearchContext, terms: list[str], op: str,
          analyzer: str) -> DataFrame:
    """Full raw BM25 (doc_id, score) over the corpus: OR over ``terms``,
    or all-terms with op=and."""
    from .exhaustive import bm25_conjunctive, bm25_scores

    fn = bm25_conjunctive if op == "and" else bm25_scores
    return fn(ctx.docs, terms, id_col=ctx.id_col, text_col=ctx.text_col,
              round_to=None, tokenizer=analyzer)


def _boosted(s: DataFrame, boost: float) -> DataFrame:
    if boost == 1.0:
        return s
    return s.select("doc_id", (F.col("score") * F.lit(boost)).alias("score"))


def _rank(scores: DataFrame, k: int, round_first: bool = False) -> DataFrame:
    """The exhaustive top-k: (score desc, doc_id asc), scores rounded to
    4 places. ``round_first`` is the round-then-rank convention of
    dictionary-expansion and span/interval scores: their sums are
    ULP-prone across engines, so they round BEFORE ranking and ties
    break by doc_id identically everywhere."""
    from .exhaustive import topk

    if round_first:
        return topk(scores.withColumn("score", F.round("score", 4)), k=k,
                    round_to=None)
    return topk(scores, k=k)


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


def _ids(ctx: SearchContext, scores: DataFrame) -> DataFrame:
    return scores.select(F.col("doc_id").alias(ctx.id_col)).distinct()


def _tag(frames: list[DataFrame]) -> DataFrame:
    """Per-sub-query (doc_id, score) frames → one (subquery_idx, doc_id,
    score) frame."""
    tagged = None
    for i, s in enumerate(frames):
        s = s.select(F.lit(i).alias("subquery_idx"), "doc_id", "score")
        tagged = s if tagged is None else tagged.unionByName(s)
    return tagged


def _require_doc_key(ctx: SearchContext) -> None:
    keys = list(ctx.reader.meta.get("key_cols", []))
    if keys != [ctx.id_col]:
        raise DslError(
            f"indexed DSL dispatch needs the index keyed by [{ctx.id_col}], "
            f"got {keys}"
        )


# --- constant-score leaf family ---------------------------------------------
#
# Scoring frames for the leaf types the reference composes inside hybrid
# queries (HybridQueryIT.java:71-82 mixes term/range clauses;
# RangeQueryBuilder import :35). Lucene rewrites range to
# ConstantScore(1.0); match_all scores 1.0; constant_score wraps any
# filter with a boost.


def _filter_frame(ctx: SearchContext, q: dict) -> DataFrame:
    """(doc_id, 1.0) for a term/range filter — the non-scoring match
    set at Lucene's ConstantScore 1.0."""
    return _const(ctx, ctx.docs.where(F.expr(_predicate_sql(q, _schema(ctx.docs)))))


def _empty_object(spec: Any, what: str) -> None:
    if not isinstance(spec, dict) or spec:
        raise DslError(f"[{what}] takes an empty object")


def _match_all_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    _empty_object(spec, "match_all")
    return _const(ctx, ctx.docs)


def _match_none_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # MatchNoneQueryBuilder: matches nothing (Lucene MatchNoDocsQuery) —
    # an empty frame with the standard shape
    _empty_object(spec, "match_none")
    return _const(ctx, ctx.docs.where(F.lit(False)))


def _terms_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # TermInSetQuery scores constant 1.0 on ANY field; on the analyzed
    # text column exact-value equality would silently diverge from the
    # reference's per-token match, so reject
    col, _ = _one(spec, "terms")
    if col == ctx.text_col:
        raise DslError(f"[terms] on the analyzed text column "
                       f"[{ctx.text_col}] is not supported; use match")
    return _filter_frame(ctx, {"terms": spec})


def _term_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """A ``term`` query on the analyzed text column scores single-term
    BM25 (TermQuery on a text field, value used VERBATIM — term queries
    are never analyzed); on any other corpus column it is the
    keyword-field shape: non-analyzed equality at constant score 1.0."""
    col, params = _one(spec, "term")
    params = _params(params, "value")
    _reject_unknown(params, {"value"}, "term")
    val = params.get("value")
    if col == ctx.text_col:
        if not isinstance(val, str) or not val.strip():
            raise DslError("[term] on the text column needs a non-empty "
                           "string value")
        return _bm25(ctx, [val], "or", _analyzer(ctx, False))
    return _filter_frame(ctx, {"term": {col: val}})


def _ids_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # IdsQueryBuilder: constant-score 1.0 over the listed doc ids
    # (Lucene rewrites to a ConstantScore TermInSetQuery on _id)
    _reject_unknown(spec, {"values"}, "ids")
    vals = [_int_param(v, "ids.values") for v in _nonempty_list(spec, "values", "ids")]
    return _const(ctx, ctx.docs.where(F.col(ctx.id_col).isin(vals)))


def _rank_feature_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # RankFeatureQueryBuilder: score = fn(feature value) × boost over
    # docs where the feature is present and positive (rank_feature
    # fields are positive by construction in the reference; absent
    # feature -> no match)
    fns = ("saturation", "log", "sigmoid", "linear")
    _reject_unknown(spec, {"field", "boost", *fns}, "rank_feature")
    fld = _numeric_field(ctx, spec, "rank_feature")
    given = [kk for kk in fns if kk in spec]
    if len(given) > 1:
        raise DslError("[rank_feature] takes at most one function")
    kind = given[0] if given else "saturation"
    params = spec.get(kind, {})
    _reject_unknown(params, {"pivot", "scaling_factor", "exponent"}, kind)
    num = {kk: _float_param(v, f"rank_feature.{kind}.{kk}")
           for kk, v in params.items()}
    try:
        fexpr = rank_feature_sql(
            kind, fld, pivot=num.get("pivot"),
            scaling_factor=num.get("scaling_factor"),
            exponent=num.get("exponent"),
            boost=_float_param(spec.get("boost", 1.0), "rank_feature.boost"),
        )
    except ValueError as e:
        raise DslError(f"[rank_feature] {e}") from e
    return ctx.docs.where(
        F.col(fld).isNotNull() & (F.col(fld).cast("double") > 0)
    ).select(F.col(ctx.id_col).alias("doc_id"), F.expr(fexpr).alias("score"))


def _distance_feature_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # DistanceFeatureQueryBuilder on a numeric field:
    # score = boost × pivot / (pivot + |value − origin|), matching every
    # doc where the field is present (Lucene
    # LongField.newDistanceFeatureQuery semantics). One shared SQL
    # expression — abs/arithmetic coincide in Spark SQL and DuckDB, so
    # the oracle provably evaluates the same math.
    _reject_unknown(spec, {"field", "origin", "pivot", "boost"},
                    "distance_feature")
    for req in ("origin", "pivot"):
        if req not in spec:
            raise DslError(f"[distance_feature] needs [{req}]")
    fld = _numeric_field(ctx, spec, "distance_feature")
    origin = _float_param(spec["origin"], "distance_feature.origin")
    pivot = _float_param(spec["pivot"], "distance_feature.pivot")
    boost = _float_param(spec.get("boost", 1.0), "distance_feature.boost")
    if pivot <= 0:
        raise DslError(f"[distance_feature] pivot must be > 0, got {pivot}")
    if boost < 0:
        raise DslError(f"[distance_feature] boost must be >= 0, got {boost}")
    fexpr = (f"{boost!r} * ({pivot!r} / ({pivot!r} + "
             f"abs(CAST({fld} AS DOUBLE) - {origin!r})))")
    return ctx.docs.where(F.col(fld).isNotNull()).select(
        F.col(ctx.id_col).alias("doc_id"), F.expr(fexpr).alias("score"))


def _constant_score_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    _reject_unknown(spec, {"filter", "boost"}, "constant_score")
    if "filter" not in spec:
        raise DslError("[constant_score] needs a [filter]")
    boost = _float_param(spec.get("boost", 1.0), "constant_score.boost")
    return _boosted(_filter_frame(ctx, spec["filter"]), boost)


# --- match family -------------------------------------------------------------

_MATCH_TOP = ("minimum_should_match", "fuzziness")


def _match_scores(ctx: SearchContext, spec: Any, what: str = "match") -> DataFrame:
    an = _analyzer(ctx, False)
    terms, op = _match_clause(ctx, spec, what, an)
    return _bm25(ctx, terms, op, an)


def _fuzzy_match_matcher(params: dict, op: str, analyzer: str) -> str:
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

    if op == "and":
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
    toks = analyze_query(params["query"], analyzer)
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


def _match_topk(ctx: SearchContext, spec: Any, k: int,
                indexed: bool = False) -> DataFrame:
    from .exhaustive import bm25_msm
    from .wand import match_text_topk

    an = _analyzer(ctx, indexed)
    params, op = _match_params(ctx, spec, "match", _MATCH_TOP)
    if "fuzziness" in params:
        # fuzzy match: the analyzed tokens' fuzzy expansions as ONE
        # rewritten boolean with a global top-terms cap (documented
        # convention — Lucene caps per FuzzyQuery clause)
        expand = _expansion_indexed if indexed else _expansion_topk
        return expand(ctx, _fuzzy_match_matcher(params, op, an), k, {})
    msm = _int_param(params.get("minimum_should_match", 0),
                     "match.minimum_should_match")
    if indexed:
        # the kernel's msm mode gates on >= m distinct matched terms
        mode = f"msm:{msm}" if msm > 0 and op == "or" else op
        return _ranked(match_text_topk(ctx.reader, params["query"], k=k, mode=mode),
                       ctx.id_col)
    terms = sorted(set(analyze_query(params["query"], an)))
    if msm > 0 and op == "or":
        if msm > len(terms):
            # a doc cannot match more distinct terms than queried
            return _no_hits(ctx)
        return _rank(bm25_msm(ctx.docs, terms, msm, id_col=ctx.id_col,
                              text_col=ctx.text_col, round_to=None,
                              tokenizer=an), k, round_first=True)
    # operator=and makes every term required — msm is a no-op on
    # required clauses (the Lucene rule)
    return _rank(_bm25(ctx, terms, op, an), k)


def _tokens(ctx: SearchContext) -> DataFrame:
    """The corpus token stream under the index analyzer — the analyzer
    the search() dispatch scores hit-set bodies with."""
    from .exhaustive import tokenized

    return tokenized(ctx.docs, ctx.id_col, ctx.text_col,
                     tokenizer=_analyzer(ctx, True))


def _clause_ids(ctx: SearchContext, tok: DataFrame, terms: list[str],
                op: str) -> DataFrame:
    """Doc-id set matching one match clause (OR over its terms by
    default, all-terms with operator=and — same per-clause semantics
    as the search() bool path, so hits and aggs agree on one body)."""
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


def _docmap_ids(ctx: SearchContext, hits: DataFrame) -> DataFrame:
    return (ctx.reader.docmap().join(hits.select("nss_doc_id"), "nss_doc_id")
            .select(ctx.id_col))


def _match_matched(ctx: SearchContext, spec: Any) -> DataFrame:
    terms, op = _match_clause(ctx, spec, "match", _analyzer(ctx, True))
    if ctx.reader is not None:
        # indexed hit set: the kernel's match stream through docmap —
        # no corpus re-tokenize for an aggs/sort body when an index
        # exists (same dispatch rule as the top-k path)
        from .wand import matched_ids_indexed

        _require_doc_key(ctx)
        return _docmap_ids(ctx, matched_ids_indexed(ctx.reader, terms, mode=op))
    return _clause_ids(ctx, _tokens(ctx), terms, op)


def _match_terms_of(ctx: SearchContext, spec: Any, what: str) -> list[str]:
    return _match_clause(ctx, spec, "match", _analyzer(ctx, True))[0]


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
    fields = _nonempty_list(spec, "fields", "multi_match")
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
        if not boost > 0 or not math.isfinite(boost):
            raise DslError(f"[multi_match] field boost must be > 0, got {boost}")
    if fspec != ctx.text_col:
        raise DslError(f"[multi_match] field [{fspec}] is not [{ctx.text_col}]")
    params: dict = {"query": spec.get("query")}
    if "operator" in spec:
        params["operator"] = spec["operator"]
    mspec = {ctx.text_col: params}
    _match_params(ctx, mspec, "multi_match")
    return mspec, boost


def _multi_match_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    mspec, boost = _multi_match_spec(ctx, spec)
    return _boosted(_match_scores(ctx, mspec, "multi_match"), boost)


def _multi_match_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    mspec, boost = _multi_match_spec(ctx, spec)
    if boost == 1.0:
        # boost-free multi_match IS the match query (single mapped text
        # field) — reuse every match path, indexed included
        return _topk_frame(ctx, {"match": mspec}, k)
    if ctx.reader is not None:
        from .wand import match_text_topk

        _require_doc_key(ctx)
        params = mspec[ctx.text_col]
        top = match_text_topk(ctx.reader, params["query"], k=k,
                              mode=params.get("operator", "or"))
        return _ranked(_boosted(top, boost), ctx.id_col)
    return _rank(_boosted(_match_scores(ctx, mspec, "multi_match"), boost), k)


# --- phrase family ------------------------------------------------------------


def _phrase_tokens(ctx: SearchContext, spec: Any, what: str, analyzer: str,
                   extra: str) -> tuple[dict, list[str]]:
    """A phrase-shaped clause as (params, analyzed tokens IN ORDER)."""
    params = _field_params(ctx, spec, what, "query", {"query", extra})
    toks = analyze_query(_query_text(params, what), analyzer)  # order matters
    if not toks:
        raise DslError(f"[{what}] query analyzed to zero tokens")
    return params, toks


def _slop(params: dict, what: str) -> int:
    return _int_param(params.get("slop", 0), f"{what}.slop", lo=0)


def _expansions(params: dict, what: str) -> dict:
    if "max_expansions" not in params:
        return {}
    return {"max_expansions": _int_param(params["max_expansions"],
                                         f"{what}.max_expansions", lo=0)}


def _phrase_frame(ctx: SearchContext, toks: list[str], slop: int,
                  analyzer: str) -> DataFrame:
    """Full raw (doc_id, score) for one (sloppy) phrase over the corpus:
    PhraseQuery scores by term statistics; positions only gate
    matching."""
    from .exhaustive import bm25_phrase, bm25_phrase_sloppy

    fn = bm25_phrase_sloppy if slop else bm25_phrase
    kw = {"slop": slop} if slop else {}
    return fn(ctx.docs, toks, id_col=ctx.id_col, text_col=ctx.text_col,
              round_to=None, tokenizer=analyzer, **kw).select("doc_id", "score")


def _phrase_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """One ``match_phrase`` spec (slop included) — shared by the
    exhaustive top-level body and hybrid sub-queries, which score their
    FULL match set, raw, so the normalization statistics see every
    phrase hit."""
    an = _analyzer(ctx, False)
    params, toks = _phrase_tokens(ctx, spec, "match_phrase", an, "slop")
    return _phrase_frame(ctx, toks, _slop(params, "match_phrase"), an)


def _phrase_indexed(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    from .phrase import bm25_phrase_indexed

    params, toks = _phrase_tokens(ctx, spec, "match_phrase",
                                  _analyzer(ctx, True), "slop")
    top = bm25_phrase_indexed(ctx.reader, toks, k=k,
                              slop=_slop(params, "match_phrase"))
    return _ranked(top, ctx.id_col)


def _phrase_terms(ctx: SearchContext, spec: Any, what: str) -> list[str]:
    _, toks = _phrase_tokens(ctx, spec, "match_phrase", _analyzer(ctx, True),
                             "slop")
    return sorted(set(toks))


def _phrase_prefix_topk(ctx: SearchContext, spec: Any, k: int,
                        indexed: bool = False) -> DataFrame:
    from .multiterm import phrase_prefix_topk, phrase_prefix_topk_indexed

    an = _analyzer(ctx, indexed)
    params, toks = _phrase_tokens(ctx, spec, "match_phrase_prefix", an,
                                  "max_expansions")
    kw = _expansions(params, "match_phrase_prefix")
    if indexed:
        return _ranked(phrase_prefix_topk_indexed(
            ctx.reader, toks[:-1], toks[-1], k=k, **kw), ctx.id_col)
    return phrase_prefix_topk(ctx.docs, toks[:-1], toks[-1], k=k, id_col=ctx.id_col,
                              text_col=ctx.text_col, tokenizer=an, **kw)


# --- multi-term family (prefix / wildcard / fuzzy / regexp) --------------------
#
# Each kind is one shared-SQL dictionary matcher (query/multiterm.py);
# the exhaustive path expands it against the corpus dictionary, the
# indexed path against the postings, and both score the expansion as
# one rewritten boolean, round-then-rank. span_multi and the
# query_string multi-term clauses build the same matchers.

_MULTITERM_KINDS = ("prefix", "wildcard", "fuzzy", "regexp")
_MULTITERM_EXTRA = {"fuzzy": {"fuzziness"}}


def _multiterm_matcher(kind: str, value: str, edits: int) -> str:
    from .multiterm import _matcher_sql, like_escape, regexp_matcher, wildcard_to_like

    return {
        "prefix": lambda: _matcher_sql(like=like_escape(value) + "%"),
        "wildcard": lambda: _matcher_sql(like=wildcard_to_like(value)),
        # the standalone fuzzy default is max_edits=1 on every path
        "fuzzy": lambda: _matcher_sql(fuzzy=(value, edits, 0)),
        "regexp": lambda: regexp_matcher(value),
    }[kind]()


def _multiterm_spec(ctx: SearchContext, kind: str, spec: Any,
                    extra: set[str]) -> tuple[dict, str]:
    """One multi-term clause → (params, matcher)."""
    allowed = {"value"} | extra | _MULTITERM_EXTRA.get(kind, set())
    params = _field_params(ctx, spec, kind, "value", allowed)
    val = params.get("value")
    if not isinstance(val, str):
        raise DslError(f"[{kind}] needs a string [value]")
    edits = _int_param(params.get("fuzziness", 1), f"{kind}.fuzziness")
    with _rejects(kind):
        return params, _multiterm_matcher(kind, val, edits)


def _expansion_topk(ctx: SearchContext, matcher: str, k: int, kw: dict) -> DataFrame:
    from .multiterm import expand_terms_corpus

    an = _analyzer(ctx, False)
    exp = expand_terms_corpus(ctx.docs, matcher=matcher, id_col=ctx.id_col,
                              text_col=ctx.text_col, tokenizer=an, **kw)
    if not exp:
        return _no_hits(ctx)
    return _rank(_bm25(ctx, exp, "or", an), k, round_first=True)


def _expansion_indexed(ctx: SearchContext, matcher: str, k: int, kw: dict) -> DataFrame:
    from .multiterm import multiterm_topk_indexed

    return _ranked(multiterm_topk_indexed(ctx.reader, matcher=matcher, k=k, **kw),
                   ctx.id_col)


def _multiterm_topk(kind: str, expand: Callable, ctx: SearchContext, spec: Any,
                    k: int) -> DataFrame:
    """``expand`` is ``_expansion_topk`` or ``_expansion_indexed``."""
    params, matcher = _multiterm_spec(ctx, kind, spec, {"max_expansions"})
    return expand(ctx, matcher, k, _expansions(params, kind))


# --- bool / dis_max / hybrid --------------------------------------------------


def _bool_topk(ctx: SearchContext, spec: Any, k: int,
               indexed: bool = False) -> DataFrame:
    from .booleans import bool_clauses_topk, bool_clauses_topk_indexed

    clauses, msm = _bool_spec(ctx, spec, indexed)
    an = _analyzer(ctx, indexed)
    if spec.get("filter"):
        terms, op = _filter_must(spec, clauses)
        pred = _filter_pred(ctx, spec["filter"])
        if indexed:
            # indexed FILTER occur: predicate pushed into the docs scan,
            # mapped to per-segment allow-lists through docmap, AND-ed
            # into the kernel — non-scoring, stats global
            from .wand import bm25_topk_indexed

            allowed = (ctx.reader.docmap().join(ctx.docs.where(pred), ctx.id_col)
                       .select("nss_doc_id"))
            return _ranked(bm25_topk_indexed(ctx.reader, terms, k=k, mode=op,
                                             allowed=allowed), ctx.id_col)
        from .filters import filtered_scores

        return _rank(filtered_scores(_bm25(ctx, terms, op, an), ctx.docs, pred), k)
    # per-CLAUSE semantics: each match clause is its own scorer (OR
    # over its terms by default, AND with operator=and);
    # minimum_should_match counts clauses, not terms
    if indexed:
        return bool_clauses_topk_indexed(ctx.reader, **clauses,
                                         minimum_should_match=msm, k=k)
    return bool_clauses_topk(ctx.docs, **clauses, minimum_should_match=msm, k=k,
                             id_col=ctx.id_col, text_col=ctx.text_col, tokenizer=an)


def _bool_matched(ctx: SearchContext, spec: Any) -> DataFrame:
    clauses, msm = _bool_spec(ctx, spec, indexed=True,
                              allowed=_BOOL_KEYS - {"filter"})
    must, should, must_not = (clauses[key] for key in ("must", "should", "must_not"))
    if not must and not should:
        raise DslError("bool query needs at least one scoring clause")
    if ctx.reader is not None:
        # indexed bool hit set: per-clause kernel match streams through
        # the SHARED gate builder (booleans.bool_gate_indexed — the same
        # gate the indexed bool top-k uses, so search() and aggregate()
        # match sets cannot drift), then docmap — no corpus re-tokenize
        from .booleans import bool_gate_indexed

        _require_doc_key(ctx)
        gate = bool_gate_indexed(ctx.reader, must, should, must_not,
                                 minimum_should_match=msm)
        return _docmap_ids(ctx, gate)
    tok = _tokens(ctx)
    m = None
    for terms, op in must:
        f = _clause_ids(ctx, tok, terms, op)
        m = f if m is None else m.join(f, ctx.id_col)
    if should:
        # count how many should clauses each doc matches
        tagged = None
        for i, (terms, op) in enumerate(should):
            t = _clause_ids(ctx, tok, terms, op).select(ctx.id_col, F.lit(i).alias("_c"))
            tagged = t if tagged is None else tagged.unionByName(t)
        counts = tagged.groupBy(ctx.id_col).agg(F.count(F.lit(1)).alias("_ns"))
        need = msm if msm > 0 else (0 if must else 1)
        ok = counts.where(F.col("_ns") >= need).select(ctx.id_col)
        # should is purely optional when must exists and msm=0
        m = ok if m is None else (m.join(ok, ctx.id_col) if msm > 0 else m)
    for terms, op in must_not:
        m = m.join(_clause_ids(ctx, tok, terms, op), ctx.id_col, "left_anti")
    return m.select(ctx.id_col)


def _bool_terms(ctx: SearchContext, spec: Any, what: str) -> list[str]:
    """The scoring terms of a bool body. For explain the per-term
    contributions must sum EXACTLY to each hit's score, so every
    scoring clause must be operator=or with no term repeated across
    clauses (an AND clause can match partially without scoring; a
    repeated term scores once per clause). must_not/filter clauses are
    non-scoring — they shape the hit list (which comes from the
    dispatched bool kernel) but never enter the breakdown."""
    clauses, _ = _bool_spec(ctx, spec, indexed=True)
    seen: set[str] = set()
    for terms, op in clauses["must"] + clauses["should"]:
        if what == "explain":
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


def _dis_max_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    from .booleans import dis_max_topk

    _reject_unknown(spec, {"queries", "tie_breaker"}, "dis_max")
    tb = _float_param(spec.get("tie_breaker", 0.0), "dis_max.tie_breaker")
    if not 0.0 <= tb <= 1.0:
        raise DslError(f"[dis_max] tie_breaker must be in [0, 1], got {tb}")
    subs = _nonempty_list(spec, "queries", "dis_max")
    parsed = [_one(sq, "dis_max sub-query") for sq in subs]
    an = _analyzer(ctx, False)
    if all(t == "match" for t, _ in parsed):
        clauses = [_match_clause(ctx, s, "match", an) for _, s in parsed]
        if all(op == "or" for _, op in clauses):
            # all-OR fast path: every sub-query scores in ONE corpus
            # traversal (bm25_scores_by_group)
            return dis_max_topk(ctx.docs, [terms for terms, _ in clauses],
                                tie_breaker=tb, k=k, id_col=ctx.id_col,
                                text_col=ctx.text_col, tokenizer=an)
        # all-match with an AND sub: per-sub frames straight from the
        # already-parsed clauses (bm25_conjunctive for AND)
        tagged = _tag([_bm25(ctx, terms, op, an) for terms, op in clauses])
    else:
        # heterogeneous sub-queries — the reference's own two-phase IT
        # composes DisMax over neural_sparse + match_all
        # (NeuralSparseTwoPhaseProcessorIT.java:427-430); per-sub score
        # frames reduce by Lucene's DisjunctionMaxQuery rule:
        # max + tie_breaker * (sum of the rest)
        tagged = _tag([_scores(ctx, sq) for sq in subs])
    scored = tagged.groupBy("doc_id").agg(
        (F.max("score")
         + F.lit(tb) * (F.sum("score") - F.max("score"))).alias("score"))
    return _rank(scored, k)


def _hybrid_tagged(ctx: SearchContext, spec: Any, pipeline: dict | None,
                   k: int, from_: int) -> tuple[HybridSpec, DataFrame]:
    """Validate one hybrid spec + pipeline config and score every
    sub-query into one tagged (subquery_idx, doc_id, score) frame —
    shared by the top-k and explain hybrid branches (one parse, one
    dispatch). Hybrid cannot contain hybrid: only types whose handler
    scores a full match set are sub-queries, which enforces the
    top-level-only placement rule by construction (a `nested` sub-query
    is a leaf here — its inner query scores child docs, never another
    compound)."""
    subs = _hybrid_subs(ctx, spec)
    p = dict(pipeline or {})
    _reject_unknown(p, {"normalization", "combination", "weights"}, "pipeline")
    hs = HybridSpec(
        n_subqueries=len(subs),
        normalization=p.get("normalization", "min_max"),
        combination=p.get("combination", "arithmetic_mean"),
        weights=p.get("weights"), k=k, from_=from_,
    ).validate()
    return hs, _tag(subs)


def _hybrid_subs(ctx: SearchContext, spec: Any) -> list[DataFrame]:
    _reject_unknown(spec, {"queries"}, "hybrid")
    return [_scores(ctx, sq) for sq in _nonempty_list(spec, "queries", "hybrid")]


def _hybrid_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    raise DslError("[hybrid] is only valid as the top-level query of a "
                   "search body")


def _hybrid_matched(ctx: SearchContext, spec: Any) -> DataFrame:
    # a hybrid's hit set is the UNION of its sub-queries' matches
    # (HybridQueryScorer iterates all sub-scorers; totalHits counts
    # any-match docs) — aggs then run over every matched doc
    return _ids(ctx, _tag(_hybrid_subs(ctx, spec)))


# --- vectors --------------------------------------------------------------------


def _pool(params: dict, what: str, size: int | None) -> int:
    """The vector query's own k is the ANN candidate pool (default 10);
    as a top-level query the BODY ``size`` bounds the returned hits. One
    rule for that case: the pool is never smaller than the size — a
    missing k defaults to max(size, 10), an explicit k < size is
    widened to size (so size hits always come back)."""
    if size is None:
        return _int_param(params.get("k", 10), f"{what}.k", lo=0)
    if "k" not in params:
        return max(size, 10)
    return max(_int_param(params["k"], f"{what}.k", lo=0), size)


def _neural_hits(ctx: SearchContext, spec: Any, size: int | None) -> DataFrame:
    _, params = _one(spec, "neural")
    params = _params(params, "query_vector_id")
    _reject_unknown(params, {"query_vector_id", "k", "ef"}, "neural")
    if ctx.embeddings is None:
        raise DslError("neural query needs ctx.embeddings")
    qid = _int_param(params.get("query_vector_id"), "neural.query_vector_id")
    k = _pool(params, "neural", size)
    kw = {"ef": _int_param(params["ef"], "neural.ef", lo=1)} if "ef" in params else {}
    if ctx.graphs is not None:
        from ..pipeline.graph_ann import hnsw_topk

        return hnsw_topk(ctx.embeddings, qid, k=k, graphs=ctx.graphs, **kw)
    from ..pipeline.similarity import cosine_topk

    return cosine_topk(ctx.embeddings, qid, k=k)


def _vector_param(val: Any, what: str) -> list[float]:
    if not isinstance(val, list) or not val:
        raise DslError(f"[{what}] needs a non-empty numeric vector")
    return [_float_param(x, what) for x in val]


def _query_vector(ctx: SearchContext, field: str, val: Any, what: str) -> list[float]:
    """A query vector for the embedding column ``field``: its dimension
    must be the column's, read with one ``limit(1)`` scan of the
    column's size. Spark's ``zip_with`` pads the shorter array with
    nulls, so a mismatch would otherwise score every doc NULL."""
    vec = _vector_param(val, what)
    rows = ctx.embeddings.select(F.size(field).alias("d")).limit(1).collect()
    dim = rows[0]["d"] if rows else None
    if dim is not None and dim >= 0 and dim != len(vec):
        raise DslError(f"[{what}] has dimension {len(vec)}, but the "
                       f"[{field}] vectors have dimension {dim}")
    return vec


def _knn_hits(ctx: SearchContext, spec: Any, size: int | None) -> DataFrame:
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
    _reject_unknown(params, {"vector", "k", "filter"}, "knn")
    if field not in ctx.embeddings.columns or field == "vec_id":
        raise DslError(f"[knn] field [{field}] is not a vector column of "
                       "the embedding table")
    vec = _query_vector(ctx, field, params.get("vector"), "knn.vector")
    k = _pool(params, "knn", size)
    pred = None
    if "filter" in params:
        if not isinstance(params["filter"], dict):
            raise DslError("[knn] filter must be a query object")
        pred = _predicate_sql(params["filter"], _schema(ctx.embeddings))
    return cosine_topk_vector(ctx.embeddings, vec, k=k,
                              vec_col=field, predicate=pred)


def _vector_handler(hits: Callable[[SearchContext, Any, int | None], DataFrame]) -> _Handler:
    """(vec_id, cos) hits → a handler: as a sub-query the candidate pool
    enters normalization raw; at top level the pool is cut to size."""
    def scores(ctx: SearchContext, spec: Any) -> DataFrame:
        return hits(ctx, spec, None).select(F.col("vec_id").alias("doc_id"),
                                            F.col("cos").alias("score"))

    def topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
        w = F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
        return hits(ctx, spec, k).select(
            F.col("vec_id").alias("doc_id"), F.round("cos", 4).alias("score"),
            w.cast("int").alias("rank")).where(F.col("rank") <= k)

    return _Handler(scores=scores, topk=topk)


def _query_tokens(params: dict, what: str) -> dict:
    qt = params.get("query_tokens")
    if not isinstance(qt, dict) or not all(
            isinstance(t, str) and isinstance(w, (int, float))
            and not isinstance(w, bool) and math.isfinite(w)
            for t, w in qt.items()):
        raise DslError(f"[{what}] needs a {{token: number}} query_tokens object")
    return qt


def _sparse_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    _, params = _one(spec, "neural_sparse")
    params = _params(params, "query_tokens")
    _reject_unknown(params, {"query_tokens", "k"}, "neural_sparse")
    if ctx.sparse_features is None:
        raise DslError("neural_sparse needs ctx.sparse_features")
    qt = dict(_query_tokens(params, "neural_sparse"))
    if "k" in params:
        from .sparse import sparse_topk_two_phase

        return sparse_topk_two_phase(
            ctx.sparse_features, qt,
            k=_int_param(params["k"], "neural_sparse.k", lo=0), round_to=None,
        ).select("doc_id", "score")
    # no k → the sub-query scores its FULL match set, exactly like the
    # engine's exhaustive hybrid twins (normalization statistics then
    # see every matched doc, not a cut)
    from .sparse import sparse_scores

    return sparse_scores(ctx.sparse_features, qt).select("doc_id", "score")


def _nested_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``nested`` query → per-parent scores over the corpus's one
    nested path (NestedQueryBuilder analog: inner query scores the
    child docs, ScoreMode rolls them up to the parent — default Avg,
    exactly Lucene's; the reference's ITs wrap match/neural inner
    queries with ScoreMode.Total, HybridQueryIT.java:436-440). Returns
    the FULL parent match set so hybrid normalization statistics see
    every matched doc."""
    from ..operators.nested import NESTED_SCORE_MODES, nested_chunk_scores

    _reject_unknown(spec, {"path", "query", "score_mode"}, "nested")
    if ctx.nested_path is None or ctx.nested_delimiter is None:
        raise DslError("nested query needs ctx.nested_path + "
                       "ctx.nested_delimiter (the corpus has no nested "
                       "mapping)")
    if spec.get("path") != ctx.nested_path:
        raise DslError(f"[nested] unknown path [{spec.get('path')}]; the "
                       f"corpus defines [{ctx.nested_path}]")
    mode = spec.get("score_mode", "avg")
    if not isinstance(mode, str) or mode not in NESTED_SCORE_MODES:
        raise DslError(f"[nested] score_mode must be one of "
                       f"{sorted(NESTED_SCORE_MODES)}, got [{mode}]")
    ityp, ispec = _one(spec.get("query"), "nested inner query")
    if ityp == "neural_sparse":
        # the reference's actual nested IT shape: an ingest-encoded
        # neural inner query rolled up by ScoreMode
        # (TextEmbeddingProcessorIT.java:130-135); chunk features are
        # the deterministic ingest encodings (nested_chunk_encode)
        from ..operators.nested import nested_sparse_scores

        params = _field_params(ctx, ispec, "nested.neural_sparse", "query_tokens",
                               {"query_tokens"}, field=f"{ctx.nested_path}.sparse")
        qt = _query_tokens(params, "nested.neural_sparse")
        if not qt:
            raise DslError("[nested] neural_sparse needs a non-empty "
                           "{token: number} query_tokens object")
        return nested_sparse_scores(
            ctx.docs, {t: float(w) for t, w in qt.items()},
            ctx.nested_delimiter, score_mode=mode,
            id_col=ctx.id_col, text_col=ctx.text_col,
        )
    if ityp != "match":
        raise DslError(f"[nested] inner query type [{ityp}] unsupported; "
                       "supported: match, neural_sparse")
    params, op = _match_params(ctx, ispec, "nested.match",
                               field=f"{ctx.nested_path}.{ctx.text_col}")
    terms = sorted(set(analyze_query(params["query"], _analyzer(ctx, False))))
    if not terms:
        raise DslError("[nested] match query analyzed to zero tokens")
    return nested_chunk_scores(
        ctx.docs, terms, ctx.nested_delimiter, score_mode=mode,
        id_col=ctx.id_col, text_col=ctx.text_col, operator=op,
    )


# --- parser families (simple_query_string, query_string, match_bool_prefix) ----


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
        return _const(ctx, bm25_scores_indexed(ctx.reader, exp))
    from .exhaustive import tokenized

    toks = tokenized(ctx.docs, ctx.id_col, ctx.text_col, _analyzer(ctx, True))
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
    op = "and" if conj else "or"
    if ctx.reader is not None:
        from .wand import bm25_scores_indexed

        _require_doc_key(ctx)
        return bm25_scores_indexed(ctx.reader, terms, mode=op).select(
            F.col(ctx.id_col).alias("doc_id"), "score")
    return _bm25(ctx, terms, op, _analyzer(ctx, True))


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
    return _phrase_frame(ctx, toks, slop, _analyzer(ctx, True))


def _combine_clauses(ctx: SearchContext, what: str, mode: str, msm: int,
                     or_groups: list[list[str]], frames: list[DataFrame],
                     neg: list[DataFrame], analyzer: str) -> DataFrame:
    """The parser families' BooleanQuery: each matched positive clause
    contributes its score, summed per doc; AND mode gates on every
    positive clause, OR mode on max(minimum_should_match, 1) clauses;
    ``neg`` frames exclude their match set. The plain OR term groups
    batch into ONE corpus traversal (bm25_scores_by_group — the msearch
    membership-table shape), so clause count never multiplies corpus
    passes; every other clause brings its own frame."""
    from .exhaustive import bm25_scores_by_group

    n_pos = len(or_groups) + len(frames)
    if n_pos == 0:
        raise DslError(f"[{what}] needs at least one positive clause "
                       "(all clauses were negated or analyzed away)")
    need = n_pos if mode == "and" else max(msm, 1)
    if need > n_pos:
        raise DslError(f"[{what}] minimum_should_match={msm} exceeds the "
                       f"{n_pos} positive clauses")
    tagged = None
    if or_groups:
        tagged = bm25_scores_by_group(
            ctx.docs, or_groups, id_col=ctx.id_col, text_col=ctx.text_col,
            tokenizer=analyzer,
        ).withColumnRenamed("subquery_idx", "cid")
    for j, frame in enumerate(frames):
        t = frame.select(F.lit(len(or_groups) + j).alias("cid"), "doc_id", "score")
        tagged = t if tagged is None else tagged.unionByName(t)
    agg = tagged.groupBy("doc_id").agg(
        F.sum("score").alias("score"),
        F.countDistinct("cid").alias("nss_n"),
    )
    out = agg.where(F.col("nss_n") >= F.lit(need)).select("doc_id", "score")
    for nf in neg:
        out = out.join(nf.select("doc_id").distinct(), "doc_id", "left_anti")
    return out


def _leaf_clauses(ctx: SearchContext, what: str, mode: str, conj_op: str,
                  leaves: list, msm: int) -> DataFrame:
    """Parsed query-string leaves (querystring.QsLeaf) → the full raw
    (doc_id, score) frame: term clauses score BM25 (a clause whose text
    analyzes to several tokens applies ``conj_op`` INSIDE the clause —
    Lucene QueryBuilder.createBooleanQuery with MUST under AND),
    (sloppy) phrases their phrase-gated BM25, prefix/wildcard/fuzzy
    constant 1.0 (QueryParser's default multi-term CONSTANT_SCORE
    rewrite); a clause's ``^boost`` multiplies its contribution. With
    an index every clause runs on the kernels with the index's analyzer
    — the corpus text is never re-tokenized."""
    from ..functions.tokenize import resolve_analyzer

    indexed = ctx.reader is not None
    an = _analyzer(ctx, True)
    lower = resolve_analyzer(an)[2]
    or_groups: list[list[str]] = []
    frames: list[DataFrame] = []
    neg: list[DataFrame] = []
    for leaf in leaves:
        if leaf.field is not None and leaf.field != ctx.text_col:
            raise DslError(f"[{what}] field [{leaf.field}] is not "
                           f"[{ctx.text_col}] (one analyzed text field)")
        if leaf.kind == "term":
            terms = analyze_query(leaf.text, an)
            if not terms:
                continue  # an all-delimiter clause analyzes away (Lucene drops it)
            conj = conj_op == "and" and len(terms) > 1
            if not indexed and not leaf.negated and leaf.boost == 1.0 and not conj:
                or_groups.append(terms)
                continue
            frame = _term_clause_frame(ctx, terms, conj)
        elif leaf.kind == "phrase":
            toks = analyze_query(leaf.text, an)
            if not toks:
                continue
            frame = _phrase_clause_frame(ctx, toks, leaf.slop)
        else:
            text = leaf.text.lower() if lower else leaf.text
            with _rejects(what):
                matcher = _multiterm_matcher(leaf.kind, text, leaf.slop)
            frame = _matcher_const_frame(ctx, matcher)
        frame = _boosted(frame, leaf.boost)
        (neg if leaf.negated else frames).append(frame)
    return _combine_clauses(ctx, what, mode, msm, or_groups, frames, neg, an)


def _simple_query_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``simple_query_string`` body → full raw (doc_id, score) frame.
    The parsed chunks, phrases and trailing-* prefixes score like
    BooleanQuery (``_leaf_clauses``); a chunk that analyzes to several
    tokens combines them with ``default_operator``; ``-`` clauses
    exclude their match set. ``minimum_should_match`` is ignored in AND
    mode (every clause is already MUST — the reference's msm applies to
    optional clauses only)."""
    from .querystring import QsLeaf
    from .simpleq import parse_simple_query

    _reject_unknown(spec, {"query", "fields", "default_operator",
                           "minimum_should_match"}, "simple_query_string")
    fields = spec.get("fields", [ctx.text_col])
    if fields != [ctx.text_col]:
        raise DslError(
            f"[simple_query_string] fields must be [{ctx.text_col!r}] — the "
            f"corpus's one analyzed text field — got {fields!r}")
    default_op = spec.get("default_operator", "or")
    mode, leaves = parse_simple_query(spec.get("query"), default_op)
    kinds = {"chunk": "term", "phrase": "phrase", "prefix": "prefix"}
    leaves = [QsLeaf(kinds[leaf.kind], leaf.text, None, leaf.negated, 1.0, 0)
              for leaf in leaves]
    msm = _int_param(spec.get("minimum_should_match", 0),
                     "simple_query_string.minimum_should_match")
    return _leaf_clauses(ctx, "simple_query_string", mode, default_op, leaves, msm)


def _query_string_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``query_string`` body → full raw (doc_id, score) frame. The
    parsed clauses (query/querystring.py — the documented QueryParser
    subset) score like BooleanQuery (``_leaf_clauses``); NOT/- clauses
    exclude their match set (the engine's shared negation convention
    with simple_query_string)."""
    from .querystring import QueryStringError, parse_query_string

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
    msm = _int_param(spec.get("minimum_should_match", 0),
                     "query_string.minimum_should_match")
    return _leaf_clauses(ctx, "query_string", mode, mode, leaves, msm)


def _match_bool_prefix_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    """``match_bool_prefix``: the analyzed terms become a bool-should —
    every token but the last a term clause (BM25), the last a prefix
    clause at constant score 1.0 (the engine's multi-term prefix
    convention, shared with simple_query_string's trailing-*) —
    with ``operator``/``minimum_should_match`` counting CLAUSES
    (MatchBoolPrefixQueryBuilder constructs exactly this BooleanQuery).
    Duplicate tokens collapse to one clause each, the match-path
    convention. Without an index all term clauses batch into ONE
    corpus traversal; with one, each is a kernel frame
    (partition-pruned buckets)."""
    what = "match_bool_prefix"
    params, op = _match_params(ctx, spec, what, ("minimum_should_match",))
    an = _analyzer(ctx, True)
    toks = analyze_query(params["query"], an)
    if not toks:
        raise DslError("[match_bool_prefix] query analyzed to zero tokens")
    seen: set[str] = set()
    terms = [t for t in toks[:-1] if not (t in seen or seen.add(t))]
    msm = _int_param(params.get("minimum_should_match", 0),
                     "match_bool_prefix.minimum_should_match")
    # toks are post-analysis (already normalized) — no extra lowering
    prefix = _matcher_const_frame(ctx, _multiterm_matcher("prefix", toks[-1], 0))
    if ctx.reader is not None:
        frames = [_term_clause_frame(ctx, [t], False) for t in terms]
        return _combine_clauses(ctx, what, op, msm, [], frames + [prefix], [], an)
    return _combine_clauses(ctx, what, op, msm, [[t] for t in terms], [prefix], [], an)


# --- compound and function queries ----------------------------------------------

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
    provably coincides. Sub-queries see the full match set, like the
    other full-frame sub-queries."""
    _reject_unknown(spec, {"query", "script", "min_score"}, "script_score")
    if "query" not in spec or "script" not in spec:
        raise DslError("[script_score] needs [query] and [script]")
    script = spec["script"]
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
            factor = _float_param(sparams[pname], f"script_score.params.{pname}")
        else:
            factor = float(lit)
        if factor < 0:
            raise DslError("[script_score] _score factor must be a "
                           "non-negative number")
        out = inner.select(
            "doc_id", (F.col("score") * F.lit(factor)).alias("score"))
    elif m := _SCRIPT_VEC_RE.match(source):
        from ..pipeline.similarity import DOT, NORM, _as_double

        fn, pname, fld, const = m.groups()
        if ctx.embeddings is None:
            raise DslError("[script_score] vector functions need "
                           "ctx.embeddings")
        if fld not in ctx.embeddings.columns or fld == "vec_id":
            raise DslError(f"[script_score] doc['{fld}'] is not a vector "
                           "column of the embedding table")
        qv = _query_vector(ctx, fld, sparams.get(pname), f"script_score.params.{pname}")
        vecs = _as_double(ctx.embeddings, "vec_id", fld, "doc_id", "v")
        qlit = F.array(*[F.lit(x).cast("double") for x in qv])
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
        ms = _float_param(spec["min_score"], "script_score.min_score")
        out = out.where(F.col("score") >= F.lit(ms))
    return out


def _boosting_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # BoostingQueryBuilder: hits = the positive query's match set; docs
    # also matched by the negative query keep their positive score
    # DEMOTED by negative_boost (the negative score itself is never
    # used — Lucene FunctionScoreQuery.boostByQuery)
    _reject_unknown(spec, {"positive", "negative", "negative_boost"},
                    "boosting")
    for req in ("positive", "negative", "negative_boost"):
        if req not in spec:
            raise DslError(f"[boosting] needs [{req}]")
    nb = _float_param(spec["negative_boost"], "boosting.negative_boost")
    if not 0.0 <= nb <= 1.0:
        raise DslError(f"[boosting] negative_boost must be a float in "
                       f"[0, 1], got {nb!r}")
    pos = _scores_frame(ctx, spec["positive"], "boosting.positive")
    neg = (_scores_frame(ctx, spec["negative"], "boosting.negative")
           .select("doc_id").distinct().withColumn("nss_neg", F.lit(True)))
    return pos.join(neg, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("nss_neg"), F.col("score") * F.lit(nb))
        .otherwise(F.col("score")).alias("score"),
    )


_FVF_MODIFIERS = {
    "none": lambda c: c,
    "log1p": lambda c: F.log10(c + F.lit(1.0)),
    "log2p": lambda c: F.log10(c + F.lit(2.0)),
    "ln1p": lambda c: F.log(c + F.lit(1.0)),
    "ln2p": lambda c: F.log(c + F.lit(2.0)),
    "sqrt": F.sqrt,
    "square": lambda c: c * c,
    "reciprocal": lambda c: F.lit(1.0) / c,
}


def _function_factor(ctx: SearchContext, spec: dict, kind: str):
    """One function_score function → its per-doc factor column."""
    if kind != "field_value_factor":
        fld, dparams = _one(spec[kind], kind)
        fld = _field(fld, _schema(ctx.docs), kind, numeric=True)
        _reject_unknown(dparams, {"origin", "scale", "offset", "decay"}, kind)
        if "origin" not in dparams or "scale" not in dparams:
            raise DslError(f"[{kind}] needs numeric origin and scale")
        num = {kk: _float_param(v, f"{kind}.{kk}") for kk, v in dparams.items()}
        try:
            return F.expr(decay_factor_sql(kind, fld, **num))
        except ValueError as e:
            raise DslError(f"[{kind}] {e}") from e
    fvf = spec["field_value_factor"]
    _reject_unknown(fvf, {"field", "factor", "modifier", "missing"},
                    "field_value_factor")
    fld = _numeric_field(ctx, fvf, "field_value_factor")
    factor = _float_param(fvf.get("factor", 1.0), "field_value_factor.factor")
    modifier = fvf.get("modifier", "none")
    if not isinstance(modifier, str) or modifier not in _FVF_MODIFIERS:
        raise DslError(f"[field_value_factor] modifier must be one of "
                       f"{sorted(_FVF_MODIFIERS)}, got [{modifier}]")
    val = F.col(fld).cast("double")
    if "missing" in fvf:
        val = F.coalesce(val, F.lit(_float_param(fvf["missing"],
                                                 "field_value_factor.missing")))
    return _FVF_MODIFIERS[modifier](val * F.lit(factor))


def _function_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # FunctionScoreQueryBuilder with ONE function — either
    # field_value_factor or a decay function (gauss/exp/linear on a
    # numeric field): match set = the wrapped query's (default
    # match_all); per-doc factor combined by boost_mode. For
    # field_value_factor without [missing], docs whose field is NULL
    # drop from the result (the reference errors per-doc there — the
    # translator's documented boundary keeps the pipeline total); decay
    # functions score missing fields 1.0 (the documented OpenSearch
    # rule).
    _reject_unknown(spec, {"query", "field_value_factor", "boost_mode",
                           "gauss", "exp", "linear"}, "function_score")
    fn_keys = [kk for kk in ("field_value_factor", "gauss", "exp", "linear")
               if kk in spec]
    if len(fn_keys) != 1:
        raise DslError("[function_score] supports exactly one function: "
                       "field_value_factor | gauss | exp | linear")
    boost_mode = spec.get("boost_mode", "multiply")
    if boost_mode not in ("multiply", "sum", "replace"):
        raise DslError(f"[function_score] boost_mode must be "
                       f"multiply|sum|replace, got [{boost_mode}]")
    fval = _function_factor(ctx, spec, fn_keys[0])
    s = _scores_frame(ctx, spec.get("query", {"match_all": {}}),
                      "function_score.query")
    joined = s.join(
        ctx.docs.select(F.col(ctx.id_col).alias("doc_id"), fval.alias("nss_f")),
        "doc_id",
    )
    if fn_keys[0] == "field_value_factor":
        joined = joined.where(F.col("nss_f").isNotNull())
    combined = {
        "multiply": F.col("score") * F.col("nss_f"),
        "sum": F.col("score") + F.col("nss_f"),
        "replace": F.col("nss_f"),
    }[boost_mode]
    return joined.select("doc_id", combined.alias("score"))


def _terms_set_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    # TermsSetQueryBuilder (Lucene CoveringQuery): a boolean OR of term
    # clauses, each doc gated on its own minimum — from a numeric
    # corpus column (minimum_should_match_field) or a constant-integer
    # script (the one script shape that is deterministic without a
    # script engine; anything else rejects). On the analyzed text column
    # the terms match tokens VERBATIM, the term-query convention
    # (terms_set is never analyzed).
    from .exhaustive import bm25_msm

    field, params = _one(spec, "terms_set")
    if field != ctx.text_col:
        raise DslError(f"[terms_set] field [{field}] is not [{ctx.text_col}] "
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
    if has_field == ("minimum_should_match_script" in params):
        raise DslError("[terms_set] needs exactly one of "
                       "minimum_should_match_field / "
                       "minimum_should_match_script")
    kw = dict(id_col=ctx.id_col, text_col=ctx.text_col, round_to=None,
              tokenizer=_analyzer(ctx, False))
    if has_field:
        col = _field(params["minimum_should_match_field"], _schema(ctx.docs),
                     "terms_set", numeric=True)
        return bm25_msm(ctx.docs, tlist, msm_col=col, **kw)
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
        return _const(ctx, ctx.docs.where(F.lit(False)))
    return bm25_msm(ctx.docs, tlist, max(m, 1), **kw)


def _mlt_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    # MoreLikeThisQueryBuilder with one like-document reference:
    # interesting-term selection + boolean-OR rewrite in query/mlt.py;
    # raw-text likes and multi-doc likes are rejected loudly, never
    # approximated
    from . import mlt

    _reject_unknown(spec, {"fields", "like", "max_query_terms",
                           "min_term_freq", "min_doc_freq",
                           "minimum_should_match", "include"},
                    "more_like_this")
    tc = ctx.text_col
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
    doc = _int_param(ref.get("_id"), "more_like_this.like._id")
    counts = {kk: _int_param(spec.get(kk, default), f"more_like_this.{kk}", lo=0)
              for kk, default in (("max_query_terms", mlt.MAX_QUERY_TERMS),
                                  ("min_term_freq", mlt.MIN_TERM_FREQ),
                                  ("min_doc_freq", mlt.MIN_DOC_FREQ))}
    include = spec.get("include", False)
    if not isinstance(include, bool):
        raise DslError(f"[more_like_this] include must be a boolean, got {include!r}")
    return mlt.more_like_this_topk(
        ctx.docs, doc, **counts,
        minimum_should_match=spec.get("minimum_should_match", mlt.DEFAULT_MSM),
        include=include, k=k, id_col=ctx.id_col, text_col=tc,
        tokenizer=_analyzer(ctx, False),
    )


def _pinned_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    # PinnedQueryBuilder: the listed ids rank first IN LIST ORDER,
    # whatever the organic scores; organic hits follow by their own
    # scores; a pinned doc never also appears organically. The cut
    # orders by (pinned position, score desc, doc_id asc); the pinned
    # docs score PINNED_BASE + (n − position) — the reference pins with
    # float scores just above Float.MAX_VALUE/2, an implementation
    # detail there too — exact doubles in both engines.
    _reject_unknown(spec, {"ids", "organic"}, "pinned")
    ids = [_int_param(v, "pinned.ids") for v in _nonempty_list(spec, "ids", "pinned")]
    if len(set(ids)) != len(ids):
        raise DslError(f"[pinned] ids must be duplicate-free, got {ids}")
    if "organic" not in spec:
        raise DslError("[pinned] needs an [organic] query")
    org = _scores_frame(ctx, spec["organic"], "pinned.organic")
    n = len(ids)
    pos = F.create_map(*[x for i, v in enumerate(ids) for x in (F.lit(v), F.lit(i))])
    pinned = (ctx.docs.where(F.col(ctx.id_col).isin(ids))
              .select(F.col(ctx.id_col).alias("doc_id"))
              .withColumn("score", F.lit(1.0e9 + n) - pos[F.col("doc_id")]))
    organic = org.where(~F.col("doc_id").isin(ids))
    both = pinned.unionByName(organic).withColumn(
        "nss_pin", F.coalesce(pos[F.col("doc_id")], F.lit(n)))
    order = [F.col("nss_pin").asc(), F.col("score").desc(), F.col("doc_id").asc()]
    return (both.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
            .select("doc_id", F.round("score", 4).alias("score"), "rank"))


def _wrapper_topk(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    # WrapperQueryBuilder: a base64-encoded JSON query body, decoded
    # and dispatched through the SAME translator — the
    # transport-embedding shape, not a new query semantics
    import base64
    import json

    _reject_unknown(spec, {"query"}, "wrapper")
    raw = spec.get("query")
    if not isinstance(raw, str) or not raw:
        raise DslError("[wrapper] needs a base64 [query] string")
    try:
        inner = json.loads(base64.b64decode(raw, validate=True))
    except Exception as e:
        raise DslError(f"[wrapper] query is not base64-encoded JSON: "
                       f"{e}") from e
    if not isinstance(inner, dict):
        raise DslError("[wrapper] decoded query must be an object")
    return _topk_frame(ctx, inner, k)


# --- span family and intervals ---------------------------------------------------
#
# A span query parses into the normalized plan both executors consume
# (query/spans.py exhaustively; query/spans_indexed.py over the
# positional index). None = provably empty (a clause's dictionary
# expansion matched no term). Semantics and scoring: query/spans.py
# module docstring. ``analyzer`` is the path's analyzer: span_term
# values must be one token under it.


def _span_term_terms(ctx: SearchContext, spec: Any, analyzer: str) -> list[str]:
    """SpanTermQuery takes the term VERBATIM (no query-time analysis,
    like Lucene); a value that is not already one analyzed token would
    silently match nothing, so it is rejected loudly instead."""
    params = _field_params(ctx, spec, "span_term", "value", {"value"})
    val = params.get("value")
    if not isinstance(val, str) or not val:
        raise DslError("[span_term] needs a non-empty string [value]")
    if analyze_query(val, analyzer) != [val]:
        raise DslError(f"[span_term] takes one already-analyzed term; "
                       f"[{val}] is not a single normalized token under "
                       f"the [{analyzer}] analyzer")
    return [val]


def _span_multi_terms(ctx: SearchContext, spec: Any, analyzer: str) -> list[str]:
    """span_multi: a prefix / wildcard / fuzzy / regexp query wrapped
    for position-level matching (SpanMultiTermQueryWrapper), expanded
    against the corpus dictionary under the same max_expansions=50
    top-terms cut as the standalone multi-term rewrites; the wrapped
    query's own validation rules apply unchanged."""
    from .multiterm import expand_terms_corpus, expand_terms_indexed

    _reject_unknown(spec, {"match"}, "span_multi")
    if "match" not in spec:
        raise DslError("[span_multi] needs a [match] query")
    kind, ispec = _one(spec["match"], "span_multi.match")
    if kind not in _MULTITERM_KINDS:
        raise DslError(f"[span_multi] match type [{kind}] unsupported; "
                       f"supported: {', '.join(_MULTITERM_KINDS)}")
    params, matcher = _multiterm_spec(ctx, kind, ispec, set())
    if not params["value"]:
        raise DslError(f"[span_multi.{kind}] needs a non-empty [value]")
    if ctx.reader is not None:
        # index-backed dictionary — identical term set by construction
        # (same corpus, same df ordering)
        return expand_terms_indexed(ctx.reader, matcher=matcher)
    return expand_terms_corpus(ctx.docs, matcher=matcher, id_col=ctx.id_col,
                               text_col=ctx.text_col, tokenizer=analyzer)


def _span_or_terms(ctx: SearchContext, spec: Any, analyzer: str) -> list[str]:
    _reject_unknown(spec, {"clauses"}, "span_or")
    out: set[str] = set()
    for c in _nonempty_list(spec, "clauses", "span_or"):
        if _one(c, "span_or clause")[0] == "span_or":
            raise DslError("[span_or] nested span_or is unsupported; "
                           "flatten the clauses")
        out.update(_span_clause_terms(ctx, c, "span_or clause", analyzer))
    return sorted(out)


# the single-position span clauses, each → its position SET: the
# corpus terms whose occurrences the clause's iterator would enumerate
# (an empty list means the clause matches nothing)
_SPAN_CLAUSES = {"span_term": _span_term_terms, "span_or": _span_or_terms,
                 "span_multi": _span_multi_terms}


def _span_clause_terms(ctx: SearchContext, q: Any, what: str,
                       analyzer: str) -> list[str]:
    kind, spec = _one(q, what)
    if kind not in _SPAN_CLAUSES:
        raise DslError(f"[{what}] span clause type [{kind}] unsupported; "
                       f"supported: {', '.join(_SPAN_CLAUSES)}")
    return _SPAN_CLAUSES[kind](ctx, spec, analyzer)


def _span_set_plan(kind: str, ctx: SearchContext, spec: Any,
                   analyzer: str) -> dict | None:
    terms = _SPAN_CLAUSES[kind](ctx, spec, analyzer)
    return {"kind": "set", "required": [terms]} if terms else None


def _near_plan(ctx: SearchContext, nspec: Any, analyzer: str,
               max_end: int | None = None) -> dict | None:
    from .spans import MAX_ORDERED_CLAUSES, _clause_map

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
    slop = _int_param(nspec.get("slop", 0), "span_near.slop", lo=0)
    sets = [_span_clause_terms(ctx, c, "span_near clause", analyzer)
            for c in clauses]
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


def _span_contain_plan(what: str, ctx: SearchContext, spec: Any,
                       analyzer: str) -> dict | None:
    # SpanContainingQuery / SpanWithinQuery: BIG spans that contain a
    # little occurrence survive (containing scores the big spans,
    # within the little ones). big = an ordered span_near; little = a
    # single-token span clause
    _reject_unknown(spec, {"big", "little"}, what)
    if "big" not in spec or "little" not in spec:
        raise DslError(f"[{what}] needs [big] and [little]")
    btyp, bspec = _one(spec["big"], f"{what}.big")
    if btyp != "span_near":
        raise DslError(f"[{what}] big must be a span_near, got [{btyp}]")
    # structural check BEFORE expansion — an empty dictionary expansion
    # must not data-dependently accept an invalid shape
    if isinstance(bspec, dict) and bspec.get("in_order", True) is not True:
        raise DslError(f"[{what}] big span_near must be in_order")
    bplan = _near_plan(ctx, bspec, analyzer)
    little = _span_clause_terms(ctx, spec["little"], f"{what}.little", analyzer)
    if bplan is None or not little:
        return None
    big_terms = {t for terms in bplan["required"] for t in terms}
    if big_terms & set(little):
        raise DslError(f"[{what}] big/little term sets overlap: "
                       f"{sorted(big_terms & set(little))}")
    return {"kind": "contain", "required": bplan["required"],
            "little": little, "slop": bplan["slop"],
            "within": what == "span_within"}


def _span_first_plan(ctx: SearchContext, spec: Any, analyzer: str) -> dict | None:
    _reject_unknown(spec, {"match", "end"}, "span_first")
    if "match" not in spec or "end" not in spec:
        raise DslError("[span_first] needs [match] and [end]")
    end = _int_param(spec["end"], "span_first.end", lo=0)
    kind, ispec = _one(spec["match"], "span_first.match")
    if kind == "span_near":
        return _near_plan(ctx, ispec, analyzer, max_end=end)
    if kind not in _SPAN_CLAUSES:
        raise DslError(f"[span_first] match type [{kind}] unsupported; "
                       f"supported: {', '.join(_SPAN_CLAUSES)}, span_near")
    terms = _span_clause_terms(ctx, spec["match"], "span_first.match", analyzer)
    if not terms:
        return None
    return {"kind": "set", "required": [terms], "max_end": end}


def _span_not_plan(ctx: SearchContext, spec: Any, analyzer: str) -> dict | None:
    _reject_unknown(spec, {"include", "exclude", "pre", "post", "dist"},
                    "span_not")
    if "include" not in spec or "exclude" not in spec:
        raise DslError("[span_not] needs [include] and [exclude]")
    if "dist" in spec and ("pre" in spec or "post" in spec):
        raise DslError("[span_not] dist is shorthand for pre+post; give "
                       "one or the other")
    dist = _int_param(spec.get("dist", 0), "span_not.dist", lo=0)
    pre = _int_param(spec.get("pre", dist), "span_not.pre", lo=0)
    post = _int_param(spec.get("post", dist), "span_not.post", lo=0)
    include = _span_clause_terms(ctx, spec["include"], "span_not.include", analyzer)
    exclude = _span_clause_terms(ctx, spec["exclude"], "span_not.exclude", analyzer)
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


_SPAN_PLANS = {
    **{kind: partial(_span_set_plan, kind) for kind in _SPAN_CLAUSES},
    "span_near": _near_plan,
    "span_first": _span_first_plan,
    "span_not": _span_not_plan,
    "span_containing": partial(_span_contain_plan, "span_containing"),
    "span_within": partial(_span_contain_plan, "span_within"),
}


def _span_plan(typ: str, ctx: SearchContext, spec: Any,
               analyzer: str) -> dict | None:
    if not isinstance(spec, dict):
        raise DslError(f"[{typ}] must be an object")
    return _SPAN_PLANS[typ](ctx, spec, analyzer)


def _span_scores(typ: str, ctx: SearchContext, spec: Any) -> DataFrame:
    """Full-frame (doc_id, score) for any span query — the raw shape
    hybrid normalization consumes; the top-k rounds it first (the
    handler's round-then-rank)."""
    from .spans import span_contain_scores, span_near_scores, span_not_scores, span_set_scores

    an = _analyzer(ctx, False)
    plan = _span_plan(typ, ctx, spec, an)
    if plan is None:
        return _const(ctx, ctx.docs.where(F.lit(False)), 0.0)
    kw = dict(analyzer=an, id_col=ctx.id_col, text_col=ctx.text_col, round_to=None)
    if plan["kind"] == "set":
        s = span_set_scores(ctx.docs, plan["required"][0],
                            max_end=plan.get("max_end"), **kw)
    elif plan["kind"] == "not":
        s = span_not_scores(ctx.docs, plan["required"][0], plan["exclude"],
                            pre=plan["pre"], post=plan["post"], **kw)
    elif plan["kind"] == "contain":
        s = span_contain_scores(ctx.docs, plan["required"], plan["little"],
                                slop=plan["slop"], within=plan["within"], **kw)
    else:
        s = span_near_scores(ctx.docs, plan["required"], slop=plan["slop"],
                             in_order=plan["in_order"],
                             max_end=plan.get("max_end"), **kw)
    return s.select("doc_id", "score")


def _span_indexed(typ: str, ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    """Span queries serve from the POSITIONAL index: candidate-block
    position decode + vectorized searchsorted span iterators — no
    corpus re-tokenize (query/spans_indexed.py)."""
    from .spans_indexed import span_topk_indexed

    plan = _span_plan(typ, ctx, spec, _analyzer(ctx, True))
    if plan is None:
        return _no_hits(ctx)
    # round_to=4 pre-rounds inside the kernel cut (round-then-rank,
    # matching the exhaustive span branch)
    return _ranked(span_topk_indexed(ctx.reader, plan, k=k, round_to=4), ctx.id_col)


def _intervals_plan(ctx: SearchContext, spec: Any, analyzer: str) -> tuple:
    """Parse an ``intervals`` body into (clause term sets, max_gaps,
    ordered). Supported sources: ``match`` (one single-term clause per
    analyzed token, position order preserved) and ``any_of`` over
    single-term matches (one union clause — every occurrence is a
    length-1 minimal interval). The filter algebra (all_of, prefix,
    before/after/containing, ...) is rejected by name."""
    if not isinstance(spec, dict):
        raise DslError("[intervals] must be an object")
    field, src = _one(spec, "intervals")
    if field != ctx.text_col:
        raise DslError(f"[intervals] field [{field}] is not the corpus "
                       f"text column [{ctx.text_col}]")
    styp, sspec = _one(src, "intervals source")
    if styp == "match":
        _reject_unknown(sspec, {"query", "max_gaps", "ordered"},
                        "intervals.match")
        toks = analyze_query(_query_text(sspec, "intervals.match"),
                             analyzer)  # order matters
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
        max_gaps = _int_param(sspec.get("max_gaps", -1),
                              "intervals.match.max_gaps", lo=-1)
        return [[t] for t in toks], max_gaps, ordered
    if styp == "any_of":
        _reject_unknown(sspec, {"intervals"}, "intervals.any_of")
        terms: set[str] = set()
        for sub in _nonempty_list(sspec, "intervals", "intervals.any_of"):
            sub_typ, sub_spec = _one(sub, "intervals.any_of entry")
            if sub_typ != "match":
                raise DslError("[intervals.any_of] entries must be "
                               "single-term [match] sources")
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


def _intervals_scores(ctx: SearchContext, spec: Any) -> DataFrame:
    from .intervals import interval_scores

    an = _analyzer(ctx, False)
    clauses, max_gaps, ordered = _intervals_plan(ctx, spec, an)
    return interval_scores(
        ctx.docs, clauses, max_gaps=max_gaps, ordered=ordered,
        analyzer=an, id_col=ctx.id_col, text_col=ctx.text_col, round_to=None,
    ).select("doc_id", "score")


def _intervals_indexed(ctx: SearchContext, spec: Any, k: int) -> DataFrame:
    # minimal-interval enumeration over the SAME positional kernel
    # (spans_indexed._enumerate_iv) — no corpus re-tokenize
    from .spans_indexed import span_topk_indexed

    clauses, max_gaps, ordered = _intervals_plan(ctx, spec, _analyzer(ctx, True))
    plan = {"kind": "iv", "required": clauses, "max_gaps": max_gaps,
            "ordered": ordered}
    return _ranked(span_topk_indexed(ctx.reader, plan, k=k, round_to=4), ctx.id_col)


# --- the handler table ----------------------------------------------------------


@dataclass(frozen=True)
class _Handler:
    """One query type's translation. ``scores(ctx, spec)`` is the full
    raw (doc_id, score) match set; ``subquery`` says whether the type may
    stand where a scoring sub-query goes (hybrid, dis_max, the compound
    wrappers). The rest are optional: ``topk(ctx, spec, k)`` where the
    exhaustive top-k is not the ranked ``scores`` (``round_first``
    selects round-then-rank for that ranking); ``indexed_topk(ctx, spec,
    k)`` on the index kernels, used under a reader; ``matched(ctx,
    spec)`` the aggs/sort hit set as one id column; ``terms(ctx, spec,
    what)`` the scoring terms explain and highlight break down."""

    scores: Callable[[SearchContext, Any], DataFrame] | None = None
    topk: Callable[[SearchContext, Any, int], DataFrame] | None = None
    indexed_topk: Callable[[SearchContext, Any, int], DataFrame] | None = None
    matched: Callable[[SearchContext, Any], DataFrame] | None = None
    terms: Callable[[SearchContext, Any, str], list[str]] | None = None
    subquery: bool = True
    round_first: bool = False


def _leaf(scores: Callable[[SearchContext, Any], DataFrame]) -> _Handler:
    """A type whose aggs/sort hit set is its scored match set."""
    return _Handler(scores=scores,
                    matched=lambda ctx, spec: _ids(ctx, scores(ctx, spec)))


# containment probes have no kernel mode yet: with a reader they serve
# exhaustively, like a reader-less context
_SPAN_KERNEL_FREE = ("span_containing", "span_within")

_HANDLERS: dict[str, _Handler] = {
    "match": _Handler(scores=_match_scores, topk=_match_topk,
                      indexed_topk=partial(_match_topk, indexed=True),
                      matched=_match_matched,
                      terms=_match_terms_of),
    "match_phrase": _Handler(scores=_phrase_scores, indexed_topk=_phrase_indexed,
                             terms=_phrase_terms),
    "match_phrase_prefix": _Handler(
        topk=_phrase_prefix_topk, indexed_topk=partial(_phrase_prefix_topk, indexed=True)),
    **{kind: _Handler(topk=partial(_multiterm_topk, kind, _expansion_topk),
                      indexed_topk=partial(_multiterm_topk, kind, _expansion_indexed))
       for kind in _MULTITERM_KINDS},
    "bool": _Handler(topk=_bool_topk, indexed_topk=partial(_bool_topk, indexed=True),
                     matched=_bool_matched, terms=_bool_terms),
    "dis_max": _Handler(topk=_dis_max_topk),
    "hybrid": _Handler(topk=_hybrid_topk, matched=_hybrid_matched),
    "neural": _vector_handler(_neural_hits),
    "neural_sparse": _Handler(scores=_sparse_scores),
    "nested": _leaf(_nested_scores),
    "term": _leaf(_term_scores),
    "terms": _leaf(_terms_scores),
    "range": _leaf(lambda ctx, spec: _filter_frame(ctx, {"range": spec})),
    "exists": _leaf(lambda ctx, spec: _filter_frame(ctx, {"exists": spec})),
    "ids": _Handler(scores=_ids_scores),
    "match_all": _leaf(_match_all_scores),
    "constant_score": _leaf(_constant_score_scores),
    "multi_match": _Handler(scores=_multi_match_scores, topk=_multi_match_topk),
    "boosting": _Handler(scores=_boosting_scores, subquery=False),
    "function_score": _Handler(scores=_function_scores, subquery=False),
    "simple_query_string": _Handler(scores=_simple_query_scores),
    "more_like_this": _Handler(topk=_mlt_topk),
    "rank_feature": _Handler(scores=_rank_feature_scores),
    "match_bool_prefix": _Handler(scores=_match_bool_prefix_scores),
    "query_string": _Handler(scores=_query_string_scores),
    "terms_set": _Handler(scores=_terms_set_scores, subquery=False,
                          round_first=True),
    "knn": _vector_handler(_knn_hits),
    "script_score": _Handler(scores=_script_scores),
    "pinned": _Handler(topk=_pinned_topk),
    "wrapper": _Handler(topk=_wrapper_topk),
    "match_none": _Handler(scores=_match_none_scores),
    "distance_feature": _Handler(scores=_distance_feature_scores),
    **{kind: _Handler(scores=partial(_span_scores, kind), round_first=True,
                      indexed_topk=None if kind in _SPAN_KERNEL_FREE
                      else partial(_span_indexed, kind))
       for kind in _SPAN_PLANS},
    "intervals": _Handler(scores=_intervals_scores, indexed_topk=_intervals_indexed,
                          round_first=True),
}
_QUERY_TYPES = tuple(_HANDLERS)
_SUBQUERY_TYPES = tuple(t for t, h in _HANDLERS.items()
                        if h.scores is not None and h.subquery)


def _supporting(hook: str) -> str:
    return ", ".join(t for t, h in _HANDLERS.items() if getattr(h, hook) is not None)


# --- dispatch ---------------------------------------------------------------------


def _scores(ctx: SearchContext, q: Any, what: str = "hybrid sub-query") -> DataFrame:
    """One scoring sub-query's full raw (doc_id, score) match set —
    hybrid sub-queries, dis_max, and the compound wrappers (boosting,
    function_score, script_score, pinned) compose over exactly this
    family."""
    typ, spec = _one(q, what)
    h = _HANDLERS.get(typ)
    if h is None or h.scores is None or not h.subquery:
        raise DslError(f"{what} type [{typ}] unsupported; supported: "
                       f"{', '.join(_SUBQUERY_TYPES)}")
    return h.scores(ctx, spec)


def _scores_frame(ctx: SearchContext, q: Any, what: str) -> DataFrame:
    """``_scores`` in a compound wrapper's slot: errors name the slot."""
    try:
        return _scores(ctx, q)
    except DslError as e:
        raise DslError(f"[{what}] {e}") from e


def _topk_frame(ctx: SearchContext, q: Any, k: int) -> DataFrame:
    typ, spec = _one(q, "query")
    h = _HANDLERS.get(typ)
    if h is None:
        raise DslError(f"unknown query type [{typ}]; supported: "
                       f"{', '.join(_QUERY_TYPES)}")
    if ctx.reader is not None and h.indexed_topk is not None:
        _require_doc_key(ctx)
        return h.indexed_topk(ctx, spec, k)
    if h.topk is not None:
        return h.topk(ctx, spec, k)
    return _rank(h.scores(ctx, spec), k, h.round_first)


def _matched_docs(ctx: SearchContext, q: Any) -> DataFrame:
    """The FULL hit set (no top-k cut) joined back to the corpus —
    aggregations run over every matching doc, as in the reference
    (aggs see all hits, not the size window)."""
    typ, spec = _one(q, "query")
    h = _HANDLERS.get(typ)
    if h is None or h.matched is None:
        raise DslError(f"aggs/sort hit sets support {_supporting('matched')}; "
                       f"got [{typ}]")
    return h.matched(ctx, spec).join(ctx.docs, ctx.id_col)


def _terms_of(ctx: SearchContext, typ: str, spec: Any, what: str) -> list[str]:
    h = _HANDLERS.get(typ)
    if h is None or h.terms is None:
        raise DslError(f"[{what}] supports {_supporting('terms')} bodies")
    return h.terms(ctx, spec, what)


def _plain_or_match(ctx: SearchContext, typ: str, spec: Any) -> bool:
    return (typ == "match" and ctx.reader is None
            and _match_clause(ctx, spec, "match", _analyzer(ctx, False))[1] == "or")


def _parse_sorts(body_sort: Any, schema: dict[str, str]) -> list[tuple[str, str]]:
    if not isinstance(body_sort, list):
        raise DslError("[sort] must be a list")
    sorts = []
    for s in body_sort:
        if isinstance(s, str):
            col, order = s, "asc"
        else:
            col, o = _one(s, "sort")
            order = o.get("order") if isinstance(o, dict) else o
        if not isinstance(order, str) or order.lower() not in ("asc", "desc"):
            raise DslError(f"[sort] order must be asc|desc, got {order!r}")
        sorts.append((_field(col, schema, "sort"), order))
    return sorts


def search(ctx: SearchContext, body: dict, pipeline: dict | None = None) -> DataFrame:
    """Run one OpenSearch-style search body. ``pipeline`` carries the
    hybrid normalization/combination config (the plugin configures it
    on a search pipeline, not in the body)."""
    if not isinstance(body, dict):
        raise DslError(f"a search body must be an object, got {body!r}")
    if "aggs" in body:
        if _int_param(body.get("size", 0), "size") != 0:
            raise DslError("search() returns one frame; a hits+aggs body "
                           "(size > 0 with aggs) goes through "
                           "search_with_aggs(), which returns both")
        return aggregate(ctx, body)
    if "suggest" in body:
        return _suggest(ctx, body)
    _reject_unknown(body, _BODY_KEYS, "search body")
    if "query" not in body:
        raise DslError("search body needs a [query]")
    q = body["query"]
    typ, spec = _one(q, "query")
    size = _int_param(body.get("size", 10), "size", lo=0)
    from_ = _int_param(body.get("from", 0), "from", lo=0)
    with _rejects(typ):
        return _search(ctx, body, pipeline, q, typ, spec, size, from_)


def _search(ctx: SearchContext, body: dict, pipeline: dict | None, q: dict,
            typ: str, spec: Any, size: int, from_: int) -> DataFrame:
    view = "explain" if body.get("explain") else ("highlight" if "highlight" in body else None)
    if view is not None:
        # explain: the per-hit BM25 factor table (Lucene Explanation
        # analog) on match / match_phrase / bool bodies and on the
        # indexed path; highlight: a snippet window around the first
        # query-term occurrence. The hits come from the dispatched
        # kernel, the view joins to them (bounded by k × |terms| rows)
        # — a plain OR match's own scorer top-k IS the hit list
        from .exhaustive import bm25_explain
        from .highlight import highlight_topk

        if from_ != 0 or set(body) - {"query", "size", view}:
            raise DslError(f"[{view}] bodies support query + size only")
        if view == "explain" and typ == "hybrid":
            return _hybrid_explain(ctx, body, spec, pipeline)
        kw = {}
        if view == "highlight":
            hl = body["highlight"]
            _reject_unknown(hl, {"fields", "window"}, "highlight")
            if "fields" not in hl:
                raise DslError("[highlight] needs [fields]")
            if _one(hl["fields"], "highlight.fields")[0] != ctx.text_col:
                raise DslError("[highlight] supports the corpus text field only")
            if "window" in hl:
                kw["window"] = _int_param(hl["window"], "highlight.window", lo=0)
        terms = _terms_of(ctx, typ, spec, view)
        hits = None if _plain_or_match(ctx, typ, spec) else _topk_frame(ctx, q, size)
        fn = bm25_explain if view == "explain" else highlight_topk
        return fn(ctx.docs, terms, k=size, id_col=ctx.id_col, text_col=ctx.text_col,
                  hits=hits, tokenizer=_analyzer(ctx, True), **kw)

    if "sort" in body and typ != "hybrid":
        # OpenSearch sort semantics: the sort REPLACES relevance
        # ranking — the size window cuts the sorted FULL hit set, and
        # search_after keyset-pages through that order
        # (PagingFieldCollector; reference HybridCollectorManager.java:
        # 295-310 builds exactly these field collectors)
        from .paginate import search_after_fields, sort_by_fields

        _reject_unknown(body, {"query", "size", "sort", "search_after",
                               "post_filter"}, "sort body")
        schema = _schema(ctx.docs)
        sorts = _parse_sorts(body["sort"], schema)
        matched = _matched_docs(ctx, q)
        if "post_filter" in body:
            matched = matched.where(F.expr(_predicate_sql(body["post_filter"], schema)))
        fields = {c.lower(): c for c, _ in sorts if c.lower() != "doc_id"}
        base = matched.select(F.col(ctx.id_col).alias("doc_id"), *fields.values())
        if "search_after" in body:
            sa = body["search_after"]
            if not isinstance(sa, (list, tuple)) or len(sa) != len(sorts) + 1:
                raise DslError("[search_after] with sort expects "
                               "[*sort_values, doc_id] — the previous page's "
                               "last sort tuple plus its doc_id tiebreak")
            for (c, _), v in zip(sorts, sa):
                _scalar_lit(v, schema[c.lower()], "search_after")
            return search_after_fields(
                base, sorts, list(sa[:-1]),
                _int_param(sa[-1], "search_after.doc_id"), k=size)
        return sort_by_fields(base, sorts, k=size)

    if typ == "hybrid":
        from .exhaustive import topk
        from .hybrid import combine, normalize, rrf_combine

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
        return _post_stages(ctx, topk(out, k=size), body, size)

    for key in ("search_after", "rescore"):
        if key in body and (typ != "match" or set(body) - {"query", "size", key}):
            raise DslError(f"[{key}] supports plain match bodies (query + size only)")
    if "search_after" in body:
        # keyset pagination: the client supplies the previous page's
        # last (score, doc_id) sort tuple — the page is O(size) work
        # after one predicate, no deepening from-offset scan
        from .exhaustive import bm25_scores
        from .paginate import search_after

        sa = body["search_after"]
        if not isinstance(sa, (list, tuple)) or len(sa) != 2:
            raise DslError("[search_after] expects [score, doc_id] — the "
                           "previous page's last sort tuple")
        after = (_float_param(sa[0], "search_after.score"),
                 _int_param(sa[1], "search_after.doc_id"))
        scores = bm25_scores(ctx.docs, _match_terms(ctx, spec, "match"),
                             id_col=ctx.id_col, text_col=ctx.text_col, round_to=4,
                             tokenizer=_analyzer(ctx, False))
        page = search_after(scores, *after, k=size)
        w = Window.orderBy(F.col("score").desc(), F.col(ctx.id_col).asc())
        return page.withColumn("rank", F.row_number().over(w).cast("int"))

    if "rescore" in body:
        # OpenSearch rescore: re-rank the top window_size hits of the
        # main query by a weighted combination with a rescore query's
        # scores — the window is re-ranked, the corpus never re-scored
        from .rerank import rescore as _rescore

        rs = body["rescore"]
        _reject_unknown(rs, {"window_size", "query"}, "rescore")
        if "query" not in rs:
            raise DslError("[rescore] needs a [query]")
        rq = rs["query"]
        _reject_unknown(rq, {"rescore_query", "query_weight",
                             "rescore_query_weight"}, "rescore.query")
        if "rescore_query" not in rq:
            raise DslError("[rescore.query] needs a [rescore_query]")
        rtyp, rspec = _one(rq["rescore_query"], "rescore_query")
        if rtyp != "match":
            raise DslError("[rescore_query] must be a match query")
        window = _int_param(rs.get("window_size", 10), "rescore.window_size", lo=0)
        an = _analyzer(ctx, False)
        main = _bm25(ctx, _match_terms(ctx, spec, "match"), "or", an)
        win = main.orderBy(F.col("score").desc(), F.col(ctx.id_col).asc()).limit(window)
        rsc = _bm25(ctx, _match_terms(ctx, rspec, "match"), "or", an)
        out = _rescore(
            win, rsc,
            weight_original=_float_param(rq.get("query_weight", 1.0),
                                         "rescore.query_weight"),
            weight_rescore=_float_param(rq.get("rescore_query_weight", 1.0),
                                        "rescore.rescore_query_weight"),
            k=size)
        return out.withColumn("score", F.round("score", 4))

    # non-hybrid from: fetch from+size, drop the leading ranks
    top = _topk_frame(ctx, q, from_ + size)
    if from_:
        top = top.where(F.col("rank") > from_)
    return _post_stages(ctx, top, body, size)


def _hybrid_explain(ctx: SearchContext, body: dict, spec: Any,
                    pipeline: dict | None) -> DataFrame:
    """Hybrid bodies explain through the NORMALIZATION provenance
    processor (the plugin's explanation response processor documents
    raw/normalized/weight/combined per sub-query), not the per-term
    BM25 factor table."""
    from .hybrid import explain_scores

    if _int_param(body.get("size", 0), "size") != 0:
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


def _post_stages(ctx: SearchContext, out: DataFrame, body: dict,
                 size: int) -> DataFrame:
    if "post_filter" in body:
        from .filters import post_filter

        pred = _predicate_sql(body["post_filter"], _schema(ctx.docs))
        out = post_filter(out, ctx.docs, F.expr(pred))
    if "sort" in body:
        from .paginate import sort_by_fields

        joined = out.join(ctx.docs.drop(ctx.text_col), ctx.id_col)
        out = sort_by_fields(joined, _parse_sorts(body["sort"], _schema(joined)),
                             k=size)
    if "collapse" in body:
        from .paginate import field_collapse

        c = body["collapse"]
        if not isinstance(c, dict) or "field" not in c:
            raise DslError("[collapse] needs a [field]")
        field = _field(c["field"], _schema(ctx.docs), "collapse")
        out = field_collapse(out, ctx.docs, field, k=size, id_col=ctx.id_col)
    return out


def _suggest(ctx: SearchContext, body: dict) -> DataFrame:
    """The suggest section: a spell-correction frame, not a hit list —
    combining it with a query in one body is rejected (one frame per
    search() call, like aggs). The term suggester corrects [text]; the
    completion suggester matches a prefix or regex against the term
    dictionary (the completion-field analog; df = weight)."""
    from .multiterm import regexp_matcher
    from .suggest import completion_suggest, term_suggest

    if set(body) - {"suggest", "size"} or _int_param(body.get("size", 0), "size") != 0:
        raise DslError("[suggest] bodies support the suggest section "
                       "only (size: 0)")
    name, sspec = _one(body["suggest"], "suggest")
    what = f"suggest.{name}"
    kind = "completion" if isinstance(sspec, dict) and "completion" in sspec else "term"
    _reject_unknown(sspec, {kind, *(("prefix", "regex") if kind == "completion"
                                    else ("text",))}, what)
    if kind == "completion" and ("prefix" in sspec) == ("regex" in sspec):
        raise DslError(f"[{what}] completion needs exactly one of [prefix] / [regex]")
    if kind == "term" and (not isinstance(sspec.get("text"), str) or "term" not in sspec):
        raise DslError(f"[{what}] needs a string [text] and [term]")
    opts = sspec[kind]
    _reject_unknown(opts, {"field", "size", *(("max_edits", "suggest_mode")
                                              if kind == "term" else ())},
                    f"{what}.{kind}")
    if opts.get("field", ctx.text_col) != ctx.text_col:
        raise DslError(f"[{what}.{kind}] field must be [{ctx.text_col}]")
    kw = dict(size=_int_param(opts.get("size", 5), f"{what}.{kind}.size", lo=0),
              analyzer=_analyzer(ctx, False), id_col=ctx.id_col,
              text_col=ctx.text_col)
    try:
        if kind == "term":
            return term_suggest(
                ctx.docs, sspec["text"], **kw,
                max_edits=_int_param(opts.get("max_edits", 2), f"{what}.term.max_edits"),
                suggest_mode=opts.get("suggest_mode", "missing"))
        matcher = None
        if not isinstance(sspec.get("regex", sspec.get("prefix")), str):
            raise ValueError("prefix / regex must be a string")
        if "regex" in sspec:
            matcher = regexp_matcher(sspec["regex"])
        return completion_suggest(ctx.docs, prefix=sspec.get("prefix"),
                                  matcher=matcher, **kw)
    except (TypeError, ValueError) as e:
        raise DslError(f"[{what}] {e}") from e


# --- aggregations (size=0 analytics bodies) -------------------------------

# metric agg → (needs a numeric field, aggregate expression)
_METRICS = {
    "avg": (True, lambda c: F.round(F.avg(c), 4)),
    "sum": (True, lambda c: F.round(F.sum(c).cast("double"), 4)),
    "min": (False, F.min),
    "max": (False, F.max),
    "value_count": (False, F.count),
    # exact distinct count (the plugin's cardinality is an HLL
    # approximation at scale — the engine's HLL variant is
    # query/aggs.cardinality_hll, gated by hybrid_cardinality_hll)
    "cardinality": (False, F.count_distinct),
}


def _metric_expr(name: str, metric: str, spec: Any, schema: dict[str, str]):
    if metric not in _METRICS:
        raise DslError(f"unknown metric agg [{metric}]; supported: {sorted(_METRICS)}")
    _reject_unknown(spec, {"field"}, metric)
    if "field" not in spec:
        raise DslError(f"[{metric}] needs a [field]")
    numeric, fn = _METRICS[metric]
    return fn(F.col(_field(spec["field"], schema, metric, numeric=numeric))).alias(name)


def aggregate(ctx: SearchContext, body: dict) -> DataFrame:
    """Run a ``size: 0`` analytics body: one optional ``terms`` bucket
    agg (with metric sub-aggs) or a flat set of metric aggs over the
    full hit set. Scale shape: the hit-set join + ONE groupBy on the
    bucket field — identical to the gated hybrid_aggs family."""
    _reject_unknown(body, {"query", "size", "aggs"}, "aggs body")
    if _int_param(body.get("size", 0), "size") != 0:
        raise DslError("aggs bodies must set size: 0 (hits+aggs in one "
                       "response is not supported; issue two searches)")
    if "query" not in body:
        raise DslError("aggs body needs a [query]")
    aggs = body.get("aggs")
    if not isinstance(aggs, dict) or not aggs:
        raise DslError("[aggs] needs a non-empty object of named aggregations")
    schema = _schema(ctx.docs)
    with _rejects(_one(body["query"], "query")[0]):
        matched = _matched_docs(ctx, body["query"])
    if len(aggs) == 1:
        name, spec = _one(aggs, "aggs")
        if isinstance(spec, dict) and "terms" in spec:
            _reject_unknown(spec, {"terms", "aggs"}, name)
            t = spec["terms"]
            _reject_unknown(t, {"field", "size"}, "terms")
            if "field" not in t:
                raise DslError("[terms] agg needs a [field]")
            fld = _field(t["field"], schema, "terms")
            subs = [F.count(F.lit(1)).alias("doc_count")]
            sub_aggs = spec.get("aggs") or {}
            if not isinstance(sub_aggs, dict):
                raise DslError(f"[{name}.aggs] must be an object")
            for sub_name, sub_spec in sub_aggs.items():
                st, ss = _one(sub_spec, sub_name)
                subs.append(_metric_expr(sub_name, st, ss, schema))
            out = matched.groupBy(fld).agg(*subs)
            if "size" in t:
                out = out.orderBy(F.col("doc_count").desc(), F.col(fld).asc()).limit(
                    _int_param(t["size"], "terms.size", lo=0))
            return out
    exprs = []
    for name, spec in aggs.items():
        st, ss = _one(spec, name)
        if st == "terms":
            raise DslError("terms must be the single top-level agg")
        exprs.append(_metric_expr(name, st, ss, schema))
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
    if not isinstance(body, dict) or "aggs" not in body:
        raise DslError("search_with_aggs needs an [aggs] block — use "
                       "search() for hits-only bodies")
    if _int_param(body.get("size", 10), "size") <= 0:
        raise DslError("search_with_aggs needs size > 0 — use search() "
                       "for size: 0 aggs-only bodies")
    if "query" not in body:
        raise DslError("search body needs a [query]")
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

    if not isinstance(bodies, list):
        raise DslError(f"msearch needs a list of bodies, got {bodies!r}")
    analyzer = _analyzer(ctx, True)
    match_bodies: list[tuple[int, tuple[list[str], str], int]] = []
    other_bodies: list[tuple[int, dict]] = []
    for i, body in enumerate(bodies):
        _reject_unknown(body, {"query", "size"}, "msearch body")
        typ, spec = _one(body.get("query"), "query")
        if typ == "match":
            q = _match_clause(ctx, spec, "match", analyzer)
            match_bodies.append((i, q, _int_param(body.get("size", 10), "size", lo=0)))
        else:
            other_bodies.append((i, body))
    if not match_bodies and not other_bodies:
        raise DslError("msearch needs at least one body")

    frames = []
    by_size: dict[int, list[tuple[int, tuple[list[str], str]]]] = {}
    for i, q, s in match_bodies:
        by_size.setdefault(s, []).append((i, q))
    for s, grp in sorted(by_size.items()):
        with _rejects("msearch"):
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
