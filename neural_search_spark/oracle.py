"""DuckDB oracle SQL generators.

Each function returns ANSI SQL (DuckDB dialect) computing the same result
as the corresponding engine query in ``__spark_entry__.queries()``. The
BM25 math, the SmallFloat quantization ladder, and the tokenizer split
regex are shared with the Spark side (single source of truth in
functions/norms.py, functions/tokenize.py, query/bm25.py), so the
driver's side-by-side comparison exercises the real semantics.
"""

from __future__ import annotations

from .functions.norms import quantized_dl_sql
from .functions.tokenize import simple_tokens_sql
from .query.bm25 import B, K1, bm25_sql


def _terms_list(terms: list[str]) -> str:
    inner = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"({inner})"


def bm25_base_ctes(terms: list[str], table: str = "documents") -> str:
    """Shared CTE prefix: tokenize, stats, per-doc-term tf, df."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
  WHERE term IN {_terms_list(terms)}
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
)"""


def bm25_scores_sql(
    terms: list[str],
    table: str = "documents",
    k1: float = K1,
    b: float = B,
    quantize: bool = True,
    round_to: int = 4,
) -> str:
    dl_expr = quantized_dl_sql("dl") if quantize else "dl"
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=k1, b=b)
    return f"""{bm25_base_ctes(terms, table)}
SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score
FROM tf JOIN dfreq USING (term), stats
GROUP BY tf.doc_id"""


def bm25_conjunctive_sql(
    terms: list[str],
    table: str = "documents",
    round_to: int = 4,
) -> str:
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(uniq, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, {round_to}) AS score
FROM scored WHERE nt = {len(uniq)}"""


def bm25_topk_sql(
    terms: list[str],
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def distance_feature_sql(
    field: str,
    origin: float,
    pivot: float,
    boost: float = 1.0,
    k: int = 10,
    table: str = "documents",
) -> str:
    """``distance_feature`` oracle: score = boost × pivot / (pivot +
    |value − origin|) over docs where the field is present — the same
    single SQL expression the translator evaluates (abs/arithmetic
    coincide across engines, so the math is provably shared)."""
    s = (f"{float(boost)!r} * ({float(pivot)!r} / ({float(pivot)!r} + "
         f"abs(CAST({field} AS DOUBLE) - {float(origin)!r})))")
    return f"""
WITH scored AS (
  SELECT doc_id, {s} AS s FROM {table} WHERE {field} IS NOT NULL
)
SELECT doc_id, round(s, 4) AS score,
       CAST(row_number() OVER (ORDER BY s DESC, doc_id ASC) AS INT) AS rank
FROM scored ORDER BY s DESC, doc_id ASC LIMIT {k}"""


def pinned_topk_sql(
    ids: list[int],
    terms: list[str],
    k: int = 10,
    table: str = "documents",
    pinned_base: float = 1.0e9,
) -> str:
    """``pinned`` oracle: the listed ids (those present in the corpus)
    rank first in list order whatever the organic scores, at
    PINNED_BASE + (n − position); organic BM25 hits follow with pinned
    ids excluded. The cut orders by (pinned position, score desc,
    doc_id asc) — the translator's exact order and score assignment, so
    the hash compares real values, not just order."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    n = len(ids)
    rows = ", ".join(
        f"({int(v)}, {float(pinned_base + (n - i))!r}, {i})" for i, v in enumerate(ids)
    )
    id_list = ", ".join(str(int(v)) for v in ids)
    order = "unioned.pos ASC, unioned.score DESC, unioned.doc_id ASC"
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
),
pinned AS (
  SELECT p.doc_id, p.s AS score, p.pos FROM (VALUES {rows}) p(doc_id, s, pos)
  WHERE p.doc_id IN (SELECT doc_id FROM {table})
),
unioned AS (
  SELECT doc_id, score, pos FROM pinned
  UNION ALL
  SELECT doc_id, score, {n} AS pos FROM scored WHERE doc_id NOT IN ({id_list})
)
SELECT doc_id, round(unioned.score, 4) AS score,
       CAST(row_number() OVER (ORDER BY {order}) AS INT) AS rank
FROM unioned ORDER BY {order} LIMIT {k}"""


def bm25_explain_sql(
    terms: list[str],
    k: int = 10,
    table: str = "documents",
    k1: float = K1,
    b: float = B,
) -> str:
    """Per-(top-k doc, term) BM25 factor breakdown — mirrors
    query/exhaustive.bm25_explain with the identical float64 expression
    trees (idf and tf_norm computed separately, product = the fused
    bm25_sql contribution bit-for-bit)."""
    dl_q = f"({quantized_dl_sql('dl')})"
    return f"""{bm25_base_ctes(terms, table)},
per AS (
  SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, dfreq.df AS df,
         ln(1.0 + (N - df + 0.5) / (df + 0.5)) AS idf,
         (tf / (tf + {k1} * (1.0 - {b} + {b} * {dl_q} / avgdl))) AS tf_norm
  FROM tf JOIN dfreq USING (term), stats
),
totals AS (
  SELECT doc_id, round(sum(idf * tf_norm), 4) AS score FROM per GROUP BY doc_id
),
top AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM totals ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT per.doc_id, top.score, top.rank, per.term, per.tf, per.df,
       round(per.idf, 6) AS idf, round(per.tf_norm, 6) AS tf_norm,
       round(per.idf * per.tf_norm, 6) AS contribution
FROM per JOIN top USING (doc_id)"""


def match_text_topk_sql(
    query_text: str,
    k: int = 10,
    table: str = "documents",
    tokenizer: str = "simple",
    round_to: int = 4,
) -> str:
    """``match`` over a RAW query string: DuckDB analyzes the string
    with the SAME tokenizer spec as the engine (split regex + optional
    lowercase from the analyzer registry), dedups the terms, and scores
    BM25 — so query-analysis parity is checked by a third party, not
    mirrored. [Lucene QueryBuilder.createBooleanQuery: match analyzes
    the query text with the field's analyzer before building the
    boolean.]"""
    from .functions.tokenize import resolve_analyzer

    split_re, _token_re, lower = resolve_analyzer(tokenizer)
    qlit = query_text.replace("'", "''")
    qexpr = f"lower('{qlit}')" if lower else f"'{qlit}'"
    # corpus side analyzed with the SAME spec (query and field share the
    # analyzer, as in the reference's match)
    texpr = "lower(text)" if lower else "text"
    duck_toks = (
        f"list_filter(regexp_split_to_array({texpr}, '{split_re}'), x -> x <> '')"
    )
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""
WITH qterms AS (
  SELECT DISTINCT unnest(list_filter(
    regexp_split_to_array({qexpr}, '{split_re}'), x -> x <> '')) AS term
),
tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
  WHERE term IN (SELECT term FROM qterms)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def bm25_and_topk_sql(
    terms: list[str],
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(uniq, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored WHERE nt = {len(uniq)}
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def _weight_case(weights: list[float]) -> str:
    whens = " ".join(
        f"WHEN subquery_idx = {i} THEN {float(w)!r}" for i, w in enumerate(weights)
    )
    return f"(CASE {whens} END)"


def hybrid_sql(
    term_groups: list[list[str]],
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Hybrid pipeline oracle: per-sub-query BM25 → global normalize →
    weighted combine. Sub-queries should be single-term so per-doc score
    doubles are bit-identical across engines (sum-order independence)."""
    all_terms = sorted({t for g in term_groups for t in g})
    w = weights if weights is not None else [1.0] * len(term_groups)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    subs = []
    for i, g in enumerate(term_groups):
        subs.append(
            f"sub{i} AS (SELECT doc_id, sum({contrib}) AS score "
            f"FROM tf JOIN dfreq USING (term), stats WHERE tf.term IN {_terms_list(sorted(g))} "
            f"GROUP BY doc_id)"
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS subquery_idx, doc_id, score FROM sub{i}" for i in range(len(term_groups))
    )
    wexpr = _weight_case(w)
    if combination == "rrf":
        # reciprocal rank fusion: rank-based, no normalization stage
        if normalization != "rrf":
            raise ValueError("rrf combination requires rrf normalization")
        return f"""{bm25_base_ctes(all_terms, table)},
{",".join(subs)},
allsub AS ({union}),
ranked AS (
  SELECT doc_id, subquery_idx,
         row_number() OVER (PARTITION BY subquery_idx
                            ORDER BY score DESC, doc_id ASC) AS r
  FROM allsub
)
SELECT doc_id, round(sum({wexpr} / (60.0 + r)), {round_to}) AS score
FROM ranked GROUP BY doc_id"""
    if normalization == "min_max":
        norm_expr = (
            "CASE WHEN mx = mn THEN 1.0 "
            "WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001 "
            "ELSE (a.score - mn) / (mx - mn) END"
        )
    elif normalization == "l2":
        norm_expr = "CASE WHEN nrm = 0.0 THEN 0.0 ELSE a.score / nrm END"
    elif normalization == "z_score":
        norm_expr = "CASE WHEN sigma = 0.0 THEN 0.0 ELSE (a.score - mu) / sigma END"
    else:
        raise ValueError(normalization)
    if combination == "arithmetic_mean":
        comb = f"sum({wexpr} * nscore) / {float(sum(w))!r}"
        # negative z-scores are real values, not missing-slot markers
        flt = "TRUE" if normalization == "z_score" else "nscore >= 0.0"
    elif combination == "harmonic_mean":
        comb = f"sum({wexpr}) / sum({wexpr} / nscore)"
        flt = "nscore > 0.0"
    elif combination == "geometric_mean":
        comb = f"exp(sum({wexpr} * ln(nscore)) / sum({wexpr}))"
        flt = "nscore > 0.0"
    else:
        raise ValueError(combination)
    return f"""{bm25_base_ctes(all_terms, table)},
{",".join(subs)},
allsub AS ({union}),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx,
         sqrt(sum(score * score)) AS nrm,
         avg(score) AS mu, stddev_pop(score) AS sigma
  FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx, {norm_expr} AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round({comb}, {round_to}) AS score
FROM normed WHERE {flt} GROUP BY doc_id"""


def hybrid_explain_sql(
    term_groups: list[list[str]],
    weights: list[float] | None = None,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for the score-provenance explanation (min_max +
    arithmetic_mean): per (doc_id, subquery_idx) raw/normalized/weight
    plus the doc's combined score."""
    all_terms = sorted({t for g in term_groups for t in g})
    w = weights if weights is not None else [1.0] * len(term_groups)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    subs = []
    for i, g in enumerate(term_groups):
        subs.append(
            f"sub{i} AS (SELECT doc_id, sum({contrib}) AS score "
            f"FROM tf JOIN dfreq USING (term), stats WHERE tf.term IN {_terms_list(sorted(g))} "
            f"GROUP BY doc_id)"
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS subquery_idx, doc_id, score FROM sub{i}" for i in range(len(term_groups))
    )
    wexpr = _weight_case(w)
    norm_expr = (
        "CASE WHEN mx = mn THEN 1.0 "
        "WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001 "
        "ELSE (a.score - mn) / (mx - mn) END"
    )
    return f"""{bm25_base_ctes(all_terms, table)},
{",".join(subs)},
allsub AS ({union}),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx
  FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx, a.score AS raw_score, {norm_expr} AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
),
combined AS (
  SELECT doc_id, sum({wexpr} * nscore) / {float(sum(w))!r} AS combined_score
  FROM normed WHERE nscore >= 0.0 GROUP BY doc_id
)
SELECT n.doc_id, n.subquery_idx, round(n.raw_score, {round_to}) AS raw_score,
       round(n.nscore, {round_to}) AS norm_score, {wexpr} AS weight,
       round(c.combined_score, {round_to}) AS combined_score
FROM normed n LEFT JOIN combined c ON n.doc_id = c.doc_id"""


def indexed_hybrid_sql(
    term_groups: list[list[str]],
    subq_k: int = 50,
    weights: list[float] | None = None,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Hybrid over per-sub-query RETAINED top-k windows (CompoundTopDocs
    semantics): normalize/combine only the top-``subq_k`` hits of each
    sub-query, min_max + weighted arithmetic mean."""
    all_terms = sorted({t for g in term_groups for t in g})
    w = weights if weights is not None else [1.0] * len(term_groups)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    subs = []
    for i, g in enumerate(term_groups):
        subs.append(
            f"sub{i} AS (SELECT doc_id, sum({contrib}) AS score "
            f"FROM tf JOIN dfreq USING (term), stats WHERE tf.term IN {_terms_list(sorted(g))} "
            f"GROUP BY doc_id), "
            f"top{i} AS (SELECT doc_id, score FROM sub{i} "
            f"ORDER BY score DESC, doc_id ASC LIMIT {subq_k})"
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS subquery_idx, doc_id, score FROM top{i}" for i in range(len(term_groups))
    )
    wexpr = _weight_case(w)
    return f"""{bm25_base_ctes(all_terms, table)},
{",".join(subs)},
allsub AS ({union}),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
),
combined AS (
  SELECT doc_id, sum({wexpr} * nscore) / {float(sum(w))!r} AS score
  FROM normed WHERE nscore >= 0.0 GROUP BY doc_id
)
SELECT doc_id, round(combined.score, {round_to}) AS score
FROM combined ORDER BY round(combined.score, {round_to}) DESC, doc_id ASC LIMIT {k}"""


def sparse_features_ctes(table: str = "documents") -> str:
    """token->tf weights per doc (the rank_features analog)."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH feat AS (
  SELECT doc_id, term AS token, CAST(count(*) AS DOUBLE) AS weight
  FROM (SELECT doc_id, unnest({duck_toks}) AS term FROM {table})
  GROUP BY doc_id, term
)"""


def _qw_case(query: dict[str, float]) -> str:
    whens = " ".join(
        f"WHEN token = '{t}' THEN {float(w)!r}" for t, w in sorted(query.items())
    )
    return f"(CASE {whens} END)"


def sparse_scores_sql(query: dict[str, float], table: str = "documents", round_to: int = 4) -> str:
    return f"""{sparse_features_ctes(table)}
SELECT doc_id, round(sum({_qw_case(query)} * weight), {round_to}) AS score
FROM feat WHERE token IN {_terms_list(sorted(query))}
GROUP BY doc_id"""


def sparse_topk_sql(query: dict[str, float], k: int = 10, table: str = "documents", round_to: int = 4) -> str:
    """Single-phase top-k — serves as the oracle for the TWO-phase engine
    path (the reference's own equality invariant,
    NeuralSparseTwoPhaseProcessorIT.java:151-204)."""
    return f"""{sparse_features_ctes(table)},
scored AS (
  SELECT doc_id, sum({_qw_case(query)} * weight) AS score
  FROM feat WHERE token IN {_terms_list(sorted(query))}
  GROUP BY doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def dismax_sparse_sql(
    query: dict[str, float],
    tie_breaker: float = 0.3,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for the DSL's heterogeneous dis_max over [neural_sparse,
    match_all] — the reference's own DisMax composition
    (NeuralSparseTwoPhaseProcessorIT.java:427-430); Lucene
    DisjunctionMaxQuery scoring: max + tie_breaker * (sum of the
    rest)."""
    return f"""{sparse_features_ctes(table)},
sub0 AS (
  SELECT doc_id, sum({_qw_case(query)} * weight) AS score
  FROM feat WHERE token IN {_terms_list(sorted(query))}
  GROUP BY doc_id
),
allsub AS (
  SELECT doc_id, score FROM sub0
  UNION ALL SELECT doc_id, 1.0 FROM {table}
),
comb AS (
  SELECT doc_id,
         max(score) + {float(tie_breaker)!r} * (sum(score) - max(score)) AS score
  FROM allsub GROUP BY doc_id
)
SELECT doc_id, round(score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM comb ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def by_field_rerank_sql(
    terms: list[str], target_field: str = "n_chars", k: int = 10, table: str = "documents"
) -> str:
    """BM25 top-k window reranked by a doc field
    [ByFieldRerankProcessor.java:69-189]."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY tf.doc_id
),
window_hits AS (
  SELECT doc_id FROM scored ORDER BY scored.score DESC, scored.doc_id ASC LIMIT {k}
)
SELECT w.doc_id AS doc_id, CAST(d.{target_field} AS DOUBLE) AS score
FROM window_hits w JOIN {table} d USING (doc_id)
ORDER BY score DESC, w.doc_id ASC"""


def search_after_sql(terms: list[str], page: int = 2, k: int = 10, table: str = "documents", round_to: int = 4) -> str:
    """Keyset page == OFFSET page for a total order — oracle via OFFSET."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY tf.doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k} OFFSET {(page - 1) * k}"""


def hybrid_aggs_sql(terms: list[str], table: str = "documents", round_to: int = 4) -> str:
    """Metric aggregations over hybrid-matched docs grouped by lang
    (MetricAggregationsWithHybridQueryIT.java:83-179 analog)."""
    return f"""{bm25_base_ctes(terms, table)},
matched AS (SELECT DISTINCT doc_id FROM tf)
SELECT d.lang AS lang,
       count(*) AS n,
       count(DISTINCT d.source) AS sources,
       round(avg(d.n_chars), {round_to}) AS avg_chars,
       round(sum(d.n_chars), {round_to}) AS sum_chars,
       min(d.n_chars) AS min_chars,
       max(d.n_chars) AS max_chars,
       round(stddev_samp(d.n_chars), {round_to}) AS sd_chars
FROM matched m JOIN {table} d USING (doc_id)
GROUP BY d.lang"""


def dsl_aggs_sql(terms: list[str], table: str = "documents", round_to: int = 4) -> str:
    """Oracle for the DSL aggs translator: terms bucket on lang with
    cardinality/avg/max metric sub-aggs over the full OR hit set —
    the same matched-set algebra as hybrid_aggs_sql, with OpenSearch's
    doc_count naming."""
    return f"""{bm25_base_ctes(terms, table)},
matched AS (SELECT DISTINCT doc_id FROM tf)
SELECT d.lang AS lang,
       count(*) AS doc_count,
       count(DISTINCT d.source) AS sources,
       round(avg(d.n_chars), {round_to}) AS avg_chars,
       max(d.n_chars) AS max_chars
FROM matched m JOIN {table} d USING (doc_id)
GROUP BY d.lang"""


def dsl_hybrid_union_aggs_sql(
    terms: list[str],
    query_vec_id: int,
    knn_k: int = 50,
    table: str = "documents",
    emb_table: str = "embeddings",
    round_to: int = 4,
) -> str:
    """Aggs over a HYBRID body's hit set — the UNION of the match
    sub-query's OR-matched docs and the neural sub-query's top-k pool
    (totalHits semantics: HybridQueryScorer iterates all sub-scorers;
    aggs run over every matched doc, not the size window)."""
    return f"""{bm25_base_ctes(sorted(set(terms)), table)},
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {emb_table}),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = {query_vec_id}),
knn AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(v, qvec)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 6) AS score
  FROM e, qv WHERE vec_id <> {query_vec_id}
  ORDER BY score DESC, vec_id ASC LIMIT {knn_k}
),
hit AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id FROM tf UNION SELECT doc_id FROM knn
  )
)
SELECT count(d.doc_id) AS n,
       count(DISTINCT d.lang) AS langs,
       round(avg(d.n_chars), {round_to}) AS avg_chars
FROM hit JOIN {table} d USING (doc_id)"""


def bm25_filtered_sql(
    terms: list[str], predicate: str, table: str = "documents", round_to: int = 4
) -> str:
    """FILTER-occur semantics [HybridQuery.java:48-59]: predicate
    restricts matches but stats (N, avgdl, df) stay corpus-global."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY tf.doc_id
)
SELECT s.doc_id AS doc_id, round(s.score, {round_to}) AS score
FROM scored s JOIN {table} d USING (doc_id) WHERE {predicate}"""


def hybrid_post_filter_sql(
    term_groups: list[list[str]],
    predicate: str,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    table: str = "documents",
) -> str:
    """post_filter [HybridCollectorManager.java:91-102]: prune the final
    combined hits without touching their scores."""
    inner = hybrid_sql(term_groups, normalization, combination, weights, table)
    return f"""
SELECT h.doc_id AS doc_id, h.score AS score
FROM ({inner}) h JOIN {table} d USING (doc_id) WHERE {predicate}"""


def delimiter_chunks_oracle_sql(delimiter: str, table: str = "documents") -> str:
    from .operators.chunkers import delimiter_chunks_sql

    _, duck_chunks = delimiter_chunks_sql("text", delimiter)
    return f"""
WITH c AS (SELECT doc_id, {duck_chunks} AS chunks FROM {table})
SELECT doc_id,
       CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
       md5(unnest(chunks)) AS chunk_md5,
       CAST(length(unnest(chunks)) AS BIGINT) AS n_chars
FROM c"""


def fixed_token_chunk_counts_sql(
    token_limit: int = 32,
    overlap_rate: float = 0.25,
    max_chunk_limit: int = 100,
    table: str = "documents",
    tokenizer: str = "whitespace",
) -> str:
    """Closed-form window count for FixedTokenLengthChunker semantics
    [processor/chunker/FixedTokenLengthChunker.java:120-157]: windows of
    token_limit analyzer tokens stepping token_limit − floor(token_limit
    × overlap_rate), remainder merged into the max_chunk_limit-th.
    ``tokenizer`` is a registered analyzer name (the reference chunker's
    analysis-registry knob); the token count is the number of token-
    pattern matches — computed here with DuckDB's own regex engine."""
    import math

    from .functions.tokenize import ANALYZERS

    token_re = ANALYZERS[tokenizer][1]
    step = token_limit - math.floor(token_limit * overlap_rate)
    n = f"len(regexp_extract_all(text, '{token_re}'))"
    return f"""
SELECT doc_id,
       CAST(CASE WHEN {n} = 0 THEN 0
                 WHEN {n} <= {token_limit} THEN 1
                 ELSE least(1 + ceil(({n} - {token_limit}) * 1.0 / {step}), {max_chunk_limit})
            END AS INT) AS n_chunks
FROM {table}"""


def _matched_ctes(terms: list[str], table: str = "documents") -> str:
    return f"""{bm25_base_ctes(terms, table)},
matched AS (SELECT DISTINCT doc_id FROM tf)"""


def hybrid_sort_by_field_sql(
    terms: list[str], k: int = 10, table: str = "documents"
) -> str:
    """Sort hybrid-matched docs by fields with doc-id tiebreak
    [HybridTopFieldDocSortCollector.java:40-416 → TakeOrderedAndProject]."""
    return f"""{_matched_ctes(terms, table)}
SELECT d.doc_id AS doc_id, d.n_chars AS n_chars, d.lang AS lang
FROM matched m JOIN {table} d USING (doc_id)
ORDER BY d.n_chars DESC, d.lang ASC, d.doc_id ASC
LIMIT {k}"""


def sort_after_fields_sql(
    terms: list[str], page: int = 2, k: int = 10, table: str = "documents"
) -> str:
    """Keyset field-sort page == OFFSET page for a total order
    [PagingFieldCollector.java:21-98]."""
    return f"""{_matched_ctes(terms, table)}
SELECT d.doc_id AS doc_id, d.n_chars AS n_chars
FROM matched m JOIN {table} d USING (doc_id)
ORDER BY d.n_chars DESC, d.doc_id ASC
LIMIT {k} OFFSET {(page - 1) * k}"""


def hybrid_total_hits_sql(terms: list[str], table: str = "documents") -> str:
    """totalHits + relation [HybridTopScoreDocCollector.java:118-125 —
    unique matched docs; EQ because we count exactly]."""
    return f"""{_matched_ctes(terms, table)}
SELECT count(*) AS total_hits, 'EQ' AS relation FROM matched"""


def hybrid_pipeline_aggs_sql(terms: list[str], table: str = "documents", round_to: int = 4) -> str:
    """Pipeline aggregations over hybrid buckets: cumulative_sum +
    bucket_script analog (PipelineAggregationsWithHybridQueryIT.java:
    55-97) — Window cumsum over lang-ordered buckets."""
    return f"""{_matched_ctes(terms, table)},
buckets AS (
  SELECT d.lang AS lang, count(*) AS n, sum(d.n_chars) AS sum_chars
  FROM matched m JOIN {table} d USING (doc_id) GROUP BY d.lang
)
SELECT lang, n,
       CAST(sum(n) OVER (ORDER BY lang ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
       round(sum_chars * 1.0 / n, {round_to}) AS chars_per_doc
FROM buckets"""


def hybrid_histogram_sql(
    terms: list[str], width: int = 100, table: str = "documents"
) -> str:
    """Histogram bucket aggregation over hybrid-matched docs
    (BucketAggregationsWithHybridQueryIT.java:70-228)."""
    return f"""{_matched_ctes(terms, table)}
SELECT CAST(floor(d.n_chars / {width}) * {width} AS BIGINT) AS bucket, count(*) AS n
FROM matched m JOIN {table} d USING (doc_id)
GROUP BY 1"""


def rescore_window_sql(
    terms: list[str],
    sparse_query: dict[str, float],
    window: int = 20,
    k: int = 10,
    weight_original: float = 0.5,
    weight_rescore: float = 0.5,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Rescore the top-`window` BM25 hits with a sparse linear scorer
    (HybridCollectorManager.rescore, java:200-227; core rescorer
    query_weight/rescore_query_weight semantics)."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    qw = _qw_case(sparse_query)
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY tf.doc_id
),
win AS (
  SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT {window}
),
feat AS (
  SELECT doc_id, term AS token, CAST(count(*) AS DOUBLE) AS weight
  FROM (SELECT doc_id, unnest({simple_tokens_sql('text')[1]}) AS term FROM {table})
  GROUP BY doc_id, term
),
rs AS (
  SELECT doc_id, sum({qw} * weight) AS rscore
  FROM feat WHERE token IN {_terms_list(sorted(sparse_query))}
  GROUP BY doc_id
)
SELECT w.doc_id AS doc_id,
       round({weight_original} * w.score + {weight_rescore} * coalesce(rs.rscore, 0.0), {round_to}) AS score
FROM win w LEFT JOIN rs USING (doc_id)
ORDER BY ({weight_original} * w.score + {weight_rescore} * coalesce(rs.rscore, 0.0)) DESC, w.doc_id ASC
LIMIT {k}"""


def events_windowed_sql(table: str = "events", round_to: int = 4) -> str:
    """Tumbling 1-day event-time windows (Spark window() epoch-aligns, so
    start == date_trunc('day')); oracle twin of streaming/windows.py
    windowed_event_agg — the same plan runs on readStream with a
    watermark."""
    return f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n,
       round(sum(value), {round_to}) AS sum_value
FROM {table}
GROUP BY 1, 2"""


def events_sessions_sql(gap_hours: int = 12, table: str = "events") -> str:
    """Session windows per user (gap rule == gaps-and-islands lag SQL):
    a session extends while consecutive events are within the gap."""
    return f"""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL {gap_hours} HOUR
              THEN 1 ELSE 0 END AS new_s
  FROM {table}
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM o GROUP BY user_id"""


def events_date_histogram_sql(table: str = "events", round_to: int = 4) -> str:
    """date_histogram bucket agg (calendar month) over the event stream."""
    return f"""
SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
       event_type, count(*) AS n, round(avg(value), {round_to}) AS avg_value
FROM {table} GROUP BY 1, 2"""


def adjacency_matrix_sql(terms: list[str], table: str = "documents") -> str:
    """adjacency_matrix bucket agg: doc counts for each filter and each
    pairwise intersection (filters = single-term containment here)."""
    _, duck_toks = simple_tokens_sql("text")
    uniq = sorted(set(terms))
    sets = ", ".join(
        f"m{i} AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = '{t}')"
        for i, t in enumerate(uniq)
    )
    singles = " UNION ALL ".join(
        f"SELECT '{t}' AS key, (SELECT count(*) FROM m{i}) AS n" for i, t in enumerate(uniq)
    )
    pairs = " UNION ALL ".join(
        f"SELECT '{uniq[i]}&{uniq[j]}' AS key, "
        f"(SELECT count(*) FROM m{i} JOIN m{j} USING (doc_id)) AS n"
        for i in range(len(uniq)) for j in range(i + 1, len(uniq))
    )
    return f"""
WITH tok2 AS (SELECT doc_id, unnest({duck_toks}) AS term FROM {table}),
{sets}
SELECT key, n FROM ({singles} UNION ALL {pairs}) WHERE n > 0"""


def hybrid_significant_terms_sql(
    terms: list[str], k: int = 10, min_fg: int = 5, table: str = "documents", round_to: int = 4
) -> str:
    """significant_terms bucket agg over hybrid-matched docs, JLH score
    (public OpenSearch/ES heuristic): (fg% − bg%) × (fg% / bg%)."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""{_matched_ctes(terms, table)},
alltok AS (SELECT doc_id, unnest({duck_toks}) AS term FROM {table}),
bg AS (SELECT term, count(DISTINCT doc_id) AS bg_df FROM alltok GROUP BY term),
fg AS (
  SELECT term, count(DISTINCT a.doc_id) AS fg_df
  FROM alltok a JOIN matched m ON a.doc_id = m.doc_id GROUP BY term
),
sizes AS (SELECT (SELECT count(*) FROM matched) AS F, (SELECT count(*) FROM {table}) AS B),
scored AS (
  SELECT fg.term AS term, fg_df, bg_df,
         (fg_df * 1.0 / F - bg_df * 1.0 / B) * ((fg_df * 1.0 / F) / (bg_df * 1.0 / B)) AS jlh
  FROM fg JOIN bg USING (term), sizes
  WHERE fg_df >= {min_fg}
)
SELECT term, fg_df, bg_df, round(scored.jlh, {round_to}) AS jlh
FROM scored
ORDER BY scored.jlh DESC, term ASC LIMIT {k}"""


def hybrid_percentiles_sql(
    terms: list[str], probs: list[float], table: str = "documents", round_to: int = 4
) -> str:
    """Exact interpolated percentiles of n_chars over hybrid-matched docs
    (metric agg 'percentiles'; both engines use linear interpolation)."""
    selects = " UNION ALL ".join(
        f"SELECT {p} AS p, round(quantile_cont(d.n_chars, {p}), {round_to}) AS value "
        f"FROM matched m JOIN {table} d USING (doc_id)"
        for p in probs
    )
    return f"""{_matched_ctes(terms, table)}
{selects}"""


def hybrid_top_hits_sql(
    terms: list[str], per_bucket: int = 2, table: str = "documents"
) -> str:
    """top_hits bucket sub-aggregation: best docs per lang bucket by
    (n_chars desc, doc_id asc)."""
    return f"""{_matched_ctes(terms, table)},
ranked AS (
  SELECT d.lang AS lang, d.doc_id AS doc_id, d.n_chars AS n_chars,
         row_number() OVER (PARTITION BY d.lang ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM matched m JOIN {table} d USING (doc_id)
)
SELECT lang, doc_id, n_chars, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= {per_bucket}"""


def events_json_props_sql(table: str = "events", round_to: int = 4) -> str:
    """Nested-JSON field extraction + aggregation (doc-model analog)."""
    return f"""
SELECT event_type,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), {round_to}) AS avg_k,
       count(*) AS n
FROM {table} GROUP BY event_type"""


def sparse_encode_sql(top_m: int = 8, table: str = "documents", round_to: int = 4) -> str:
    """Oracle twin of operators/encoders.sparse_encode."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH tok AS (SELECT doc_id, {duck_toks} AS toks FROM {table}),
tf AS (
  SELECT doc_id, len(toks) AS dl, term AS token, count(*) AS tf
  FROM (SELECT doc_id, toks, unnest(toks) AS term FROM tok)
  GROUP BY doc_id, len(toks), term
),
ranked AS (
  SELECT doc_id, token, tf * 1.0 / dl AS weight,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf * 1.0 / dl DESC, token ASC) AS rn
  FROM tf
)
SELECT doc_id, token, round(weight, {round_to}) AS weight
FROM ranked WHERE rn <= {top_m}"""


def dense_embed_sql(dim: int = 16, table: str = "documents", round_to: int = 4) -> str:
    """Oracle twin of operators/encoders.dense_embed (feature hashing)."""
    from .pipeline.hashing import hash64_sql

    _, duck_toks = simple_tokens_sql("text")
    _, duck_h = hash64_sql("token")
    return f"""
WITH tf AS (
  SELECT doc_id, term AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest({duck_toks}) AS term FROM {table})
  GROUP BY doc_id, term
),
hashed AS (
  SELECT doc_id, tf, {duck_h} AS h FROM tf
),
raw AS (
  SELECT doc_id, h % {dim} AS dim_idx,
         sum(CASE WHEN (h >> 8) % 2 = 0 THEN tf ELSE -tf END * 1.0) AS v
  FROM hashed GROUP BY doc_id, h % {dim}
),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM raw GROUP BY doc_id)
SELECT raw.doc_id AS doc_id, CAST(dim_idx AS INT) AS dim_idx,
       round(CASE WHEN nrm = 0.0 THEN 0.0 ELSE v / nrm END, {round_to}) AS val
FROM raw JOIN nrm USING (doc_id)"""


def doc_stats_sql(table: str = "documents") -> str:
    _, duck_toks = simple_tokens_sql("text")
    return f"""
SELECT count(*) AS n_docs,
       CAST(sum(len({duck_toks})) AS BIGINT) AS total_tokens,
       round(sum(len({duck_toks})) * 1.0 / count(*), 4) AS avgdl
FROM {table}"""


def term_stats_sql(min_df: int = 50, table: str = "documents") -> str:
    """Per-term df and collection tf for frequent terms (index parity)."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH tok AS (SELECT doc_id, unnest({duck_toks}) AS term FROM {table})
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM tok GROUP BY term HAVING count(DISTINCT doc_id) >= {min_df}"""


# --- §2.10 aggregation families (round 2) -----------------------------
# Reference ITs: MetricAggregationsWithHybridQueryIT.java:83-207,
# BucketAggregationsWithHybridQueryIT.java:70-410,
# PipelineAggregationsWithHybridQueryIT.java:55-97.

def hybrid_cardinality_sql(terms: list[str], field: str = "source", table: str = "documents") -> str:
    return f"""{_matched_ctes(terms, table)}
SELECT count(DISTINCT d.{field}) AS cardinality
FROM matched m JOIN {table} d USING (doc_id)"""


def hybrid_cardinality_hll_sql(terms: list[str], table: str = "documents") -> str:
    from .query.aggs import HLL_M, HLL_MAX_RHO, hll_estimate_sql, hll_parts_sql

    parts = hll_parts_sql("CAST(doc_id AS VARCHAR)")["duck"]
    return f"""{_matched_ctes(terms, table)},
hashed AS (SELECT {parts['bucket']} AS bucket, {parts['rho']} AS rho FROM matched),
regs AS (SELECT bucket, max(rho) AS M FROM hashed GROUP BY bucket),
z AS (
  SELECT CAST(sum(1::BIGINT << ({HLL_MAX_RHO} - M)) AS BIGINT) AS z_present,
         count(*) AS nonzero
  FROM regs
),
zz AS (
  SELECT z_present + ({HLL_M} - nonzero) * {1 << HLL_MAX_RHO}::BIGINT AS z_total,
         {HLL_M} - nonzero AS v, nonzero AS nonzero_registers
  FROM z
),
exact AS (SELECT count(DISTINCT doc_id) AS exact FROM matched)
SELECT round({hll_estimate_sql('z_total', 'v')}, 4) AS hll_estimate,
       exact, CAST(nonzero_registers AS BIGINT) AS nonzero_registers
FROM zz, exact"""


def hybrid_percentile_ranks_sql(
    terms: list[str], field: str, values: list[int], table: str = "documents"
) -> str:
    vals = ", ".join(str(int(v)) for v in values)
    return f"""{_matched_ctes(terms, table)}
SELECT CAST(v.value AS BIGINT) AS value,
       round(avg(CASE WHEN d.{field} <= v.value THEN 1.0 ELSE 0.0 END) * 100, 4) AS pct
FROM matched m JOIN {table} d USING (doc_id), (SELECT unnest([{vals}]) AS value) v
GROUP BY v.value"""


SCRIPT_LANG_WEIGHT_SQL = "(CASE WHEN lang = 'en' THEN 1.0 WHEN lang = 'de' THEN 0.8 WHEN lang = 'fr' THEN 0.6 ELSE 0.5 END)"


def hybrid_scripted_metric_sql(terms: list[str], table: str = "documents") -> str:
    return f"""{_matched_ctes(terms, table)}
SELECT round(sum(d.n_chars * {SCRIPT_LANG_WEIGHT_SQL}), 4) AS script_value,
       count(*) AS n
FROM matched m JOIN {table} d USING (doc_id)"""


def hybrid_range_sql(
    terms: list[str], field: str, bounds: list[int], table: str = "documents"
) -> str:
    whens = []
    edges = [None, *bounds, None]
    for lo, hi in zip(edges[:-1], edges[1:]):
        key = f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"
        cond = []
        if lo is not None:
            cond.append(f"d.{field} >= {lo}")
        if hi is not None:
            cond.append(f"d.{field} < {hi}")
        whens.append(f"WHEN {' AND '.join(cond) or 'TRUE'} THEN '{key}'")
    bucket = f"(CASE {' '.join(whens)} END)"
    return f"""{_matched_ctes(terms, table)}
SELECT {bucket} AS bucket, count(*) AS n, round(avg(d.{field}), 4) AS avg_val
FROM matched m JOIN {table} d USING (doc_id)
GROUP BY 1"""


def _scored_cte(terms: list[str], table: str = "documents") -> str:
    """Unrounded BM25 scores CTE (matches bm25_scores(round_to=None))."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(terms, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)"""


def hybrid_sampler_sql(
    terms: list[str], shard_size: int = 100, table: str = "documents"
) -> str:
    return f"""{_scored_cte(terms, table)},
sample AS (
  SELECT doc_id FROM scored ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {shard_size}
)
SELECT d.lang AS lang, count(*) AS n, round(avg(d.n_chars), 4) AS avg_chars
FROM sample s JOIN {table} d USING (doc_id)
GROUP BY d.lang"""


def hybrid_diversified_sampler_sql(
    terms: list[str],
    div_field: str = "source",
    max_docs_per_value: int = 2,
    shard_size: int = 50,
    table: str = "documents",
) -> str:
    return f"""{_scored_cte(terms, table)},
diversified AS (
  SELECT doc_id, score FROM (
    SELECT s.doc_id, s.score,
           row_number() OVER (PARTITION BY d.{div_field}
                              ORDER BY round(s.score, 4) DESC, s.doc_id ASC) AS rn
    FROM scored s JOIN {table} d USING (doc_id)
  ) WHERE rn <= {max_docs_per_value}
),
sample AS (
  SELECT doc_id FROM diversified ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {shard_size}
)
SELECT d.lang AS lang, count(*) AS n, round(avg(d.n_chars), 4) AS avg_chars
FROM sample s JOIN {table} d USING (doc_id)
GROUP BY d.lang"""


def hybrid_nested_sql(terms: list[str], delimiter: str, table: str = "documents") -> str:
    from .operators.chunkers import delimiter_chunks_sql

    _, duck_chunks = delimiter_chunks_sql("d.text", delimiter)
    return f"""{_matched_ctes(terms, table)},
chunks AS (
  SELECT d.lang AS lang, unnest({duck_chunks}) AS chunk
  FROM matched m JOIN {table} d USING (doc_id)
)
SELECT lang, count(*) AS n_chunks, round(avg(length(chunk)), 4) AS avg_chunk_chars
FROM chunks GROUP BY lang"""


def hybrid_global_sql(terms: list[str], table: str = "documents") -> str:
    return f"""{_matched_ctes(terms, table)},
m AS (
  SELECT count(*) AS n_matched, round(avg(d.n_chars), 4) AS avg_chars_matched
  FROM matched mm JOIN {table} d USING (doc_id)
),
g AS (SELECT count(*) AS n_global, round(avg(n_chars), 4) AS avg_chars_global FROM {table})
SELECT n_matched, avg_chars_matched, n_global, avg_chars_global FROM m, g"""


def _lang_buckets_cte(terms: list[str], table: str = "documents") -> str:
    return f"""{_matched_ctes(terms, table)},
buckets AS (
  SELECT d.lang AS lang, count(*) AS n, round(avg(d.n_chars), 4) AS avg_chars
  FROM matched m JOIN {table} d USING (doc_id) GROUP BY d.lang
)"""


def hybrid_bucket_stats_sql(terms: list[str], table: str = "documents") -> str:
    return f"""{_lang_buckets_cte(terms, table)}
SELECT min(n) AS min_n, max(n) AS max_n, round(avg(n), 4) AS avg_n,
       CAST(sum(n) AS BIGINT) AS sum_n, count(*) AS n_buckets
FROM buckets"""


def hybrid_bucket_sort_sql(
    terms: list[str], size: int = 3, frm: int = 1, table: str = "documents"
) -> str:
    return f"""{_lang_buckets_cte(terms, table)}
SELECT lang, n, avg_chars,
       CAST(row_number() OVER (ORDER BY avg_chars DESC, lang ASC) AS INT) AS pos
FROM buckets
ORDER BY avg_chars DESC, lang ASC
LIMIT {size} OFFSET {frm}"""


def bm25_filtered_topk_sql(
    terms: list[str], pred: str, k: int = 10, table: str = "documents", round_to: int = 4
) -> str:
    """Filtered top-k: filter is FILTER-occur (non-scoring, does not
    alter index stats) — HybridQuery.java:48-59. Oracle for the
    indexed filtered path."""
    return f"""{_scored_cte(terms, table)},
kept AS (
  SELECT s.doc_id AS doc_id, s.score AS score
  FROM scored s JOIN {table} d ON s.doc_id = d.doc_id
  WHERE {pred}
)
SELECT doc_id, round(score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM kept ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def hybrid_total_hits_tracked_sql(
    terms: list[str], threshold: int, table: str = "documents"
) -> str:
    """track_total_hits semantics [HitsThresholdChecker.java:17-40]:
    exact count up to the threshold, then reported as
    (threshold, GTE)."""
    return f"""{_matched_ctes(terms, table)},
c AS (SELECT count(*) AS n FROM matched)
SELECT CASE WHEN n > {threshold} THEN {threshold} ELSE n END AS total_hits,
       CASE WHEN n > {threshold} THEN 'GTE' ELSE 'EQ' END AS relation
FROM c"""


def cross_encoder_rerank_sql(
    terms: list[str],
    ce_query: list[str],
    window: int = 20,
    k: int = 10,
    table: str = "documents",
) -> str:
    """Oracle for the cross-encoder rerank slot: BM25 top-``window``
    docs rescored by the stand-in pair model |q∩d| / sqrt(|q|·|d|),
    scores REPLACED, desc re-sort [MLOpenSearchRerankProcessor.java:
    23-83]."""
    q = sorted(set(ce_query))
    _, duck_toks = simple_tokens_sql("text")
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in q)
    return f"""{_scored_cte(terms, table)},
win AS (SELECT doc_id FROM scored ORDER BY score DESC, doc_id ASC LIMIT {window}),
dt AS (
  SELECT d.doc_id AS doc_id, list_distinct({duck_toks}) AS dtoks
  FROM {table} d JOIN win USING (doc_id)
),
ce AS (
  SELECT doc_id,
         round(len(list_filter(dtoks, t -> t IN ({qlist})))
               / sqrt({float(len(q))!r} * len(dtoks)), 4) AS score
  FROM dt
)
SELECT doc_id, score FROM ce ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def nested_chunk_encode_sql(
    path: str = "$.sec.body",
    delimiter: str = "\n\n",
    top_m: int = 8,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for the nested-field ingest walk: build the SAME nested
    JSON doc, extract the dotted path, chunk, sparse-encode per chunk
    [InferenceProcessor.java:297-367, TextChunkingProcessor.java:
    238-270]."""
    from .operators.chunkers import delimiter_chunks_sql

    _, duck_chunks = delimiter_chunks_sql("text", delimiter)
    _, duck_toks = simple_tokens_sql("chunk")
    return f"""
WITH nested AS (
  SELECT doc_id,
         to_json(struct_pack(
           meta := struct_pack(lang := lang, source := source),
           sec := struct_pack(title := substr(text, 1, 40), body := text)
         )) AS doc_json
  FROM {table}
),
body AS (SELECT doc_id, json_extract_string(doc_json, '{path}') AS text FROM nested),
c AS (SELECT doc_id, {duck_chunks} AS chunks FROM body),
chunk_rows AS (
  SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
         unnest(chunks) AS chunk
  FROM c
),
tf AS (
  SELECT doc_id, chunk_idx, dl, token, count(*) AS tf
  FROM (SELECT doc_id, chunk_idx, len({duck_toks}) AS dl, unnest({duck_toks}) AS token
        FROM chunk_rows)
  GROUP BY doc_id, chunk_idx, dl, token
)
SELECT doc_id, chunk_idx, token, round(tf * 1.0 / dl, {round_to}) AS weight
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_idx
                               ORDER BY tf * 1.0 / dl DESC, token ASC) AS rn
  FROM tf
) WHERE rn <= {top_m}"""


def nested_sparse_topk_sql(
    query: dict[str, float],
    delimiter: str,
    score_mode: str = "max",
    top_m: int = 8,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for operators.nested.nested_sparse_scores + top-k (DSL
    nested + neural_sparse inner): chunk the text column, sparse-encode
    each chunk exactly as ingest writes it (top-m length-normalized tf,
    weights rounded), score chunks by the linear product, roll up by
    the block-join ScoreMode [TextEmbeddingProcessorIT.java:130-135]."""
    from .operators.chunkers import delimiter_chunks_sql

    mode_agg = {"max": "max", "sum": "sum", "total": "sum",
                "avg": "avg", "min": "min"}[score_mode]
    _, duck_chunks = delimiter_chunks_sql("text", delimiter)
    _, duck_toks = simple_tokens_sql("chunk")
    return f"""
WITH c AS (SELECT doc_id, {duck_chunks} AS chunks FROM {table}),
chunk_rows AS (
  SELECT doc_id, CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
         unnest(chunks) AS chunk
  FROM c
),
tf AS (
  SELECT doc_id, chunk_idx, dl, token, count(*) AS tf
  FROM (SELECT doc_id, chunk_idx, len({duck_toks}) AS dl, unnest({duck_toks}) AS token
        FROM chunk_rows)
  GROUP BY doc_id, chunk_idx, dl, token
),
feats AS (
  SELECT doc_id, chunk_idx, token, round(tf * 1.0 / dl, 4) AS weight
  FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, chunk_idx
                                 ORDER BY tf * 1.0 / dl DESC, token ASC) AS rn
    FROM tf
  ) WHERE rn <= {top_m}
),
chunk_scores AS (
  SELECT doc_id, chunk_idx, sum({_qw_case(query)} * weight) AS score
  FROM feats WHERE token IN {_terms_list(sorted(query))}
  GROUP BY doc_id, chunk_idx
),
rolled AS (
  SELECT doc_id, {mode_agg}(score) AS score FROM chunk_scores GROUP BY doc_id
)
SELECT doc_id, round(score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM rolled ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def msearch_sql(
    query_batch: list[tuple[list[str], str]], k: int = 10, table: str = "documents"
) -> str:
    """Oracle for the msearch-style batch API: per-query top-k, each
    branch its own scored subquery, UNION ALL with the query index."""
    branches = []
    for qi, (terms, mode) in enumerate(query_batch):
        uniq = sorted(set(terms))
        inner = (
            bm25_and_topk_sql(uniq, k=k, table=table)
            if mode == "and"
            else bm25_topk_sql(uniq, k=k, table=table)
        )
        branches.append(
            f"SELECT CAST({qi} AS INT) AS query_idx, doc_id, score, rank FROM ({inner})"
        )
    return "\nUNION ALL\n".join(branches)


def dsl_msearch_mixed_sql(
    terms_or: list[str],
    phrase: list[str],
    terms_and: list[str],
    lo: int,
    hi: int,
    k: int = 10,
    table: str = "documents",
) -> str:
    """Oracle for the generalized DSL ``_msearch``: a mixed batch —
    match (or), match_phrase, match (operator=and) and a constant-score
    range body — per-body top-k subqueries, UNION ALL with the body's
    batch position (query/dsl.msearch: match bodies ride the multi
    kernel, the rest dispatch through search())."""
    # every branch ranks the RAW score and rounds for display — the
    # engine convention (the multi kernel and search()'s topk both
    # rank unrounded)
    phrase_top = (
        f"SELECT p.doc_id AS doc_id, round(p.score, 4) AS score, "
        f"CAST(row_number() OVER (ORDER BY p.score DESC, p.doc_id ASC) "
        f"AS INT) AS rank FROM "
        f"({bm25_phrase_sql(phrase, table=table, round_to=None)}) p "
        f"ORDER BY p.score DESC, p.doc_id ASC LIMIT {k}")
    and_top = bm25_and_topk_sql(terms_and, k=k, table=table)
    range_top = (f"SELECT doc_id, CAST(1.0 AS DOUBLE) AS score, "
                 f"CAST(row_number() OVER (ORDER BY doc_id ASC) AS INT) "
                 f"AS rank FROM {table} "
                 f"WHERE n_chars >= {float(lo)} AND n_chars <= {float(hi)} "
                 f"ORDER BY doc_id ASC LIMIT {k}")
    branches = [
        f"SELECT CAST(0 AS INT) AS query_idx, doc_id, score, rank "
        f"FROM ({bm25_topk_sql(terms_or, k=k, table=table)})",
        f"SELECT CAST(1 AS INT) AS query_idx, doc_id, score, rank "
        f"FROM ({phrase_top})",
        f"SELECT CAST(2 AS INT) AS query_idx, doc_id, score, rank "
        f"FROM ({and_top})",
        f"SELECT CAST(3 AS INT) AS query_idx, doc_id, score, rank "
        f"FROM ({range_top})",
    ]
    return "\nUNION ALL\n".join(branches)


def joint_embed_sql(dim: int = 16, table: str = "documents", round_to: int = 4) -> str:
    """Oracle twin of pipeline/multimodal.joint_embed: text tokens ∪
    image pseudo-tokens (md5-of-payload 4-hex grams, "img:" prefix) →
    one feature-hashing + L2 pass
    [TextImageEmbeddingProcessor.java:37-189]."""
    from .pipeline.hashing import hash64_sql
    from .pipeline.multimodal import IMG_GRAMS

    _, duck_toks = simple_tokens_sql("text")
    _, duck_h = hash64_sql("token")
    grams = ", ".join(
        f"'img:' || substr(md5(text), {i * 4 + 1}, 4)" for i in range(IMG_GRAMS)
    )
    return f"""
WITH text_tf AS (
  SELECT doc_id, term AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest({duck_toks}) AS term FROM {table})
  GROUP BY doc_id, term
),
img_tf AS (
  SELECT doc_id, g AS token, count(*) AS tf
  FROM (SELECT doc_id, unnest([{grams}]) AS g FROM {table})
  GROUP BY doc_id, g
),
tf AS (SELECT * FROM text_tf UNION ALL SELECT * FROM img_tf),
hashed AS (
  SELECT doc_id, tf, {duck_h} AS h FROM tf
),
raw AS (
  SELECT doc_id, h % {dim} AS dim_idx,
         sum(CASE WHEN (h >> 8) % 2 = 0 THEN tf ELSE -tf END * 1.0) AS v
  FROM hashed GROUP BY doc_id, h % {dim}
),
nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM raw GROUP BY doc_id)
SELECT raw.doc_id AS doc_id, CAST(dim_idx AS INT) AS dim_idx,
       round(CASE WHEN nrm = 0.0 THEN 0.0 ELSE v / nrm END, {round_to}) AS val
FROM raw JOIN nrm USING (doc_id)"""


def field_collapse_sql(
    terms: list[str], collapse_field: str = "source", k: int = 10, table: str = "documents"
) -> str:
    """Oracle for field collapsing: best hit per collapse value, top-k
    of the collapsed set [RescoringRerankProcessor.java:87-88]."""
    return f"""{_scored_cte(terms, table)},
best AS (
  SELECT doc_id, {collapse_field}, score FROM (
    SELECT s.doc_id, d.{collapse_field}, s.score,
           row_number() OVER (PARTITION BY d.{collapse_field}
                              ORDER BY round(s.score, 4) DESC, s.doc_id ASC) AS rn
    FROM scored s JOIN {table} d USING (doc_id)
  ) WHERE rn = 1
)
SELECT doc_id, {collapse_field}, round(score, 4) AS score
FROM best ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {k}"""


def hybrid_heterogeneous_sql(
    terms: list[str],
    range_pred: str,
    sparse_query: dict[str, float],
    weights: list[float],
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for hybrid over heterogeneous sub-queries: BM25 OR (sub 0),
    constant-score range (sub 1), sparse linear (sub 2) — min_max +
    weighted arithmetic mean [HybridQueryIT mixes clause types]."""
    _, duck_toks = simple_tokens_sql("text")
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    wexpr = _weight_case(weights)
    return f"""{bm25_base_ctes(sorted(set(terms)), table)},
feat AS (
  SELECT doc_id, term AS token, CAST(count(*) AS DOUBLE) AS weight
  FROM (SELECT doc_id, unnest({duck_toks}) AS term FROM {table})
  GROUP BY doc_id, term
),
sub0 AS (
  SELECT doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY doc_id
),
sub1 AS (SELECT doc_id, 1.0 AS score FROM {table} WHERE {range_pred}),
sub2 AS (
  SELECT doc_id, sum({_qw_case(sparse_query)} * weight) AS score
  FROM feat WHERE token IN {_terms_list(sorted(sparse_query))}
  GROUP BY doc_id
),
allsub AS (
  SELECT 0 AS subquery_idx, doc_id, score FROM sub0
  UNION ALL SELECT 1, doc_id, score FROM sub1
  UNION ALL SELECT 2, doc_id, score FROM sub2
),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round(sum({wexpr} * nscore) / {float(sum(weights))!r}, {round_to}) AS score
FROM normed WHERE nscore >= 0.0 GROUP BY doc_id"""


def hybrid_extended_stats_sql(terms: list[str], table: str = "documents") -> str:
    """extended_stats over matched docs
    [MetricAggregationsWithHybridQueryIT.java:83-179]."""
    return f"""{_matched_ctes(terms, table)}
SELECT count(*) AS n,
       min(d.n_chars) AS min_v,
       max(d.n_chars) AS max_v,
       round(avg(d.n_chars), 4) AS avg_v,
       CAST(sum(d.n_chars) AS BIGINT) AS sum_v,
       sum(CAST(d.n_chars AS DOUBLE) * d.n_chars) AS sum_sq,
       round(var_pop(d.n_chars), 4) AS variance,
       round(stddev_pop(d.n_chars), 4) AS std_dev,
       round(avg(d.n_chars) + 2 * stddev_pop(d.n_chars), 4) AS std_upper,
       round(avg(d.n_chars) - 2 * stddev_pop(d.n_chars), 4) AS std_lower
FROM matched m JOIN {table} d USING (doc_id)"""


def indexed_hybrid_filtered_sql(
    term_groups: list[list[str]],
    pred: str,
    subq_k: int = 50,
    weights: list[float] | None = None,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """indexed_hybrid_sql with a FILTER-occur predicate AND-ed into
    every sub-query (HybridQuery.java:48-59): the filter restricts each
    sub-query's retained window but never alters scores/stats."""
    all_terms = sorted({t for g in term_groups for t in g})
    w = weights if weights is not None else [1.0] * len(term_groups)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    subs = []
    for i, g in enumerate(term_groups):
        subs.append(
            f"sub{i} AS (SELECT doc_id, sum({contrib}) AS score "
            f"FROM tf JOIN dfreq USING (term), stats WHERE tf.term IN {_terms_list(sorted(g))} "
            f"GROUP BY doc_id), "
            f"top{i} AS (SELECT s.doc_id, s.score FROM sub{i} s JOIN {table} d ON s.doc_id = d.doc_id "
            f"WHERE {pred} ORDER BY s.score DESC, s.doc_id ASC LIMIT {subq_k})"
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS subquery_idx, doc_id, score FROM top{i}" for i in range(len(term_groups))
    )
    wexpr = _weight_case(w)
    return f"""{bm25_base_ctes(all_terms, table)},
{",".join(subs)},
allsub AS ({union}),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
),
combined AS (
  SELECT doc_id, sum({wexpr} * nscore) / {float(sum(w))!r} AS score
  FROM normed WHERE nscore >= 0.0 GROUP BY doc_id
)
SELECT doc_id, round(combined.score, {round_to}) AS score
FROM combined ORDER BY round(combined.score, {round_to}) DESC, doc_id ASC LIMIT {k}"""


def bm25_phrase_sql(
    phrase_terms: list[str], table: str = "documents",
    round_to: int | None = 4,
) -> str:
    """Oracle for match_phrase: contiguous token subsequence gate +
    BM25 over the phrase terms. ``round_to=None`` keeps the raw score
    (for composition inside hybrid normalization)."""
    _, duck_toks = simple_tokens_sql("text")
    uniq = sorted(set(phrase_terms))
    needle = " " + " ".join(phrase_terms) + " "
    needle_sql = needle.replace("'", "''")
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    score_expr = (f"round(sum({contrib}), {round_to})"
                  if round_to is not None else f"sum({contrib})")
    return f"""{bm25_base_ctes(uniq, table)},
phr AS (
  SELECT doc_id FROM {table}
  WHERE position('{needle_sql}' IN ' ' || array_to_string({duck_toks}, ' ') || ' ') > 0
)
SELECT tf.doc_id AS doc_id, {score_expr} AS score
FROM tf JOIN dfreq USING (term), stats
WHERE tf.doc_id IN (SELECT doc_id FROM phr)
GROUP BY tf.doc_id"""


def bm25_phrase_sloppy_sql(
    phrase_terms: list[str],
    slop: int,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for the sloppy ordered phrase (query/phrase.py slop>0 and
    exhaustive.bm25_phrase_sloppy): positions via generate_subscripts,
    a k-way ordered position join as the existence witness
    (p_{i+1} > p_i, p_last - p_0 <= k-1+slop), BM25 over the phrase's
    unique terms."""
    _, duck_toks = simple_tokens_sql("text")
    uniq = sorted(set(phrase_terms))
    k = len(phrase_terms)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    ord_ctes = []
    for i, t in enumerate(phrase_terms):
        t_sql = t.replace("'", "''")
        ord_ctes.append(
            f"o{i} AS (SELECT doc_id, pos AS p{i} FROM pos WHERE term = '{t_sql}')"
        )
    joins = "o0" + "".join(f" JOIN o{i} USING (doc_id)" for i in range(1, k))
    order_preds = " AND ".join(f"p{i} > p{i - 1}" for i in range(1, k)) or "TRUE"
    return f"""{bm25_base_ctes(uniq, table)},
pos AS (
  SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos, unnest(toks) AS term
  FROM tok
),
{",".join(ord_ctes)},
phr AS (
  SELECT DISTINCT doc_id FROM {joins}
  WHERE {order_preds} AND p{k - 1} - p0 <= {k - 1 + slop}
)
SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score
FROM tf JOIN dfreq USING (term), stats
WHERE tf.doc_id IN (SELECT doc_id FROM phr)
GROUP BY tf.doc_id"""


def nested_chunk_scores_sql(
    terms: list[str],
    delimiter: str,
    score_mode: str = "max",
    table: str = "documents",
    operator: str = "or",
) -> str:
    """Oracle for operators.nested.nested_chunk_scores: chunk-level
    BM25 (chunks ARE the scored corpus — N/avgdl/df over chunks),
    per-parent rollup by ``score_mode`` (Lucene block-join ScoreMode:
    max / sum aka total / avg-over-matching-children / min). Full
    (doc_id, score) match set, unrounded — standalone WITH query, so
    it composes as a parenthesized subquery inside hybrid oracles.
    ``operator="and"`` keeps only chunks containing every term
    (per-nested-doc conjunction, before the rollup)."""
    from .operators.chunkers import delimiter_chunks_sql

    mode_agg = {"max": "max", "sum": "sum", "total": "sum",
                "avg": "avg", "min": "min"}[score_mode]

    _, duck_chunks = delimiter_chunks_sql("text", delimiter)
    _, duck_toks = simple_tokens_sql("chunk_text")
    base = 100_000
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    uniq = sorted(set(terms))
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be or|and, got [{operator}]")
    chunk_gate = f"WHERE nt = {len(uniq)}" if operator == "and" else ""
    return f"""
WITH c0 AS (
  SELECT doc_id AS parent_id,
         CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_idx,
         unnest(chunks) AS chunk_text
  FROM (SELECT doc_id, {duck_chunks} AS chunks FROM {table})
),
tok AS (
  SELECT parent_id * {base} + chunk_idx AS chunk_id, {duck_toks} AS toks FROM c0
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
tf AS (
  SELECT chunk_id, dl, term, count(*) AS tf
  FROM (SELECT chunk_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
  WHERE term IN {_terms_list(uniq)}
  GROUP BY chunk_id, dl, term
),
dfreq AS (SELECT term, count(DISTINCT chunk_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.chunk_id, sum({contrib}) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.chunk_id
),
rolled AS (
  SELECT CAST(floor(chunk_id / {base}) AS BIGINT) AS doc_id,
         {mode_agg}(score) AS score
  FROM scored {chunk_gate} GROUP BY 1
)
SELECT doc_id, score FROM rolled"""


def nested_chunk_topk_sql(
    terms: list[str],
    delimiter: str,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
    score_mode: str = "max",
    operator: str = "or",
) -> str:
    """Deterministic top-k over ``nested_chunk_scores_sql`` (oracle for
    operators.nested.nested_chunk_topk and the DSL ``nested`` query)."""
    inner = nested_chunk_scores_sql(terms, delimiter, score_mode, table,
                                    operator=operator)
    return f"""
SELECT doc_id, round(score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM ({inner}) ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def hybrid_term_nested_sql(
    term: str,
    nested_terms: list[str],
    delimiter: str,
    weights: list[float],
    score_mode: str = "sum",
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for hybrid over [term-on-text (single-term BM25), nested
    (inner match rolled up by ScoreMode)] — min_max + weighted
    arithmetic mean. Mirrors the reference's hybrid-of-term-and-nested
    IT [HybridQueryIT.java:434-449: termQuery + nestedQuery
    (ScoreMode.Total) in one HybridQueryBuilder]. The nested sub-query
    composes as a parenthesized WITH subquery whose chunk-level CTE
    names shadow the document-level ones."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    wexpr = _weight_case(weights)
    nested_inner = nested_chunk_scores_sql(nested_terms, delimiter,
                                           score_mode, table)
    return f"""{bm25_base_ctes([term], table)},
sub0 AS (
  SELECT doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY doc_id
),
sub1 AS (SELECT doc_id, score FROM ({nested_inner})),
allsub AS (
  SELECT 0 AS subquery_idx, doc_id, score FROM sub0
  UNION ALL SELECT 1, doc_id, score FROM sub1
),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round(sum({wexpr} * nscore) / {float(sum(weights))!r}, {round_to}) AS score
FROM normed WHERE nscore >= 0.0 GROUP BY doc_id"""


def hybrid_phrase_match_sql(
    match_terms: list[str],
    phrase_terms: list[str],
    weights: list[float],
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Oracle for hybrid over [match (BM25 OR), match_phrase] —
    min_max + weighted arithmetic mean (query/dsl._sub_scores phrase
    branch: the phrase sub-query scores its FULL match set, raw, so
    the normalization statistics see every phrase hit). The phrase
    sub-query composes as a parenthesized WITH subquery whose CTE
    names shadow the outer match-level ones."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    wexpr = _weight_case(weights)
    phrase_inner = bm25_phrase_sql(phrase_terms, table, round_to=None)
    return f"""{bm25_base_ctes(sorted(set(match_terms)), table)},
sub0 AS (
  SELECT doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats GROUP BY doc_id
),
sub1 AS (SELECT doc_id, score FROM ({phrase_inner})),
allsub AS (
  SELECT 0 AS subquery_idx, doc_id, score FROM sub0
  UNION ALL SELECT 1, doc_id, score FROM sub1
),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round(sum({wexpr} * nscore) / {float(sum(weights))!r}, {round_to}) AS score
FROM normed WHERE nscore >= 0.0 GROUP BY doc_id"""


def multiterm_topk_sql(
    matcher: str,
    max_expansions: int = 50,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """MultiTermQuery oracle (prefix / wildcard / fuzzy): expand the
    term dictionary with ``matcher`` (a SQL predicate over ``term`` —
    the SAME string the Spark side evaluates, see
    query/multiterm._matcher_sql), keep the top ``max_expansions`` by
    (df DESC, term ASC), score the boolean OR with BM25. The expansion
    df doubles as the scoring df (both are distinct-doc counts)."""
    _, duck_toks = simple_tokens_sql("text")
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
allt AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok
),
dict AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM allt GROUP BY term
),
exp AS (
  SELECT term, df FROM dict WHERE {matcher}
  ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM allt JOIN exp USING (term)
  GROUP BY doc_id, dl, term
),
scored AS (
  SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score
  FROM tf JOIN exp USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, scored.score AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def bm25_msm_topk_sql(
    terms: list[str],
    min_should_match: int,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """minimum_should_match oracle: boolean OR that keeps only docs
    matching >= m distinct query terms (OpenSearch bool.should msm)."""
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(uniq, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, scored.score AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored WHERE nt >= {min_should_match}
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def phrase_prefix_topk_sql(
    fixed_terms: list[str],
    prefix_matcher: str,
    max_expansions: int = 50,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """match_phrase_prefix oracle: expand the last slot with
    ``prefix_matcher`` (the SAME predicate string the Spark side
    evaluates), gate on the fixed terms appearing contiguously followed
    by any expanded term, score BM25 over fixed+expanded terms, rank on
    the rounded score."""
    _, duck_toks = simple_tokens_sql("text")
    nfix = len(fixed_terms)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    fixed_list = _terms_list(sorted(set(fixed_terms)))
    ord_ctes = []
    for i, t in enumerate(fixed_terms):
        t_sql = t.replace("'", "''")
        ord_ctes.append(
            f"o{i} AS (SELECT doc_id, pos AS p{i} FROM pos WHERE term = '{t_sql}')"
        )
    ord_ctes.append(
        f"o{nfix} AS (SELECT doc_id, pos AS p{nfix} FROM pos "
        f"JOIN exp ON pos.term = exp.term)"
    )
    joins = "o0" + "".join(f" JOIN o{i} USING (doc_id)" for i in range(1, nfix + 1))
    adj = " AND ".join(f"p{i} = p{i - 1} + 1" for i in range(1, nfix + 1))
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
allt AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok
),
dict AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM allt GROUP BY term
),
exp AS (
  SELECT term, df FROM dict WHERE {prefix_matcher}
  ORDER BY df DESC, term ASC LIMIT {max_expansions}
),
pos AS (
  SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos, unnest(toks) AS term
  FROM tok
),
{",".join(ord_ctes)},
phr AS (
  SELECT DISTINCT doc_id FROM {joins} WHERE {adj}
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM allt
  WHERE term IN {fixed_list} OR term IN (SELECT term FROM exp)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.doc_id IN (SELECT doc_id FROM phr)
  GROUP BY tf.doc_id
)
SELECT doc_id, scored.score AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def highlight_topk_sql(
    terms: list[str],
    k: int = 10,
    window: int = 5,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Snippet highlighting oracle (query/highlight.py): window of
    ``window`` tokens either side of the FIRST occurrence of any query
    term (min 1-based list_position, both engines return 0→NULL for
    absent terms and least() skips NULLs)."""
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    firsts = ", ".join(
        "nullif(list_position(toks, '" + t.replace("'", "''") + "'), 0)" for t in uniq
    )
    return f"""{bm25_base_ctes(uniq, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
),
top AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM scored
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT top.doc_id AS doc_id, top.score AS score, top.rank AS rank,
       array_to_string(
         list_slice(toks,
                    greatest(1, least({firsts}) - {window}),
                    greatest(1, least({firsts}) - {window}) + {2 * window}),
         ' ') AS snippet
FROM top JOIN tok ON top.doc_id = tok.doc_id
ORDER BY top.rank"""


def bool_topk_sql(
    must: list[str],
    should: list[str],
    must_not: list[str],
    minimum_should_match: int = 0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``bool`` query oracle (query/booleans.bool_topk): must AND-gates
    and scores, should scores (optionally >= msm), must_not excludes
    without scoring; one aggregate carries score + 3 clause counters."""
    must = sorted(set(must))
    should = sorted(set(should))
    must_not = sorted(set(must_not))
    scoring = sorted(set(must) | set(should))
    all_terms = sorted(set(scoring) | set(must_not))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    _, duck_toks = simple_tokens_sql("text")

    def _in(terms: list[str]) -> str:
        return f"tf.term IN {_terms_list(terms)}" if terms else "FALSE"

    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
  WHERE term IN {_terms_list(all_terms)}
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf
  WHERE term IN {_terms_list(scoring)} GROUP BY term
),
agg AS (
  SELECT tf.doc_id AS doc_id,
         round(sum(CASE WHEN {_in(scoring)} THEN {contrib} ELSE 0.0 END), {round_to}) AS score,
         sum(CASE WHEN {_in(must)} THEN 1 ELSE 0 END) AS n_must,
         sum(CASE WHEN {_in(should)} THEN 1 ELSE 0 END) AS n_should,
         sum(CASE WHEN {_in(must_not)} THEN 1 ELSE 0 END) AS n_not
  FROM tf LEFT JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, agg.score AS score,
       CAST(row_number() OVER (ORDER BY agg.score DESC, agg.doc_id ASC) AS INT) AS rank
FROM agg
WHERE n_must = {len(must)} AND n_should >= {minimum_should_match} AND n_not = 0
ORDER BY agg.score DESC, agg.doc_id ASC
LIMIT {k}"""


def bool_clauses_sql(
    must: list[tuple[list[str], str]],
    should: list[tuple[list[str], str]],
    must_not: list[tuple[list[str], str]],
    minimum_should_match: int = 0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """Per-CLAUSE ``bool`` oracle (query/booleans.bool_clauses_topk):
    each clause (terms, operator) is its own scorer — or-clauses match
    on ≥1 term, and-clauses on all terms; minimum_should_match counts
    CLAUSES; matched scoring clauses contribute their matched-term BM25
    sums; must_not clauses exclude on match."""
    clauses = [("must", *c) for c in must] + [("should", *c) for c in should] + [
        ("must_not", *c) for c in must_not
    ]
    member_rows = ", ".join(
        f"({ci}, '{kind}', '" + t.replace("'", "''") + f"', {len(sorted(set(terms)))}, "
        + ("TRUE" if op == "and" else "FALSE") + ", "
        + ("FALSE" if kind == "must_not" else "TRUE") + ")"
        for ci, (kind, terms, op) in enumerate(clauses)
        for t in sorted(set(terms))
    )
    scoring_terms = sorted({t for kind, terms, _ in clauses if kind != "must_not" for t in terms})
    all_terms = sorted({t for _, terms, _ in clauses for t in terms})
    need_should = minimum_should_match if minimum_should_match > 0 else (0 if must else 1)
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok)
  WHERE term IN {_terms_list(all_terms)}
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf
  WHERE term IN {_terms_list(scoring_terms)} GROUP BY term
),
member (cid, kind, term, n_terms, is_and, scoring) AS (VALUES {member_rows}),
per_clause AS (
  SELECT tf.doc_id AS doc_id, m.cid AS cid, m.kind AS kind, m.scoring AS scoring,
         m.n_terms AS n_terms, m.is_and AS is_and,
         count(DISTINCT tf.term) AS n_matched,
         sum(CASE WHEN m.scoring THEN {contrib} ELSE 0.0 END) AS cscore
  FROM tf LEFT JOIN dfreq USING (term) JOIN member m ON m.term = tf.term, stats
  GROUP BY tf.doc_id, m.cid, m.kind, m.scoring, m.n_terms, m.is_and
),
pc AS (
  SELECT *, CASE WHEN is_and THEN n_matched = n_terms ELSE TRUE END AS matched
  FROM per_clause
),
agg AS (
  SELECT doc_id,
         round(sum(CASE WHEN matched AND scoring THEN cscore ELSE 0.0 END), {round_to}) AS score,
         sum(CASE WHEN matched AND kind = 'must' THEN 1 ELSE 0 END) AS n_must,
         sum(CASE WHEN matched AND kind = 'should' THEN 1 ELSE 0 END) AS n_should,
         sum(CASE WHEN matched AND kind = 'must_not' THEN 1 ELSE 0 END) AS n_not
  FROM pc GROUP BY doc_id
)
SELECT doc_id, agg.score AS score,
       CAST(row_number() OVER (ORDER BY agg.score DESC, agg.doc_id ASC) AS INT) AS rank
FROM agg
WHERE n_must = {len(must)} AND n_should >= {need_should} AND n_not = 0
ORDER BY agg.score DESC, agg.doc_id ASC
LIMIT {k}"""


def dis_max_topk_sql(
    term_groups: list[list[str]],
    tie_breaker: float = 0.0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
    operators: list[str] | None = None,
    round_before_rank: bool = True,
) -> str:
    """``dis_max`` oracle (query/booleans.dis_max_topk): per-group BM25
    OR scores from one shared tf frame, combined as
    best + tie_breaker * (total - best) per doc. ``operators`` (one
    of or|and per group, default all-or) gates an AND group on docs
    matching every one of its terms — the DSL's per-sub-query
    MatchQueryBuilder Operator.AND. ``round_before_rank`` matches the
    engine path: the all-OR fast path (booleans.dis_max_topk) rounds
    the combined score to 4dp BEFORE the rank cut; the per-sub-frame
    path (any AND sub, heterogeneous) ranks the RAW combination and
    rounds for display (query/dsl topk)."""
    if operators is None:
        operators = ["or"] * len(term_groups)
    if len(operators) != len(term_groups) or any(
            op not in ("or", "and") for op in operators):
        raise ValueError(f"operators must be or|and per group, got {operators}")
    all_terms = sorted({t for g in term_groups for t in g})
    member_rows = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')"
        for i, g in enumerate(term_groups)
        for t in sorted(set(g))
    )
    need_rows = ", ".join(
        f"({i}, {len(set(g)) if op == 'and' else 1})"
        for i, (g, op) in enumerate(zip(term_groups, operators))
    )
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    raw_comb = f"max(score) + {tie_breaker} * (sum(score) - max(score))"
    comb_expr = (f"round({raw_comb}, {round_to})"
                 if round_before_rank else raw_comb)
    out_expr = ("comb.score" if round_before_rank
                else f"round(comb.score, {round_to})")
    return f"""{bm25_base_ctes(all_terms, table)},
member (idx, term) AS (VALUES {member_rows}),
need (idx, need_nt) AS (VALUES {need_rows}),
scoredg AS (
  SELECT m.idx AS idx, tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term) JOIN member m ON m.term = tf.term
       JOIN need n ON n.idx = m.idx, stats
  GROUP BY m.idx, tf.doc_id, n.need_nt
  HAVING count(DISTINCT tf.term) >= n.need_nt
),
comb AS (
  SELECT doc_id,
         {comb_expr} AS score
  FROM scoredg GROUP BY doc_id
)
SELECT doc_id, {out_expr} AS score,
       CAST(row_number() OVER (ORDER BY comb.score DESC, comb.doc_id ASC) AS INT) AS rank
FROM comb
ORDER BY comb.score DESC, comb.doc_id ASC
LIMIT {k}"""


def hybrid_neural_bm25_sql(
    terms: list[str],
    query_vec_id: int,
    knn_k: int = 50,
    weights: tuple[float, float] = (0.7, 0.3),
    table: str = "documents",
    emb_table: str = "embeddings",
    round_to: int = 4,
) -> str:
    """Oracle for the reference's headline hybrid shape — sub-query 0 a
    BM25 ``match``, sub-query 1 a ``neural`` dense kNN (top-``knn_k``
    cosine hits, cos rounded to 6 like the engine's cosine kernel),
    min_max-normalized and weight-combined [HybridQueryIT's
    match+neural cases; NeuralQueryBuilder.java delegates the kNN slot].
    Doc and vector ids share one id space here (vec_id == doc_id)."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    w0, w1 = float(weights[0]), float(weights[1])
    total_w = w0 + w1
    return f"""{bm25_base_ctes(terms, table)},
sub0 AS (
  SELECT doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(sorted(set(terms)))} GROUP BY doc_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {emb_table}),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = {query_vec_id}),
knn AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(v, qvec)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 6) AS score
  FROM e, qv WHERE vec_id <> {query_vec_id}
  ORDER BY score DESC, vec_id ASC LIMIT {knn_k}
),
allsub AS (
  SELECT 0 AS subquery_idx, doc_id, score FROM sub0
  UNION ALL SELECT 1 AS subquery_idx, doc_id, score FROM knn
),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id,
         CASE WHEN subquery_idx = 0 THEN {w0!r} ELSE {w1!r} END AS w,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round(sum(w * nscore) / {total_w!r}, {round_to}) AS score
FROM normed WHERE nscore >= 0.0 GROUP BY doc_id"""

def hybrid_neural_rrf_sql(
    terms: list[str],
    query_vec_id: int,
    knn_k: int = 50,
    rank_constant: int = 60,
    weights: tuple[float, float] = (0.7, 0.3),
    table: str = "documents",
    emb_table: str = "embeddings",
    round_to: int = 4,
) -> str:
    """Oracle for the headline hybrid under RECIPROCAL RANK FUSION —
    the newer-release score-ranker processor applied to the same
    match+neural sub-queries as :func:`hybrid_neural_bm25_sql`.
    score(d) = sum_i w_i / (rank_constant + r_i(d)). Ranks are taken
    over the 4-decimal-ROUNDED BM25 scores (tiebreak doc_id asc) so
    both engines rank identically — cross-engine float ULP noise below
    the gated 4-decimal score parity cannot flip adjacent ranks."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    w0, w1 = float(weights[0]), float(weights[1])
    return f"""{bm25_base_ctes(terms, table)},
sub0 AS (
  SELECT doc_id, round(sum({contrib}), 4) AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(sorted(set(terms)))} GROUP BY doc_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {emb_table}),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = {query_vec_id}),
knn AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(v, qvec)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qvec, qvec))), 6) AS score
  FROM e, qv WHERE vec_id <> {query_vec_id}
  ORDER BY score DESC, vec_id ASC LIMIT {knn_k}
),
allsub AS (
  SELECT 0 AS subquery_idx, doc_id, score FROM sub0
  UNION ALL SELECT 1 AS subquery_idx, doc_id, score FROM knn
),
ranked AS (
  SELECT subquery_idx, doc_id,
         row_number() OVER (PARTITION BY subquery_idx
                            ORDER BY score DESC, doc_id ASC) AS r
  FROM allsub
)
SELECT doc_id,
       round(sum((CASE WHEN subquery_idx = 0 THEN {w0!r} ELSE {w1!r} END)
                 / ({rank_constant} + r)), {round_to}) AS score
FROM ranked GROUP BY doc_id"""


def multi_match_topk_sql(
    terms: list[str],
    boost: float = 1.0,
    operator: str = "or",
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``multi_match`` oracle (query/dsl._multi_match_spec): the
    single-text-field corpus reduces it to match x field boost — BM25
    sum (nt-gated for operator=and) scaled by the boost, ranked RAW
    (the engine scales before topk's cut, order-preserving)."""
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    gate = f"WHERE nt = {len(uniq)}" if operator == "and" else ""
    return f"""{bm25_base_ctes(uniq, table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) * {float(boost)!r} AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(scored.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored {gate}
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def boosting_topk_sql(
    pos_terms: list[str],
    neg_pred: str,
    negative_boost: float,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``boosting`` oracle (query/dsl boosting branch): hits = the
    positive match-OR set; docs satisfying ``neg_pred`` (a corpus
    predicate — the demoting query's match set) keep their positive
    BM25 DEMOTED by negative_boost; ranked raw after demotion."""
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(sorted(set(pos_terms)), table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
),
neg AS (SELECT doc_id FROM {table} WHERE {neg_pred}),
demoted AS (
  SELECT s.doc_id AS doc_id,
         CASE WHEN n.doc_id IS NOT NULL
              THEN s.score * {float(negative_boost)!r}
              ELSE s.score END AS score
  FROM scored s LEFT JOIN neg n ON s.doc_id = n.doc_id
)
SELECT doc_id, round(demoted.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY demoted.score DESC, demoted.doc_id ASC) AS INT) AS rank
FROM demoted
ORDER BY demoted.score DESC, demoted.doc_id ASC
LIMIT {k}"""


def term_suggest_sql(
    tokens: list[str],
    size: int = 5,
    max_edits: int = 2,
    suggest_mode: str = "missing",
    table: str = "documents",
) -> str:
    """Term-suggester oracle (query/suggest.term_suggest): dictionary
    candidates within ``max_edits`` Levenshtein (length-windowed first,
    like the engine), ranked per token by the SAME total order
    (distance ASC, df DESC, term ASC). ``tokens`` are the ANALYZED
    input tokens (the engine analyzes at run time; the fixtures use
    plain lowercase words so the lists coincide by construction)."""
    mode_pred = {"missing": "token_df = 0", "popular": "df > token_df",
                 "always": "TRUE"}[suggest_mode]
    _, duck_toks = simple_tokens_sql("text")
    toks_list = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(tokens)))
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
dict AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
),
inputs AS (SELECT unnest([{toks_list}]) AS token),
indf AS (
  SELECT token, coalesce(d.df, 0) AS token_df
  FROM inputs LEFT JOIN dict d ON d.term = inputs.token
),
cand AS (
  SELECT token, term, levenshtein(token, term) AS distance, df, token_df
  FROM indf, dict
  WHERE length(term) BETWEEN length(token) - {max_edits}
                         AND length(token) + {max_edits}
    AND term <> token
    AND levenshtein(token, term) <= {max_edits}
),
ranked AS (
  SELECT token, term AS suggestion, CAST(distance AS INT) AS distance,
         CAST(df AS BIGINT) AS freq,
         CAST(row_number() OVER (PARTITION BY token
              ORDER BY distance ASC, df DESC, term ASC) AS INT) AS rank
  FROM cand WHERE {mode_pred}
)
SELECT token, suggestion, distance, freq, rank
FROM ranked WHERE rank <= {size}
ORDER BY token, rank"""


def hybrid_frames_sql(
    inner_sqls: list[str],
    weights: list[float],
    round_to: int = 4,
) -> str:
    """Hybrid min_max + weighted-arithmetic-mean oracle over ARBITRARY
    full-frame sub-query SQLs (each a standalone WITH query returning
    raw (doc_id, score) — the parenthesized-subquery composition
    hybrid_phrase_match_sql established; inner CTE names shadow)."""
    subs = [
        f"sub{i} AS (SELECT doc_id, score FROM ({s}\n))"
        for i, s in enumerate(inner_sqls)
    ]
    union = " UNION ALL ".join(
        f"SELECT {i} AS subquery_idx, doc_id, score FROM sub{i}"
        for i in range(len(inner_sqls))
    )
    wexpr = _weight_case(weights)
    return f"""
WITH {",".join(subs)},
allsub AS ({union}),
nstats AS (
  SELECT subquery_idx, min(score) AS mn, max(score) AS mx
  FROM allsub GROUP BY subquery_idx
),
normed AS (
  SELECT a.doc_id, a.subquery_idx,
         CASE WHEN mx = mn THEN 1.0
              WHEN (a.score - mn) / (mx - mn) = 0.0 THEN 0.001
              ELSE (a.score - mn) / (mx - mn) END AS nscore
  FROM allsub a JOIN nstats USING (subquery_idx)
)
SELECT doc_id, round(sum({wexpr} * nscore) / {float(sum(weights))!r}, {round_to}) AS score
FROM normed WHERE nscore >= 0.0 GROUP BY doc_id"""


def bm25_scores_frame_sql(terms: list[str], table: str = "documents") -> str:
    """Raw full-frame BM25 OR (doc_id, score) — standalone WITH query
    for hybrid_frames_sql composition."""
    uniq = sorted(set(terms))
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(uniq, table)}
SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
FROM tf JOIN dfreq USING (term), stats
GROUP BY tf.doc_id"""


def query_string_sql(
    clauses: list[tuple],
    mode: str = "or",
    minimum_should_match: int = 0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
    frame_only: bool = False,
) -> str:
    """``query_string`` oracle (query/dsl._query_string_scores).
    ``clauses``: (kind, payload, negated, boost, slop) with kind
    ``term`` (payload = analyzed terms, BM25 OR), ``term_and`` (all the
    clause's terms required — the AND-mode multi-token clause),
    ``phrase`` (payload = ordered tokens; ``slop`` via the ordered
    position-join witness, 0 = contiguous), or
    ``prefix``/``wildcard``/``fuzzy`` (payload = the SAME shared-SQL
    matcher string the engine evaluates; constant score 1.0). ``boost``
    multiplies the clause's contribution. Gating and negation follow
    the simple_query_string composition."""
    term_clauses = [c for c in clauses if c[0] in ("term", "term_and", "phrase")]
    all_terms = sorted({t for _, payload, *_ in term_clauses for t in payload})
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    need_pos = any(c[0] == "phrase" for c in clauses)
    parts, pos_sel, neg_sel = [], [], []
    n_pos = 0
    for ci, (kind, payload, negated, boost, slop) in enumerate(clauses):
        bf = f" * {float(boost)!r}" if float(boost) != 1.0 else ""
        if kind in ("term", "term_and"):
            uniq = sorted(set(payload))
            having = (f"HAVING count(DISTINCT tf.term) = {len(uniq)}"
                      if kind == "term_and" else "")
            parts.append(f"""c{ci} AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}){bf} AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(uniq)}
  GROUP BY tf.doc_id {having}
)""")
        elif kind == "phrase":
            uniq = sorted(set(payload))
            n = len(payload)
            ords = []
            for i, t in enumerate(payload):
                t_sql = t.replace("'", "''")
                ords.append(f"c{ci}o{i} AS (SELECT doc_id, pos AS p{i} "
                            f"FROM pos WHERE term = '{t_sql}')")
            joins = f"c{ci}o0" + "".join(
                f" JOIN c{ci}o{i} USING (doc_id)" for i in range(1, n))
            order_preds = " AND ".join(
                f"p{i} > p{i - 1}" for i in range(1, n)) or "TRUE"
            parts.extend(ords)
            parts.append(f"""c{ci} AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}){bf} AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(uniq)}
    AND tf.doc_id IN (
      SELECT DISTINCT doc_id FROM {joins}
      WHERE {order_preds} AND p{n - 1} - p0 <= {n - 1 + int(slop)})
  GROUP BY tf.doc_id
)""")
        elif kind in ("prefix", "wildcard", "fuzzy"):
            parts.append(f"""c{ci} AS (
  SELECT DISTINCT doc_id, 1.0{bf} AS score
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE {payload}
)""")
        else:
            raise ValueError(f"unknown clause kind {kind!r}")
        if negated:
            neg_sel.append(f"SELECT doc_id FROM c{ci}")
        else:
            pos_sel.append(f"SELECT {ci} AS cid, doc_id, score FROM c{ci}")
            n_pos += 1
    need = n_pos if mode == "and" else max(minimum_should_match, 1)
    neg_clause = (f"AND agg.doc_id NOT IN ({' UNION '.join(neg_sel)})"
                  if neg_sel else "")
    pos_cte = (""",
pos AS (
  SELECT doc_id, CAST(generate_subscripts(toks, 1) - 1 AS INT) AS pos,
         unnest(toks) AS term
  FROM tok
)""" if need_pos else "")
    joined_parts = ",\n".join(parts)
    prefix = f"""{bm25_base_ctes(all_terms, table)}{pos_cte},
{joined_parts},
posu AS ({" UNION ALL ".join(pos_sel)}),
agg AS (
  SELECT doc_id, sum(score) AS score, count(DISTINCT cid) AS n
  FROM posu GROUP BY doc_id
)"""
    if frame_only:
        # raw full frame for hybrid composition (hybrid_frames_sql)
        return f"""{prefix}
SELECT doc_id, agg.score AS score FROM agg
WHERE n >= {need} {neg_clause}"""
    return f"""{prefix}
SELECT doc_id, round(agg.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY agg.score DESC, agg.doc_id ASC) AS INT) AS rank
FROM agg
WHERE n >= {need} {neg_clause}
ORDER BY agg.score DESC, agg.doc_id ASC
LIMIT {k}"""


def more_like_this_sql(
    like_id: int,
    max_query_terms: int = 25,
    min_term_freq: int = 2,
    min_doc_freq: int = 5,
    minimum_should_match: int | str = "30%",
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``more_like_this`` oracle (query/mlt.py): interesting-term
    selection from the like doc — (round(tf·idf, 6) DESC, term ASC) cut
    at ``max_query_terms``, the SAME rounded total order the engine
    collects — then BM25 boolean OR over the selection with
    minimum_should_match, the like doc excluded from hits only (corpus
    stats stay global)."""
    if isinstance(minimum_should_match, str):
        pct = float(minimum_should_match.rstrip("%")) / 100.0
        msm_expr = f"CAST(floor({pct!r} * nsel.n) AS INT)"
    else:
        msm_expr = str(int(minimum_should_match))
    _, duck_toks = simple_tokens_sql("text")
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
allt AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok
),
dict AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM allt GROUP BY term
),
liketf AS (
  SELECT term, count(*) AS tf FROM allt WHERE doc_id = {like_id}
  GROUP BY term HAVING count(*) >= {min_term_freq}
),
sel AS (
  SELECT l.term AS term,
         round(l.tf * ln(1.0 + (stats.N - d.df + 0.5) / (d.df + 0.5)), 6) AS mlt
  FROM liketf l JOIN dict d USING (term), stats
  WHERE d.df >= {min_doc_freq}
  ORDER BY mlt DESC, term ASC LIMIT {max_query_terms}
),
nsel AS (SELECT count(*) AS n FROM sel),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM allt
  WHERE term IN (SELECT term FROM sel)
  GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id AS doc_id, round(sum({contrib}), {round_to}) AS score,
         count(DISTINCT tf.term) AS nt
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
)
SELECT doc_id, scored.score AS score,
       CAST(row_number() OVER (ORDER BY scored.score DESC, scored.doc_id ASC) AS INT) AS rank
FROM scored, nsel
WHERE nt >= greatest(1, least({msm_expr}, nsel.n)) AND doc_id != {like_id}
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def function_score_topk_sql(
    terms: list[str],
    factor_sql: str,
    boost_mode: str = "multiply",
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``function_score`` oracle (field_value_factor over a match
    query): per-doc factor = ``factor_sql`` (a corpus-column
    expression, e.g. ``log10(1.0 + n_chars * 0.5)``), combined with the
    BM25 sum by boost_mode, ranked raw."""
    combine = {
        "multiply": "s.score * f.fval",
        "sum": "s.score + f.fval",
        "replace": "f.fval",
    }[boost_mode]
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    return f"""{bm25_base_ctes(sorted(set(terms)), table)},
scored AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY tf.doc_id
),
fv AS (SELECT doc_id, {factor_sql} AS fval FROM {table}),
combined AS (
  SELECT s.doc_id AS doc_id, {combine} AS score
  FROM scored s JOIN fv f ON s.doc_id = f.doc_id
  WHERE f.fval IS NOT NULL
)
SELECT doc_id, round(combined.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY combined.score DESC, combined.doc_id ASC) AS INT) AS rank
FROM combined
ORDER BY combined.score DESC, combined.doc_id ASC
LIMIT {k}"""


def _like_prefix(prefix: str) -> str:
    """LIKE pattern matching tokens that start with ``prefix`` VERBATIM
    (the engine's Column.startswith has no wildcards)."""
    esc = (prefix.replace("\\", "\\\\").replace("%", "\\%")
           .replace("_", "\\_").replace("'", "''"))
    return f"'{esc}%' ESCAPE '\\'"


def simple_query_string_sql(
    clauses: list[tuple],
    mode: str = "or",
    minimum_should_match: int = 0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``simple_query_string`` oracle (query/dsl._simple_query_scores).
    ``clauses``: (kind, payload, negated) with kind ``chunk`` (OR over
    its analyzed terms), ``chunk_and`` (all terms), ``phrase`` (ordered
    contiguous tokens) or ``prefix`` (payload str; constant score 1.0).
    Matched scoring clauses sum per doc; AND mode gates on every
    positive clause, OR mode on max(minimum_should_match, 1); negated
    clauses exclude their match set. Ranked raw."""
    term_clauses = [c for c in clauses if c[0] in ("chunk", "chunk_and", "phrase")]
    all_terms = sorted({t for _, payload, _ in term_clauses for t in payload})
    dl_expr = quantized_dl_sql("dl")
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl")
    _, duck_toks = simple_tokens_sql("text")
    parts, pos_sel, neg_sel = [], [], []
    n_pos = 0
    for ci, (kind, payload, negated) in enumerate(clauses):
        if kind in ("chunk", "chunk_and"):
            uniq = sorted(set(payload))
            having = (f"HAVING count(DISTINCT tf.term) = {len(uniq)}"
                      if kind == "chunk_and" else "")
            parts.append(f"""c{ci} AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(uniq)}
  GROUP BY tf.doc_id {having}
)""")
        elif kind == "phrase":
            uniq = sorted(set(payload))
            needle = (" " + " ".join(payload) + " ").replace("'", "''")
            parts.append(f"""c{ci} AS (
  SELECT tf.doc_id AS doc_id, sum({contrib}) AS score
  FROM tf JOIN dfreq USING (term), stats
  WHERE tf.term IN {_terms_list(uniq)}
    AND tf.doc_id IN (
      SELECT doc_id FROM {table}
      WHERE position('{needle}' IN ' ' || array_to_string({duck_toks}, ' ') || ' ') > 0)
  GROUP BY tf.doc_id
)""")
        elif kind == "prefix":
            parts.append(f"""c{ci} AS (
  SELECT doc_id, 1.0 AS score FROM tok
  WHERE len(list_filter(toks, t -> t LIKE {_like_prefix(payload)})) > 0
)""")
        else:
            raise ValueError(f"unknown clause kind {kind!r}")
        if negated:
            neg_sel.append(f"SELECT doc_id FROM c{ci}")
        else:
            pos_sel.append(f"SELECT {ci} AS cid, doc_id, score FROM c{ci}")
            n_pos += 1
    need = n_pos if mode == "and" else max(minimum_should_match, 1)
    neg_clause = (f"AND agg.doc_id NOT IN ({' UNION '.join(neg_sel)})"
                  if neg_sel else "")
    joined_parts = ",\n".join(parts)
    return f"""{bm25_base_ctes(all_terms, table)},
{joined_parts},
pos AS ({" UNION ALL ".join(pos_sel)}),
agg AS (
  SELECT doc_id, sum(score) AS score, count(DISTINCT cid) AS n
  FROM pos GROUP BY doc_id
)
SELECT doc_id, round(agg.score, {round_to}) AS score,
       CAST(row_number() OVER (ORDER BY agg.score DESC, agg.doc_id ASC) AS INT) AS rank
FROM agg
WHERE n >= {need} {neg_clause}
ORDER BY agg.score DESC, agg.doc_id ASC
LIMIT {k}"""


def _span_clause_pred(clause) -> str:
    """A span clause as a DuckDB boolean over ``term``: an explicit
    term list, or a raw predicate string (span_multi's dictionary
    matcher, e.g. "term LIKE 's%'")."""
    if isinstance(clause, str):
        return f"({clause})"
    return f"term IN {_terms_list(sorted(clause))}"


def _span_ctes(clauses, table: str) -> str:
    """Shared span oracle prefix: tok, stats, the full position list,
    clause-tagged query positions, and the tree-wide idf total. The
    score math mirrors query/spans.py expression-for-expression
    (identical doubles before the 4-decimal round)."""
    _, duck_toks = simple_tokens_sql("text")
    preds = [_span_clause_pred(c) for c in clauses]
    any_pred = " OR ".join(preds)
    tag = " ".join(f"WHEN {p} THEN {i}" for i, p in enumerate(preds))
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
stats AS (
  SELECT count(*) AS N, sum(len(toks)) * 1.0 / count(*) AS avgdl FROM tok
),
allpos AS (
  SELECT doc_id, len(toks) AS dl, generate_subscripts(toks, 1) - 1 AS p,
         unnest(toks) AS term
  FROM tok
),
qpos AS (
  SELECT doc_id, dl, p, CASE {tag} END AS c
  FROM allpos WHERE {any_pred}
),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM allpos WHERE {any_pred} GROUP BY term
),
idft AS (
  SELECT coalesce(sum(ln(1.0 + (N - df + 0.5) / (df + 0.5))), 0.0)
         AS idf_total
  FROM dfreq, stats
)"""


def _span_score_tail(k: int, round_to: int, idf_cte: str = "idft") -> str:
    """Shared scoring tail over a ``matches(doc_id, dl, mlen)`` CTE.
    The score pre-rounds BEFORE ranking (round-then-rank — the
    dictionary-expansion convention: span freq sums are cross-engine
    ULP-prone, so both engines rank the identical rounded doubles)."""
    return f"""freq AS (
  SELECT doc_id, dl, sum(1.0 / (1.0 + mlen)) AS freq
  FROM matches GROUP BY doc_id, dl
),
scored AS (
  SELECT doc_id,
         round(idf_total * (freq / (freq + {K1!r} * (1.0 - {B!r} + {B!r} *
           ({quantized_dl_sql('dl')}) / avgdl))), {round_to}) AS score
  FROM freq, stats, {idf_cte}
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
FROM scored
ORDER BY scored.score DESC, scored.doc_id ASC
LIMIT {k}"""


def _span_chain_ctes(n: int) -> str:
    """The ordered chain CTEs over a ``qpos(doc_id, dl, p, c)`` relation
    — clause i stretches to its least position after the running end
    (one window per step). One copy, shared by the span_near, intervals
    and span-containment oracles."""
    steps = ["c0 AS (SELECT doc_id, dl, p AS a, p AS e FROM qpos WHERE c = 0)"]
    for i in range(1, n):
        steps.append(f"""s{i} AS (
  SELECT doc_id, dl, a, k, is_chain,
    min(CASE WHEN is_chain = 0 THEN k END) OVER (
      PARTITION BY doc_id ORDER BY k ASC, is_chain ASC
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS e2
  FROM (
    SELECT doc_id, dl, a, e AS k, 1 AS is_chain FROM c{i-1}
    UNION ALL
    SELECT doc_id, NULL AS dl, NULL AS a, p AS k, 0 AS is_chain
    FROM qpos WHERE c = {i}
  )
),
c{i} AS (
  SELECT doc_id, dl, a, e2 AS e FROM s{i}
  WHERE is_chain = 1 AND e2 IS NOT NULL
)""")
    return ",\n".join(steps)


def span_near_topk_sql(
    clauses,
    slop: int = 0,
    in_order: bool = True,
    max_end: int | None = None,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """span_near oracle (query/spans.py span_near_scores): ordered
    chains each clause to its least position after the running end
    (one window per step); unordered pairs every tagged position with
    the least other-clause position after it. Gap <= slop accepts;
    each span contributes 1/(1 + matchLength)."""
    n = len(clauses)
    end_gate = f"AND e + 1 <= {max_end}" if max_end is not None else ""
    if not in_order:
        if n != 2:
            raise ValueError("unordered span_near oracle supports 2 clauses")
        body = f""",
matches AS (
  SELECT doc_id, dl, o AS e, o + 1 - p AS mlen FROM (
    SELECT doc_id, dl, p, c,
      CASE WHEN c = 0
           THEN min(CASE WHEN c = 1 THEN p END) OVER w
           ELSE min(CASE WHEN c = 0 THEN p END) OVER w END AS o
    FROM qpos
    WINDOW w AS (PARTITION BY doc_id ORDER BY p ASC
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
  ) WHERE o IS NOT NULL AND o - p - 1 <= {slop} {end_gate}
),"""
        return f"{_span_ctes(clauses, table)}{body}\n{_span_score_tail(k, round_to)}"
    chain = _span_chain_ctes(n)
    return f"""{_span_ctes(clauses, table)},
{chain},
matches AS (
  SELECT doc_id, dl, e, e + 1 - a AS mlen
  FROM c{n-1} WHERE e - a - {n - 1} <= {slop} {end_gate}
),
{_span_score_tail(k, round_to)}"""


def span_set_topk_sql(
    clause,
    max_end: int | None = None,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """span_term / span_or / span_multi (optionally span_first-wrapped)
    oracle: every occurrence is a single-token span, mlen 1."""
    end_gate = f"WHERE p + 1 <= {max_end}" if max_end is not None else ""
    return f"""{_span_ctes([clause], table)},
matches AS (
  SELECT doc_id, dl, 1 AS mlen FROM qpos {end_gate}
),
{_span_score_tail(k, round_to)}"""


def span_not_topk_sql(
    include,
    exclude,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """span_not oracle: an include token at p survives iff no exclude
    token q has p - pre <= q <= p + post. idf covers the include tree
    only, so dfreq is narrowed before the idf sum."""
    inc_pred = _span_clause_pred(include)
    return f"""{_span_ctes([include, exclude], table)},
inc_idft AS (
  SELECT coalesce(sum(ln(1.0 + (N - df + 0.5) / (df + 0.5))), 0.0)
         AS idf_total
  FROM (SELECT term, count(DISTINCT doc_id) AS df
        FROM allpos WHERE {inc_pred} GROUP BY term), stats
),
gated AS (
  SELECT doc_id, dl, p, c,
    max(CASE WHEN c = 1 THEN p END) OVER (
      PARTITION BY doc_id ORDER BY p ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_x,
    min(CASE WHEN c = 1 THEN p END) OVER (
      PARTITION BY doc_id ORDER BY p ASC
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_x
  FROM qpos
),
matches AS (
  SELECT doc_id, dl, 1 AS mlen FROM gated
  WHERE c = 0
    AND (prev_x IS NULL OR prev_x < p - {pre})
    AND (next_x IS NULL OR next_x > p + {post})
),
{_span_score_tail(k, round_to, idf_cte="inc_idft")}"""


def completion_suggest_sql(
    matcher: str,
    size: int = 5,
    table: str = "documents",
) -> str:
    """Completion-suggester oracle (query/suggest.completion_suggest):
    the term dictionary filtered by the SAME shared matcher predicate,
    cut by (weight=df DESC, suggestion ASC) — integer weights, total
    tiebreak, so both engines cut identically."""
    _, duck_toks = simple_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, {duck_toks} AS toks FROM {table}
),
dict AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term
),
ranked AS (
  SELECT term AS suggestion, CAST(df AS BIGINT) AS weight,
         CAST(row_number() OVER (ORDER BY df DESC, term ASC) AS INT) AS rank
  FROM dict WHERE {matcher}
)
SELECT suggestion, weight, rank FROM ranked
WHERE rank <= {size}
ORDER BY rank"""


def intervals_topk_sql(
    clauses,
    max_gaps: int = -1,
    ordered: bool = False,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """``intervals`` oracle (query/intervals.interval_scores): the
    minimal-interval enumeration in SQL — ordered chains minimize by
    keeping the latest start per (doc, end) BEFORE the max_gaps filter
    (the Lucene wrapping order); unordered minimal intervals are
    adjacent different-term pairs; one clause = every occurrence.
    Contribution per interval is 1/(1 + mlen) with mlen = end - start
    (= 1 / token length), via the shared scoring tail."""
    n = len(clauses)
    gap_and = (f"AND e - a - {n - 1} <= {max_gaps}" if max_gaps >= 0 else "")
    if n == 1:
        body = ",\nmatches AS (SELECT doc_id, dl, 0 AS mlen FROM qpos),"
        return (f"{_span_ctes(clauses, table)}{body}\n"
                f"{_span_score_tail(k, round_to)}")
    if not ordered:
        if n != 2:
            raise ValueError("unordered intervals oracle supports 2 clauses")
        gap2 = (f"AND p - prev_p - 1 <= {max_gaps}" if max_gaps >= 0 else "")
        body = f""",
matches AS (
  SELECT doc_id, dl, p - prev_p AS mlen FROM (
    SELECT doc_id, dl, p, c,
           lag(p) OVER w AS prev_p, lag(c) OVER w AS prev_c
    FROM qpos
    WINDOW w AS (PARTITION BY doc_id ORDER BY p ASC)
  ) WHERE prev_c IS NOT NULL AND prev_c <> c {gap2}
),"""
        return (f"{_span_ctes(clauses, table)}{body}\n"
                f"{_span_score_tail(k, round_to)}")
    chain = _span_chain_ctes(n)
    return f"""{_span_ctes(clauses, table)},
{chain},
minimal AS (
  SELECT doc_id, dl, a, e FROM (
    SELECT doc_id, dl, a, e,
           row_number() OVER (PARTITION BY doc_id, e ORDER BY a DESC) AS rn
    FROM c{n-1}
  ) WHERE rn = 1
),
matches AS (
  SELECT doc_id, dl, e - a AS mlen FROM minimal WHERE TRUE {gap_and}
),
{_span_score_tail(k, round_to)}"""


def span_contain_topk_sql(
    big_clauses,
    little,
    slop: int = 0,
    within: bool = False,
    k: int = 10,
    table: str = "documents",
    round_to: int = 4,
) -> str:
    """span_containing / span_within oracle (query/spans.py
    span_contain_scores): the big ordered-near chain, then an EXISTS
    containment probe against the little positions; idf covers the
    SCORED side only (big for containing, little for within)."""
    n = len(big_clauses)
    chain = _span_chain_ctes(n)
    scored_pred = (_span_clause_pred(little) if within
                   else " OR ".join(_span_clause_pred(c)
                                    for c in big_clauses))
    if within:
        match_cte = f"""matches AS (
  SELECT l.doc_id, l.dl, 1 AS mlen FROM qpos l
  WHERE l.c = {n} AND EXISTS (
    SELECT 1 FROM bigm b
    WHERE b.doc_id = l.doc_id AND l.p BETWEEN b.a AND b.e)
)"""
    else:
        match_cte = f"""matches AS (
  SELECT b.doc_id, b.dl, b.e + 1 - b.a AS mlen FROM bigm b
  WHERE EXISTS (
    SELECT 1 FROM qpos l
    WHERE l.doc_id = b.doc_id AND l.c = {n}
      AND l.p BETWEEN b.a AND b.e)
)"""
    return f"""{_span_ctes(list(big_clauses) + [little], table)},
scored_idft AS (
  SELECT coalesce(sum(ln(1.0 + (N - df + 0.5) / (df + 0.5))), 0.0)
         AS idf_total
  FROM (SELECT term, count(DISTINCT doc_id) AS df
        FROM allpos WHERE {scored_pred} GROUP BY term), stats
),
{chain},
bigm AS (
  SELECT doc_id, dl, a, e FROM c{n-1}
  WHERE e - a - {n - 1} <= {slop}
),
{match_cte},
{_span_score_tail(k, round_to, idf_cte="scored_idft")}"""
