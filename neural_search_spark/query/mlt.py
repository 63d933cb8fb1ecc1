"""``more_like_this`` query: find documents similar to a given one.

Lucene/OpenSearch analog (public semantics): ``MoreLikeThisQuery`` —
select the like-document's "interesting terms" (per-term ``tf × idf``
with the index similarity's idf, gated by ``min_term_freq`` /
``min_doc_freq``, keep the top ``max_query_terms``), rewrite to a
boolean OR over those terms with ``minimum_should_match``, and exclude
the like document itself from the hits (``include=false`` default).
The reference plugin composes core query types opaquely inside hybrid
bodies (HybridQueryBuilder fromXContent), so MLT arrives through the
same DSL surface as term/range/prefix.

Determinism: Lucene's term selection orders a priority queue with an
implementation-defined tiebreak; here the cut is total-ordered by
(round(tf·idf, 6) DESC, term ASC) — rounding first makes float-ULP
near-ties collapse into exact ties, which the term tiebreak then
resolves IDENTICALLY in Spark and DuckDB (the oracle applies the same
rounded cut), so the selected term set is reproducible across engines.

Scale posture
-------------
* Term selection reads ONE document's token list (the like doc) joined
  against the corpus dictionary (term → df) — the same
  vocabulary-sized aggregate the multi-term rewrites use; the collect
  is ≤ ``max_query_terms`` strings of query metadata (Lucene's
  rewritten BooleanQuery), never a corpus read.
* Scoring reuses ``bm25_msm``'s one-traversal aggregate unchanged;
  the like-doc exclusion is a post-scoring filter so corpus stats
  (N, avgdl, df) stay global, exactly like Lucene's MLT which only
  drops the source doc from the hit list.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .exhaustive import bm25_msm, tokenized, topk

MAX_QUERY_TERMS = 25  # Lucene MoreLikeThis default
MIN_TERM_FREQ = 2
MIN_DOC_FREQ = 5
DEFAULT_MSM = "30%"  # OpenSearch more_like_this default


def parse_msm(spec: int | str, n_terms: int) -> int:
    """``minimum_should_match`` → clause count for ``n_terms`` optional
    clauses: an int is used as-is (clamped into [1, n_terms]); ``"P%"``
    keeps floor(P/100 × n_terms), minimum 1 (an OR needs one match)."""
    if isinstance(spec, bool):
        raise ValueError(f"minimum_should_match must be int or 'P%', got {spec!r}")
    if isinstance(spec, int):
        m = spec
    elif isinstance(spec, str) and spec.endswith("%"):
        try:
            pct = float(spec[:-1])
        except ValueError as e:
            raise ValueError(f"bad minimum_should_match {spec!r}") from e
        if not 0 <= pct <= 100:
            raise ValueError(f"minimum_should_match percent out of range: {spec!r}")
        m = math.floor(pct / 100.0 * n_terms)
    else:
        raise ValueError(f"minimum_should_match must be int or 'P%', got {spec!r}")
    return max(1, min(m, n_terms))


def interesting_terms(
    docs: DataFrame,
    like_id: int,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> list[str]:
    """The like-doc's top terms by (round(tf·idf, 6) DESC, term ASC),
    with idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the engine's BM25
    idf (query/bm25.py), so selection and scoring agree on what makes
    a term informative. ``tokenizer`` analyzes the corpus, as it does
    for the scoring."""
    tok = tokenized(docs, id_col, text_col, tokenizer)
    allt = tok.select("doc_id", F.explode("toks").alias("term"))
    dictionary = allt.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    like_tf = (
        allt.where(F.col("doc_id") == like_id)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .where(F.col("tf") >= min_term_freq)
    )
    stats = tok.agg(F.count(F.lit(1)).alias("N"))
    mlt = (
        F.col("tf")
        * F.log(
            F.lit(1.0)
            + (F.col("N") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
    )
    rows = (
        like_tf.join(dictionary, "term")
        .where(F.col("df") >= min_doc_freq)
        .crossJoin(F.broadcast(stats))
        .select("term", F.round(mlt, 6).alias("mlt"))
        .orderBy(F.col("mlt").desc(), F.col("term").asc())
        .limit(max_query_terms)
        .collect()
    )
    return [r["term"] for r in rows]


def more_like_this_topk(
    docs: DataFrame,
    like_id: int,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    minimum_should_match: int | str = DEFAULT_MSM,
    include: bool = False,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``more_like_this`` over a corpus doc: interesting-term selection
    → BM25 boolean OR with minimum_should_match → top-k, the like doc
    excluded from the hits unless ``include`` (its tokens still feed
    N/avgdl/df — only the hit list drops it, like Lucene). Selection
    and scoring both analyze the corpus with ``tokenizer``."""
    parse_msm(minimum_should_match, 1)  # fail fast on a malformed spec
    terms = interesting_terms(
        docs, like_id, max_query_terms, min_term_freq, min_doc_freq,
        id_col=id_col, text_col=text_col, tokenizer=tokenizer,
    )
    if not terms:
        spark = docs.sparkSession
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    msm = parse_msm(minimum_should_match, len(terms))
    scored = bm25_msm(docs, terms, msm, id_col=id_col, text_col=text_col,
                      round_to=4, tokenizer=tokenizer)
    if not include:
        scored = scored.where(F.col("doc_id") != like_id)
    return topk(scored, k=k, round_to=None)
