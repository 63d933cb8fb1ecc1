"""Exhaustive (non-pruned) BM25 scoring as a pure DataFrame pipeline.

This is Milestone 0 of SURVEY.md §7.1: tokenize → explode → TF →
term-stats join → per-doc score. It is fully Catalyst-visible (filter
pushdown into the parquet scan, broadcast joins for the tiny term-stats
side, partial aggregation for TF) and serves as the semantic reference
for the block-max WAND path (query/wand.py must be rank-identical).

Scores are computed in float64 (Spark doubles) and optionally rounded so
the DuckDB oracle hash-matches (see neural_search_spark/oracle.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.norms import quantized_dl_sql
from ..functions.tokenize import simple_tokens_sql
from .bm25 import B, K1, bm25_sql


def tokenized(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """(doc_id, toks array<string>, dl) with the SQL-expressible
    analyzer. Any registered analyzer works — the factor/snippet paths
    pass the INDEX's analyzer so their token stream matches the hits'
    (Lucene explain/highlight run the field analyzer, not a fixed
    one)."""
    if tokenizer == "simple":
        spark_expr, _ = simple_tokens_sql(text_col)
        toks = F.expr(spark_expr)
    else:
        from ..functions.tokenize import resolve_analyzer

        split_re, _token_re, lower = resolve_analyzer(tokenizer)
        src = F.lower(F.col(text_col)) if lower else F.col(text_col)
        # mirror the index kernel's normalization EXACTLY (tokenize.
        # term_freq_frame_positions): replace split-regex matches with a
        # space, then split on whitespace runs — identical to a plain
        # split for every registered analyzer (their split classes
        # cover whitespace) and correct for raw split regexes whose
        # class does not. Column API: patterns pass verbatim as Java
        # regexes, so \p{L} classes survive; (?U) makes \s+ match the
        # same Unicode whitespace Arrow's split_whitespace does.
        cleaned = F.regexp_replace(src, split_re, " ")
        toks = F.filter(F.split(cleaned, r"(?U)\s+"), lambda x: x != F.lit(""))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
    ).withColumn("dl", F.size("toks"))


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    quantize: bool = True,
    round_to: int | None = 4,
    tok: DataFrame | None = None,
    tokenizer: str = "simple",
) -> DataFrame:
    """Score every matching doc for an OR query over ``terms``.

    Returns (doc_id, score) for docs matching >= 1 term. The per-doc sum
    over query-term contributions follows Lucene BM25 semantics
    (query/bm25.py); ``quantize`` applies the SmallFloat length ladder.
    ``tok`` lets a caller that already tokenized the corpus (e.g.
    bm25_phrase's position gate) reuse that frame — one ``tokenized()``
    subtree in the plan instead of two corpus scans. ``tokenizer`` is
    the corpus analyzer (the one that analyzed ``terms``).
    """
    if tok is None:
        tok = tokenized(docs, id_col, text_col, tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl") if quantize else "dl"
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = exploded.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=k1, b=b)
    scored = (
        exploded.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", F.expr(contrib))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    return scored


def bm25_scores_by_group(
    docs: DataFrame,
    term_groups: list[list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    quantize: bool = True,
    tokenizer: str = "simple",
) -> DataFrame:
    """(subquery_idx, doc_id, score): every hybrid sub-query scored in
    ONE corpus traversal — the DataFrame analog of HybridQueryScorer
    iterating all sub-scorers per doc (query/HybridQueryScorer.java:
    190-208). One tokenize+shuffle for N sub-queries instead of N; the
    term→sub-query membership is a broadcast dimension table."""
    spark = docs.sparkSession
    all_terms = sorted({t for g in term_groups for t in g})
    membership = spark.createDataFrame(
        [(i, t) for i, g in enumerate(term_groups) for t in sorted(set(g))],
        ["subquery_idx", "term"],
    )
    tok = tokenized(docs, id_col, text_col, tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl") if quantize else "dl"
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = exploded.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=k1, b=b)
    return (
        exploded.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", F.expr(contrib))
        .join(F.broadcast(membership), "term")
        .groupBy("subquery_idx", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def bm25_conjunctive(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
    tokenizer: str = "simple",
    **kw,
) -> DataFrame:
    """AND semantics: only docs containing *all* terms, BM25-scored.

    One corpus traversal: the matched-all predicate is a countDistinct
    in the same per-doc aggregate that sums the score — no second
    tokenize pass."""
    uniq = sorted(set(terms))
    quantize = kw.pop("quantize", True)
    k1 = kw.pop("k1", K1)
    b = kw.pop("b", B)
    if kw:
        raise TypeError(f"bm25_conjunctive got unexpected keyword arguments: {sorted(kw)}")
    tok = tokenized(docs, id_col, text_col, tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl") if quantize else "dl"
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(uniq))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = exploded.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=k1, b=b)
    out = (
        exploded.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", F.expr(contrib))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.countDistinct("term").alias("nt"))
        .where(F.col("nt") == len(uniq))
        .select("doc_id", "score")
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def bm25_msm(
    docs: DataFrame,
    terms: list[str],
    min_should_match: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
    msm_col: str | None = None,
    tokenizer: str = "simple",
) -> DataFrame:
    """minimum_should_match semantics (OpenSearch ``bool.should`` with
    ``minimum_should_match: m``): boolean OR scored with BM25, keeping
    only docs matching >= m distinct query terms. Same one-traversal
    shape as ``bm25_conjunctive`` — the distinct-term count rides the
    per-doc scoring aggregate; ``m == len(terms)`` degenerates to AND,
    ``m == 1`` to the plain OR.

    ``msm_col`` instead gates each doc on ITS OWN minimum from that
    corpus column (Lucene CoveringQuery under ``terms_set`` with
    ``minimum_should_match_field``), clamped to >= 1 — a doc appears in
    the aggregate only by matching >= 1 term anyway. A doc whose
    minimum field is NULL never matches (CoveringQuery's per-doc
    LongValuesSource yields no value there)."""
    uniq = sorted(set(terms))
    if (min_should_match is None) == (msm_col is None):
        raise ValueError("exactly one of min_should_match / msm_col is required")
    if min_should_match is not None and not 1 <= min_should_match <= len(uniq):
        raise ValueError(
            f"min_should_match must be in [1, {len(uniq)}], got {min_should_match}"
        )
    tok = tokenized(docs, id_col, text_col, tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl")
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(uniq))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = exploded.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=K1, b=B)
    agg = (
        exploded.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", F.expr(contrib))
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("score"), F.countDistinct("term").alias("nt"))
    )
    if msm_col is not None:
        need = docs.where(F.col(msm_col).isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.greatest(F.lit(1), F.col(msm_col).cast("int")).alias("nss_need"),
        )
        out = (agg.join(need, "doc_id")
               .where(F.col("nt") >= F.col("nss_need"))
               .select("doc_id", "score"))
    else:
        out = agg.where(F.col("nt") >= min_should_match).select("doc_id", "score")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def topk(scores: DataFrame, k: int = 10, round_to: int | None = 4) -> DataFrame:
    """Deterministic top-k: (score desc, doc_id asc) — the tiebreak the
    whole engine standardizes on (SURVEY.md §7.0)."""
    # orderBy + limit compiles to TakeOrderedAndProject (distributed
    # per-partition top-k + merge — no single-partition global sort);
    # the row_number window then runs over only k rows.
    top = scores.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    out = top.withColumn("rank", F.row_number().over(w)).select("doc_id", "score", "rank")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def bm25_explain(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    hits: DataFrame | None = None,
    tokenizer: str = "simple",
) -> DataFrame:
    """Lucene ``Explanation`` analog for the match side: one row per
    (top-k doc, matched term) with the full BM25 factor breakdown —
    tf, df, idf, tf_norm, contribution — plus the doc's total score and
    rank. [Lucene BM25Similarity.explain exposes exactly these factors;
    the plugin's hybrid explain (processor/explain/) covers the
    normalization stage — query/hybrid.explain_scores here — and this
    covers the per-term scoring stage beneath it.]

    Scale shape: the breakdown join is against the BROADCAST top-k list,
    so the explanation output is bounded by k × |terms| rows no matter
    the corpus — explanation is a constant factor over the query
    itself, never a second corpus pass.

    ``tokenizer`` must be the analyzer that produced ``hits`` (the
    index's own, on the indexed path) — factors computed over a
    different token stream would not sum to the hit's score.
    """
    tok = tokenized(docs, id_col, text_col, tokenizer=tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_q = f"({quantized_dl_sql('dl')})"
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = exploded.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    per = (
        exploded.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.expr("ln(1.0 + (N - df + 0.5) / (df + 0.5))"))
        .withColumn(
            "tf_norm",
            F.expr(f"(tf / (tf + {k1} * (1.0 - {b} + {b} * {dl_q} / avgdl)))"),
        )
        .withColumn("contribution", F.col("idf") * F.col("tf_norm"))
    )
    if hits is not None:
        # explain someone else's hit list (a bool/phrase/indexed top-k):
        # the breakdown rows join to the given (doc_id, score, rank)
        # frame instead of this scorer's own OR top-k — the caller
        # guarantees the hits' scores are the sum of these terms'
        # contributions (all-or clauses, no duplicated terms)
        top = hits.select("doc_id", "score", "rank")
    else:
        totals = per.groupBy("doc_id").agg(F.round(F.sum("contribution"), 4).alias("score"))
        w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        top = (
            totals.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
        )
    return per.join(F.broadcast(top), "doc_id").select(
        "doc_id",
        "score",
        "rank",
        "term",
        "tf",
        "df",
        F.round("idf", 6).alias("idf"),
        F.round("tf_norm", 6).alias("tf_norm"),
        F.round("contribution", 6).alias("contribution"),
    )


def bm25_phrase(
    docs: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
    tokenizer: str = "simple",
) -> DataFrame:
    """match_phrase semantics: docs whose analyzed token stream contains
    ``phrase_terms`` as a CONTIGUOUS subsequence, BM25-scored over the
    phrase's terms (Lucene's PhraseQuery scores by term statistics; the
    positional constraint gates matching, not scoring — same split
    here). The position check is a delimiter-joined substring probe on
    the token stream — pure codegen; at 10^12-file scale the real
    implementation stores positions in the postings format, with this
    exhaustive operator remaining the semantic oracle.

    The corpus is tokenized ONCE: the same ``tokenized()`` frame feeds
    both the BM25 scoring subtree and the phrase gate (the round-1
    conjunctive one-traversal shape). ``tokenizer`` must be the analyzer
    that produced ``phrase_terms``."""
    needle = " " + " ".join(phrase_terms) + " "
    tok = tokenized(docs, id_col, text_col, tokenizer=tokenizer)
    scored = bm25_scores(
        docs, sorted(set(phrase_terms)), id_col, text_col, round_to=None, tok=tok
    )
    has_phrase = tok.where(
        F.expr(
            f"locate({needle!r}, concat(' ', concat_ws(' ', toks), ' ')) > 0"
        )
    ).select("doc_id")
    out = scored.join(has_phrase, "doc_id")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out


def bm25_phrase_sloppy(
    docs: DataFrame,
    phrase_terms: list[str],
    slop: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = 4,
    tokenizer: str = "simple",
) -> DataFrame:
    """Ordered proximity match (``match_phrase`` with ``slop``): docs
    with strictly-increasing positions p_0 < ... < p_{k-1} for the
    phrase ordinals such that the total gap
    ``p_{k-1} - p_0 - (k-1) <= slop`` (Lucene PhraseQuery's slop budget
    restricted to in-order matches; slop=0 is the contiguous phrase).
    Scoring is BM25 over the phrase's unique terms, like
    ``bm25_phrase`` — positions gate matching only.

    Plan shape: tokenize once; per ordinal, a posexplode'd position
    stream pre-filtered to that term (tiny vs the corpus); the
    existence witness is a k-way equi-join on doc_id with ordered
    position predicates — all JVM-side codegen, no UDF. The positional
    index path (query/phrase.py) is the scale implementation; this is
    its semantic oracle."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    k = len(phrase_terms)
    tok = tokenized(docs, id_col, text_col, tokenizer=tokenizer)
    scored = bm25_scores(
        docs, sorted(set(phrase_terms)), id_col, text_col, round_to=None, tok=tok
    )
    pos = tok.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )
    witness = None
    for i, t in enumerate(phrase_terms):
        p_i = pos.where(F.col("term") == t).select(
            "doc_id", F.col("pos").alias(f"p{i}")
        )
        if witness is None:
            witness = p_i
        else:
            witness = witness.join(p_i, "doc_id").where(
                F.col(f"p{i}") > F.col(f"p{i - 1}")
            )
    witness = witness.where(
        F.col(f"p{k - 1}") - F.col("p0") <= F.lit(k - 1 + slop)
    )
    has_phrase = witness.select("doc_id").distinct()
    out = scored.join(has_phrase, "doc_id")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out
