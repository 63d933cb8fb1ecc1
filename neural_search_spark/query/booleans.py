"""Lucene boolean-query scoring shapes: ``bool`` and ``dis_max``.

Public semantics (Lucene/OpenSearch core — the reference plugin nests
its hybrid/neural clauses inside exactly these compound queries, see
`HybridQueryBuilder` accepting arbitrary sub-QueryBuilders):

* ``bool``: MUST clauses are conjunctive and scoring; SHOULD clauses
  are optional and scoring (with an optional ``minimum_should_match``);
  MUST_NOT clauses exclude and never score. Per-doc score is the sum
  over matched scoring clauses — for term clauses under BM25 that is
  the per-term contribution sum this engine already computes.
* ``dis_max``: per-doc score is the best sub-query score plus
  ``tie_breaker`` × (sum of the other sub-query scores). A bool-should
  degenerates to ``tie_breaker=1``; pure best-field is ``0``.

Execution shapes
----------------
Exhaustive ``bool``: ONE corpus traversal — the per-doc aggregate
counts matched must-terms and should-terms alongside the score sum
(the ``bm25_conjunctive`` shape extended with two counters); the
must_not gate is an aggregate-side count of excluded terms == 0, so
exclusion costs no extra join or scan.

Indexed ``bool``: gate × score composition — the allow-list channel of
the bulk BM25 kernel (FILTER-occur, stats unfiltered) carries the
(must AND) ∖ (must_not OR) doc set computed by ``matched_ids_indexed``,
while the kernel scores the must+should OR in one pass.

``dis_max``: rides ``bm25_scores_by_group`` (every sub-query scored in
one corpus traversal); the max/sum combine is a per-doc aggregate over
the (subquery_idx, doc_id, score) frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.norms import quantized_dl_sql
from .bm25 import B, K1, bm25_sql
from .exhaustive import bm25_scores_by_group, tokenized, topk


def bool_topk(
    docs: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    minimum_should_match: int = 0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exhaustive ``bool`` query, one corpus traversal. Ranks cut on
    the rounded score (cross-engine tie rule, query/multiterm.py)."""
    must = sorted(set(must or []))
    should = sorted(set(should or []))
    must_not = sorted(set(must_not or []))
    if not must and not should:
        raise ValueError("bool query needs at least one scoring clause (must/should)")
    if overlap := (set(must) | set(should)) & set(must_not):
        raise ValueError(f"terms cannot be both scoring and must_not: {sorted(overlap)}")
    if minimum_should_match > len(should):
        raise ValueError("minimum_should_match exceeds the should-clause count")
    scoring = sorted(set(must) | set(should))
    all_terms = sorted(set(scoring) | set(must_not))
    tok = tokenized(docs, id_col, text_col)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl")
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df over scoring terms only (must_not terms never contribute —
    # Lucene: prohibited clauses are non-scoring)
    dfreq = (
        exploded.where(F.col("term").isin(scoring))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=K1, b=B)
    is_must = F.col("term").isin(must) if must else F.lit(False)
    is_should = F.col("term").isin(should) if should else F.lit(False)
    is_not = F.col("term").isin(must_not) if must_not else F.lit(False)
    agg = (
        exploded.join(F.broadcast(dfreq), "term", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.when(F.col("term").isin(scoring), F.expr(contrib)).otherwise(F.lit(0.0)),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.sum(is_must.cast("int")).alias("n_must"),
            F.sum(is_should.cast("int")).alias("n_should"),
            F.sum(is_not.cast("int")).alias("n_not"),
        )
        .where(
            (F.col("n_must") == len(must))
            & (F.col("n_should") >= minimum_should_match)
            & (F.col("n_not") == 0)
        )
        .select("doc_id", F.round("score", 4).alias("score"))
    )
    return topk(agg, k=k, round_to=None)


def bool_topk_indexed(
    reader,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Indexed ``bool``: allow-list gate × one OR scoring pass.

    The gate is (must AND-matched ids) minus (must_not OR-matched ids)
    — both from ``matched_ids_indexed`` (per-segment kernel match
    streams, no scoring); the exclusion is a broadcast-able left-anti
    join at query-result cardinality, not corpus cardinality. Scoring
    runs the bulk BM25 kernel over must+should with global stats
    (FILTER-occur: gates never alter index statistics)."""
    from .wand import bm25_topk_indexed, matched_ids_indexed

    must = sorted(set(must or []))
    should = sorted(set(should or []))
    must_not = sorted(set(must_not or []))
    if not must:
        raise ValueError("indexed bool path requires at least one must term")
    if overlap := (set(must) | set(should)) & set(must_not):
        raise ValueError(f"terms cannot be both scoring and must_not: {sorted(overlap)}")
    gate = matched_ids_indexed(reader, must, mode="and").select("nss_doc_id")
    if must_not:
        excluded = matched_ids_indexed(reader, must_not, mode="or").select("nss_doc_id")
        gate = gate.join(excluded, "nss_doc_id", "left_anti")
    scoring = sorted(set(must) | set(should))
    from .multiterm import rounded_topk_from_kernel

    return rounded_topk_from_kernel(
        reader.spark,
        lambda n: bm25_topk_indexed(reader, scoring, k=n, mode="or", allowed=gate),
        k,
        key=reader.meta["key_cols"][0],
    )


Clause = tuple[list[str], str]  # (analyzed terms, operator "or"|"and")


def _norm_clauses(clauses: list[Clause] | None, what: str) -> list[Clause]:
    out = []
    for terms, op in clauses or []:
        if op not in ("or", "and"):
            raise ValueError(f"{what} clause operator must be or|and, got [{op}]")
        uniq = sorted(set(terms))
        if not uniq:
            raise ValueError(f"{what} clause analyzed to zero terms")
        out.append((uniq, op))
    return out


def bool_clauses_topk(
    docs: DataFrame,
    must: list[Clause] | None = None,
    should: list[Clause] | None = None,
    must_not: list[Clause] | None = None,
    minimum_should_match: int = 0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """Per-CLAUSE ``bool`` semantics — the reference's BooleanQuery over
    *match clauses*, not over flattened terms (each clause is its own
    scorer: a multi-term must clause with the default operator=or
    matches when ANY of its terms matches, and ``minimum_should_match``
    counts CLAUSES, exactly as in Lucene's BooleanQuery — the plugin
    nests hybrid under these, HybridQueryBuilder accepting arbitrary
    sub-QueryBuilders).

    A clause = (analyzed terms, operator): operator=or matches on ≥1
    term, operator=and on all terms; a matched scoring clause
    contributes the BM25 sum over its matched terms; must_not clauses
    exclude on match and never score. Doc matches iff every must clause
    matches, ≥ msm should clauses match (≥1 when there is no must and
    msm=0), and no must_not clause matches.

    One corpus traversal: clause membership is a broadcast dimension
    table; per-(doc, clause) matched-term counts and score sums come
    from one aggregate, the per-doc gate from a second aggregate over
    clause-cardinality rows — no per-clause scan."""
    must = _norm_clauses(must, "must")
    should = _norm_clauses(should, "should")
    must_not = _norm_clauses(must_not, "must_not")
    if not must and not should:
        raise ValueError("bool query needs at least one scoring clause (must/should)")
    if minimum_should_match > len(should):
        raise ValueError("minimum_should_match exceeds the should-clause count")
    spark = docs.sparkSession
    clauses = [("must", *c) for c in must] + [("should", *c) for c in should] + [
        ("must_not", *c) for c in must_not
    ]
    member_rows = [
        (ci, kind, t, len(terms), op == "and", kind != "must_not")
        for ci, (kind, terms, op) in enumerate(clauses)
        for t in terms
    ]
    membership = spark.createDataFrame(
        member_rows, ["cid", "kind", "term", "n_terms", "is_and", "scoring"]
    )
    scoring_terms = sorted({t for kind, terms, _ in clauses if kind != "must_not" for t in terms})
    all_terms = sorted({t for _, terms, _ in clauses for t in terms})
    tok = tokenized(docs, id_col, text_col, tokenizer)
    stats = tok.agg(
        F.count(F.lit(1)).alias("N"),
        (F.sum("dl") * F.lit(1.0) / F.count(F.lit(1))).alias("avgdl"),
    )
    dl_expr = quantized_dl_sql("dl")
    exploded = (
        tok.select("doc_id", "dl", F.explode("toks").alias("term"))
        .where(F.col("term").isin(all_terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # IDF over scoring terms only (prohibited clauses never score)
    dfreq = (
        exploded.where(F.col("term").isin(scoring_terms))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    contrib = bm25_sql(tf="tf", dl_q=f"({dl_expr})", N="N", df="df", avgdl="avgdl", k1=K1, b=B)
    per_clause = (
        exploded.join(F.broadcast(dfreq), "term", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", F.expr(contrib))
        .join(F.broadcast(membership), "term")
        .groupBy("doc_id", "cid", "kind", "n_terms", "is_and", "scoring")
        .agg(
            F.countDistinct("term").alias("n_matched"),
            F.sum(F.when(F.col("scoring"), F.col("contrib")).otherwise(F.lit(0.0))).alias("cscore"),
        )
        .withColumn(
            "matched",
            F.when(F.col("is_and"), F.col("n_matched") == F.col("n_terms")).otherwise(F.lit(True)),
        )
    )
    need_should = minimum_should_match if minimum_should_match > 0 else (0 if must else 1)
    agg = (
        per_clause.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("matched") & F.col("scoring"), F.col("cscore"))
                  .otherwise(F.lit(0.0))).alias("score"),
            F.sum((F.col("matched") & (F.col("kind") == "must")).cast("int")).alias("n_must"),
            F.sum((F.col("matched") & (F.col("kind") == "should")).cast("int")).alias("n_should"),
            F.sum((F.col("matched") & (F.col("kind") == "must_not")).cast("int")).alias("n_not"),
        )
        .where(
            (F.col("n_must") == len(must))
            & (F.col("n_should") >= need_should)
            & (F.col("n_not") == 0)
        )
        .select("doc_id", F.round("score", 4).alias("score"))
    )
    return topk(agg, k=k, round_to=None)


def bool_gate_indexed(
    reader,
    must: list[tuple[list[str], str]],
    should: list[tuple[list[str], str]],
    must_not: list[tuple[list[str], str]],
    minimum_should_match: int = 0,
) -> DataFrame:
    """(nss_doc_id) frame of docs satisfying the clause gate over
    per-clause ``matched_ids_indexed`` streams: must = intersection,
    should = distinct-clause count >= minimum_should_match (default 1
    when there is no must), must_not = anti-join. The ONE gate builder
    both the indexed bool top-k and the DSL aggs hit set use, so their
    match sets cannot drift. Clauses are (analyzed terms, operator)."""
    from .wand import matched_ids_indexed

    if minimum_should_match > len(should):
        # validated HERE so every gate consumer (top-k and aggs hit
        # set) rejects the same bodies the same way
        raise ValueError("minimum_should_match exceeds the should-clause count")
    gate = None
    for terms, op in must:
        ids = matched_ids_indexed(reader, terms, mode=op).select("nss_doc_id")
        gate = ids if gate is None else gate.join(ids, "nss_doc_id")
    need_should = minimum_should_match if minimum_should_match > 0 else (0 if must else 1)
    if should and need_should > 0:
        tagged = None
        for terms, op in should:
            # one row per (doc, clause): each matched_ids_indexed stream
            # emits a doc at most once, so counting rows counts clauses
            t = matched_ids_indexed(reader, terms, mode=op).select("nss_doc_id")
            tagged = t if tagged is None else tagged.unionByName(t)
        ok = (
            tagged.groupBy("nss_doc_id")
            .agg(F.count(F.lit(1)).alias("_ns"))
            .where(F.col("_ns") >= need_should)
            .select("nss_doc_id")
        )
        gate = ok if gate is None else gate.join(ok, "nss_doc_id")
    for terms, op in must_not:
        excluded = matched_ids_indexed(reader, terms, mode=op).select("nss_doc_id")
        gate = gate.join(excluded, "nss_doc_id", "left_anti")
    return gate


def bool_clauses_topk_indexed(
    reader,
    must: list[Clause] | None = None,
    should: list[Clause] | None = None,
    must_not: list[Clause] | None = None,
    minimum_should_match: int = 0,
    k: int = 10,
) -> DataFrame:
    """Indexed per-clause ``bool``: the gate is the intersection over
    must clauses of each clause's own matched-id set (OR or AND per its
    operator), intersected with the ≥msm should-clause count set, minus
    any matched must_not clause — all from per-clause
    ``matched_ids_indexed`` streams at match-set (not corpus)
    cardinality. Scoring runs the bulk BM25 kernel ONCE over the union
    of scoring terms with the gate as the FILTER-occur allow-list
    (stats stay global, as everywhere else).

    Exactness precondition (enforced): kernel-OR scoring equals the
    per-clause sum only when (a) no scoring term appears in two scoring
    clauses (the kernel would single-count what per-clause scoring
    double-counts) and (b) every SHOULD clause is operator=or (a
    partially-matched AND should-clause must contribute nothing, but
    the kernel cannot mask per-doc terms). AND must-clauses are safe —
    the gate guarantees they matched fully."""
    from .multiterm import rounded_topk_from_kernel
    from .wand import bm25_topk_indexed

    must = _norm_clauses(must, "must")
    should = _norm_clauses(should, "should")
    must_not = _norm_clauses(must_not, "must_not")
    if not must and not should:
        raise ValueError("bool query needs at least one scoring clause (must/should)")
    # msm > len(should) is validated inside bool_gate_indexed (shared
    # with the DSL aggs hit set)
    if any(op == "and" for _, op in should):
        raise ValueError(
            "indexed bool path: should clauses must be operator=or "
            "(AND should-clauses need per-doc term masking — use the "
            "exhaustive builder)"
        )
    seen: set[str] = set()
    for terms, _ in must + should:
        if dup := seen & set(terms):
            raise ValueError(
                f"indexed bool path: scoring terms shared across clauses "
                f"{sorted(dup)} would double-count — use the exhaustive builder"
            )
        seen |= set(terms)
    gate = bool_gate_indexed(reader, must, should, must_not, minimum_should_match)
    scoring = sorted({t for terms, _ in must + should for t in terms})
    return rounded_topk_from_kernel(
        reader.spark,
        lambda n: bm25_topk_indexed(reader, scoring, k=n, mode="or", allowed=gate),
        k,
        key=reader.meta["key_cols"][0],
    )


def dis_max_topk(
    docs: DataFrame,
    term_groups: list[list[str]],
    tie_breaker: float = 0.0,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``dis_max`` over BM25 term sub-queries: best sub-query score +
    ``tie_breaker`` × sum of the rest, per doc. All sub-queries score
    in ONE corpus traversal (`bm25_scores_by_group`)."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    per_group = bm25_scores_by_group(docs, term_groups, id_col, text_col,
                                     tokenizer=tokenizer)
    combined = (
        per_group.groupBy("doc_id")
        .agg(F.max("score").alias("best"), F.sum("score").alias("total"))
        .select(
            "doc_id",
            F.round(
                F.col("best") + F.lit(tie_breaker) * (F.col("total") - F.col("best")), 4
            ).alias("score"),
        )
    )
    return topk(combined, k=k, round_to=None)
