"""Hybrid score normalization + combination (the reference's core layer).

Operates on a long DataFrame of per-sub-query scores
``(subquery_idx:int, doc_id:long, score:double)`` — the Spark analog of
``CompoundTopDocs`` (processor/CompoundTopDocs.java:33-107): what the
reference serializes per shard with magic-number delimiters is here just
rows; shard boundaries are partitions and need no special handling
because normalization statistics are **global aggregates per sub-query**
(the reference iterates all shards: MinMaxScoreNormalizationTechnique
.java:66-106, L2ScoreNormalizationTechnique.java:53-89 — SURVEY.md
§7.6.6 calls out that per-partition stats would be wrong).

Semantics reproduced exactly:
 * min_max — n=(s-min)/(max-min); max==min==s → 1.0
   (SINGLE_RESULT_SCORE); n==0.0 → 0.001 (MIN_SCORE)
   [MinMaxScoreNormalizationTechnique.java:23-116]
 * l2 — n = s/sqrt(Σ s²) over ALL retained hits of the sub-query;
   zero norm → 0.0 [L2ScoreNormalizationTechnique.java:21-90]
 * arithmetic_mean — Σwᵢsᵢ/Σwᵢ where *missing* sub-query scores are
   zero-filled and keep their weight in the denominator; only s<0 is
   skipped [ScoreCombiner.java:265-279,
   ArithmeticMeanScoreCombinationTechnique.java:38-56]. With
   non-negative normalized scores this is sum(w·s)/Σ_all w.
 * harmonic_mean — Σw/Σ(w/s) over s>0 [Harmonic...java:38-53]
 * geometric_mean — exp(Σw·ln s/Σw) over s>0 [Geometric...java:40-56]
 * final ranking: combined desc, doc_id asc, truncate k; one row per
   doc (set-union of sub-query matches) [ScoreCombiner.java:34-321]

Beyond this snapshot (newer public releases of the plugin ship both;
semantics here follow the public docs / Cormack et al. 2009, not any
implementation's text):
 * z_score — n=(s-μ)/σ per sub-query (population σ; σ==0 → 0.0).
   Negative z-scores are LEGITIMATE values, so the arithmetic
   combiner keeps them when ``keep_negative=True`` (the reference's
   s<0 skip exists only because -1 marks *missing* in its dense score
   arrays; this long format has no missing marker — absent rows are
   the zero-filled case).
 * rrf — reciprocal rank fusion: score(d)=Σᵢ wᵢ/(rank_constant+rᵢ(d))
   where rᵢ is d's 1-based rank in sub-query i (score desc, doc_id
   asc tiebreak). Rank-based, so it needs no normalization stage.
   Default rank_constant 60 per the literature and the plugin's docs.
   Scale note: the per-sub-query rank window runs over RETAINED hits
   (bounded top-k lists), not the corpus — a single-partition sort of
   ≤ n_subqueries·k rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spec import HybridSpec

MIN_SCORE = 0.001
SINGLE_RESULT_SCORE = 1.0


def _n_subqueries(tagged: DataFrame, weights: list[float] | None,
                  n_subqueries: int | None) -> int:
    """The sub-query count: given, else one per weight, else counted
    from the frame (the only case that runs a Spark job)."""
    if n_subqueries is not None:
        return n_subqueries
    if weights is not None:
        return len(weights)
    return tagged.agg(F.max("subquery_idx")).collect()[0][0] + 1


def normalize(scores: DataFrame, technique: str = "min_max") -> DataFrame:
    """Add ``nscore`` per (subquery_idx, doc_id); stats are global per
    sub-query (broadcast-joined back — tiny: one row per sub-query)."""
    if technique == "min_max":
        stats = scores.groupBy("subquery_idx").agg(
            F.min("score").alias("mn"), F.max("score").alias("mx")
        )
        out = scores.join(F.broadcast(stats), "subquery_idx")
        raw = (F.col("score") - F.col("mn")) / (F.col("mx") - F.col("mn"))
        nscore = (
            F.when(F.col("mx") == F.col("mn"), F.lit(SINGLE_RESULT_SCORE))
            .when(raw == 0.0, F.lit(MIN_SCORE))
            .otherwise(raw)
        )
        return out.withColumn("nscore", nscore).drop("mn", "mx")
    if technique == "l2":
        stats = scores.groupBy("subquery_idx").agg(
            F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm")
        )
        out = scores.join(F.broadcast(stats), "subquery_idx")
        nscore = F.when(F.col("nrm") == 0.0, F.lit(0.0)).otherwise(F.col("score") / F.col("nrm"))
        return out.withColumn("nscore", nscore).drop("nrm")
    if technique == "z_score":
        stats = scores.groupBy("subquery_idx").agg(
            F.avg("score").alias("mu"), F.stddev_pop("score").alias("sigma")
        )
        out = scores.join(F.broadcast(stats), "subquery_idx")
        nscore = (
            F.when(F.col("sigma") == 0.0, F.lit(0.0))
            .otherwise((F.col("score") - F.col("mu")) / F.col("sigma"))
        )
        return out.withColumn("nscore", nscore).drop("mu", "sigma")
    raise ValueError(f"unknown normalization technique [{technique}]")


def rrf_combine(
    tagged: DataFrame,
    rank_constant: int = 60,
    weights: list[float] | None = None,
    n_subqueries: int | None = None,
) -> DataFrame:
    """Reciprocal rank fusion over tagged per-sub-query scores
    ``(subquery_idx, doc_id, score)`` → ``(doc_id, score)``.

    score(d) = Σᵢ wᵢ / (rank_constant + rᵢ(d)), rᵢ 1-based within
    sub-query i ordered (score desc, doc_id asc). Rank integers make
    the result exactly reproducible across engines (no float-sum-order
    sensitivity beyond the final bounded sum)."""
    from pyspark.sql import Window

    n_subqueries = _n_subqueries(tagged, weights, n_subqueries)
    w = weights if weights is not None else [1.0] * n_subqueries
    wmap = F.element_at(
        F.array(*[F.lit(float(x)) for x in w]), F.col("subquery_idx").cast("int") + 1
    )
    win = Window.partitionBy("subquery_idx").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = tagged.withColumn("r", F.row_number().over(win))
    return ranked.groupBy("doc_id").agg(
        F.sum(wmap / (F.lit(float(rank_constant)) + F.col("r"))).alias("score")
    )


def combine(
    normalized: DataFrame,
    technique: str = "arithmetic_mean",
    weights: list[float] | None = None,
    n_subqueries: int | None = None,
    keep_negative: bool = False,
) -> DataFrame:
    """(doc_id, score): weighted combination across sub-queries.

    ``keep_negative`` retains nscore<0 rows in the arithmetic mean —
    required for z_score normalization, whose negative values are real
    scores, not the reference's -1 missing-slot marker."""
    n_subqueries = _n_subqueries(normalized, weights, n_subqueries)
    w = weights if weights is not None else [1.0] * n_subqueries
    wmap = F.element_at(
        F.array(*[F.lit(float(x)) for x in w]), F.col("subquery_idx").cast("int") + 1
    )
    df = normalized.withColumn("w", wmap)
    pos = df.where(F.col("nscore") > 0.0)
    if technique == "arithmetic_mean":
        total_w = float(sum(w))
        # zero-filled missing scores keep their weight in the denominator
        kept = df if keep_negative else df.where(F.col("nscore") >= 0.0)
        return kept.groupBy("doc_id").agg(
            (F.sum(F.col("w") * F.col("nscore")) / F.lit(total_w)).alias("score")
        )
    if technique == "harmonic_mean":
        return pos.groupBy("doc_id").agg(
            (F.sum("w") / F.sum(F.col("w") / F.col("nscore"))).alias("score")
        )
    if technique == "geometric_mean":
        return pos.groupBy("doc_id").agg(
            F.exp(F.sum(F.col("w") * F.log(F.col("nscore"))) / F.sum("w")).alias("score")
        )
    raise ValueError(f"unknown combination technique [{technique}]")


def explain_scores(
    tagged: DataFrame,
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    n_subqueries: int | None = None,
) -> DataFrame:
    """Score-provenance explanation (the newer plugin releases expose
    this via an explanation response processor): one row per
    (doc_id, subquery_idx) with the raw sub-query score, its normalized
    value, the applied weight, and the doc's final combined score —
    everything a user needs to audit why a hit ranked where it did.

    Columns: doc_id, subquery_idx, raw_score, norm_score, weight,
    combined_score. Scale shape: two broadcast joins (per-sub-query
    stats, per-doc combined) over the retained-hits frame."""
    n_subqueries = _n_subqueries(tagged, weights, n_subqueries)
    w = weights if weights is not None else [1.0] * n_subqueries
    normed = normalize(tagged, normalization)
    combined = combine(
        normed, combination, w, n_subqueries,
        keep_negative=(normalization == "z_score"),
    ).withColumnRenamed("score", "combined_score")
    wmap = F.element_at(
        F.array(*[F.lit(float(x)) for x in w]), F.col("subquery_idx").cast("int") + 1
    )
    return (
        normed.withColumn("weight", wmap)
        .withColumnRenamed("score", "raw_score")
        .withColumnRenamed("nscore", "norm_score")
        .join(combined, "doc_id", "left")
        .select(
            "doc_id", "subquery_idx", "raw_score",
            "norm_score", "weight", "combined_score",
        )
    )


def hybrid_search(
    subqueries: list[DataFrame],
    normalization: str = "min_max",
    combination: str = "arithmetic_mean",
    weights: list[float] | None = None,
    k: int = 10,
    round_to: int | None = None,
    rank_constant: int = 60,
) -> DataFrame:
    """Full hybrid pipeline over per-sub-query score DataFrames
    (each ``(doc_id, score)``) → top-k ``(doc_id, score, rank)``.

    ``normalization="rrf"`` (with ``combination="rrf"``) fuses by
    reciprocal rank instead of score statistics."""
    spec = HybridSpec(
        n_subqueries=len(subqueries),
        normalization=normalization,
        combination=combination,
        weights=weights,
        k=k,
    ).validate()
    if (spec.normalization == "rrf") != (spec.combination == "rrf"):
        raise ValueError("rrf normalization and combination must be used together")
    tagged = None
    for i, sq in enumerate(subqueries):
        t = sq.select(F.lit(i).alias("subquery_idx"), "doc_id", "score")
        tagged = t if tagged is None else tagged.unionByName(t)
    if spec.normalization == "rrf":
        combined = rrf_combine(tagged, rank_constant, spec.effective_weights(), len(subqueries))
    else:
        normed = normalize(tagged, spec.normalization)
        combined = combine(
            normed,
            spec.combination,
            spec.effective_weights(),
            len(subqueries),
            keep_negative=(spec.normalization == "z_score"),
        )
    from .exhaustive import topk

    return topk(combined, k=spec.k, round_to=round_to)
