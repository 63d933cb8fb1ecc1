"""Sparse (token-weight) linear scoring + the two-phase optimization.

Reference semantics:
 * score(doc) = Σ_{t ∈ q ∩ d} w_q(t) · w_d(t) — a BooleanQuery of SHOULD
   FeatureField linear clauses [query/NeuralSparseQueryBuilder.java:
   363-376]; documents are token→weight maps (`rank_features`).
 * two-phase [processor/NeuralSparseTwoPhaseProcessor.java:127-155,
   212-231]: split query tokens at threshold = max_weight × prune_ratio
   (default 0.4); phase 1 scores only the high-weight tokens (short,
   high-impact postings); the top window_size = k × expansion_rate
   (default 5.0, capped 10000) candidates are then rescored by adding
   the low-weight tokens' contributions. Final scores on the window are
   identical to single-phase scoring
   [NeuralSparseTwoPhaseProcessorIT.java:151-204].

Doc features here are a long DataFrame ``(doc_id, token, weight)`` —
the exploded form of `rank_features` (SURVEY.md §1.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PRUNE_RATIO = 0.4
DEFAULT_EXPANSION_RATE = 5.0
MAX_WINDOW_SIZE = 10_000


def split_query_tokens(
    query: dict[str, float], prune_ratio: float = DEFAULT_PRUNE_RATIO
) -> tuple[dict[str, float], dict[str, float]]:
    """tokens ≥ max_weight×ratio → phase-1; rest → phase-2.

    Fixture: {a:1.0,b:0.45,c:0.39,d:0.1}, ratio 0.4 → ({a,b},{c,d})
    (FIXTURES.md §3.5).
    """
    if not query:
        return {}, {}
    thr = max(query.values()) * prune_ratio
    hi = {t: w for t, w in query.items() if w >= thr}
    lo = {t: w for t, w in query.items() if w < thr}
    return hi, lo


def sparse_scores(features: DataFrame, query: dict[str, float]) -> DataFrame:
    """(doc_id, score): linear feature scoring for all matching docs."""
    if not query:
        return features.sparkSession.createDataFrame([], "doc_id long, score double")
    qdf = F.create_map(
        *[x for t, w in sorted(query.items()) for x in (F.lit(t), F.lit(float(w)))]
    )
    return (
        features.where(F.col("token").isin(list(query)))
        .withColumn("qw", F.element_at(qdf, F.col("token")))
        .groupBy("doc_id")
        .agg(F.sum(F.col("qw") * F.col("weight")).alias("score"))
    )


def sparse_topk_two_phase(
    features: DataFrame,
    query: dict[str, float],
    k: int = 10,
    prune_ratio: float = DEFAULT_PRUNE_RATIO,
    expansion_rate: float = DEFAULT_EXPANSION_RATE,
    round_to: int | None = None,
) -> DataFrame:
    """Two-phase top-k; rank-equal to single-phase for window ≥ k."""
    from .exhaustive import topk

    hi, lo = split_query_tokens(query, prune_ratio)
    window = min(int(k * expansion_rate), MAX_WINDOW_SIZE)
    phase1 = sparse_scores(features, hi)
    cand = phase1.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(window)
    if lo:
        lo_scores = sparse_scores(features, lo).withColumnRenamed("score", "lo_score")
        cand = (
            cand.join(lo_scores, "doc_id", "left")
            .withColumn("score", F.col("score") + F.coalesce(F.col("lo_score"), F.lit(0.0)))
            .drop("lo_score")
        )
    return topk(cand, k=k, round_to=round_to)


def sparse_topk_single_phase(
    features: DataFrame, query: dict[str, float], k: int = 10, round_to: int | None = None
) -> DataFrame:
    from .exhaustive import topk

    return topk(sparse_scores(features, query), k=k, round_to=round_to)


# --- index-backed sparse retrieval -------------------------------------

def _sparse_seg_scores(reader, query: dict[str, float], restrict_df: DataFrame | None = None) -> DataFrame:
    """Per-doc linear scores from the segmented index: the stored tf IS
    the feature value (rank_features analog); one batch decode
    (``decode_rows``) of the query tokens' postings rows per segment.
    ``restrict_df`` (a frame with an ``nss_doc_id`` column) limits
    output to a candidate window (phase-2 rescore) — delivered to each
    segment's kernel via a cogrouped applyInPandas, so the window never
    round-trips through the driver and the restriction list a task sees
    is only that segment's slice of the window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..index.builder import SEG_SHIFT, decode_rows

    schema = T.StructType(
        [
            T.StructField("nss_doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
        ]
    )
    tokens = sorted(query)
    qw = {t: float(w) for t, w in query.items()}
    range_block = int(reader.meta["range_block"])

    def score_rows(pdf: pd.DataFrame, allow_arr) -> pd.DataFrame:
        empty = pd.DataFrame({"nss_doc_id": pd.Series(dtype=np.int64),
                              "score": pd.Series(dtype=np.float64)})
        if len(pdf) == 0 or (allow_arr is not None and len(allow_arr) == 0):
            return empty
        pdf = pdf.sort_values("term", kind="mergesort")
        seg = int(pdf["segment_id"].iloc[0])
        d = decode_rows(pdf, range_block)
        all_ids = (np.int64(seg) << SEG_SHIFT) + d.ids
        weight = np.array([qw[t] for t in pdf["term"].tolist()], dtype=np.float64)
        all_c = weight[d.row] * d.tfs.astype(np.float64)
        if allow_arr is not None:
            keep = np.isin(all_ids, allow_arr)
            all_ids, all_c = all_ids[keep], all_c[keep]
        if not len(all_ids):
            return empty
        uniq, inv = np.unique(all_ids, return_inverse=True)
        acc = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(acc, inv, all_c)  # array order = sorted-term order → deterministic
        return pd.DataFrame({"nss_doc_id": uniq, "score": acc})

    from .wand import DECODE_COLS

    scan = reader.scan_terms(tokens, [*DECODE_COLS, "tfs"])
    if restrict_df is None:
        return scan.groupBy("segment_id").applyInPandas(
            lambda pdf: score_rows(pdf, None), schema
        )

    cand = restrict_df.select(
        F.col("nss_doc_id"),
        F.shiftright("nss_doc_id", SEG_SHIFT).cast("int").alias("segment_id"),
    )

    def cokernel(post_pdf: pd.DataFrame, cand_pdf: pd.DataFrame) -> pd.DataFrame:
        allow = cand_pdf["nss_doc_id"].to_numpy(dtype=np.int64)
        return score_rows(post_pdf, allow)

    return (
        scan.groupby("segment_id")
        .cogroup(cand.groupby("segment_id"))
        .applyInPandas(cokernel, schema)
    )


def sparse_topk_indexed(
    reader,
    query: dict[str, float],
    k: int = 10,
    prune_ratio: float = DEFAULT_PRUNE_RATIO,
    expansion_rate: float = DEFAULT_EXPANSION_RATE,
    two_phase: bool = True,
) -> DataFrame:
    """Index-backed two-phase sparse top-k: phase 1 scans only the
    high-weight tokens' (short) postings, phase 2 rescores the candidate
    window against the low-weight postings — the reference's exact job
    split (NeuralSparseTwoPhaseProcessor.java:127-155), but over our
    segment files, fully distributed: the candidate window is a
    DataFrame throughout (no driver materialization); phase 2 is a
    cogrouped kernel restricted to each segment's slice of the window,
    then a broadcast join adds the lo contributions.

    Final scores equal single-phase (two_phase=False) when the hi-token
    scores determine the window — i.e. every true top-k doc matches at
    least one hi token and the window is wide enough that lo-token mass
    can't promote a doc from beyond it. Docs matching ONLY lo tokens
    never enter the phase-1 window (the reference shares this recall
    property by construction); pass two_phase=False for exact linear
    scoring."""
    key_cols = reader.meta["key_cols"]
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    hi, lo = split_query_tokens(query, prune_ratio) if two_phase else (dict(query), {})
    window = min(int(k * expansion_rate), MAX_WINDOW_SIZE)
    phase1 = _sparse_seg_scores(reader, hi)
    cand = phase1.orderBy(F.col("score").desc(), F.col("nss_doc_id").asc()).limit(window)
    if lo:
        # the window is <= MAX_WINDOW_SIZE rows — cache so the cogroup
        # pass and the final join see the identical cut without
        # recomputing phase 1, then broadcast it into the join
        cand = cand.localCheckpoint(eager=False)
        lo_scores = _sparse_seg_scores(reader, lo, restrict_df=cand).withColumnRenamed(
            "score", "lo_score"
        )
        cand = (
            cand.join(F.broadcast(lo_scores), "nss_doc_id", "left")
            .withColumn("score", F.col("score") + F.coalesce(F.col("lo_score"), F.lit(0.0)))
            .drop("lo_score")
        )
    joined = dm.join(F.broadcast(cand), "nss_doc_id")
    return (
        joined.orderBy(F.col("score").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(k)
        .drop("nss_doc_id")
    )
