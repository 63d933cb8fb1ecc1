"""Golden numeric fixtures transcribed from the reference's tests
(FIXTURES.md §3) — normalization, combination, hybrid invariants,
two-phase equality, spec validation."""

import math

import numpy as np
import pytest

from neural_search_spark.query.hybrid import (
    combine,
    explain_scores,
    hybrid_search,
    normalize,
    rrf_combine,
)
from neural_search_spark.query.spec import HybridSpec, HybridSpecError
from neural_search_spark.query.sparse import (
    sparse_topk_single_phase,
    sparse_topk_two_phase,
    split_query_tokens,
)


def _scores_df(spark, rows):
    return spark.createDataFrame(rows, "subquery_idx int, doc_id long, score double")


def test_weights_give_subquery_count_without_job(spark):
    """Given weights, combine, rrf_combine and explain_scores take the
    sub-query count from them: building the frame runs no Spark job,
    as with an explicit ``n_subqueries``, and the answers agree."""
    from tests.conftest import spark_job_count

    tagged = _scores_df(spark, [(0, 1, 0.5), (0, 2, 0.2), (1, 2, 0.9), (1, 3, 0.4)])
    calls = [lambda **kw: combine(normalize(tagged, "min_max"), "arithmetic_mean",
                                  [0.5, 0.5], **kw),
             lambda **kw: rrf_combine(tagged, 60, [0.5, 0.5], **kw),
             lambda **kw: explain_scores(tagged, weights=[0.5, 0.5], **kw)]
    for call in calls:
        out = {}
        jobs = spark_job_count(spark, lambda: out.update(w=call()))
        assert jobs == spark_job_count(spark, lambda: out.update(n=call(n_subqueries=2))) == 0
        assert sorted(out["w"].collect()) == sorted(out["n"].collect())


# --- §3.1 min-max (MinMaxScoreNormalizationTechniqueTests.java:21-98) ---

def test_minmax_two_docs(spark):
    df = _scores_df(spark, [(0, 2, 0.5), (0, 4, 0.2)])
    got = {r["doc_id"]: r["nscore"] for r in normalize(df, "min_max").collect()}
    assert got[2] == pytest.approx(1.0)
    assert got[4] == pytest.approx(0.001)  # 0.0 floored to MIN_SCORE


def test_minmax_three_subqueries(spark):
    df = _scores_df(
        spark,
        [(0, 1, 0.8), (1, 5, 0.6), (2, 3, 0.9), (2, 4, 0.7), (2, 2, 0.1)],
    )
    got = {(r["subquery_idx"], r["doc_id"]): r["nscore"] for r in normalize(df).collect()}
    assert got[(2, 3)] == pytest.approx(1.0)
    assert got[(2, 4)] == pytest.approx(0.75)
    assert got[(2, 2)] == pytest.approx(0.001)
    # single-result sub-queries: max==min==s → 1.0
    assert got[(0, 1)] == pytest.approx(1.0)
    assert got[(1, 5)] == pytest.approx(1.0)


def test_minmax_global_across_shards(spark):
    # min/max are global per sub-query, not per partition
    df = _scores_df(spark, [(1, 7, 2.9), (1, 9, 0.7)]).repartition(2)
    got = {r["doc_id"]: r["nscore"] for r in normalize(df).collect()}
    assert got[7] == pytest.approx(1.0)
    assert got[9] == pytest.approx(0.001)


# --- §3.2 l2 (L2ScoreNormalizationTechnique.java:53-89) ---

def test_l2(spark):
    df = _scores_df(spark, [(0, 1, 0.5), (0, 2, 0.2)])
    got = {r["doc_id"]: r["nscore"] for r in normalize(df, "l2").collect()}
    norm = math.sqrt(0.5**2 + 0.2**2)
    assert got[1] == pytest.approx(0.5 / norm, abs=1e-4)  # 0.928477
    assert got[2] == pytest.approx(0.2 / norm, abs=1e-4)  # 0.371391


# --- §3.3 weighted combination (ScoreCombinationIT.java:87-140) ---

def _one_hot_normalized(spark, weights):
    # 3 docs each matching exactly one sub-query → normalized 1.0 there
    rows = [(0, 10, 1.0), (1, 20, 1.0), (2, 30, 1.0)]
    df = spark.createDataFrame(rows, "subquery_idx int, doc_id long, score double")
    # feed already-normalized scores straight into combine()
    return df.withColumnRenamed("score", "nscore")


def test_weighted_arithmetic_04_03_03(spark):
    got = {
        r["doc_id"]: r["score"]
        for r in combine(_one_hot_normalized(spark, None), "arithmetic_mean", [0.4, 0.3, 0.3], 3).collect()
    }
    # each doc: w_i*1.0 / Σw = w_i (missing scores zero-filled, weights kept)
    assert got[10] == pytest.approx(0.4, abs=1e-3)
    assert got[20] == pytest.approx(0.3, abs=1e-3)
    assert got[30] == pytest.approx(0.3, abs=1e-3)


def test_weighted_arithmetic_0233_0666_01(spark):
    got = {
        r["doc_id"]: r["score"]
        for r in combine(_one_hot_normalized(spark, None), "arithmetic_mean", [0.233, 0.666, 0.1], 3).collect()
    }
    assert got[20] == pytest.approx(0.6666, abs=1e-3)
    assert got[10] == pytest.approx(0.2332, abs=1e-3)


def test_harmonic_fixture(spark):
    df = spark.createDataFrame(
        [(0, 1, 0.5), (1, 1, 1.0)], "subquery_idx int, doc_id long, score double"
    ).withColumnRenamed("score", "nscore")
    got = combine(df, "harmonic_mean", [0.5, 0.5], 2).collect()[0]["score"]
    assert got == pytest.approx(0.666667, abs=1e-5)


def test_geometric_fixture(spark):
    df = spark.createDataFrame(
        [(0, 1, 0.5), (1, 1, 1.0)], "subquery_idx int, doc_id long, score double"
    ).withColumnRenamed("score", "nscore")
    got = combine(df, "geometric_mean", [0.5, 0.5], 2).collect()[0]["score"]
    assert got == pytest.approx(0.707107, abs=1e-5)


def test_arithmetic_zero_fill_denominator(spark):
    # doc 1 matches both sub-queries, doc 2 only the first; the missing
    # second score is 0.0 but its weight stays in the denominator
    df = spark.createDataFrame(
        [(0, 1, 1.0), (1, 1, 0.5), (0, 2, 1.0)], "subquery_idx int, doc_id long, score double"
    ).withColumnRenamed("score", "nscore")
    got = {r["doc_id"]: r["score"] for r in combine(df, "arithmetic_mean", [0.5, 0.5], 2).collect()}
    assert got[1] == pytest.approx(0.75)
    assert got[2] == pytest.approx(0.5)  # 0.5*1.0 / (0.5+0.5)


# --- §3.4 post-normalization invariants (TestUtils.java:128-160) ---

def test_hybrid_end_to_end_invariants(spark, documents):
    from neural_search_spark.query.exhaustive import bm25_scores

    subs = [
        bm25_scores(documents, ["spark"], round_to=None),
        bm25_scores(documents, ["window"], round_to=None),
        bm25_scores(documents, ["merge"], round_to=None),
    ]
    res = hybrid_search(subs, k=10).toPandas()
    assert len(res) == 10
    assert res["doc_id"].is_unique
    scores = res["score"].to_numpy()
    assert (np.diff(scores) <= 1e-12).all()  # desc order
    assert scores.max() <= 1.0 + 0.001


# --- §3.5 two-phase (NeuralSparseTwoPhaseProcessor.java:127-155) ---

def test_token_split_fixture():
    hi, lo = split_query_tokens({"a": 1.0, "b": 0.45, "c": 0.39, "d": 0.1}, 0.4)
    assert set(hi) == {"a", "b"} and set(lo) == {"c", "d"}


def test_two_phase_equals_single_phase(spark, documents):
    from pyspark.sql import functions as F

    from neural_search_spark.query.exhaustive import tokenized

    feats = (
        tokenized(documents)
        .select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    q = {"spark": 1.0, "window": 0.45, "merge": 0.39, "the": 0.1}
    one = sparse_topk_single_phase(feats, q, k=10).toPandas()
    two = sparse_topk_two_phase(feats, q, k=10, expansion_rate=5.0).toPandas()
    assert one["doc_id"].tolist() == two["doc_id"].tolist()
    np.testing.assert_allclose(one["score"], two["score"], atol=1e-9)


# --- spec validation (HybridQueryBuilder.java:56,173-196; ScoreCombinationUtil.java:97-140) ---

@pytest.mark.parametrize(
    "kw,msg",
    [
        (dict(n_subqueries=6), "exceeds maximum"),
        (dict(n_subqueries=2, weights=[0.5]), "number of weights"),
        (dict(n_subqueries=2, weights=[0.8, 0.8]), "sum of all weights"),
        (dict(n_subqueries=2, weights=[-0.2, 1.2]), "range"),
        (dict(n_subqueries=1, boost=2.0), "boost"),
        (dict(n_subqueries=1, from_=10), "from"),
        (dict(n_subqueries=1, normalization="zzz"), "normalization"),
        (dict(n_subqueries=1, combination="zzz"), "combination"),
    ],
)
def test_spec_rejections(kw, msg):
    with pytest.raises(HybridSpecError, match=msg):
        HybridSpec(**kw).validate()


def test_spec_accepts_tolerant_weight_sum():
    HybridSpec(n_subqueries=3, weights=[0.233, 0.666, 0.1]).validate()  # Σ=0.999
