"""Index build + block-max WAND gate (SURVEY.md §7.2-§7.3, §7.6.3):
WAND top-k must equal exhaustive top-k; builds must be resumable and
carry the sha256 per-row invariant."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest

from neural_search_spark.corpus import generate_batch
from neural_search_spark.index.builder import build_index, paths, verify_sha256
from neural_search_spark.query.exhaustive import bm25_scores, topk
from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

TERMS = ["spark", "window", "merge"]


@pytest.fixture(scope="module")
def doc_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_docs"))
    build_index(
        spark, documents, d, key_cols=["doc_id"], text_col="text",
        tokenizer="simple", num_segments=4, range_block=64,
    )
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def code_corpus(spark):
    pdf = generate_batch(np.arange(600), seed=7, min_tokens=30, max_tokens=300)
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def code_index(spark, code_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_code"))
    build_index(
        spark, code_corpus, d, key_cols=["repo", "path", "commit"], text_col="content",
        tokenizer="code", num_segments=6, range_block=32,
    )
    return IndexReader(spark, d)


def test_wand_or_matches_exhaustive(spark, documents, doc_index):
    exhaustive = topk(bm25_scores(documents, TERMS, round_to=None), k=10, round_to=None).toPandas()
    got = (
        bm25_topk_indexed(doc_index, TERMS, k=10, mode="or")
        .select("doc_id", "score")
        .toPandas()
    )
    assert got["doc_id"].tolist() == exhaustive["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], exhaustive["score"], atol=1e-9)


def test_wand_and_matches_exhaustive(spark, documents, doc_index):
    from neural_search_spark.query.exhaustive import bm25_conjunctive

    terms = ["data", "query", "table"]
    exhaustive = topk(bm25_conjunctive(documents, terms, round_to=None), k=10, round_to=None).toPandas()
    got = bm25_topk_indexed(doc_index, terms, k=10, mode="and").select("doc_id", "score").toPandas()
    assert got["doc_id"].tolist() == exhaustive["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], exhaustive["score"], atol=1e-9)


def test_wand_absent_term(spark, doc_index):
    assert bm25_topk_indexed(doc_index, ["zzznope"], k=10).count() == 0
    # AND with one absent term -> empty even though others match
    assert bm25_topk_indexed(doc_index, ["data", "zzznope"], k=10, mode="and").count() == 0


def _pandas_bm25_code(pdf, terms, k1=1.2, b=0.75):
    """Independent brute-force float64 oracle over the code corpus."""
    from neural_search_spark.functions.norms import quantize_length
    from neural_search_spark.functions.tokenize import tokenize_code

    toks = tokenize_code(pdf["content"])
    dl = toks.map(len).to_numpy()
    N, avgdl = len(pdf), dl.sum() / len(pdf)
    dl_q = quantize_length(dl)
    df_ = {t: int(sum(t in set(ts) for ts in toks)) for t in terms}
    out = {}
    for i, ts in enumerate(toks):
        s, nt = 0.0, 0
        for t in sorted(terms):
            tf = ts.count(t)
            if tf == 0 or df_[t] == 0:
                continue
            nt += 1
            idf = np.log(1.0 + (N - df_[t] + 0.5) / (df_[t] + 0.5))
            s += idf * (tf / (tf + k1 * (1 - b + b * dl_q[i] / avgdl)))
        if nt:
            out[(pdf["repo"].iloc[i], pdf["path"].iloc[i], pdf["commit"].iloc[i])] = (s, nt)
    return out


@pytest.mark.parametrize(
    "terms,mode,k",
    [
        (["def", "return"], "or", 10),           # max-df stop-word-like terms
        (["def"], "or", 5),
        (["get_node_0", "set_node_1"], "or", 10),
        (["get_node_0", "def", "import"], "and", 10),
        (["parse_node_2", "class", "merge_node_6", "let", "impl"], "or", 25),
    ],
)
def test_wand_property_vs_bruteforce(spark, code_corpus, code_index, terms, mode, k):
    pdf = code_corpus.toPandas()
    oracle = _pandas_bm25_code(pdf, terms)
    if mode == "and":
        oracle = {kk: v for kk, v in oracle.items() if v[1] == len(set(terms))}
    expect = sorted(oracle.items(), key=lambda kv: (-kv[1][0], kv[0]))[:k]
    got = (
        bm25_topk_indexed(code_index, terms, k=k, mode=mode)
        .select("repo", "path", "commit", "score")
        .toPandas()
    )
    assert [tuple(r[:3]) for r in got.itertuples(index=False)] == [kk for kk, _ in expect]
    np.testing.assert_allclose(got["score"], [v[0] for _, v in expect], atol=1e-9)


def test_float32_rank_identical(spark, code_index):
    t = ["def", "get_node_0", "parse_node_2"]
    f64 = bm25_topk_indexed(code_index, t, k=10, dtype="float64").select("path", "score").toPandas()
    f32 = bm25_topk_indexed(code_index, t, k=10, dtype="float32").select("path", "score").toPandas()
    assert f64["path"].tolist() == f32["path"].tolist()
    np.testing.assert_allclose(f32["score"], f64["score"], atol=1e-3)  # TestUtils.java:41 delta


def test_sha256_invariant(spark, code_corpus, code_index):
    assert verify_sha256(spark, code_corpus, code_index.index_dir) == 0
    # corrupting one source row must be detected
    from pyspark.sql import functions as F

    tampered = code_corpus.withColumn(
        "content",
        F.when(F.col("path") == code_corpus.select("path").first()[0], F.lit("tampered")).otherwise(
            F.col("content")
        ),
    )
    assert verify_sha256(spark, tampered, code_index.index_dir) > 0


def test_resume_produces_identical_index(spark, code_corpus, code_index, tmp_path_factory):
    full = code_index
    part = str(tmp_path_factory.mktemp("idx_resume"))
    # simulate a killed build: only segments 0-2 completed
    m1 = build_index(
        spark,
        code_corpus.where(
            "pmod(xxhash64(concat_ws('\\u001f', repo, path, commit)), 6) < 3"
        ),
        part, key_cols=["repo", "path", "commit"], text_col="content",
        tokenizer="code", num_segments=6, range_block=32,
    )
    # the partial manifest claims only the segments that were really built
    import pyspark.sql.functions as F

    man = spark.read.parquet(paths(part)["manifest"]).where("segment_id < 3")
    man_pd = man.toPandas()
    shutil.rmtree(paths(part)["manifest"])
    spark.createDataFrame(man_pd).write.parquet(paths(part)["manifest"])

    m2 = build_index(
        spark, code_corpus, part, key_cols=["repo", "path", "commit"], text_col="content",
        tokenizer="code", num_segments=6, range_block=32, resume=True,
    )
    assert m2["segments_skipped"] == 3

    for sub in ["postings", "docmap"]:
        a = spark.read.parquet(paths(full.index_dir)[sub]).toPandas()
        b = spark.read.parquet(paths(part)[sub]).toPandas()
        sort_cols = [c for c in a.columns if a[c].dtype != object or c in ("term", "repo", "path", "commit", "sha256")]
        a = a.sort_values(sort_cols).reset_index(drop=True)
        b = b.sort_values(sort_cols).reset_index(drop=True)
        pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_manifest_metrics(spark, code_index):
    man = code_index.manifest().toPandas()
    assert set(man["segment_id"]) == set(range(6))
    assert (man["docs_tokenized"] > 0).all()
    assert (man["postings_emitted"] > 0).all()
    assert (man["bytes_compressed"] > 0).all()
    assert man["docs_tokenized"].sum() == 600


def test_indexed_sparse_two_phase_equals_single(spark, doc_index):
    """Index-backed two-phase sparse == single-phase (the reference's
    NeuralSparseTwoPhaseProcessorIT invariant, over our segment files)."""
    from neural_search_spark.query.sparse import sparse_topk_indexed

    q = {"spark": 1.0, "window": 0.45, "merge": 0.39, "the": 0.1}
    two = sparse_topk_indexed(doc_index, q, k=10, two_phase=True).collect()
    one = sparse_topk_indexed(doc_index, q, k=10, two_phase=False).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in two] == [
        (r.doc_id, round(r.score, 9)) for r in one
    ]
    assert len(two) == 10


def test_bulk_kernel_in_process_equals_spark_path(spark, code_index):
    """The one bulk kernel is a pure function of (postings rows, query
    specs, statistics): run in-process over one segment's postings rows
    read with pyarrow, an OR, AND and msm:2 batch returns that segment's
    rows of the Spark path bit for bit."""
    import pyarrow.dataset as ds

    from neural_search_spark.query.bm25 import idf_by_term
    from tests.conftest import executor

    from neural_search_spark.query.wand import (
        BULK_COLS,
        _bulk_kernel_multi,
        _driver_scores,
        _min_matched,
        _per_segment_scores,
    )

    queries = [(["def", "import", "return"], "or", 10), (["def", "import"], "and", 10),
               (["def", "import", "return"], "msm:2", 25)]
    terms = sorted({t for q, _, _ in queries for t in q})
    N, avgdl = code_index.global_stats()
    kernel = _bulk_kernel_multi(
        [(q, _min_matched(m, len(q)), k) for q, m, k in queries],
        idf_by_term(N, code_index.term_dfs(terms), terms), avgdl,
        int(code_index.meta["range_block"]), "float64")
    by_spark = _per_segment_scores(code_index, queries).toPandas()
    key = ["query_idx", "nss_doc_id"]
    for seg in (0, 3):
        rows = code_index._dataset("postings").to_table(
            columns=BULK_COLS,
            filter=(ds.field("segment_id") == seg) & ds.field("term").isin(terms)).to_pandas()
        got = kernel(rows).sort_values(key).reset_index(drop=True)
        exp = by_spark[by_spark["segment_id"] == seg].sort_values(key).reset_index(drop=True)
        assert set(got["query_idx"]) == {0, 1, 2}
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
    # the driver executor (every segment in-process) == the Spark executor
    with executor("driver"):
        by_driver = _driver_scores(code_index, queries)
    pd.testing.assert_frame_equal(by_driver.sort_values(key).reset_index(drop=True),
                                  by_spark.sort_values(key).reset_index(drop=True),
                                  check_exact=True)
