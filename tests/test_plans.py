"""Physical-plan assertions backing PLANS.md's claims: these pin the
SHAPE Catalyst actually picks, not just the results — a regression
that silently de-optimizes (lost pushdown, broadcast turned shuffle,
global sort instead of TakeOrderedAndProject) turns a test red even
though every value stays correct."""

import contextlib
import io
import os

import pytest

from tests.conftest import SF_SMALL


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))


def test_filtered_knn_pushes_predicate_into_scan(spark, embeddings):
    """PLANS.md round-4 addendum: the exact filtered-kNN branch shows
    PushedFilters on the parquet scan — filtered search reads ONLY
    matching rows, so it gets cheaper as the filter gets more
    selective."""
    from neural_search_spark.pipeline.similarity import cosine_topk

    plan = _plan(cosine_topk(embeddings, 0, k=10, predicate="vec_id < 100"))
    assert "PushedFilters" in plan
    # the candidate-side scan carries the pushed range predicate
    assert "LessThan(vec_id,100)" in plan.replace(" ", "")


def test_bm25_stats_and_df_joins_broadcast(spark, documents):
    """PLANS.md: the 1-row stats frame and the per-term df table reach
    the scorer as broadcasts — never a shuffle join keyed on the
    corpus."""
    from neural_search_spark.query.exhaustive import bm25_scores

    plan = _plan(bm25_scores(documents, ["spark", "window"], round_to=None))
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_topk_compiles_to_take_ordered(spark, documents):
    """PLANS.md: orderBy+limit is TakeOrderedAndProject (distributed
    per-partition top-k + merge), never a global Sort."""
    from neural_search_spark.query.exhaustive import bm25_scores, topk

    plan = _plan(topk(bm25_scores(documents, ["spark"], round_to=None), k=10),
                 mode="simple")
    assert "TakeOrderedAndProject" in plan


def test_sketches_have_no_shuffle(spark, documents):
    """PLANS.md: doc_sketches (tokenize→shingle→hash→minhash) is pure
    per-row projection — zero Exchange operators in the whole plan."""
    from neural_search_spark.pipeline.dedup import doc_sketches

    plan = _plan(doc_sketches(documents), mode="simple")
    assert "Exchange" not in plan


def test_leaf_range_filter_pushes_into_scan(spark, documents):
    """Round-5: a DSL range/constant_score leaf's predicate reaches the
    parquet scan as a pushed filter — the constant-score match set is a
    pruned scan, never a post-filter over all rows."""
    from neural_search_spark.query.dsl import SearchContext, search

    ctx = SearchContext(docs=documents)
    df = search(ctx, {"query": {"range": {"n_chars": {"gte": 200, "lte": 400}}},
                      "size": 5})
    plan = _plan(df)
    assert "PushedFilters" in plan
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(n_chars" in flat and "LessThanOrEqual(n_chars" in flat


def test_sort_body_compiles_to_take_ordered(spark, documents):
    """Round-5: a sort body's full-hit-set ordering cuts with
    TakeOrderedAndProject (never a global sort + limit)."""
    from neural_search_spark.query.dsl import SearchContext, search

    ctx = SearchContext(docs=documents)
    df = search(ctx, {"query": {"match": {"text": "spark window"}}, "size": 5,
                      "sort": [{"n_chars": {"order": "desc"}}]})
    assert "TakeOrderedAndProject" in _plan(df)


def test_nested_rollup_partial_aggregates(spark, documents):
    """PLANS.md round-5 addendum: the block-join ScoreMode rollup is a
    groupBy with MAP-SIDE partial aggregation (partial_sum before its
    exchange), so the parent shuffle carries per-partition partials of
    matched chunks, never the chunk corpus."""
    from neural_search_spark.operators.nested import nested_chunk_scores

    plan = _plan(nested_chunk_scores(documents, ["spark", "window"],
                                     " the ", score_mode="total"))
    flat = plan.replace(" ", "")
    # the rollup keys on floor(chunk_id / BASE) and partial-aggregates
    # before the exchange that co-locates parents
    assert "FLOOR(" in plan
    assert flat.count("partial_sum") >= 2  # chunk score agg AND rollup
    # the only joins are the BM25 stats broadcasts (1-row stats frame,
    # per-term df) — the chunk corpus itself is a posexplode, and
    # nothing falls back to a shuffled sort-merge join
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.fixture(scope="module", params=[0, 4], ids=["unbucketed", "bucketed"])
def stats_index(spark, documents, tmp_path_factory, request):
    from neural_search_spark.index.builder import build_index

    d = str(tmp_path_factory.mktemp(f"stats_idx_{request.param}"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=4, range_block=64,
                term_buckets=request.param, store_positions=False)
    return d


def test_bm25_stats_launch_no_spark_job(spark, stats_index):
    """IndexReader reads N, avgdl and df in-process from the index
    files: a cold reader's stats and unseen terms' df cost 0 jobs, and
    they equal the Spark aggregates over the same files."""
    from tests.conftest import assert_stats_match_spark, spark_job_count

    from neural_search_spark.query.wand import IndexReader

    reader = IndexReader(spark, stats_index)
    terms = ["spark", "window", "zz_absent_term"]
    out = {}
    jobs = spark_job_count(spark, lambda: out.update(
        stats=reader.global_stats(), dfs=reader.term_dfs(terms)))
    assert jobs == 0
    assert out["stats"][0] > 0 and set(out["dfs"]) == {"spark", "window"}
    assert_stats_match_spark(spark, stats_index)


# Spark jobs of an indexed `match` search on a warm reader, for terms it
# has not seen before, pinned as upper bounds. The BM25 statistics
# (N, avgdl, df) add none; under the driver executor's postings bound
# the kernel, key lookup and cut add none either.
WARM_MATCH_JOBS = 0
# above the bound: scan + kernel, the docmap broadcast, the final cut
SPARK_MATCH_JOBS = 3


def _warm_match_jobs(spark, documents, index_dir, executor_name):
    """(jobs, rows) of a warm indexed `match` on ``executor_name``."""
    from tests.conftest import executor, spark_job_count

    from neural_search_spark.query.dsl import SearchContext, search
    from neural_search_spark.query.wand import IndexReader

    ctx = SearchContext(docs=documents,
                        reader=IndexReader(spark, index_dir, cache_hot=True))
    body = {"query": {"match": {"text": "merge join"}}, "size": 10}
    rows = []
    with executor(executor_name):
        search(ctx, {"query": {"match": {"text": "spark window"}}, "size": 10}).collect()
        jobs = spark_job_count(spark, lambda: rows.extend(search(ctx, body).collect()))
    assert rows == search(SearchContext(docs=documents), body).collect()
    return jobs


def test_warm_indexed_match_job_bound(spark, documents, stats_index):
    jobs = _warm_match_jobs(spark, documents, stats_index, "driver")
    assert jobs <= WARM_MATCH_JOBS, jobs


def test_match_above_driver_bound_job_bound(spark, documents, stats_index):
    """A `match` whose terms hold more postings than the driver bound
    (patched to 0) runs on Spark, within its own job bound."""
    jobs = _warm_match_jobs(spark, documents, stats_index, "spark")
    assert jobs <= SPARK_MATCH_JOBS, jobs


def test_driver_read_bound_sends_large_reads_to_spark(spark, stats_index, monkeypatch):
    """The rule's second bound: a query whose read opens more postings
    file bytes than DRIVER_MAX_READ_BYTES runs on Spark whatever its
    Σ df. The bytes are the files of the terms' bucket directories
    (every file on an unbucketed index)."""
    from tests.conftest import EXECUTORS, executor, spark_job_count

    from neural_search_spark.index.builder import read_meta
    from neural_search_spark.query import wand

    reader = wand.IndexReader(spark, stats_index)
    for name in EXECUTORS:  # warm: the reader's frames and file listings
        with executor(name):
            wand.bm25_topk_indexed(reader, ["spark", "window"], k=10).collect()
    terms = ["merge", "join"]
    total = sum(os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(os.path.join(stats_index, "postings"))
                for f in files if f.endswith(".parquet"))
    need = reader.read_bytes(terms)
    if int(read_meta(stats_index)["term_buckets"]) > 1:
        assert 0 < need < total
    else:
        assert need == total
    for bound, on_spark in ((need, False), (need - 1, True)):
        monkeypatch.setattr(wand, "DRIVER_MAX_READ_BYTES", bound)
        rows = []
        jobs = spark_job_count(spark, lambda: rows.extend(
            wand.bm25_topk_indexed(reader, terms, k=10).collect()))
        assert (1 <= jobs <= SPARK_MATCH_JOBS) if on_spark else jobs == 0, (bound, jobs)
        assert rows


def test_small_indexed_phrase_and_msearch_run_no_job(spark, positional_reader_ctx):
    """A small indexed `match_phrase` and a 64-body `msearch` answer
    from a local frame: 0 Spark jobs, the Spark executor's rows."""
    from tests.conftest import executor, spark_job_count

    from neural_search_spark.query.dsl import msearch, search

    ctx = positional_reader_ctx
    phrase = {"query": {"match_phrase": {"text": "spark window"}}, "size": 10}
    words = ["spark", "window", "data", "merge", "join", "query", "index", "stream"]
    bodies = [{"query": {"match": {"text": f"{words[i % 8]} {words[(i * 3 + 1) % 8]}"}},
               "size": 10} for i in range(64)]
    for run in (lambda: search(ctx, phrase).collect(), lambda: msearch(ctx, bodies).collect()):
        run()
        rows = []
        jobs = spark_job_count(spark, lambda: rows.extend(run()))
        assert jobs == 0 and rows, jobs
        with executor("spark"):
            assert sorted(rows) == sorted(run())


def test_empty_indexed_answer_runs_no_job(spark, documents, tmp_path_factory):
    """An indexed `match` with no live term (OR or AND) and a
    `match_phrase` with a term absent from the index answer from a plan
    the optimizer proves empty: 0 Spark jobs, the usual columns."""
    from tests.conftest import spark_job_count

    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.dsl import SearchContext, search
    from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

    d = str(tmp_path_factory.mktemp("empty_answer_idx"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=64,
                store_positions=True)
    reader = IndexReader(spark, d)
    ctx = SearchContext(docs=documents, reader=reader)
    warm = {"query": {"match_phrase": {"text": "spark window"}}, "size": 10}
    search(ctx, warm).collect()
    for q in [{"match": {"text": "zzabsent qqabsent"}},
              {"match": {"text": {"query": "spark zzabsent", "operator": "and"}}},
              {"match_phrase": {"text": "spark zzabsent"}}]:
        body = {"query": q, "size": 10}
        rows = []
        jobs = spark_job_count(spark, lambda: rows.extend(search(ctx, body).collect()))
        assert jobs == 0 and rows == [], (q, jobs)
    # names, types and nullability: one schema for empty and non-empty
    # answers under either executor
    from tests.conftest import under_both

    assert (bm25_topk_indexed(reader, ["zzabsent"]).schema
            == under_both(lambda: bm25_topk_indexed(reader, ["spark"]).schema))
