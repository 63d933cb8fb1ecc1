"""Query-DSL translation (query/dsl.py): every supported body shape
must produce EXACTLY the frame the directly-called builder produces
(the builders' own oracles pin the math; these tests pin the mapping),
and malformed bodies must be rejected with the plugin's strictness."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from neural_search_spark.query.dsl import DslError, SearchContext, search


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))


@pytest.fixture(scope="module")
def ctx(documents, embeddings):
    return SearchContext(docs=documents, embeddings=embeddings)


def test_match_or(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_scores, topk

    got = search(ctx, {"query": {"match": {"text": "spark window merge"}}, "size": 10})
    exp = topk(bm25_scores(documents, ["merge", "spark", "window"], round_to=None), k=10)
    assert _rows(got) == _rows(exp)


def test_match_and(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_conjunctive, topk

    body = {"query": {"match": {"text": {"query": "spark window", "operator": "and"}}},
            "size": 10}
    exp = topk(bm25_conjunctive(documents, ["spark", "window"], round_to=None), k=10)
    assert _rows(search(ctx, body)) == _rows(exp)


def test_match_phrase_and_slop(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_phrase, bm25_phrase_sloppy, topk

    got = search(ctx, {"query": {"match_phrase": {"text": "spark window"}}, "size": 10})
    exp = topk(bm25_phrase(documents, ["spark", "window"], round_to=None), k=10)
    assert _rows(got) == _rows(exp)
    got2 = search(
        ctx, {"query": {"match_phrase": {"text": {"query": "spark window", "slop": 2}}},
              "size": 10}
    )
    exp2 = topk(bm25_phrase_sloppy(documents, ["spark", "window"], slop=2, round_to=None), k=10)
    assert _rows(got2) == _rows(exp2)


def test_bool_and_dis_max(ctx, documents):
    from neural_search_spark.query.booleans import bool_topk, dis_max_topk

    body = {"query": {"bool": {
        "must": [{"match": {"text": "data"}}],
        "should": [{"match": {"text": "spark window"}}],
        "must_not": [{"match": {"text": "dup"}}],
        "minimum_should_match": 1,
    }}, "size": 10}
    exp = bool_topk(documents, must=["data"], should=["spark", "window"],
                    must_not=["dup"], minimum_should_match=1, k=10)
    assert _rows(search(ctx, body)) == _rows(exp)

    body2 = {"query": {"dis_max": {
        "queries": [{"match": {"text": "spark window merge"}},
                    {"match": {"text": "data query table"}}],
        "tie_breaker": 0.3,
    }}, "size": 10}
    exp2 = dis_max_topk(documents, [["merge", "spark", "window"],
                                    ["data", "query", "table"]], tie_breaker=0.3, k=10)
    assert _rows(search(ctx, body2)) == _rows(exp2)


def test_multiterm_queries(ctx, documents):
    from neural_search_spark.query.multiterm import (
        fuzzy_topk,
        phrase_prefix_topk,
        prefix_topk,
        wildcard_topk,
    )

    pairs = [
        ({"prefix": {"text": "spar"}}, prefix_topk(documents, "spar", k=10)),
        ({"wildcard": {"text": "sp?rk"}}, wildcard_topk(documents, "sp?rk", k=10)),
        ({"fuzzy": {"text": {"value": "spork", "fuzziness": 1}}},
         fuzzy_topk(documents, "spork", max_edits=1, k=10)),
        ({"match_phrase_prefix": {"text": "spark win"}},
         phrase_prefix_topk(documents, ["spark"], "win", k=10)),
    ]
    for body_q, exp in pairs:
        assert _rows(search(ctx, {"query": body_q, "size": 10})) == _rows(exp), body_q


def test_hybrid_matches_gate_row(spark, ctx):
    import __spark_entry__ as entry

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark window merge"}},
        {"neural": {"embedding": {"query_vector_id": 0, "k": 50}}},
    ]}}}
    from neural_search_spark.query.exhaustive import topk

    got = search(ctx, body, pipeline={"normalization": "min_max",
                                      "combination": "arithmetic_mean",
                                      "weights": [0.7, 0.3]})
    # the DSL applies OpenSearch's default size=10 cut; the gate row
    # returns the full combined set
    exp = topk(entry.queries()["hybrid_neural_bm25"](spark, SF_SMALL),
               k=10, round_to=None)
    assert _rows(got) == _rows(exp)


def test_neural_exact_and_graph(ctx, documents, embeddings):
    from neural_search_spark.pipeline.graph_ann import hnsw_build_frame, hnsw_topk
    from neural_search_spark.pipeline.similarity import cosine_topk

    got = search(ctx, {"query": {"neural": {"embedding": {"query_vector_id": 0}}},
                       "size": 10})
    exact = {r["vec_id"] for r in cosine_topk(embeddings, 0, k=10).collect()}
    assert {r["doc_id"] for r in got.collect()} == exact

    graphs = hnsw_build_frame(embeddings)
    gctx = SearchContext(docs=documents, embeddings=embeddings, graphs=graphs)
    got_g = search(gctx, {"query": {"neural": {"embedding":
                                               {"query_vector_id": 0, "ef": 48}}},
                          "size": 10})
    exp_g = hnsw_topk(embeddings, 0, k=10, graphs=graphs, ef=48)
    assert {r["doc_id"] for r in got_g.collect()} == {r["vec_id"] for r in exp_g.collect()}


def test_neural_sparse(spark, ctx, documents):
    from neural_search_spark.query.sparse import sparse_topk_two_phase

    feats = (
        documents.select("doc_id", F.explode(F.split(F.col("text"), "[^a-z0-9_]+"))
                  .alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    q = {"spark": 1.0, "window": 0.45, "merge": 0.39, "the": 0.1}
    sctx = SearchContext(docs=documents, sparse_features=feats)
    from neural_search_spark.query.exhaustive import topk

    got = search(sctx, {"query": {"neural_sparse": {"sparse": {"query_tokens": q}}},
                        "size": 10})
    exp = topk(sparse_topk_two_phase(feats, q, k=10, round_to=None)
               .select("doc_id", "score"), k=10)
    assert _rows(got) == _rows(exp)


def test_post_filter_sort_collapse_from(ctx, documents):
    # post_filter: range over doc_id
    got = search(ctx, {"query": {"match": {"text": "spark window"}}, "size": 10,
                       "post_filter": {"range": {"doc_id": {"lt": 250}}}})
    rows = got.collect()
    assert rows and all(r["doc_id"] < 250 for r in rows)
    # from: page 2 of size 5 == ranks 6-10 of size 10
    page1 = search(ctx, {"query": {"match": {"text": "spark window"}}, "size": 10})
    page2 = search(ctx, {"query": {"match": {"text": "spark window"}},
                         "size": 5, "from": 5})
    exp = [r for r in page1.collect() if r["rank"] > 5]
    assert sorted(r["doc_id"] for r in page2.collect()) == sorted(r["doc_id"] for r in exp)
    # sort by a corpus field
    got_s = search(ctx, {"query": {"match": {"text": "spark window"}}, "size": 5,
                         "sort": [{"doc_id": {"order": "desc"}}]})
    ids = [r["doc_id"] for r in got_s.collect()]
    assert ids == sorted(ids, reverse=True) and len(ids) == 5


def test_rejections(ctx):
    cases = [
        {"query": {"knn": {"f": {}}}},                       # unknown type
        {"query": {"match": {"text": "x"}}, "suggest": {}},  # unknown body key
        {"query": {"match": {"body": "x"}}},                 # wrong field
        {"query": {"match": {"text": {"query": "x", "operator": "xor"}}}},
        {"query": {"hybrid": {"queries": [{"match": {"text": "x"}}] * 6}}},
        {"query": {"hybrid": {"queries": [{"match": {"text": "x"}}]}}, "from": 3},
        {"query": {"hybrid": {"queries": [
            {"bool": {"must": [{"match": {"text": "x"}}]}}]}}},  # no nesting
        {"query": {"match": {"text": ""}}},
    ]
    for body in cases:
        with pytest.raises((DslError, ValueError)):
            df = search(ctx, body)
            df.collect()  # some validations live in the builders


# --- indexed dispatch -----------------------------------------------------


@pytest.fixture(scope="module")
def reader_ctx(spark, documents, embeddings, tmp_path_factory):
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader

    d = str(tmp_path_factory.mktemp("dsl_idx"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=4, range_block=64,
                store_positions=True)
    return SearchContext(docs=documents, embeddings=embeddings,
                         reader=IndexReader(spark, d, cache_hot=True))


def test_indexed_match_and_phrase(reader_ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_phrase, bm25_scores, topk

    got = search(reader_ctx, {"query": {"match": {"text": "spark window merge"}},
                              "size": 10})
    exp = topk(bm25_scores(documents, ["merge", "spark", "window"], round_to=None), k=10)
    assert _rows(got) == _rows(exp)  # indexed kernel == exhaustive scorer

    got_p = search(reader_ctx, {"query": {"match_phrase": {"text": "spark window"}},
                                "size": 10})
    exp_p = topk(bm25_phrase(documents, ["spark", "window"], round_to=None), k=10)
    assert _rows(got_p) == _rows(exp_p)


def test_indexed_multiterm_and_bool(reader_ctx):
    from neural_search_spark.query.booleans import bool_topk_indexed
    from neural_search_spark.query.multiterm import like_escape, multiterm_topk_indexed

    got = search(reader_ctx, {"query": {"prefix": {"text": "spar"}}, "size": 10})
    exp = multiterm_topk_indexed(reader_ctx.reader, like=like_escape("spar") + "%", k=10)
    assert {r["doc_id"] for r in got.collect()} == {r["doc_id"] for r in exp.collect()}

    got_b = search(reader_ctx, {"query": {"bool": {
        "must": [{"match": {"text": "data"}}],
        "should": [{"match": {"text": "spark window"}}],
        "must_not": [{"match": {"text": "dup"}}],
    }}, "size": 10})
    exp_b = bool_topk_indexed(reader_ctx.reader, must=["data"],
                              should=["spark", "window"], must_not=["dup"], k=10)
    assert _rows(got_b) == _rows(exp_b)


def test_indexed_bool_msm_and_clause_semantics(reader_ctx, ctx):
    """minimum_should_match counts CLAUSES on both paths, and indexed
    == exhaustive for per-clause bool bodies (multi-term must clause
    with default operator=or requires only ONE of its terms)."""
    body = {"query": {"bool": {
        "should": [{"match": {"text": "spark window"}},
                   {"match": {"text": "merge"}}],
        "minimum_should_match": 2,
    }}, "size": 10}
    got_idx = search(reader_ctx, body)
    got_ex = search(ctx, body)
    assert _rows(got_idx) == _rows(got_ex)

    body2 = {"query": {"bool": {
        "must": [{"match": {"text": "data table"}}],  # OR within the clause
        "must_not": [{"match": {"text": "dup"}}],
    }}, "size": 10}
    assert _rows(search(reader_ctx, body2)) == _rows(search(ctx, body2))


def test_indexed_bool_rejects_inexact_shapes(reader_ctx):
    # AND should-clauses and duplicated scoring terms cannot be scored
    # exactly by the single kernel pass — explicit rejection, never a
    # silently-wrong answer
    with pytest.raises(DslError):
        search(reader_ctx, {"query": {"bool": {
            "should": [{"match": {"text": {"query": "spark window",
                                           "operator": "and"}}}],
        }}, "size": 10})
    with pytest.raises(DslError):
        search(reader_ctx, {"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "should": [{"match": {"text": "spark window"}}],
        }}, "size": 10})


# --- aggregations ----------------------------------------------------------


def test_aggs_terms_with_metrics(ctx, documents):
    body = {"query": {"match": {"text": "spark window merge"}}, "size": 0,
            "aggs": {"langs": {"terms": {"field": "lang"}, "aggs": {
                "sources": {"cardinality": {"field": "source"}},
                "avg_chars": {"avg": {"field": "n_chars"}},
                "max_chars": {"max": {"field": "n_chars"}},
            }}}}
    got = search(ctx, body)
    from neural_search_spark.query.exhaustive import tokenized

    matched = (
        tokenized(documents)
        .select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(["merge", "spark", "window"]))
        .select("doc_id").distinct()
    )
    exp = (
        matched.join(documents, "doc_id").groupBy("lang")
        .agg(F.count(F.lit(1)).alias("doc_count"),
             F.count_distinct("source").alias("sources"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars"),
             F.max("n_chars").alias("max_chars"))
    )
    assert _rows(got) == _rows(exp)


def test_aggs_flat_metrics_and_bool(ctx, documents):
    body = {"query": {"bool": {
        "must": [{"match": {"text": "data"}}],
        "must_not": [{"match": {"text": "dup"}}],
    }}, "size": 0,
        "aggs": {"n_chars_sum": {"sum": {"field": "n_chars"}},
                 "langs": {"cardinality": {"field": "lang"}}}}
    got = search(ctx, body).collect()[0]
    from neural_search_spark.query.exhaustive import tokenized

    tok = tokenized(documents).select("doc_id", F.explode("toks").alias("term"))
    m_must = tok.where(F.col("term") == "data").select("doc_id").distinct()
    m_not = tok.where(F.col("term") == "dup").select("doc_id").distinct()
    m = m_must.join(m_not, "doc_id", "left_anti").join(documents, "doc_id")
    exp = m.agg(F.round(F.sum("n_chars").cast("double"), 4).alias("s"),
                F.count_distinct("lang").alias("c")).collect()[0]
    assert got["n_chars_sum"] == exp["s"] and got["langs"] == exp["c"]


def test_aggs_rejections(ctx):
    ok_q = {"match": {"text": "data"}}
    cases = [
        {"query": ok_q, "size": 5, "aggs": {"a": {"avg": {"field": "n_chars"}}}},
        {"query": ok_q, "size": 0, "aggs": {"a": {"percentiles": {"field": "x"}}}},
        {"query": ok_q, "size": 0, "aggs": {
            "a": {"terms": {"field": "lang"}}, "b": {"terms": {"field": "source"}}}},
        {"query": {"prefix": {"text": "sp"}}, "size": 0,
         "aggs": {"a": {"avg": {"field": "n_chars"}}}},
    ]
    for body in cases:
        with pytest.raises(DslError):
            search(ctx, body).collect()


def test_highlight_and_explain_bodies(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_explain
    from neural_search_spark.query.highlight import highlight_topk

    got = search(ctx, {"query": {"match": {"text": "spark window merge"}}, "size": 10,
                       "highlight": {"fields": {"text": {}}}})
    exp = highlight_topk(documents, ["merge", "spark", "window"], k=10)
    assert _rows(got) == _rows(exp)

    got_e = search(ctx, {"query": {"match": {"text": "spark window merge"}},
                         "size": 10, "explain": True})
    exp_e = bm25_explain(documents, ["merge", "spark", "window"], k=10)
    assert _rows(got_e) == _rows(exp_e)

    with pytest.raises(DslError):
        search(ctx, {"query": {"prefix": {"text": "sp"}}, "explain": True})
    with pytest.raises(DslError):
        search(ctx, {"query": {"match": {"text": "x"}}, "sort": ["doc_id"],
                     "highlight": {"fields": {"text": {}}}})


def test_msearch_batch(reader_ctx):
    from neural_search_spark.query.dsl import msearch
    from neural_search_spark.query.wand import bm25_topk_indexed_multi

    bodies = [
        {"query": {"match": {"text": "spark window merge"}}, "size": 10},
        {"query": {"match": {"text": {"query": "spark window", "operator": "and"}}},
         "size": 10},
    ]
    got = msearch(reader_ctx, bodies)
    exp = bm25_topk_indexed_multi(
        reader_ctx.reader,
        [(["merge", "spark", "window"], "or"), (["spark", "window"], "and")], k=10,
    ).select("query_idx", "doc_id", F.round("score", 4).alias("score"), "rank")
    assert _rows(got) == _rows(exp)

    ctx_no_reader = SearchContext(docs=reader_ctx.docs)
    with pytest.raises(DslError):
        msearch(ctx_no_reader, bodies)
    with pytest.raises(DslError):  # non-hit bodies stay rejected
        msearch(reader_ctx, [{"query": {"match": {"text": "spark"}},
                              "sort": ["doc_id"]}])


def test_msearch_mixed_bodies(reader_ctx):
    """A mixed batch: match bodies ride the one-pass multi kernel,
    every other hit-returning body dispatches through search() (its
    indexed branches included) tagged with its batch position — each
    row set bit-identical to the individual search."""
    from neural_search_spark.query.dsl import msearch

    bodies = [
        {"query": {"match": {"text": "spark window merge"}}, "size": 10},
        {"query": {"match_phrase": {"text": "spark window"}}, "size": 10},
        {"query": {"prefix": {"text": "sp"}}, "size": 10},
        {"query": {"match": {"text": {"query": "spark window",
                                      "operator": "and"}}}, "size": 5},
        {"query": {"range": {"n_chars": {"gte": 200, "lte": 260}}}, "size": 10},
    ]
    got = msearch(reader_ctx, bodies)
    for i, body in enumerate(bodies):
        part = got.where(F.col("query_idx") == i).drop("query_idx")
        single = search(reader_ctx, body)
        assert _rows(part) == _rows(single), f"body {i} diverged"


def test_bool_filter_context(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.filters import filtered_scores

    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark window merge"}}],
        "filter": [{"term": {"lang": "en"}},
                   {"range": {"n_chars": {"gte": 150, "lte": 350}}}],
    }}, "size": 10}
    got = search(ctx, body)
    pred = F.expr("(lang = 'en') AND (n_chars >= 150.0 AND n_chars <= 350.0)")
    scores = bm25_scores(documents, ["merge", "spark", "window"], round_to=None)
    exp = topk(filtered_scores(scores, documents, pred), k=10)
    assert _rows(got) == _rows(exp)

    # FILTER occur with a conjunctive must clause: operator=and gates
    # the match set on all-terms docs, the filter stays non-scoring
    from neural_search_spark.query.exhaustive import bm25_conjunctive

    body_and = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark window",
                                     "operator": "and"}}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "size": 10}
    got_and = search(ctx, body_and)
    sc_and = bm25_conjunctive(documents, ["spark", "window"], round_to=None)
    exp_and = topk(filtered_scores(sc_and, documents, F.expr("lang = 'en'")),
                   k=10)
    assert _rows(got_and) == _rows(exp_and)

    with pytest.raises(DslError):
        search(ctx, {"query": {"bool": {
            "should": [{"match": {"text": "x"}}],
            "filter": [{"term": {"lang": "en"}}],
        }}})


def test_bool_filter_context_indexed(reader_ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.filters import filtered_scores

    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark window merge"}}],
        "filter": [{"term": {"lang": "en"}},
                   {"range": {"n_chars": {"gte": 150, "lte": 350}}}],
    }}, "size": 10}
    got = search(reader_ctx, body)  # indexed kernel + allow-list
    pred = F.expr("(lang = 'en') AND (n_chars >= 150.0 AND n_chars <= 350.0)")
    scores = bm25_scores(documents, ["merge", "spark", "window"], round_to=None)
    exp = topk(filtered_scores(scores, documents, pred), k=10)
    assert _rows(got) == _rows(exp)

    # operator=and flows through to the kernel's conjunctive mode (it
    # was previously ignored here — the silent-OR trap)
    from neural_search_spark.query.exhaustive import bm25_conjunctive

    body_and = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark window",
                                     "operator": "and"}}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "size": 10}
    got_and = search(reader_ctx, body_and)
    sc_and = bm25_conjunctive(documents, ["spark", "window"], round_to=None)
    exp_and = topk(filtered_scores(sc_and, documents, F.expr("lang = 'en'")),
                   k=10)
    assert _rows(got_and) == _rows(exp_and)


def test_rescore_body(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_scores
    from neural_search_spark.query.rerank import rescore

    body = {"query": {"match": {"text": "spark window merge"}}, "size": 10,
            "rescore": {"window_size": 20, "query": {
                "rescore_query": {"match": {"text": "data query"}},
                "query_weight": 0.5, "rescore_query_weight": 0.5}}}
    got = search(ctx, body)
    main = bm25_scores(documents, ["merge", "spark", "window"], round_to=None)
    win = main.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(20)
    rsc = bm25_scores(documents, ["data", "query"], round_to=None)
    exp = rescore(win, rsc, weight_original=0.5, weight_rescore=0.5, k=10)
    exp = exp.withColumn("score", F.round("score", 4))
    assert _rows(got) == _rows(exp)


def test_search_after_body(ctx, documents):
    page1 = search(ctx, {"query": {"match": {"text": "spark window merge"}},
                         "size": 5})
    last = sorted(page1.collect(), key=lambda r: r["rank"])[-1]
    page2 = search(ctx, {"query": {"match": {"text": "spark window merge"}},
                         "size": 5,
                         "search_after": [last["score"], last["doc_id"]]})
    # keyset page 2 == offset page 2
    exp = search(ctx, {"query": {"match": {"text": "spark window merge"}},
                       "size": 5, "from": 5})
    assert sorted(r["doc_id"] for r in page2.collect()) == \
        sorted(r["doc_id"] for r in exp.collect())
    with pytest.raises(DslError):
        search(ctx, {"query": {"match": {"text": "x"}}, "search_after": [1.0]})


def test_hybrid_rrf_pipeline_and_post_stages(ctx, documents, embeddings):
    from neural_search_spark.pipeline.similarity import cosine_topk
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.hybrid import rrf_combine

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark window merge"}},
        {"neural": {"embedding": {"query_vector_id": 0, "k": 50}}},
    ]}}, "size": 10}
    got = search(ctx, body, pipeline={"normalization": "rrf", "combination": "rrf"})
    s0 = bm25_scores(documents, ["merge", "spark", "window"], round_to=None).select(
        F.lit(0).alias("subquery_idx"), "doc_id", "score")
    s1 = cosine_topk(embeddings, 0, k=50).select(
        F.lit(1).alias("subquery_idx"), F.col("vec_id").alias("doc_id"),
        F.col("cos").alias("score"))
    exp = topk(rrf_combine(s0.unionByName(s1), n_subqueries=2)
               .withColumn("score", F.round("score", 4)), k=10, round_to=None)
    assert _rows(got) == _rows(exp)

    # post stages compose after the hybrid cut
    body_pf = dict(body)
    body_pf["post_filter"] = {"range": {"doc_id": {"lt": 300}}}
    rows = search(ctx, body_pf, pipeline={"normalization": "min_max",
                                          "combination": "arithmetic_mean",
                                          "weights": [0.7, 0.3]}).collect()
    assert rows and all(r["doc_id"] < 300 for r in rows)


def test_hybrid_explain_body(ctx, documents):
    """explain: true on a hybrid body returns the normalization
    provenance frame (raw/norm/weight/combined per sub-query) — the
    plugin's explanation response processor, not the BM25 factor
    table."""
    from neural_search_spark.query.exhaustive import bm25_scores
    from neural_search_spark.query.hybrid import explain_scores

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark"}},
        {"match": {"text": "window"}},
    ]}}, "explain": True}
    got = search(ctx, body, pipeline={"normalization": "min_max",
                                      "combination": "arithmetic_mean",
                                      "weights": [0.7, 0.3]})
    tagged = None
    for i, terms in enumerate((["spark"], ["window"])):
        s = bm25_scores(documents, terms, round_to=None).select(
            F.lit(i).alias("subquery_idx"), "doc_id", "score")
        tagged = s if tagged is None else tagged.unionByName(s)
    exp = explain_scores(tagged, "min_max", "arithmetic_mean",
                         [0.7, 0.3], 2).select(
        "doc_id", F.col("subquery_idx").cast("int").alias("subquery_idx"),
        F.round("raw_score", 4).alias("raw_score"),
        F.round("norm_score", 4).alias("norm_score"),
        "weight", F.round("combined_score", 4).alias("combined_score"))
    assert _rows(got) == _rows(exp)

    with pytest.raises(DslError):  # provenance is full-match-set only
        search(ctx, {"query": body["query"], "explain": True, "size": 5})
    with pytest.raises(DslError):  # rrf has no normalization provenance
        search(ctx, {"query": body["query"], "explain": True},
               pipeline={"normalization": "rrf", "combination": "rrf"})
    # malformed hybrid bodies raise DslError, never KeyError — on the
    # top-k, explain and aggs hit-set branches alike
    for bad in ({"hybrid": {}}, {"hybrid": {"queries": []}},
                {"hybrid": {"queries": {"match": {"text": "x"}}}}):
        with pytest.raises(DslError):
            search(ctx, {"query": bad, "size": 10})
        with pytest.raises(DslError):
            search(ctx, {"query": bad, "explain": True})
        with pytest.raises(DslError):
            search(ctx, {"query": bad, "size": 0,
                         "aggs": {"n": {"value_count": {"field": "doc_id"}}}})


def test_hybrid_phrase_subquery(ctx, documents):
    """match_phrase as a hybrid sub-query: the phrase scores its FULL
    match set (raw), min_max + weighted arithmetic mean — equal to the
    manual normalize/combine composition, slop included."""
    from neural_search_spark.query.exhaustive import (
        bm25_phrase_sloppy,
        bm25_scores,
        topk,
    )
    from neural_search_spark.query.hybrid import combine, normalize

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark window merge"}},
        {"match_phrase": {"text": {"query": "spark window", "slop": 1}}},
    ]}}, "size": 10}
    got = search(ctx, body, pipeline={"normalization": "min_max",
                                      "combination": "arithmetic_mean",
                                      "weights": [0.6, 0.4]})
    s0 = bm25_scores(documents, ["merge", "spark", "window"],
                     round_to=None).select(
        F.lit(0).alias("subquery_idx"), "doc_id", "score")
    s1 = bm25_phrase_sloppy(documents, ["spark", "window"], slop=1,
                            round_to=None).select(
        F.lit(1).alias("subquery_idx"), "doc_id", "score")
    exp = topk(combine(normalize(s0.unionByName(s1), "min_max"),
                       "arithmetic_mean", [0.6, 0.4], 2)
               .withColumn("score", F.round("score", 4)), k=10, round_to=None)
    assert _rows(got) == _rows(exp)


# --- per-clause bool semantics (round 5) -----------------------------------


def test_bool_per_clause_vs_flattened(ctx, documents):
    """A multi-term must clause with the default operator=or matches on
    ANY of its terms — per-CLAUSE gating, wider than the flattened
    AND-of-all-terms set the r04 translator produced."""
    from neural_search_spark.query.booleans import bool_clauses_topk, bool_topk

    body = {"query": {"bool": {"must": [{"match": {"text": "merge window"}}]}},
            "size": 10}
    got = search(ctx, body)
    exp = bool_clauses_topk(documents, must=[(["merge", "window"], "or")], k=10)
    assert _rows(got) == _rows(exp)
    # the flattened builder's set is strictly narrower on this corpus
    flat = bool_topk(documents, must=["merge", "window"], k=500)
    wide = bool_clauses_topk(documents, must=[(["merge", "window"], "or")], k=500)
    flat_ids = {r["doc_id"] for r in flat.collect()}
    wide_ids = {r["doc_id"] for r in wide.collect()}
    assert flat_ids < wide_ids  # docs holding only one of the two terms


def test_bool_clause_operator_and(ctx, documents):
    from neural_search_spark.query.booleans import bool_clauses_topk

    body = {"query": {"bool": {
        "must": [{"match": {"text": {"query": "spark window", "operator": "and"}}}],
    }}, "size": 10}
    exp = bool_clauses_topk(documents, must=[(["spark", "window"], "and")], k=10)
    assert _rows(search(ctx, body)) == _rows(exp)


def test_bool_msm_counts_clauses(ctx, documents):
    """minimum_should_match counts CLAUSES: a doc matching both terms
    of ONE clause satisfies msm=1, not msm=2."""
    from neural_search_spark.query.booleans import bool_clauses_topk

    clauses = [(["spark", "window"], "or"), (["merge"], "or")]
    one = bool_clauses_topk(documents, should=clauses, minimum_should_match=1, k=2000)
    two = bool_clauses_topk(documents, should=clauses, minimum_should_match=2, k=2000)
    one_ids = {r["doc_id"] for r in one.collect()}
    two_ids = {r["doc_id"] for r in two.collect()}
    assert two_ids < one_ids
    # msm=2 requires BOTH clauses; a doc with spark+window but no merge is out
    from neural_search_spark.query.exhaustive import tokenized
    toks = {r["doc_id"]: set(r["toks"]) for r in
            tokenized(documents).select("doc_id", "toks").collect()}
    for d in two_ids:
        assert toks[d] & {"spark", "window"} and "merge" in toks[d]
    assert any(toks[d] & {"spark", "window"} and "merge" not in toks[d]
               for d in one_ids - two_ids)


def test_hybrid_subquery_honors_operator(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_conjunctive, bm25_scores, topk
    from neural_search_spark.query.hybrid import combine, normalize

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": {"query": "spark window", "operator": "and"}}},
        {"match": {"text": "merge"}},
    ]}}, "size": 10}
    got = search(ctx, body, pipeline={"normalization": "min_max",
                                      "combination": "arithmetic_mean",
                                      "weights": [0.5, 0.5]})
    s0 = bm25_conjunctive(documents, ["spark", "window"], round_to=None).select(
        F.lit(0).alias("subquery_idx"), "doc_id", "score")
    s1 = bm25_scores(documents, ["merge"], round_to=None).select(
        F.lit(1).alias("subquery_idx"), "doc_id", "score")
    exp = topk(combine(normalize(s0.unionByName(s1), "min_max"),
                       "arithmetic_mean", [0.5, 0.5], 2)
               .withColumn("score", F.round("score", 4)), k=10, round_to=None)
    assert _rows(got) == _rows(exp)


def test_dismax_operator_and(ctx, documents):
    """An operator=and sub-query drops off the all-OR fast path onto
    per-sub score frames (bm25_conjunctive for the AND sub), combined
    by Lucene's DisjunctionMaxQuery rule max + tb * (sum - max)."""
    from neural_search_spark.query.exhaustive import (
        bm25_conjunctive,
        bm25_scores,
        topk,
    )

    body = {"query": {"dis_max": {"tie_breaker": 0.4, "queries": [
        {"match": {"text": {"query": "spark window", "operator": "and"}}},
        {"match": {"text": "merge"}},
    ]}}, "size": 10}
    got = search(ctx, body)
    s0 = bm25_conjunctive(documents, ["spark", "window"],
                          round_to=None).select("doc_id", "score")
    s1 = bm25_scores(documents, ["merge"], round_to=None).select(
        "doc_id", "score")
    comb = s0.unionByName(s1).groupBy("doc_id").agg(
        (F.max("score")
         + F.lit(0.4) * (F.sum("score") - F.max("score"))).alias("score"))
    assert _rows(got) == _rows(topk(comb, k=10))


def test_aggs_and_search_agree_on_bool(ctx, documents):
    """search() and aggregate() compute the SAME hit set for one bool
    body (the r04 translator disagreed on multi-term clauses)."""
    body_q = {"bool": {"must": [{"match": {"text": "merge window"}}]}}
    hits = search(ctx, {"query": body_q, "size": 5000})
    n_hits = hits.count()
    agg = search(ctx, {"query": body_q, "size": 0,
                       "aggs": {"n": {"value_count": {"field": "doc_id"}}}})
    assert agg.collect()[0]["n"] == n_hits


def test_neural_k_defaults_to_size(ctx, embeddings):
    # missing k widens the ANN pool to the body size — size hits return
    got = search(ctx, {"query": {"neural": {"embedding": {
        "query_vector_id": 0}}}, "size": 25})
    assert got.count() == 25
    # explicit k < size is widened identically
    got2 = search(ctx, {"query": {"neural": {"embedding": {
        "query_vector_id": 0, "k": 5}}}, "size": 25})
    assert got2.count() == 25
    assert _rows(got) == _rows(got2)


# --- constant-score leaf family (round 5) ----------------------------------


def test_leaf_types_top_level(ctx, documents):
    # range → ConstantScore 1.0 over the match set
    got = search(ctx, {"query": {"range": {"n_chars": {"gte": 200, "lte": 400}}},
                       "size": 5})
    rows = got.collect()
    assert len(rows) == 5 and all(r["score"] == 1.0 for r in rows)
    # rank ties broken by doc_id asc → the 5 smallest matching ids
    exp_ids = [r["doc_id"] for r in documents.where(
        "n_chars BETWEEN 200 AND 400").orderBy("doc_id").limit(5).collect()]
    assert sorted(r["doc_id"] for r in rows) == exp_ids

    # match_all
    got_all = search(ctx, {"query": {"match_all": {}}, "size": 3})
    assert [r["doc_id"] for r in sorted(got_all.collect(), key=lambda r: r["rank"])] \
        == [r["doc_id"] for r in documents.orderBy("doc_id").limit(3).collect()]

    # keyword-column term → equality at 1.0
    lang = documents.select("lang").first()["lang"]
    got_t = search(ctx, {"query": {"term": {"lang": lang}}, "size": 5})
    assert all(r["score"] == 1.0 for r in got_t.collect())

    # text-column term → single-term BM25, value verbatim (not analyzed)
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    got_tt = search(ctx, {"query": {"term": {"text": "spark"}}, "size": 10})
    exp_tt = topk(bm25_scores(documents, ["spark"], round_to=None), k=10)
    assert _rows(got_tt) == _rows(exp_tt)

    # constant_score applies its boost
    got_cs = search(ctx, {"query": {"constant_score": {
        "filter": {"range": {"n_chars": {"gte": 200, "lte": 400}}},
        "boost": 2.5}}, "size": 5})
    assert all(r["score"] == 2.5 for r in got_cs.collect())


def test_hybrid_heterogeneous_body(spark, ctx):
    """The reference's heterogeneous hybrid (match + range + sparse,
    HybridQueryIT.java:71-82) expressed as a JSON body equals the
    direct-builder gate row under the same pipeline config."""
    import __spark_entry__ as entry
    from neural_search_spark.query.exhaustive import topk

    feats = entry.queries()["hybrid_heterogeneous"]  # direct builder frame
    direct = feats(spark, SF_SMALL)
    sctx = SearchContext(docs=ctx.docs,
                         sparse_features=entry._sparse_features(spark, SF_SMALL))
    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark window merge"}},
        {"range": {"n_chars": {"gte": 200, "lte": 400}}},
        {"neural_sparse": {"sparse": {"query_tokens": entry.SPARSE_QUERY}}},
    ]}}, "size": 10}
    got = search(sctx, body, pipeline={"normalization": "min_max",
                                       "combination": "arithmetic_mean",
                                       "weights": [0.5, 0.2, 0.3]})
    exp = topk(direct, k=10, round_to=None)
    assert _rows(got) == _rows(exp)


# --- generalized explain / highlight / sort+search_after / hits+aggs -------


def test_explain_on_phrase_bool_and_indexed(ctx, reader_ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_explain

    # phrase body: breakdown joins the phrase kernel's hits, and the
    # per-term contributions sum to each hit's phrase score
    body_p = {"query": {"match_phrase": {"text": "spark window"}}, "size": 10,
              "explain": True}
    got_p = search(ctx, body_p)
    hits_p = search(ctx, {"query": {"match_phrase": {"text": "spark window"}},
                          "size": 10})
    exp_p = bm25_explain(documents, ["spark", "window"], k=10, hits=hits_p)
    assert _rows(got_p) == _rows(exp_p)
    import collections
    sums = collections.defaultdict(float)
    score_of = {}
    for r in got_p.collect():
        sums[r["doc_id"]] += r["contribution"]
        score_of[r["doc_id"]] = r["score"]
    for d, s in score_of.items():
        assert abs(sums[d] - s) < 2e-3  # contributions sum to the hit score

    # bool body (all-or clauses, distinct terms)
    body_b = {"query": {"bool": {"must": [{"match": {"text": "data"}}],
                                 "should": [{"match": {"text": "spark window"}}]}},
              "size": 10, "explain": True}
    got_b = search(ctx, body_b).collect()
    hit_ids = {r["doc_id"] for r in search(ctx, {"query": body_b["query"],
                                                 "size": 10}).collect()}
    assert {r["doc_id"] for r in got_b} == hit_ids

    # indexed match body: same breakdown, hits from the kernel
    body_i = {"query": {"match": {"text": "spark window merge"}}, "size": 10,
              "explain": True}
    assert _rows(search(reader_ctx, body_i)) == _rows(search(ctx, body_i))

    # AND clauses / repeated terms are rejected, not mis-explained
    with pytest.raises(DslError):
        search(ctx, {"query": {"bool": {"must": [
            {"match": {"text": {"query": "spark window", "operator": "and"}}}]}},
            "size": 10, "explain": True})
    with pytest.raises(DslError):
        search(ctx, {"query": {"bool": {
            "must": [{"match": {"text": "spark"}}],
            "should": [{"match": {"text": "spark merge"}}]}},
            "size": 10, "explain": True})


def test_highlight_on_phrase_bool_and_indexed(ctx, reader_ctx, documents):
    from neural_search_spark.query.highlight import highlight_topk

    body = {"query": {"match_phrase": {"text": "spark window"}}, "size": 10,
            "highlight": {"fields": {"text": {}}, "window": 3}}
    got = search(ctx, body)
    hits = search(ctx, {"query": {"match_phrase": {"text": "spark window"}},
                        "size": 10})
    exp = highlight_topk(documents, ["spark", "window"], k=10, window=3, hits=hits)
    assert _rows(got) == _rows(exp)
    for r in got.collect():
        assert "spark" in r["snippet"] or "window" in r["snippet"]

    # indexed match highlight == exhaustive match highlight
    body_m = {"query": {"match": {"text": "spark window merge"}}, "size": 10,
              "highlight": {"fields": {"text": {}}}}
    assert _rows(search(reader_ctx, body_m)) == _rows(search(ctx, body_m))

    # bool highlight returns snippets for the bool's own hits
    body_b = {"query": {"bool": {"must": [{"match": {"text": "data"}}]}},
              "size": 5, "highlight": {"fields": {"text": {}}}}
    rows = search(ctx, body_b).collect()
    assert len(rows) == 5 and all("data" in r["snippet"] for r in rows)


def test_sort_over_full_hit_set(ctx, documents):
    """sort REPLACES relevance ranking: the size window cuts the sorted
    FULL hit set, not the score top-k (OpenSearch sort semantics)."""
    from neural_search_spark.query.exhaustive import tokenized

    body = {"query": {"match": {"text": "spark window"}}, "size": 5,
            "sort": [{"n_chars": {"order": "desc"}}]}
    got = [r["doc_id"] for r in search(ctx, body).collect()]
    matched = (
        tokenized(documents)
        .select("doc_id", F.explode("toks").alias("t"))
        .where(F.col("t").isin(["spark", "window"]))
        .select("doc_id").distinct()
        .join(documents, "doc_id")
    )
    exp = [r["doc_id"] for r in
           matched.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
           .limit(5).collect()]
    assert got == exp


def test_sort_with_search_after_fields(ctx, documents):
    """Keyset paging on an arbitrary sort spec: page 2 after page 1's
    last (sort value, doc_id) tuple == rows 6-10 of the sorted order."""
    base = {"query": {"match": {"text": "spark window"}},
            "sort": [{"n_chars": {"order": "desc"}}]}
    page_all = search(ctx, {**base, "size": 10}).collect()
    last5 = page_all[4]
    page2 = search(ctx, {**base, "size": 5,
                         "search_after": [last5["n_chars"], last5["doc_id"]]})
    assert [r["doc_id"] for r in page2.collect()] == \
        [r["doc_id"] for r in page_all[5:10]]
    with pytest.raises(DslError):
        search(ctx, {**base, "size": 5, "search_after": [100]})  # missing tiebreak


def test_search_with_aggs_one_body(ctx, documents):
    from neural_search_spark.query.dsl import search_with_aggs

    body = {"query": {"match": {"text": "spark window merge"}}, "size": 10,
            "aggs": {"langs": {"terms": {"field": "lang"},
                               "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}}}}
    hits, aggs = search_with_aggs(ctx, body)
    exp_hits = search(ctx, {"query": body["query"], "size": 10})
    exp_aggs = search(ctx, {"query": body["query"], "size": 0,
                            "aggs": body["aggs"]})
    assert _rows(hits) == _rows(exp_hits)
    assert _rows(aggs) == _rows(exp_aggs)
    # search() itself still refuses the two-frame shape by name
    with pytest.raises(DslError):
        search(ctx, body)
    with pytest.raises(DslError):
        search_with_aggs(ctx, {"query": body["query"], "size": 10})


def test_hybrid_aggs_over_union_hit_set(ctx, documents, embeddings):
    """aggs on a hybrid body aggregate over the UNION of sub-query
    match sets (totalHits semantics), per MetricAggregationsWithHybrid
    QueryIT."""
    from neural_search_spark.query.dsl import search_with_aggs
    from neural_search_spark.query.exhaustive import tokenized
    from neural_search_spark.pipeline.similarity import cosine_topk

    body = {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark window merge"}},
        {"neural": {"embedding": {"query_vector_id": 0, "k": 50}}},
    ]}}, "size": 10,
        "aggs": {"n": {"value_count": {"field": "doc_id"}},
                 "langs": {"cardinality": {"field": "lang"}}}}
    hits, aggs = search_with_aggs(
        ctx, body, pipeline={"normalization": "min_max",
                             "combination": "arithmetic_mean",
                             "weights": [0.7, 0.3]})
    m0 = (
        tokenized(documents)
        .select("doc_id", F.explode("toks").alias("t"))
        .where(F.col("t").isin(["merge", "spark", "window"]))
        .select("doc_id").distinct()
    )
    m1 = cosine_topk(embeddings, 0, k=50).select(F.col("vec_id").alias("doc_id"))
    union = m0.unionByName(m1).distinct().join(documents, "doc_id")
    exp = union.agg(F.count("doc_id").alias("n"),
                    F.count_distinct("lang").alias("langs")).collect()[0]
    got = aggs.collect()[0]
    assert got["n"] == exp["n"] and got["langs"] == exp["langs"]
    assert hits.count() == 10


def test_terms_exists_filter_context(ctx, documents):
    """All four filter types in one bool FILTER context — non-scoring
    occur, BM25 stats stay global (HybridQuery.java:48-59)."""
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.filters import filtered_scores

    body = {"query": {"bool": {
        "must": [{"match": {"text": "spark window merge"}}],
        "filter": [{"terms": {"lang": ["en", "de"]}},
                   {"exists": {"field": "source"}},
                   {"range": {"n_chars": {"gte": 150}}}],
    }}, "size": 10}
    got = search(ctx, body)
    pred = F.expr("lang IN ('en', 'de') AND source IS NOT NULL AND n_chars >= 150")
    scores = bm25_scores(documents, ["merge", "spark", "window"], round_to=None)
    exp = topk(filtered_scores(scores, documents, pred), k=10)
    assert _rows(got) == _rows(exp)


def test_terms_and_exists_leaves(ctx, documents):
    """terms / exists as top-level scoring leaves: constant 1.0
    (TermInSetQuery / FieldExistsQuery never score in Lucene)."""
    got = search(ctx, {"query": {"terms": {"lang": ["en", "fr"]}}, "size": 5})
    rows = got.collect()
    assert len(rows) == 5 and all(r["score"] == 1.0 for r in rows)
    exp_ids = [r["doc_id"] for r in documents.where(
        "lang IN ('en', 'fr')").orderBy("doc_id").limit(5).collect()]
    assert sorted(r["doc_id"] for r in rows) == exp_ids

    got_e = search(ctx, {"query": {"exists": {"field": "source"}}, "size": 3})
    exp_e = [r["doc_id"] for r in documents.where(
        "source IS NOT NULL").orderBy("doc_id").limit(3).collect()]
    assert [r["doc_id"] for r in sorted(got_e.collect(), key=lambda r: r["rank"])] == exp_e

    # constant_score over a terms filter applies its boost
    got_cs = search(ctx, {"query": {"constant_score": {
        "filter": {"terms": {"lang": ["en"]}}, "boost": 3.0}}, "size": 3})
    assert all(r["score"] == 3.0 for r in got_cs.collect())

    # empty terms list = MatchNoDocsQuery (TermsQueryBuilder rewrite)
    assert search(ctx, {"query": {"terms": {"lang": []}}, "size": 5}).count() == 0


def test_terms_exists_rejections(ctx):
    with pytest.raises(DslError):  # analyzed text column
        search(ctx, {"query": {"terms": {"text": ["spark"]}}})
    with pytest.raises(DslError):  # value not a list
        search(ctx, {"query": {"terms": {"lang": "en"}}})
    with pytest.raises(DslError):  # non-scalar member never interpolated
        search(ctx, {"query": {"terms": {"lang": [["x"]]}}})
    with pytest.raises(DslError):  # exists takes exactly {'field': name}
        search(ctx, {"query": {"exists": {"field": "lang", "boost": 2}}})
    with pytest.raises(DslError):  # field names must be plain identifiers
        search(ctx, {"query": {"exists": {"field": "lang; drop"}}})


# --- nested query (round 5: NestedQueryBuilder / block-join ScoreMode) -----


@pytest.fixture(scope="module")
def nctx(documents, embeddings):
    return SearchContext(docs=documents, embeddings=embeddings,
                         nested_path="chunks", nested_delimiter=" the ")


def test_nested_score_modes(nctx, documents):
    """nested body == nested_chunk_topk builder for every ScoreMode
    (max / total=sum / avg / min — Lucene block-join rollups)."""
    from neural_search_spark.operators.nested import nested_chunk_topk

    for mode in ("max", "total", "avg", "min"):
        body = {"query": {"nested": {
            "path": "chunks",
            "query": {"match": {"chunks.text": "spark window merge"}},
            "score_mode": mode,
        }}, "size": 10}
        got = search(nctx, body)
        exp = nested_chunk_topk(documents, ["merge", "spark", "window"],
                                " the ", k=10, score_mode=mode)
        assert _rows(got) == _rows(exp), mode


def test_nested_default_score_mode_is_avg(nctx, documents):
    # NestedQueryBuilder's default is ScoreMode.Avg
    from neural_search_spark.operators.nested import nested_chunk_topk

    got = search(nctx, {"query": {"nested": {
        "path": "chunks",
        "query": {"match": {"chunks.text": "spark window"}},
    }}, "size": 5})
    exp = nested_chunk_topk(documents, ["spark", "window"], " the ",
                            k=5, score_mode="avg")
    assert _rows(got) == _rows(exp)


def test_hybrid_term_plus_nested(nctx, documents):
    """HybridQueryIT.java:434-449: termQuery + nestedQuery(Total) in one
    hybrid body — equals the directly-composed normalize/combine."""
    from neural_search_spark.operators.nested import nested_chunk_scores
    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.hybrid import combine, normalize

    body = {"query": {"hybrid": {"queries": [
        {"term": {"text": {"value": "spark"}}},
        {"nested": {"path": "chunks",
                    "query": {"match": {"chunks.text": "spark window merge"}},
                    "score_mode": "total"}},
    ]}}, "size": 10}
    got = search(nctx, body, pipeline={"normalization": "min_max",
                                       "combination": "arithmetic_mean",
                                       "weights": [0.7, 0.3]})
    s0 = bm25_scores(documents, ["spark"], round_to=None).select(
        F.lit(0).alias("subquery_idx"), "doc_id", "score")
    s1 = nested_chunk_scores(documents, ["merge", "spark", "window"], " the ",
                             score_mode="total").select(
        F.lit(1).alias("subquery_idx"), "doc_id", "score")
    exp = topk(combine(normalize(s0.unionByName(s1), "min_max"),
                       "arithmetic_mean", [0.7, 0.3], 2)
               .withColumn("score", F.round("score", 4)), k=10, round_to=None)
    assert _rows(got) == _rows(exp)


def test_nested_aggs_hit_set(nctx, documents):
    """aggs over a nested body count parents with >=1 matching chunk —
    the same hit set search() ranks."""
    body_q = {"nested": {"path": "chunks",
                         "query": {"match": {"chunks.text": "merge window"}},
                         "score_mode": "total"}}
    n_hits = search(nctx, {"query": body_q, "size": 5000}).count()
    agg = search(nctx, {"query": body_q, "size": 0,
                        "aggs": {"n": {"value_count": {"field": "doc_id"}}}})
    assert n_hits > 0 and agg.collect()[0]["n"] == n_hits


def test_nested_rejections(nctx, ctx):
    with pytest.raises(DslError):  # ctx defines no nested mapping
        search(ctx, {"query": {"nested": {"path": "chunks",
               "query": {"match": {"chunks.text": "spark"}}}}})
    with pytest.raises(DslError):  # unknown path
        search(nctx, {"query": {"nested": {"path": "sections",
               "query": {"match": {"sections.text": "spark"}}}}})
    with pytest.raises(DslError):  # inner query must be match
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"range": {"n_chars": {"gte": 1}}}}}})
    with pytest.raises(DslError):  # field must be <path>.<text_col>
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"match": {"text": "spark"}}}}})
    with pytest.raises(DslError):  # unsupported score_mode name
        search(nctx, {"query": {"nested": {"path": "chunks", "score_mode": "none",
               "query": {"match": {"chunks.text": "spark"}}}}})
    with pytest.raises(DslError):  # unknown operator name
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"match": {"chunks.text": {
                   "query": "spark", "operator": "nand"}}}}}})


def test_nested_operator_and(nctx, documents):
    """Nested match Operator.AND: conjunction gates each CHUNK (the
    nested doc) before the block-join rollup — a parent scores iff one
    of its chunks contains every term."""
    from neural_search_spark.operators.nested import nested_chunk_scores
    from neural_search_spark.query.exhaustive import topk

    body = {"query": {"nested": {
        "path": "chunks",
        "query": {"match": {"chunks.text": {
            "query": "spark window", "operator": "and"}}},
        "score_mode": "total",
    }}, "size": 10}
    got = search(nctx, body)
    exp = topk(nested_chunk_scores(documents, ["spark", "window"], " the ",
                                   score_mode="total", operator="and"), k=10)
    assert _rows(got) == _rows(exp)

    # the AND match set is the subset of OR parents with an all-terms
    # chunk — and on a single-term query the two operators coincide
    and_ids = {r["doc_id"] for r in nested_chunk_scores(
        documents, ["spark", "window"], " the ",
        operator="and").select("doc_id").collect()}
    or_ids = {r["doc_id"] for r in nested_chunk_scores(
        documents, ["spark", "window"], " the ").select("doc_id").collect()}
    assert and_ids and and_ids < or_ids
    one_and = nested_chunk_scores(documents, ["spark"], " the ",
                                  score_mode="total", operator="and")
    one_or = nested_chunk_scores(documents, ["spark"], " the ",
                                 score_mode="total")
    assert _rows(topk(one_and, k=50)) == _rows(topk(one_or, k=50))

    # aggregate() computes the SAME hit set for the nested-and body
    n_hits = search(nctx, {"query": body["query"], "size": 5000}).count()
    agg = search(nctx, {"query": body["query"], "size": 0,
                        "aggs": {"n": {"value_count": {"field": "doc_id"}}}})
    assert agg.collect()[0]["n"] == n_hits == len(and_ids)


# --- heterogeneous dis_max (round 5: DisjunctionMaxQuery over leaves) ------


def test_dismax_heterogeneous(ctx, documents):
    """dis_max over [term-on-text, range] — Lucene DisjunctionMaxQuery
    scoring max + tie_breaker * (sum of the rest); the reference's own
    IT composes DisMax over neural_sparse + match_all
    (NeuralSparseTwoPhaseProcessorIT.java:427-430)."""
    from neural_search_spark.query.exhaustive import bm25_scores, topk

    body = {"query": {"dis_max": {"tie_breaker": 0.4, "queries": [
        {"term": {"text": {"value": "spark"}}},
        {"range": {"n_chars": {"gte": 200, "lte": 400}}},
    ]}}, "size": 10}
    got = search(ctx, body)
    s0 = bm25_scores(documents, ["spark"], round_to=None).select("doc_id", "score")
    s1 = documents.where("n_chars >= 200 and n_chars <= 400").select(
        "doc_id", F.lit(1.0).cast("double").alias("score"))
    exp = topk(
        s0.unionByName(s1).groupBy("doc_id").agg(
            (F.max("score") + F.lit(0.4) * (F.sum("score") - F.max("score"))
             ).alias("score")),
        k=10)
    assert _rows(got) == _rows(exp)


def test_dismax_all_match_fast_path_unchanged(ctx, documents):
    # all-match bodies still hit the one-traversal dis_max_topk kernel
    from neural_search_spark.query.booleans import dis_max_topk

    body = {"query": {"dis_max": {"tie_breaker": 0.2, "queries": [
        {"match": {"text": "spark window"}},
        {"match": {"text": "merge"}},
    ]}}, "size": 10}
    exp = dis_max_topk(documents, [["spark", "window"], ["merge"]],
                       tie_breaker=0.2, k=10)
    assert _rows(search(ctx, body)) == _rows(exp)


def test_dismax_rejections(ctx):
    with pytest.raises(DslError):  # tie_breaker out of range
        search(ctx, {"query": {"dis_max": {"tie_breaker": 1.5, "queries": [
            {"match": {"text": "spark"}}]}}})
    with pytest.raises(DslError):  # empty queries list
        search(ctx, {"query": {"dis_max": {"queries": []}}})
    with pytest.raises(DslError):  # hybrid can't nest inside dis_max
        search(ctx, {"query": {"dis_max": {"queries": [
            {"hybrid": {"queries": [{"match": {"text": "spark"}}]}}]}}})


def test_nested_neural_sparse_inner(nctx, documents):
    """Nested + neural inner (TextEmbeddingProcessorIT.java:130-135's
    shape): ingest-encoded chunk features, sparse linear inner score,
    ScoreMode rollup — DSL body == direct engine frame."""
    from neural_search_spark.operators.nested import nested_sparse_scores
    from neural_search_spark.query.exhaustive import topk

    q = {"spark": 2.0, "merge": 1.0}
    for mode in ("total", "max"):
        body = {"query": {"nested": {
            "path": "chunks",
            "query": {"neural_sparse": {"chunks.sparse": {"query_tokens": q}}},
            "score_mode": mode,
        }}, "size": 10}
        got = search(nctx, body)
        exp = topk(nested_sparse_scores(documents, q, " the ",
                                        score_mode=mode), k=10)
        assert _rows(got) == _rows(exp), mode


def test_nested_neural_sparse_rejections(nctx):
    with pytest.raises(DslError):  # field must be <path>.sparse
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"neural_sparse": {"sparse": {
                   "query_tokens": {"a": 1.0}}}}}}})
    with pytest.raises(DslError):  # query_tokens must be {str: number}
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"neural_sparse": {"chunks.sparse": {
                   "query_tokens": {"a": "x"}}}}}}})
    with pytest.raises(DslError):  # empty query_tokens
        search(nctx, {"query": {"nested": {"path": "chunks",
               "query": {"neural_sparse": {"chunks.sparse": {
                   "query_tokens": {}}}}}}})


def test_explain_and_highlight_use_the_index_analyzer(spark, tmp_path_factory):
    """An index whose analyzer keeps 'foo_bar' whole (code) must
    explain/highlight with THAT token stream — factoring the hits
    through the fixed simple analyzer would drop every underscore term
    (zero explain rows for real hits) and break the contribution-sum
    invariant."""
    import collections

    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader

    docs = spark.createDataFrame(
        [(1, "alpha foo_bar beta"), (2, "foo_bar gamma foo_bar"),
         (3, "plain text only"), (4, "alpha beta gamma")],
        "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("code_idx"))
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="code", num_segments=2, range_block=64)
    rctx = SearchContext(docs=docs, reader=IndexReader(spark, d, cache_hot=True))

    hits = {r["doc_id"]: r["score"]
            for r in search(rctx, {"query": {"match": {"text": "foo_bar"}},
                                   "size": 10}).collect()}
    assert set(hits) == {1, 2}  # the code analyzer kept the token whole

    got = search(rctx, {"query": {"match": {"text": "foo_bar"}}, "size": 10,
                        "explain": True}).collect()
    assert {r["doc_id"] for r in got} == set(hits)
    sums = collections.defaultdict(float)
    for r in got:
        assert r["term"] == "foo_bar"
        sums[r["doc_id"]] += r["contribution"]
    for doc, s in hits.items():
        assert abs(sums[doc] - s) < 2e-3  # factors sum to the kernel score

    snip = {r["doc_id"]: r["snippet"]
            for r in search(rctx, {"query": {"match": {"text": "foo_bar"}},
                                   "size": 10,
                                   "highlight": {"fields": {"text": {}},
                                                 "window": 1}}).collect()}
    assert set(snip) == set(hits)
    for doc, s in snip.items():
        assert "foo_bar" in s, (doc, s)  # snippet windows the code tokens


def test_aggs_hit_set_matches_search_on_index_analyzer(spark, tmp_path_factory):
    """One bool body, reader ctx with a code-analyzer index: search()
    (indexed kernel) and aggregate() (exhaustive hit set) must agree on
    which docs match — the aggs side used to re-tokenize with the fixed
    simple analyzer and split 'foo_bar'."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.dsl import aggregate
    from neural_search_spark.query.wand import IndexReader

    docs = spark.createDataFrame(
        [(1, "alpha foo_bar beta"), (2, "foo_bar gamma"),
         (3, "plain bar text"), (4, "alpha foo beta")],
        "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("code_idx2"))
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="code", num_segments=2, range_block=64)
    rctx = SearchContext(docs=docs, reader=IndexReader(spark, d, cache_hot=True))

    q = {"bool": {"must": [{"match": {"text": "foo_bar"}}]}}
    hit_ids = {r["doc_id"]
               for r in search(rctx, {"query": q, "size": 10}).collect()}
    assert hit_ids == {1, 2}  # code analyzer keeps foo_bar whole
    agg_df = aggregate(rctx, {"query": q, "size": 0,
                              "aggs": {"n": {"value_count": {"field": "doc_id"}}}})
    assert agg_df.collect()[0]["n"] == len(hit_ids)
    # the indexed hit set never re-tokenizes the corpus: no split() of
    # the text column anywhere in the physical plan
    assert "split(" not in agg_df._jdf.queryExecution().executedPlan().toString()

    # full clause shape: must + counted should + must_not through the
    # indexed kernel
    q2 = {"bool": {"must": [{"match": {"text": "alpha"}}],
                   "should": [{"match": {"text": "foo_bar"}},
                              {"match": {"text": "gamma"}}],
                   "must_not": [{"match": {"text": "plain"}}],
                   "minimum_should_match": 1}}
    body2 = {"query": q2, "size": 0,
             "aggs": {"n": {"value_count": {"field": "doc_id"}}}}
    n_idx = aggregate(rctx, body2).collect()[0]["n"]
    assert n_idx == 1  # doc 1 (alpha + foo_bar, no plain)

    # WITHOUT a reader the exhaustive engine matches against simple
    # corpus tokens; search() and aggregate() must still agree on one
    # body even when ctx.analyzer analyzes the query differently
    ctx_plain = SearchContext(docs=docs, analyzer="code")
    n_ex = aggregate(ctx_plain, body2).collect()[0]["n"]
    hits_ex = search(ctx_plain, {"query": q2, "size": 10}).collect()
    assert n_ex == len(hits_ex)  # consistent hit sets on one body


def test_bool_msm_rejected_identically_on_both_surfaces(spark, tmp_path_factory):
    """minimum_should_match > should-clause count is validated inside
    the SHARED gate builder, so search() and aggregate() reject the
    same body the same way instead of one erroring and one silently
    returning empty."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.dsl import aggregate
    from neural_search_spark.query.wand import IndexReader

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("msm_idx"))
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=1, range_block=64)
    rctx = SearchContext(docs=docs, reader=IndexReader(spark, d, cache_hot=True))
    bad = {"bool": {"should": [{"match": {"text": "alpha"}}],
                    "minimum_should_match": 2}}
    with pytest.raises(ValueError, match="should-clause count"):
        search(rctx, {"query": bad, "size": 10})
    with pytest.raises(ValueError, match="should-clause count"):
        aggregate(rctx, {"query": bad, "size": 0,
                         "aggs": {"n": {"value_count": {"field": "doc_id"}}}})


def test_explain_on_raw_regex_tokenizer_index(spark, tmp_path_factory):
    """build_index accepts any raw split regex; explain over such an
    index must factor the SAME token stream the kernel indexed
    (replace-then-whitespace-split, not a plain split)."""
    import collections

    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader

    docs = spark.createDataFrame(
        [(1, "foo bar1baz"), (2, "baz2qux foo"), (3, "plain words")],
        "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("rawre_idx"))
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="[0-9]+", num_segments=1, range_block=64)
    rctx = SearchContext(docs=docs, reader=IndexReader(spark, d, cache_hot=True))

    hits = {r["doc_id"]: r["score"]
            for r in search(rctx, {"query": {"match": {"text": "baz"}},
                                   "size": 10}).collect()}
    assert set(hits) == {1, 2}  # digit runs split: bar1baz -> bar, baz
    got = search(rctx, {"query": {"match": {"text": "baz"}}, "size": 10,
                        "explain": True}).collect()
    sums = collections.defaultdict(float)
    for r in got:
        sums[r["doc_id"]] += r["contribution"]
    for doc, s in hits.items():
        assert abs(sums[doc] - s) < 2e-3

    # leaf aggs bodies never build the token stream — no raw-regex trip
    from neural_search_spark.query.dsl import aggregate
    n = aggregate(rctx, {"query": {"range": {"doc_id": {"gte": 1, "lte": 2}}},
                         "size": 0,
                         "aggs": {"n": {"value_count": {"field": "doc_id"}}}})
    assert n.collect()[0]["n"] == 2


def test_raw_regex_query_analysis_matches_kernel(spark, tmp_path_factory):
    """analyze_query over a raw split regex must normalize like the
    kernel (replace-then-whitespace-split): a multi-word match query on
    an index whose raw regex does not cover whitespace must split into
    per-word terms, not keep "foo baz" as one unmatchable token."""
    from neural_search_spark.functions.tokenize import analyze_query
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader

    assert analyze_query("Foo bar1Baz", "[0-9]+") == ["foo", "bar", "baz"]

    docs = spark.createDataFrame(
        [(1, "foo bar1baz"), (2, "baz2qux foo"), (3, "plain words")],
        "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("rawre_match"))
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="[0-9]+", num_segments=1, range_block=64)
    rctx = SearchContext(docs=docs, reader=IndexReader(spark, d, cache_hot=True))
    hits = search(rctx, {"query": {"match": {"text": "foo baz"}},
                         "size": 10}).collect()
    assert {r["doc_id"] for r in hits} == {1, 2}  # both terms hit both docs


def test_indexed_parser_families_match_exhaustive(reader_ctx, documents):
    """query_string / simple_query_string / match_bool_prefix dispatch
    onto the index kernels when ctx.reader is set (no corpus
    re-tokenize) and rank exactly like the exhaustive path."""
    from neural_search_spark.query.dsl import SearchContext

    plain = SearchContext(docs=documents)
    bodies = [
        {"query": {"query_string":
                   {"query": 'scan OR merg* OR "table scan" OR scal~1'}},
         "size": 10},
        {"query": {"query_string": {"query": "spark AND window"}}, "size": 10},
        {"query": {"simple_query_string":
                   {"query": 'spark | merg* | "table scan"'}}, "size": 10},
        {"query": {"match_bool_prefix": {"text": {"query": "data s"}}},
         "size": 10},
    ]
    for body in bodies:
        idx = [(r["doc_id"], r["score"]) for r in
               search(reader_ctx, body).collect()]
        exh = [(r["doc_id"], r["score"]) for r in
               search(plain, body).collect()]
        assert [d for d, _ in idx] == [d for d, _ in exh], body
        assert all(abs(a - b) <= 1e-4 for (_, a), (_, b) in zip(idx, exh)), body


# --- session-6: knn / script_score / pinned / distance_feature /
#     wrapper / match_none ------------------------------------------------

QV = [round(__import__("math").sin(i * 1.7 + 0.3), 6) for i in range(64)]


def test_knn_raw_vector(ctx, embeddings):
    from neural_search_spark.pipeline.similarity import cosine_topk_vector

    body = {"query": {"knn": {"embedding": {"vector": QV, "k": 5}}},
            "size": 5}
    got = search(ctx, body)
    exp = cosine_topk_vector(embeddings, QV, k=5)
    assert [(r["doc_id"], round(r["score"], 4), r["rank"])
            for r in got.collect()] == \
           [(r["vec_id"], round(r["cos"], 4), r["rank"])
            for r in exp.collect()]

    # the filter restricts CANDIDATES before scoring
    fbody = {"query": {"knn": {"embedding": {
        "vector": QV, "k": 5,
        "filter": {"range": {"label": {"gte": 5}}}}}}, "size": 5}
    labels = {r["vec_id"]: r["label"] for r in embeddings.collect()}
    hits = search(ctx, fbody).collect()
    assert hits and all(labels[r["doc_id"]] >= 5 for r in hits)

    # k/size interplay: the pool is never smaller than size
    wide = search(ctx, {"query": {"knn": {"embedding":
                                          {"vector": QV, "k": 3}}},
                        "size": 8}).collect()
    assert len(wide) == 8

    # hybrid sub-query: raw cosines enter normalization
    hyb = search(ctx, {"query": {"hybrid": {"queries": [
        {"knn": {"embedding": {"vector": QV, "k": 5}}},
        {"match": {"text": "spark"}},
    ]}}, "size": 5})
    assert hyb.count() == 5


@pytest.mark.parametrize("site", ["neural", "knn", "hybrid_neural_sparse"])
def test_non_integer_k_raises_dsl_error(spark, ctx, documents, site):
    """A `k` that is not an integer is a DslError at every site that
    reads one, never a bare ValueError/TypeError."""
    feats = spark.createDataFrame([(0, "spark", 1.0)],
                                  "doc_id long, token string, weight double")
    sctx = SearchContext(docs=documents, embeddings=ctx.embeddings,
                         sparse_features=feats)
    for bad in ("ten", 1.5, None):
        q = {"neural": {"embedding": {"query_vector_id": 0, "k": bad}}}
        if site == "knn":
            q = {"knn": {"embedding": {"vector": QV, "k": bad}}}
        elif site == "hybrid_neural_sparse":
            q = {"hybrid": {"queries": [
                {"match": {"text": "spark"}},
                {"neural_sparse": {"sparse": {"query_tokens": {"spark": 1.0},
                                              "k": bad}}}]}}
        with pytest.raises(DslError, match="k"):
            search(sctx, {"query": q, "size": 3},
                   pipeline={"normalization": "min_max",
                             "combination": "arithmetic_mean"})


def test_knn_rejections(ctx, documents):
    for bad in [
        {"knn": {"embedding": {"vector": [], "k": 3}}},
        {"knn": {"embedding": {"vector": ["x"], "k": 3}}},
        {"knn": {"embedding": {"vector": QV, "nope": 1}}},
        {"knn": {"vec_id": {"vector": QV}}},
        {"knn": {"missing_col": {"vector": QV}}},
        {"knn": {"embedding": {"vector": QV, "filter": "label > 1"}}},
    ]:
        with pytest.raises(DslError):
            search(ctx, {"query": bad, "size": 3})
    with pytest.raises(DslError):  # no embeddings surface
        search(SearchContext(docs=documents),
               {"query": {"knn": {"embedding": {"vector": QV}}}, "size": 3})


def test_query_vector_dimension_must_match_column(ctx):
    """A knn or script_score vector of another dimension than the
    embedding column is a DslError naming both dimensions — never k
    NULL-scored hits from a null-padded zip_with."""
    short, long_ = QV[:10], QV + [0.5]
    bodies = [
        ({"knn": {"embedding": {"vector": short, "k": 3}}}, 10),
        ({"knn": {"embedding": {"vector": long_, "k": 3}}}, 65),
        ({"script_score": {"query": {"match_all": {}}, "script": {
            "source": "cosineSimilarity(params.qv, doc['embedding'])",
            "params": {"qv": short}}}}, 10),
        ({"script_score": {"query": {"match_all": {}}, "script": {
            "source": "dotProduct(params.qv, doc['embedding'])",
            "params": {"qv": long_}}}}, 65),
    ]
    for q, dim in bodies:
        with pytest.raises(DslError, match=rf"dimension {dim}\b.*dimension {len(QV)}\b"):
            search(ctx, {"query": q, "size": 3})


def test_script_score_vector_functions(ctx, embeddings):
    base = {r["doc_id"]: r["score"] for r in search(
        ctx, {"query": {"knn": {"embedding": {"vector": QV, "k": 10}}},
              "size": 10}).collect()}
    got = search(ctx, {"query": {"script_score": {
        "query": {"match_all": {}},
        "script": {"source":
                   "cosineSimilarity(params.qv, doc['embedding']) + 1.0",
                   "params": {"qv": QV}}}}, "size": 10}).collect()
    # same ranking, scores shifted by exactly +1 (embeddings cover a
    # subset of doc ids, and the knn row scores that same table)
    assert {r["doc_id"]: round(r["score"] - 1.0, 4) for r in got} == base

    dot = search(ctx, {"query": {"script_score": {
        "query": {"match_all": {}},
        "script": {"source": "dotProduct(params.qv, doc['embedding'])",
                   "params": {"qv": QV}}}}, "size": 5}).collect()
    assert len(dot) == 5

    # min_score cuts the match set
    cut = search(ctx, {"query": {"script_score": {
        "query": {"match_all": {}},
        "script": {"source":
                   "cosineSimilarity(params.qv, doc['embedding']) + 1.0",
                   "params": {"qv": QV}},
        "min_score": 1.0 + got[4]["score"] - 1.0}}, "size": 100}).collect()
    assert all(r["score"] >= got[4]["score"] - 1e-9 for r in cut)


def test_script_score_boost_factor(ctx, documents):
    from neural_search_spark.query.exhaustive import bm25_scores, topk

    exp = topk(bm25_scores(documents, ["spark"], round_to=None), k=5,
               round_to=None)
    got = search(ctx, {"query": {"script_score": {
        "query": {"match": {"text": "spark"}},
        "script": {"source": "_score * params.f", "params": {"f": 2.0}}}},
        "size": 5})
    assert [(r["doc_id"], round(r["score"], 4)) for r in got.collect()] == \
           [(r["doc_id"], round(r["score"] * 2.0, 4)) for r in exp.collect()]


def test_script_score_rejections(ctx):
    for script in [
        {"source": "Math.log(_score)"},                       # no engine
        {"source": "_score * params.f"},                       # unbound
        {"source": "_score * params.f", "params": {"f": -1}},  # negative
        {"source": "cosineSimilarity(params.qv, doc['missing_col'])",
         "params": {"qv": QV}},
        {"source": "cosineSimilarity(params.qv, doc['embedding'])",
         "params": {"qv": "nope"}},
    ]:
        with pytest.raises(DslError):
            search(ctx, {"query": {"script_score": {
                "query": {"match_all": {}}, "script": script}}, "size": 3})
    with pytest.raises(DslError):  # query and script both required
        search(ctx, {"query": {"script_score": {
            "script": {"source": "_score * 2"}}}, "size": 3})


def test_distance_feature(ctx, documents):
    spec = {"field": "n_chars", "origin": 500, "pivot": 100, "boost": 2.0}
    got = search(ctx, {"query": {"distance_feature": spec}, "size": 5})
    vals = {r["doc_id"]: r["n_chars"] for r in documents.collect()}
    for r in got.collect():
        exp = 2.0 * (100.0 / (100.0 + abs(float(vals[r["doc_id"]]) - 500.0)))
        assert abs(r["score"] - round(exp, 4)) <= 1e-9
    for bad in [
        {"field": "n_chars", "origin": 1, "pivot": 0},     # pivot <= 0
        {"field": "n_chars", "origin": 1},                 # missing pivot
        {"field": "text", "origin": 1, "pivot": 1},        # text column
        {"field": "n_chars", "origin": 1, "pivot": 1, "x": 2},
    ]:
        with pytest.raises(DslError):
            search(ctx, {"query": {"distance_feature": bad}, "size": 3})


def test_pinned(ctx, documents):
    body = {"query": {"pinned": {
        "ids": [9, 2, 10**9],
        "organic": {"match": {"text": "spark window merge"}}}}, "size": 10}
    hits = search(ctx, body).collect()
    # pinned in list order first (absent id dropped), organic after,
    # pinned never duplicated in the organic tail
    assert [r["doc_id"] for r in hits[:2]] == [9, 2]
    assert hits[0]["score"] > hits[1]["score"] > hits[2]["score"]
    assert all(r["doc_id"] not in (9, 2) for r in hits[2:])
    org = search(ctx, {"query": {"match": {"text": "spark window merge"}},
                       "size": 10}).collect()
    assert [r["doc_id"] for r in hits[2:8]] == \
           [r["doc_id"] for r in org if r["doc_id"] not in (9, 2)][:6]
    for bad in [
        {"ids": [], "organic": {"match": {"text": "spark"}}},
        {"ids": [1, 1], "organic": {"match": {"text": "spark"}}},
        {"ids": [1, "x"], "organic": {"match": {"text": "spark"}}},
        {"ids": [1]},
    ]:
        with pytest.raises(DslError):
            search(ctx, {"query": {"pinned": bad}, "size": 3})


def test_wrapper_and_match_none(ctx):
    import base64
    import json

    inner = base64.b64encode(
        json.dumps({"match": {"text": "spark window"}}).encode()).decode()
    got = search(ctx, {"query": {"wrapper": {"query": inner}}, "size": 5})
    exp = search(ctx, {"query": {"match": {"text": "spark window"}},
                       "size": 5})
    assert _rows(got) == _rows(exp)
    for bad in [{"query": "%%%not-base64%%%"},
                {"query": base64.b64encode(b"[1, 2]").decode()},
                {"query": ""}, {"nope": "x"}]:
        with pytest.raises(DslError):
            search(ctx, {"query": {"wrapper": bad}, "size": 3})

    assert search(ctx, {"query": {"match_none": {}}, "size": 5}).count() == 0
    with pytest.raises(DslError):
        search(ctx, {"query": {"match_none": {"x": 1}}, "size": 3})
    # as a hybrid sub-query: contributes no docs, the other sub carries
    hyb = search(ctx, {"query": {"hybrid": {"queries": [
        {"match": {"text": "spark"}}, {"match_none": {}}]}}, "size": 5})
    assert hyb.count() == 5


CODE_TEXTS = [
    "def load(): parse_json2 emit_v3 return",
    "parse_json2 then emit_v3",
    "emit_v3 parse_json2 parse_json2 emit_v3",
    "parse json2 emit v3",
    "x = parse_json2(data); emit_v3(x)",
    "nothing here at all",
    "parse_json2 a emit_v3 and value_2",
    "value_2 parse_json2 emit_v3 value_2 parse",
]


@pytest.fixture(scope="module")
def code_docs(spark):
    return spark.createDataFrame(list(enumerate(CODE_TEXTS)), "doc_id long, text string")


def _code_reader(spark, docs, tmp_path_factory, key):
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader

    d = str(tmp_path_factory.mktemp(f"code_idx_{key}"))
    build_index(spark, docs, d, key_cols=[key], text_col="text", tokenizer="code",
                num_segments=2, range_block=4, store_positions=True)
    return IndexReader(spark, d)


@pytest.fixture(scope="module")
def code_reader(spark, code_docs, tmp_path_factory):
    return _code_reader(spark, code_docs, tmp_path_factory, "doc_id")


def test_exhaustive_phrase_uses_context_analyzer(code_docs, code_reader):
    """A `code` context tokenizes the corpus with `code` on the
    exhaustive phrase path too, so phrases whose tokens hold `_` or
    digits answer as on the positional index."""
    exhaustive = SearchContext(docs=code_docs, analyzer="code")
    indexed = SearchContext(docs=code_docs, reader=code_reader, analyzer="code")
    for phrase in [{"query": "parse_json2 emit_v3"},
                   {"query": "parse_json2 emit_v3", "slop": 1},
                   {"query": "value_2 parse_json2"}]:
        body = {"query": {"match_phrase": {"text": phrase}}, "size": 10}
        got = _rows(search(exhaustive, body))
        assert got and got == _rows(search(indexed, body)), phrase


def test_more_like_this_uses_context_analyzer(code_docs):
    """A `code` context selects and scores more_like_this terms with
    `code` tokens: liking doc 2 ("emit_v3 parse_json2 ...") is the OR of
    its two identifiers, i.e. the code-context match minus doc 2."""
    ctx = SearchContext(docs=code_docs, analyzer="code")
    mlt = {"more_like_this": {"like": {"_id": 2}, "min_term_freq": 1,
                              "min_doc_freq": 1}}
    got = [(r["doc_id"], r["score"]) for r in
           search(ctx, {"query": mlt, "size": 10}).collect()]
    match = [(r["doc_id"], r["score"]) for r in search(ctx, {
        "query": {"match": {"text": "parse_json2 emit_v3"}}, "size": 10}).collect()]
    assert got and got == [h for h in match if h[0] != 2]


def test_indexed_dsl_with_non_doc_id_key(spark, code_docs, code_reader,
                                         tmp_path_factory):
    """An index keyed by a column not named `doc_id` serves the indexed
    DSL branches; hits come back as `doc_id` like every other path."""
    id_docs = code_docs.withColumnRenamed("doc_id", "id")
    by_id = SearchContext(docs=id_docs, analyzer="code", id_col="id",
                          reader=_code_reader(spark, id_docs, tmp_path_factory, "id"))
    by_doc_id = SearchContext(docs=code_docs, reader=code_reader, analyzer="code")
    from tests.conftest import under_both

    for q in [{"match": {"text": "parse_json2 value_2"}},
              {"match": {"text": {"query": "parse_json2 value_2", "operator": "and"}}},
              {"match_phrase": {"text": "parse_json2 emit_v3"}},
              {"match_phrase_prefix": {"text": "parse_json2 emi"}},
              {"prefix": {"text": "val"}},
              {"bool": {"must": [{"match": {"text": "emit_v3"}}],
                        "should": [{"match": {"text": "value_2"}}]}},
              {"query_string": {"query": 'value_2 "parse_json2 emit_v3" emi*'}},
              {"simple_query_string": {"query": 'value_2 "parse_json2 emit_v3"'}}]:
        body = {"query": q, "size": 10}

        def answer():
            got = search(by_id, body)
            assert got.columns == ["doc_id", "score", "rank"]
            rows = _rows(got)
            assert rows == _rows(search(by_doc_id, body)), q
            return rows

        under_both(answer)
    from neural_search_spark.query.dsl import msearch

    bodies = [{"query": {"match": {"text": "parse_json2 value_2"}}, "size": 10},
              {"query": {"match_phrase": {"text": "parse_json2 emit_v3"}}, "size": 10}]

    def batch():
        got = msearch(by_id, bodies)
        assert got.columns == ["query_idx", "doc_id", "score", "rank"]
        rows = _rows(got)
        assert rows == _rows(msearch(by_doc_id, bodies))
        return rows

    under_both(batch)


def test_exhaustive_terms_use_context_analyzer(code_docs, code_reader):
    """A `code` context tokenizes the corpus with `code` on every
    exhaustive term path (match, multi_match, query_string and its
    prefix clauses, simple_query_string, bool, term), so a token with
    `_` and digits matches as it does on the index."""
    exhaustive = SearchContext(docs=code_docs, analyzer="code")
    indexed = SearchContext(docs=code_docs, reader=code_reader, analyzer="code")
    match = {"query": {"match": {"text": "parse_json2"}}, "size": 10}
    match_rows = _rows(search(exhaustive, match))
    assert len(match_rows) == 6 and match_rows == _rows(search(indexed, match))
    for q in [{"match": {"text": {"query": "parse_json2 value_2", "operator": "and"}}},
              {"query_string": {"query": "parse_json2"}},
              {"query_string": {"query": "value_2 AND parse_js*"}},
              {"simple_query_string": {"query": "parse_json2 -value_2"}},
              {"bool": {"must": [{"match": {"text": "emit_v3"}}],
                        "should": [{"match": {"text": "value_2"}}]}}]:
        body = {"query": q, "size": 10}
        got = _rows(search(exhaustive, body))
        assert got and got == _rows(search(indexed, body)), q
    mm = {"multi_match": {"query": "parse_json2", "fields": ["text"]}}
    assert _rows(search(exhaustive, {"query": mm, "size": 10})) == match_rows
    term = {"term": {"text": "emit_v3"}}
    assert {r[0] for r in _rows(search(exhaustive, {"query": term, "size": 10}))} \
        == {r[0] for r in _rows(search(indexed, {"query": {"match": {"text": "emit_v3"}},
                                                 "size": 10}))}
    # a hybrid sub-query scores exhaustively: its hit set is the
    # analyzer-consistent match set
    hyb = {"hybrid": {"queries": [{"match": {"text": "value_2"}},
                                  {"match": {"text": "emit_v3"}}]}}
    got = {r["doc_id"] for r in search(
        exhaustive, {"query": hyb, "size": 10},
        pipeline={"normalization": "min_max", "combination": "arithmetic_mean",
                  "weights": [0.5, 0.5]}).collect()}
    exp = {r["doc_id"] for q in ("value_2", "emit_v3") for r in search(
        indexed, {"query": {"match": {"text": q}}, "size": 10}).collect()}
    assert got == exp and len(exp) == 6


def test_exhaustive_multiterm_uses_context_analyzer(code_docs, code_reader):
    """A `code` context expands and scores prefix, wildcard and
    match_phrase_prefix over the `code` token stream on the exhaustive
    path, so they answer as the index does."""
    exhaustive = SearchContext(docs=code_docs, analyzer="code")
    indexed = SearchContext(docs=code_docs, reader=code_reader, analyzer="code")
    for q, n in [({"prefix": {"text": "parse_js"}}, 6),
                 ({"wildcard": {"text": "emit_v*"}}, 6),
                 ({"match_phrase_prefix": {"text": "parse_json2 emit_v"}}, 3)]:
        body = {"query": q, "size": 10}
        got = _rows(search(exhaustive, body))
        assert len(got) == n and got == _rows(search(indexed, body)), q


def test_indexed_span_term_uses_index_analyzer(code_docs, code_reader):
    """Under a context analyzer that differs from the index's, the
    indexed span_term accepts exactly the values the index analyzer
    keeps as one token, as intervals (which analyze with the index's
    analyzer) do, and matches the same docs."""
    from neural_search_spark.functions.tokenize import analyze_query

    ctx = SearchContext(docs=code_docs, reader=code_reader, analyzer="simple")
    for v in ["parse_json2", "value_2", "parse", "Parse_JSON2", "parse json2"]:
        span = {"query": {"span_term": {"text": v}}, "size": 10}
        if analyze_query(v, "code") != [v]:
            with pytest.raises(DslError):
                search(ctx, span).collect()
            continue
        iv = {"query": {"intervals": {"text": {"match": {"query": v}}}}, "size": 10}
        got = {r["doc_id"] for r in search(ctx, span).collect()}
        assert got and got == {r["doc_id"] for r in search(ctx, iv).collect()}, v


# --- malformed parameters surface as DslError ---------------------------

_MATCH = {"match": {"text": "spark window"}}


@pytest.mark.parametrize("body", [
    {"query": _MATCH, "size": "x"},
    {"query": _MATCH, "size": [1]},
    {"query": _MATCH, "size": True},
    {"query": _MATCH, "from": None},
    {"query": _MATCH, "from": "2"},
    {"query": {"match_phrase": {"text": {"query": "spark window", "slop": "x"}}}},
    {"query": {"match_phrase_prefix": {"text": {"query": "spark win",
                                                "max_expansions": "x"}}}},
    {"query": {"fuzzy": {"text": {"value": "spark", "fuzziness": "x"}}}},
    {"query": {"bool": {"should": [_MATCH], "minimum_should_match": "x"}}},
    {"query": {"dis_max": {"queries": [_MATCH], "tie_breaker": "x"}}},
    {"query": {"neural": {"embedding": {"query_vector_id": "x"}}}},
    {"query": {"neural": {"embedding": {"query_vector_id": 0, "ef": "x"}}}},
    {"query": _MATCH, "highlight": {"fields": {"text": {}}, "window": "x"}},
    {"query": _MATCH, "rescore": {"window_size": "x", "query": {
        "rescore_query": _MATCH}}},
    {"query": _MATCH, "rescore": {"query": {"rescore_query": _MATCH,
                                            "query_weight": "x"}}},
    {"query": {"more_like_this": {"like": {"_id": 1}, "max_query_terms": "x"}}},
    {"query": {"more_like_this": {"like": {"_id": 1}, "include": "false"}}},
    {"query": {"constant_score": {"filter": {"range": {"n_chars": {"gte": 1}}},
                                  "boost": "x"}}},
    {"query": {"boosting": {"positive": _MATCH, "negative": _MATCH,
                            "negative_boost": "x"}}},
    {"query": {"function_score": {"field_value_factor": {"field": "n_chars",
                                                         "factor": "x"}}}},
    {"suggest": {"s": {"text": "sprk", "term": {"size": "x"}}}, "size": 0},
    {"suggest": {"s": {"text": "sprk", "term": {"max_edits": "x"}}}, "size": 0},
], ids=lambda b: repr(b)[:60])
def test_malformed_numbers_raise_dsl_error(ctx, body):
    with pytest.raises(DslError):
        search(ctx, body)


@pytest.mark.parametrize("body", [
    {"query": {"match": {"text": {"operator": "or"}}}},
    {"query": {"match_phrase": {"text": {"slop": 1}}}},
    {"query": _MATCH, "highlight": {"window": 2}},
    {"query": _MATCH, "rescore": {"window_size": 5}},
    {"query": _MATCH, "collapse": {}},
    {"query": _MATCH, "size": 0, "aggs": {"m": {"avg": {}}}},
], ids=lambda b: repr(b)[:60])
def test_missing_required_keys_raise_dsl_error(ctx, body):
    with pytest.raises(DslError):
        search(ctx, body)


def test_pinned_ranks_first_above_any_organic_score(ctx):
    """Pinned ids lead in list order even when the organic scores
    exceed the pinned band (script_score × 1e10 lifts BM25 past 1e9);
    pinned scores keep their band, organic hits keep their order."""
    organic = {"script_score": {"query": {"match": {"text": "spark window merge"}},
                                "script": {"source": "_score * params.f",
                                           "params": {"f": 1.0e10}}}}
    hits = search(ctx, {"query": {"pinned": {"ids": [9, 2], "organic": organic}},
                        "size": 6}).collect()
    assert [(r["doc_id"], r["rank"]) for r in hits[:2]] == [(9, 1), (2, 2)]
    assert [r["score"] for r in hits[:2]] == [1.0e9 + 2, 1.0e9 + 1]
    assert min(r["score"] for r in hits[2:]) > 1.0e9 + 2
    org = [r["doc_id"] for r in search(ctx, {"query": organic, "size": 8}).collect()
           if r["doc_id"] not in (9, 2)]
    assert [r["doc_id"] for r in hits[2:]] == org[:4]
    assert [r["rank"] for r in hits] == list(range(1, 7))
