"""Round-2 additions: third-source BM25 fixtures, query enrichment,
hybrid placement rules, filtered indexed retrieval, LSH candidate
volume, radial ANN.

The BM25 fixtures are HAND-COMPUTED constants (plain python math on a
3-doc corpus, independent of the shared SQL builders in query/bm25.py)
— the reference-test style of MinMaxScoreNormalizationTechniqueTests:
a shared-formula bug in the engine+oracle pair cannot pass these.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import under_both

# corpus: dl 3 / 2 / 4, avgdl 3.0, N 3 — all dls quantize exactly
TINY = [
    (1, "apple banana apple"),
    (2, "banana cherry"),
    (3, "apple cherry cherry date"),
]
# idf(df=2) = ln(1 + 1.5/2.5); s = idf * tf / (tf + 1.2*(0.25 + 0.75*dl/3))
APPLE_D1 = 0.29375226827858475
APPLE_D3 = 0.18800145169829427
CHERRY_D2 = 0.2473703311819661
APPLE_CHERRY_D3 = 0.45657495412442894
DATE_D3 = 0.3923317012046905


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(TINY, ["doc_id", "text"])


def _scores(df):
    return {r["doc_id"]: r["score"] for r in df.collect()}


def test_bm25_hand_fixture_exhaustive(tiny_docs):
    from neural_search_spark.query.exhaustive import bm25_scores

    got = _scores(bm25_scores(tiny_docs, ["apple"], round_to=None))
    assert got[1] == pytest.approx(APPLE_D1, abs=1e-12)
    assert got[3] == pytest.approx(APPLE_D3, abs=1e-12)
    assert 2 not in got

    got2 = _scores(bm25_scores(tiny_docs, ["apple", "cherry"], round_to=None))
    assert got2[3] == pytest.approx(APPLE_CHERRY_D3, abs=1e-12)
    assert got2[2] == pytest.approx(CHERRY_D2, abs=1e-12)

    got3 = _scores(bm25_scores(tiny_docs, ["date"], round_to=None))
    assert got3 == {3: pytest.approx(DATE_D3, abs=1e-12)}


def test_bm25_hand_fixture_indexed(tiny_docs, tmp_path):
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

    spark = tiny_docs.sparkSession
    idx = str(tmp_path / "tiny_idx")
    build_index(spark, tiny_docs, idx, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=4)
    reader = IndexReader(spark, idx)
    for strategy in ("bulk", "wand"):
        got = under_both(lambda: _scores(
            bm25_topk_indexed(reader, ["apple", "cherry"], k=3, strategy=strategy)
            .select("doc_id", "score")
        ))
        assert got[3] == pytest.approx(APPLE_CHERRY_D3, abs=1e-12)
        assert got[2] == pytest.approx(CHERRY_D2, abs=1e-12)
        assert got[1] == pytest.approx(APPLE_D1, abs=1e-12)


def test_indexed_filter_matches_post_filter(tiny_docs, tmp_path):
    """Kernel-side allow-list == post-hoc semi-join on the same docs."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

    spark = tiny_docs.sparkSession
    idx = str(tmp_path / "tiny_idx_f")
    build_index(spark, tiny_docs, idx, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=4)
    reader = IndexReader(spark, idx)
    allowed = reader.docmap().where(F.col("doc_id") != 1).select("nss_doc_id")
    for strategy in ("bulk", "wand"):
        got = _scores(
            bm25_topk_indexed(reader, ["apple", "cherry"], k=3,
                              strategy=strategy, allowed=allowed)
            .select("doc_id", "score")
        )
        assert set(got) == {2, 3}
        # scores unchanged by the filter (FILTER occur is non-scoring)
        assert got[3] == pytest.approx(APPLE_CHERRY_D3, abs=1e-12)


def test_matched_ids_indexed_modes(tiny_docs, tmp_path):
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader, matched_ids_indexed

    spark = tiny_docs.sparkSession
    idx = str(tmp_path / "tiny_idx_m")
    build_index(spark, tiny_docs, idx, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=4)
    reader = IndexReader(spark, idx)
    dm = reader.docmap().select("nss_doc_id", "doc_id")

    def doc_ids(mode):
        m = matched_ids_indexed(reader, ["apple", "cherry"], mode=mode)
        return {r["doc_id"] for r in m.join(dm, "nss_doc_id").collect()}

    assert doc_ids("or") == {1, 2, 3}
    assert doc_ids("and") == {3}


def test_enrich_model_ids():
    from neural_search_spark.query.enrich import enrich_model_ids

    q = {
        "type": "hybrid",
        "queries": [
            {"type": "neural", "field": "passage_embedding", "model_id": None},
            {"type": "neural_sparse", "field": "sparse_embedding"},
            {"type": "match", "field": "title"},
            {"type": "neural", "field": "other", "model_id": "explicit"},
        ],
    }
    enrich_model_ids(q, "default-m", {"passage_embedding": "field-m"})
    subs = q["queries"]
    assert subs[0]["model_id"] == "field-m"      # field default wins
    assert subs[1]["model_id"] == "default-m"    # global default
    assert "model_id" not in subs[2]             # non-neural untouched
    assert subs[3]["model_id"] == "explicit"     # explicit untouched


def test_enrich_recurses_into_bool():
    from neural_search_spark.query.enrich import enrich_model_ids

    q = {"type": "bool", "must": [{"type": "bool", "should": [
        {"type": "neural", "field": "f"}]}]}
    enrich_model_ids(q, "m1")
    assert q["must"][0]["should"][0]["model_id"] == "m1"


def test_hybrid_placement_rules():
    from neural_search_spark.query.enrich import validate_hybrid_placement
    from neural_search_spark.query.spec import HybridSpecError

    ok = {"type": "hybrid", "queries": [{"type": "match"}, {"type": "neural"}]}
    validate_hybrid_placement(ok)
    # one nested wrapper is unwrapped
    validate_hybrid_placement({"type": "nested", "query": ok})
    with pytest.raises(HybridSpecError):
        validate_hybrid_placement({"type": "bool", "must": [ok]})
    with pytest.raises(HybridSpecError):
        validate_hybrid_placement(
            {"type": "hybrid", "queries": [{"type": "hybrid", "queries": []}]}
        )


def test_embedding_lsh_candidates_subquadratic(spark):
    """The LSH banding's candidate set must be a vanishing fraction of
    all n^2/2 pairs while still catching every exact-duplicate pair."""
    import os

    from neural_search_spark.operators.encoders import dense_embed
    from neural_search_spark.pipeline import dedup
    from tests.conftest import SF_MED

    docs = spark.read.parquet(os.path.join(SF_MED, "documents.parquet"))
    d = 16
    emb_long = dense_embed(docs, dim=d)
    vecs = (
        emb_long.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("dim_idx", "val"))).alias("m"))
        .select("doc_id", F.expr(
            f"transform(sequence(0, {d-1}), x -> coalesce(element_at(m, x), CAST(0.0 AS DOUBLE)))"
        ).alias("v"))
    )
    n = vecs.count()
    keys = dedup.rhp_band_key_exprs("v", d, dedup.RHP_BANDS, dedup.RHP_BITS, one_based=False)
    keyed = vecs.select(
        "doc_id", *[F.expr(k).alias(f"_bk{b}") for b, k in enumerate(keys)]
    )
    banded = keyed.select("doc_id", F.explode(F.array(
        *[F.struct(F.lit(b).alias("band_idx"), F.col(f"_bk{b}").alias("band_key"))
          for b in range(dedup.RHP_BANDS)]
    )).alias("bd")).select("doc_id", "bd.band_idx", "bd.band_key")
    a = banded.withColumnRenamed("doc_id", "a")
    b = banded.withColumnRenamed("doc_id", "b")
    n_cand = (
        a.join(b, ["band_idx", "band_key"]).where(F.col("a") < F.col("b"))
        .select("a", "b").distinct().count()
    )
    all_pairs = n * (n - 1) / 2
    # measured 6,700 of 124,750 (5.4%) at sf0.01 — common-word mass
    # correlates sign patterns on 16-dim hashed vectors; the fraction
    # drops with dim and corpus diversity, the dup-recall below is the
    # hard guarantee
    assert n_cand < 0.08 * all_pairs, (n_cand, all_pairs)

    # every exact-dup doc pair (identical text -> identical vector) found
    dup_pairs = (
        docs.alias("x").join(docs.alias("y"), F.expr("x.text = y.text AND x.doc_id < y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    found = dedup.embedding_lsh_pairs(vecs, threshold=0.98, dim=d)
    missing = dup_pairs.join(found, ["a", "b"], "left_anti").count()
    assert missing == 0


def test_radial_search_variants(spark):
    import os

    from neural_search_spark.pipeline.similarity import radial_search
    from tests.conftest import SF_MED

    emb = spark.read.parquet(os.path.join(SF_MED, "embeddings.parquet"))
    by_score = radial_search(emb, 0, min_score=0.3).collect()
    by_dist = radial_search(emb, 0, max_distance=0.7).collect()
    assert [r["vec_id"] for r in by_score] == [r["vec_id"] for r in by_dist]
    assert all(r["cos"] >= 0.3 for r in by_score)
    with pytest.raises(ValueError):
        radial_search(emb, 0)
    with pytest.raises(ValueError):
        radial_search(emb, 0, min_score=0.3, max_distance=0.7)


def test_multi_query_matches_single(tiny_docs, tmp_path):
    """The batched kernel must be bit-identical per query to the
    single-query bulk path (same sorted-term accumulation order)."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import (
        IndexReader, bm25_topk_indexed, bm25_topk_indexed_multi)

    spark = tiny_docs.sparkSession
    idx = str(tmp_path / "tiny_idx_mq")
    build_index(spark, tiny_docs, idx, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=4)
    reader = IndexReader(spark, idx)
    batch = [(["apple"], "or"), (["apple", "cherry"], "or"),
             (["apple", "cherry"], "and"), (["zzz_absent"], "or"),
             (["banana", "zzz_absent"], "and")]
    rows = under_both(lambda: bm25_topk_indexed_multi(reader, batch, k=3).collect())
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_idx"], {})[r["doc_id"]] = r["score"]
    for qi, (terms, mode) in enumerate(batch):
        single = under_both(lambda: {
            r["doc_id"]: r["score"]
            for r in bm25_topk_indexed(reader, terms, k=3, mode=mode)
            .select("doc_id", "score").collect()
        })
        assert by_q.get(qi, {}) == single, (qi, terms, mode)


def test_index_spec_validation(tiny_docs, tmp_path):
    """Mapping-style validation rejects bad builds BEFORE any job runs
    (the reference's index-creation-time mapping checks)."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.index.mappings import IndexSpecError

    spark = tiny_docs.sparkSession

    def bad(**kw):
        args = dict(key_cols=["doc_id"], text_col="text", tokenizer="simple",
                    num_segments=2, range_block=4)
        args.update(kw)
        with pytest.raises(IndexSpecError):
            build_index(spark, tiny_docs, str(tmp_path / "x"), **args)

    bad(key_cols=[])
    bad(key_cols=["doc_id", "doc_id"])
    bad(key_cols=["nope"])
    bad(text_col="doc_id")           # non-string text col
    bad(text_col="text", key_cols=["text"])
    bad(tokenizer="[unclosed")       # invalid custom regex
    bad(num_segments=0)
    bad(range_block=1)
    bad(codec="lz4")


def test_corpus_source_adapter(spark, tmp_path):
    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.sources.corpus_table import (
        CorpusSourceError, iceberg_available, load_corpus, write_corpus)

    df = corpus_df(spark, 200, partitions=2)
    p = str(tmp_path / "corpus_pq")
    write_corpus(df, p, mode="overwrite")
    back = load_corpus(spark, p)
    assert back.count() == 200
    assert {f.name for f in back.schema.fields} >= {"repo", "path", "commit", "lang", "content"}

    # snapshot pinning is Iceberg-only
    with pytest.raises(CorpusSourceError):
        load_corpus(spark, p, snapshot_id=1)
    # schema contract enforced
    with pytest.raises(CorpusSourceError):
        write_corpus(df.drop("content"), str(tmp_path / "bad"))
    # iceberg path: clean error when the runtime jar is absent
    if not iceberg_available(spark):
        with pytest.raises(CorpusSourceError):
            load_corpus(spark, "iceberg:cat.db.corpus")


def test_sort_spec_validation():
    from neural_search_spark.query.spec import HybridSpecError, validate_sort_spec

    validate_sort_spec([("n_chars", "desc"), ("lang", "asc")])
    validate_sort_spec([("_score", "desc")])
    validate_sort_spec([("n_chars", "desc")], track_scores=True)
    with pytest.raises(HybridSpecError):
        validate_sort_spec([("_score", "desc"), ("n_chars", "asc")])
    with pytest.raises(HybridSpecError):
        validate_sort_spec([("n_chars", "sideways")])
    with pytest.raises(HybridSpecError):
        validate_sort_spec([])
    with pytest.raises(HybridSpecError):
        validate_sort_spec([("_score", "desc")], track_scores=True)


def test_by_field_rerank_options(spark):
    import os

    from neural_search_spark.query.exhaustive import bm25_scores, topk
    from neural_search_spark.query.rerank import by_field_rerank
    from tests.conftest import SF_MED

    docs = spark.read.parquet(os.path.join(SF_MED, "documents.parquet"))
    hits = topk(bm25_scores(docs, ["spark"], round_to=None), k=5, round_to=None).drop("rank")
    out = by_field_rerank(hits, docs, "n_chars", keep_previous_score=True,
                          remove_target_field=True, k=5)
    cols = out.columns
    assert "previous_score" in cols and "n_chars" not in cols
    rows = out.collect()
    assert all(rows[i]["score"] >= rows[i + 1]["score"] for i in range(len(rows) - 1))


def test_ivf_kmeans_training_and_recall(spark):
    import os

    from neural_search_spark.pipeline.similarity import (
        ivf_recall_at_k, ivf_train_centroids)
    from tests.conftest import SF_MED

    emb = spark.read.parquet(os.path.join(SF_MED, "embeddings.parquet"))
    cents = ivf_train_centroids(emb, k=8, iters=2)
    assert len(cents) == 8 and len(cents[0]) == 64
    # deterministic: same inputs -> same centroids
    again = ivf_train_centroids(emb, k=8, iters=2)
    assert cents == again
    # measured recall of the probe path vs brute force (fixed seeds)
    rec = ivf_recall_at_k(emb, query_ids=[0, 5, 9], k=10, nprobe=2)
    assert 0.0 <= rec <= 1.0
    rec_all = ivf_recall_at_k(emb, query_ids=[0], k=10, nprobe=8)
    assert rec_all == 1.0  # probing every bucket == exhaustive


def test_enrich_config_rules():
    from neural_search_spark.query.enrich import enrich_model_ids
    from neural_search_spark.query.spec import HybridSpecError

    assert enrich_model_ids(None, "m") is None  # empty body: no-op
    with pytest.raises(HybridSpecError):
        enrich_model_ids({"type": "neural"}, 55555)  # non-string id
