"""Round-3 additions: positional postings (v4 format) + indexed phrase,
index-lifecycle phrase parity, and the approximate-family recall checks
the mirrored-oracle scheme cannot provide (ADVICE r02)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.builder import build_index
from neural_search_spark.query.exhaustive import bm25_phrase, tokenized
from neural_search_spark.query.phrase import bm25_phrase_indexed
from neural_search_spark.query.wand import IndexReader
from tests.conftest import under_both

PHRASES = [
    ["spark", "window"],
    ["the", "the"],          # duplicate-term phrase (ordinal offsets)
    ["no", "such", "phrase", "anywhere"],
]


@pytest.fixture(scope="module")
def doc_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_pos"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=4, range_block=64)
    return IndexReader(spark, d, cache_hot=True)


def test_positions_roundtrip(spark, documents, doc_index):
    """Decoded position chains == token ordinals from direct tokenization."""
    from neural_search_spark.index.builder import decode_term_positions

    term = "spark"
    rows = doc_index.postings_positional().where(F.col("term") == term).collect()
    dm = {r["nss_doc_id"]: r["doc_id"]
          for r in doc_index.docmap().select("nss_doc_id", "doc_id").collect()}
    got: dict[int, list[int]] = {}
    from neural_search_spark.functions.codecs import varint_decode
    from neural_search_spark.index.builder import decode_term_deltas

    for r in rows:
        deltas = decode_term_deltas(r["docs"], r["block_ns"], r["block_doc_off"],
                                    int(r["pack_bits"]), r["exc_pos"], r["exc_high"])
        ns = np.asarray(r["block_ns"], dtype=np.int64)
        bids = np.asarray(r["block_ids"], dtype=np.int64)
        starts = np.r_[0, np.cumsum(ns)[:-1]]
        cs = np.cumsum(deltas)
        carry = np.repeat(cs[starts] - deltas[starts], ns)
        local = np.repeat(bids * 64, ns) + cs - carry
        tfs = varint_decode(r["tfs"]).astype(np.int64)
        pos = decode_term_positions(r["positions"], tfs)
        off = np.r_[0, np.cumsum(tfs)]
        seg = int(r["segment_id"])
        for i, lid in enumerate(local):
            gid = (seg << 40) + int(lid)
            got[dm[gid]] = pos[off[i]:off[i + 1]].tolist()

    exp_rows = tokenized(documents).collect()
    checked = 0
    for r in exp_rows:
        ordinals = [i for i, t in enumerate(r["toks"]) if t == term]
        if ordinals:
            assert got[r["doc_id"]] == ordinals
            checked += 1
        else:
            assert r["doc_id"] not in got
    assert checked > 0


@pytest.mark.parametrize("phrase", PHRASES, ids=["two-term", "dup-term", "no-match"])
def test_indexed_phrase_matches_exhaustive(spark, documents, doc_index, phrase):
    got = under_both(lambda: {(r["doc_id"], r["score"])
                              for r in bm25_phrase_indexed(doc_index, phrase).collect()})
    got = {(d, round(s, 9)) for d, s in got}
    exp = {(r["doc_id"], round(r["score"], 9))
           for r in bm25_phrase(documents, phrase, round_to=None).collect()}
    assert got == exp


def test_indexed_phrase_topk_cut(spark, documents, doc_index):
    top = bm25_phrase_indexed(doc_index, ["spark", "window"], k=5).collect()
    assert len(top) == 5
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_phrase_requires_positions(spark, documents, tmp_path):
    d = str(tmp_path / "idx_nopos")
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=64,
                store_positions=False)
    r = IndexReader(spark, d)
    with pytest.raises(ValueError, match="store_positions"):
        bm25_phrase_indexed(r, ["spark", "window"])


def test_phrase_on_merged_index_identical(spark, documents, doc_index, tmp_path):
    from neural_search_spark.index.merge import merge_segments

    out = str(tmp_path / "idx_merged")
    merge_segments(spark, doc_index.index_dir, out, factor=2)
    rm = IndexReader(spark, out)
    base = {(r["doc_id"], round(r["score"], 9))
            for r in bm25_phrase_indexed(doc_index, ["spark", "window"]).collect()}
    merged = {(r["doc_id"], round(r["score"], 9))
              for r in bm25_phrase_indexed(rm, ["spark", "window"]).collect()}
    assert merged == base


def test_phrase_on_live_appended_index_identical(spark, documents, tmp_path):
    """Streaming micro-batch append writes the SAME positional format:
    phrase scores over (base + appended segment) == one-shot build."""
    from neural_search_spark.index.live import append_segment

    base_docs = documents.where("doc_id % 3 != 0")
    tail_docs = documents.where("doc_id % 3 = 0")
    live_dir = str(tmp_path / "idx_live")
    build_index(spark, base_docs, live_dir, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=64)
    append_segment(spark, tail_docs, live_dir, segment_id=2)

    ref_dir = str(tmp_path / "idx_ref")
    build_index(spark, documents, ref_dir, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=64)
    live, ref = IndexReader(spark, live_dir), IndexReader(spark, ref_dir)
    got = {(r["doc_id"], round(r["score"], 9))
           for r in bm25_phrase_indexed(live, ["spark", "window"]).collect()}
    exp = {(r["doc_id"], round(r["score"], 9))
           for r in bm25_phrase_indexed(ref, ["spark", "window"]).collect()}
    # note: live/ref segment *assignment* differs (append vs hash), but
    # phrase matching + BM25 stats are segment-invariant
    assert got == exp


def test_embedding_lsh_recall(spark):
    """The ADVICE-r02 check: LSH pair recall vs the exact all-pairs
    reference set, quantifying what the mirrored oracle cannot see."""
    from neural_search_spark.pipeline.dedup import recall_vs_exact_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    row = recall_vs_exact_pairs(docs, threshold=0.98, dim=16).collect()[0]
    assert row["exact_pairs"] > 0
    assert row["recall"] >= 0.95


def test_multi_query_segment_groups_bit_identical(spark, documents, doc_index):
    """Coarse pmod(segment_id, G) grouping (one Arrow batch per worker)
    must be bit-identical to per-segment grouping — every (query,
    segment) sub-result is computed independently either way."""
    from neural_search_spark.query.wand import bm25_topk_indexed_multi

    batch = [(["spark", "window"], "or"), (["spark", "merge"], "and"),
             (["the"], "or")]
    base = sorted(
        (r["query_idx"], r["doc_id"], r["score"])
        for r in bm25_topk_indexed_multi(doc_index, batch, k=5).collect()
    )
    for g in (1, 2, 3):
        got = sorted(
            (r["query_idx"], r["doc_id"], r["score"])
            for r in bm25_topk_indexed_multi(
                doc_index, batch, k=5, segment_groups=g
            ).collect()
        )
        assert got == base, g


def test_phrase_slop_indexed_matches_exhaustive(spark, documents, doc_index):
    """Indexed sloppy phrase (greedy minimal-window chain over the
    positional postings) must equal the exhaustive position-join
    semantics for several slops and phrases."""
    from neural_search_spark.query.exhaustive import bm25_phrase_sloppy

    for phrase in (["spark", "window"], ["the", "spark"]):
        for slop in (1, 2, 4):
            idx = {
                (r["doc_id"], round(r["score"], 4))
                for r in bm25_phrase_indexed(doc_index, phrase, slop=slop).collect()
            }
            exh = {
                (r["doc_id"], r["score"])
                for r in bm25_phrase_sloppy(documents, phrase, slop=slop).collect()
            }
            assert idx == exh, (phrase, slop)


def test_phrase_slop_zero_equals_contiguous(spark, documents, doc_index):
    from neural_search_spark.query.exhaustive import bm25_phrase_sloppy

    phrase = ["spark", "window"]
    contiguous = {
        (r["doc_id"], r["score"]) for r in bm25_phrase(documents, phrase).collect()
    }
    sloppy0 = {
        (r["doc_id"], r["score"])
        for r in bm25_phrase_sloppy(documents, phrase, slop=0).collect()
    }
    idx0 = {
        (r["doc_id"], round(r["score"], 4))
        for r in bm25_phrase_indexed(doc_index, phrase, slop=0).collect()
    }
    assert sloppy0 == contiguous
    assert idx0 == contiguous


def test_phrase_slop_monotone(spark, doc_index):
    """A larger slop budget can only widen the match set."""
    phrase = ["spark", "window"]
    prev: set | None = None
    for slop in (0, 1, 3, 8):
        cur = {r["doc_id"]
               for r in bm25_phrase_indexed(doc_index, phrase, slop=slop).collect()}
        if prev is not None:
            assert prev <= cur, slop
        prev = cur


@pytest.fixture(scope="module")
def embeddings(spark):
    import os
    from tests.conftest import SF_SMALL

    return spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))


def test_pq_codes_shape_and_determinism(spark, embeddings):
    from neural_search_spark.pipeline.quantization import pq_codes_wide, pq_encode

    codes = pq_codes_wide(pq_encode(embeddings, m=8)).collect()
    assert all(len(r["codes"]) == 8 for r in codes)
    assert all(0 <= c < 8 for r in codes for c in r["codes"])
    again = pq_codes_wide(pq_encode(embeddings, m=8)).collect()
    assert sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in codes))) == \
        sorted(map(tuple, ((r["vec_id"], tuple(r["codes"])) for r in again)))


def test_pq_rerank_recall_floor(spark, embeddings):
    """The recall-row config (32 fixed codewords, exact refine of the
    ADC top-100) must keep >= 0.85 of the exact top-10; plain ADC with
    the tiny 8-codeword parity codebook is allowed to be coarse but the
    refine stage must strictly improve on it."""
    from __spark_entry__ import PQ_RECALL_CODEBOOK_IDS, PQ_RERANK
    from neural_search_spark.pipeline.quantization import pq_recall_frame

    row = pq_recall_frame(
        embeddings, 0, k=10, codebook_ids=PQ_RECALL_CODEBOOK_IDS, rerank=PQ_RERANK
    ).collect()[0]
    assert row["exact_k"] == 10
    assert row["recall"] >= 0.85, row
    plain = pq_recall_frame(embeddings, 0, k=10).collect()[0]
    assert row["recall"] > plain["recall"], (row, plain)


def test_trained_pq_recall(spark, embeddings):
    """Lloyd-trained codebooks + refine must reach >= 0.9 recall and be
    deterministic across runs (no RNG anywhere)."""
    from __spark_entry__ import PQ_RECALL_CODEBOOK_IDS
    from neural_search_spark.pipeline.quantization import (
        pq_recall_frame,
        train_pq_codebooks,
    )

    cb = train_pq_codebooks(
        embeddings, m=8, ksub=32, iters=2, seed_ids=PQ_RECALL_CODEBOOK_IDS
    )
    row = pq_recall_frame(embeddings, 0, k=10, codebooks=cb, rerank=50).collect()[0]
    assert row["recall"] >= 0.9, row
    cb2 = train_pq_codebooks(
        embeddings, m=8, ksub=32, iters=2, seed_ids=PQ_RECALL_CODEBOOK_IDS
    )
    a = sorted((r["sub"], r["code"], tuple(r["cw"])) for r in cb.collect())
    b = sorted((r["sub"], r["code"], tuple(r["cw"])) for r in cb2.collect())
    assert a == b


# ---------------------------------------------------------------------------
# Graph-ANN (HNSW-class, per-segment NSW) — pipeline/graph_ann.py
# ---------------------------------------------------------------------------


def test_hnsw_topk_matches_exact(spark, embeddings):
    """At the gate parameters the per-segment graphs must cover the true
    neighbors, making the graph path bit-identical to exact brute force
    (this is what the driver gate's independent exact oracle checks)."""
    from neural_search_spark.pipeline.graph_ann import hnsw_topk
    from neural_search_spark.pipeline.similarity import cosine_topk

    exact = [tuple(r) for r in cosine_topk(embeddings, 0, k=10).collect()]
    approx = [tuple(r) for r in hnsw_topk(embeddings, 0, k=10).collect()]
    assert exact == approx


def test_hnsw_recall_floor(spark, embeddings):
    """Measured recall@10 over a query set: >= 0.95 at the default
    ef=48, and still >= 0.8 at a deliberately tight ef=16 (shows the
    beam is a real approximation knob, not accidental full coverage)."""
    from neural_search_spark.pipeline.graph_ann import hnsw_recall_at_k

    qids = [0, 7, 42, 123, 260]
    assert hnsw_recall_at_k(embeddings, qids, k=10) >= 0.95
    assert hnsw_recall_at_k(embeddings, qids, k=10, ef=16) >= 0.8


def test_hnsw_graph_deterministic_across_parallelism(spark, embeddings):
    """The stored-graph frame (segment, vec_id, neighbors) must be
    bit-identical regardless of shuffle partitioning — no RNG, fixed
    insertion order/tie-breaks (the same invariant the postings index
    holds for its bytes)."""
    from neural_search_spark.pipeline.graph_ann import hnsw_build_frame

    def rows(df):
        return [
            (r["segment"], r["vec_id"], tuple(r["neighbors"]))
            for r in df.orderBy("segment", "vec_id").collect()
        ]

    g1 = rows(hnsw_build_frame(embeddings))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        g2 = rows(hnsw_build_frame(embeddings.repartition(13)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert g1 == g2


def test_hnsw_graph_degree_bounds(spark, embeddings):
    """Every node's stored neighbor list respects the 2*M cap and stays
    inside its own segment (graphs never cross segment boundaries)."""
    from neural_search_spark.pipeline.graph_ann import DEFAULT_M, hnsw_build_frame

    rows = hnsw_build_frame(embeddings).collect()
    n_segments = 4
    for r in rows:
        assert len(r["neighbors"]) <= 2 * DEFAULT_M
        assert all(n % n_segments == r["segment"] for n in r["neighbors"])


# --- hand-computed phrase fixtures (third-source, test_round2 style) ---
# corpus: dl 4 / 2 / 3 / 2, avgdl 2.75, N 4 — all dls quantize exactly.
# idf(red, df=3) = ln(1 + 1.5/3.5); idf(fox, df=4) = ln(1 + 0.5/4.5);
# s(tf, dl) = idf * tf / (tf + 1.2*(0.25 + 0.75*dl/2.75)); a phrase
# scores as the OR-sum over its unique terms (positions gate MATCHING,
# not scoring). Constants below are plain-python math on those
# formulas — independent of the shared SQL builders and of the Arrow
# kernel, so a shared-formula bug in engine+oracle cannot pass these.
PHRASE_TINY = [
    (1, "red fox jumps red"),  # "red fox" contiguous at position 0
    (2, "fox red"),            # both terms, wrong ORDER: no slop matches
    (3, "red slow fox"),       # ordered, gap 1: matches slop>=1 only
    (4, "blue fox"),           # missing "red": conjunctive prefilter drops
]
PHRASE_D1 = 0.23803570049823888  # idf_red*2/(2+1.2*(0.25+0.75*4/2.75)) + idf_fox*1/(1+…)
PHRASE_D3 = 0.2024856595841492


@pytest.fixture(scope="module")
def phrase_tiny_docs(spark):
    return spark.createDataFrame(PHRASE_TINY, ["doc_id", "text"])


def _by_doc(rows):
    return {r["doc_id"]: r["score"] for r in rows}


def test_phrase_hand_fixture_exhaustive(phrase_tiny_docs):
    got = _by_doc(
        bm25_phrase(phrase_tiny_docs, ["red", "fox"], round_to=None).collect()
    )
    assert set(got) == {1}
    assert got[1] == pytest.approx(PHRASE_D1, abs=1e-12)


def test_phrase_slop_hand_fixture_exhaustive(phrase_tiny_docs):
    from neural_search_spark.query.exhaustive import bm25_phrase_sloppy

    got = _by_doc(
        bm25_phrase_sloppy(
            phrase_tiny_docs, ["red", "fox"], slop=1, round_to=None
        ).collect()
    )
    # doc 2 has both terms adjacently but in the WRONG order — the
    # ordered-match rule (in-order Lucene slop) must exclude it at any slop
    assert set(got) == {1, 3}
    assert got[1] == pytest.approx(PHRASE_D1, abs=1e-12)
    assert got[3] == pytest.approx(PHRASE_D3, abs=1e-12)


def test_phrase_hand_fixture_indexed(phrase_tiny_docs, tmp_path):
    spark = phrase_tiny_docs.sparkSession
    idx = str(tmp_path / "tiny_idx_pos")
    build_index(spark, phrase_tiny_docs, idx, key_cols=["doc_id"],
                text_col="text", tokenizer="simple", num_segments=2,
                range_block=4, store_positions=True)
    reader = IndexReader(spark, idx)
    got0 = _by_doc(
        bm25_phrase_indexed(reader, ["red", "fox"])
        .select("doc_id", "score").collect()
    )
    assert set(got0) == {1}
    assert got0[1] == pytest.approx(PHRASE_D1, abs=1e-12)
    got1 = _by_doc(
        bm25_phrase_indexed(reader, ["red", "fox"], slop=1)
        .select("doc_id", "score").collect()
    )
    assert set(got1) == {1, 3}
    assert got1[1] == pytest.approx(PHRASE_D1, abs=1e-12)
    assert got1[3] == pytest.approx(PHRASE_D3, abs=1e-12)
