"""PFor doc-delta codec: roundtrip properties, cross-codec result
identity, and compression win over varint on head-term postings."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark.functions.codecs import (
    choose_pfor_width,
    pfor_decode_group,
    pfor_encode_groups,
)
from neural_search_spark.index.builder import build_index
from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

QUERIES = [(["def", "return"], "or"), (["import", "class", "lambda"], "or"),
           (["def", "import"], "and")]


@settings(max_examples=40, deadline=None)
@given(
    ns=st.lists(st.integers(1, 50), min_size=1, max_size=10),
    bexp=st.integers(1, 30),
    data=st.data(),
)
def test_pfor_roundtrip_property(ns, bexp, data):
    ns = np.asarray(ns, dtype=np.int64)
    n = int(ns.sum())
    vals = np.asarray(
        data.draw(st.lists(st.integers(0, 2**bexp - 1), min_size=n, max_size=n)),
        dtype=np.uint64,
    )
    starts = np.r_[0, np.cumsum(ns)[:-1]]
    b = choose_pfor_width(vals)
    blob, offs, ep, eh = pfor_encode_groups(vals, starts, ns, b)
    low = np.concatenate(
        [pfor_decode_group(blob[offs[j]:offs[j] + (int(ns[j]) * b + 7) // 8], int(ns[j]), b)
         for j in range(len(ns))]
    )
    low[np.asarray(ep, dtype=np.int64)] |= np.asarray(eh, dtype=np.uint64) << np.uint64(b)
    assert (low == vals).all()


@pytest.fixture(scope="module")
def codec_pair(spark, tmp_path_factory):
    from neural_search_spark.corpus import corpus_df

    corpus = corpus_df(spark, 600, partitions=4).cache()
    dirs = {}
    for codec in ("varint", "pfor"):
        d = str(tmp_path_factory.mktemp(f"idx_{codec}"))
        build_index(spark, corpus, d, key_cols=["repo", "path", "commit"],
                    text_col="content", tokenizer="code", num_segments=6,
                    range_block=64, codec=codec)
        dirs[codec] = d
    return dirs


def test_pfor_results_identical_to_varint(spark, codec_pair):
    rv = IndexReader(spark, codec_pair["varint"])
    rp = IndexReader(spark, codec_pair["pfor"])
    for terms, mode in QUERIES:
        a = bm25_topk_indexed(rv, terms, k=10, mode=mode).collect()
        b = bm25_topk_indexed(rp, terms, k=10, mode=mode).collect()
        assert [(r.repo, r.path, r.score) for r in a] == [(r.repo, r.path, r.score) for r in b]


def test_pfor_compresses_doc_stream(spark, codec_pair):
    """Head-term deltas are 1-2 bits; varint spends >=8. The pfor docs
    stream must be materially smaller."""
    from pyspark.sql import functions as F

    sizes = {}
    for codec, d in codec_pair.items():
        sizes[codec] = (
            spark.read.parquet(d + "/postings")
            .agg(F.sum(F.length("docs"))).collect()[0][0]
        )
    assert sizes["pfor"] < 0.8 * sizes["varint"], sizes


def test_pfor_merge_preserves_results(spark, codec_pair, tmp_path_factory):
    from neural_search_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("idx_pfor_merged"))
    merge_segments(spark, codec_pair["pfor"], out, factor=3)
    rp = IndexReader(spark, codec_pair["pfor"])
    rm = IndexReader(spark, out)
    for terms, mode in QUERIES:
        a = bm25_topk_indexed(rp, terms, k=10, mode=mode).collect()
        b = bm25_topk_indexed(rm, terms, k=10, mode=mode).collect()
        assert [(r.repo, r.path, r.score) for r in a] == [(r.repo, r.path, r.score) for r in b]
