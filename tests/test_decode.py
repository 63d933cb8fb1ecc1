"""The batch postings decode (``builder.decode_rows``): every row of a
frame decoded in one pass must equal the per-row decode of each row —
doc ids (``_row_ids``), tfs, norm bytes and positions
(``decode_term_positions``) — for both doc codecs, with and without
positions; and a merge with ``factor=1`` must write the input's
postings back row for row."""

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark.functions.codecs import varint_decode
from neural_search_spark.index.builder import (
    POSTINGS_SCHEMA,
    build_index,
    chains_absolute,
    decode_rows,
    decode_term_deltas,
    decode_term_positions,
    postings_rows_from_flat,
)

CODECS = ("varint", "pfor")


def _row_ids(r, range_block: int) -> np.ndarray:
    """The per-row reference decode: one postings row -> its absolute
    LOCAL doc ids, each block's delta chain starting from the block's
    range base."""
    ns = np.asarray(r.block_ns, dtype=np.int64)
    deltas = decode_term_deltas(r.docs, ns, r.block_doc_off, int(r.pack_bits),
                                r.exc_pos, r.exc_high)
    base = np.asarray(r.block_ids, dtype=np.int64) * range_block
    return np.repeat(base, ns) + chains_absolute(deltas, ns)


def _postings(index_dir: str) -> pd.DataFrame:
    """Every postings row of an index, sorted by (segment_id, term)."""
    pdf = ds.dataset(os.path.join(index_dir, "postings"), partitioning="hive").to_table().to_pandas()
    pdf["segment_id"] = pdf["segment_id"].astype(np.int32)
    return (pdf[POSTINGS_SCHEMA.names].sort_values(["segment_id", "term"], kind="mergesort")
            .reset_index(drop=True))


def _assert_matches_per_row(pdf: pd.DataFrame, range_block: int) -> None:
    d = decode_rows(pdf, range_block, positions=True)
    assert d.offsets[0] == 0 and d.offsets[-1] == len(d.ids)
    assert (np.diff(d.offsets) >= 0).all()
    assert np.array_equal(d.row, np.repeat(np.arange(len(pdf)), np.diff(d.offsets)))
    pos_at = 0
    for i, r in enumerate(pdf.itertuples()):
        a, b = d.offsets[i], d.offsets[i + 1]
        tfs = varint_decode(r.tfs).astype(np.int64)
        assert np.array_equal(d.ids[a:b], _row_ids(r, range_block))
        assert np.array_equal(d.tfs[a:b], tfs)
        assert np.array_equal(d.norms[a:b], np.frombuffer(r.norms, dtype=np.uint8))
        pos = decode_term_positions(r.positions, tfs)
        assert np.array_equal(d.positions[pos_at:pos_at + len(pos)], pos)
        pos_at += len(pos)
    assert pos_at == len(d.positions)


@pytest.fixture(scope="module")
def codec_indexes(spark, tmp_path_factory):
    from neural_search_spark.corpus import corpus_df

    corpus = corpus_df(spark, 200, partitions=2)
    dirs = {}
    for codec in CODECS:
        d = str(tmp_path_factory.mktemp(f"decode_{codec}"))
        build_index(spark, corpus, d, key_cols=["repo", "path", "commit"], text_col="content",
                    tokenizer="code", num_segments=3, range_block=16, codec=codec,
                    store_positions=True)
        dirs[codec] = d
    return dirs


@pytest.mark.parametrize("codec", CODECS)
def test_decode_rows_equals_per_row_decode(codec_indexes, codec):
    """Over every postings row of a positional index, in one frame."""
    pdf = _postings(codec_indexes[codec])
    assert (pdf["pack_bits"] >= 0).all() if codec == "pfor" else (pdf["pack_bits"] < 0).all()
    _assert_matches_per_row(pdf, 16)


def test_decode_rows_without_optional_columns(codec_indexes):
    """A frame of only the doc-id columns decodes ids, and no tfs/norms."""
    pdf = _postings(codec_indexes["varint"])
    full = decode_rows(pdf, 16)
    ids_only = decode_rows(pdf.drop(columns=["tfs", "norms"]), 16)
    assert np.array_equal(ids_only.ids, full.ids)
    assert ids_only.tfs is None and ids_only.norms is None and ids_only.positions is None
    empty = decode_rows(pdf.iloc[:0], 16, positions=True)
    assert len(empty.ids) == len(empty.tfs) == len(empty.positions) == 0
    assert list(empty.offsets) == [0]


@settings(max_examples=25, deadline=None)
@given(data=st.data(), range_block=st.sampled_from([1, 4, 16, 64]),
       codec=st.sampled_from(CODECS))
def test_decode_rows_property(data, range_block, codec):
    """Random block layouts: rows encoded by the build's own encoder,
    with or without stored positions (as an index stores them or not),
    decode to the generated postings, and equal the per-row decode."""
    n_terms = data.draw(st.integers(1, 5))
    stored = data.draw(st.booleans())
    parts, truth = [], []
    for t in range(n_terms):
        docs = np.array(sorted(data.draw(st.sets(st.integers(0, 300), min_size=1, max_size=40))),
                        dtype=np.int64)
        tfs = np.array(data.draw(st.lists(st.integers(1, 4), min_size=len(docs), max_size=len(docs))),
                       dtype=np.int64)
        norms = np.array(data.draw(st.lists(st.integers(0, 255), min_size=len(docs),
                                            max_size=len(docs))), dtype=np.uint8)
        pos = (np.concatenate([np.sort(np.random.default_rng(t * 1000 + j).choice(500, tf, replace=False))
                               for j, tf in enumerate(tfs)]) if stored else None)
        parts.append(postings_rows_from_flat(0, np.full(len(docs), f"t{t}", dtype=object), docs, tfs,
                                             norms, range_block, 0, codec, pos))
        truth.append((docs, tfs, norms, pos if stored else np.empty(0, dtype=np.int64)))
    pdf = pd.concat(parts, ignore_index=True)
    _assert_matches_per_row(pdf, range_block)
    d = decode_rows(pdf, range_block, positions=True)
    assert np.array_equal(d.ids, np.concatenate([x[0] for x in truth]))
    assert np.array_equal(d.tfs, np.concatenate([x[1] for x in truth]))
    assert np.array_equal(d.norms, np.concatenate([x[2] for x in truth]))
    assert np.array_equal(d.positions, np.concatenate([x[3] for x in truth]))


@pytest.mark.parametrize("codec", CODECS)
def test_merge_factor_one_reproduces_postings(spark, codec_indexes, codec, tmp_path):
    """``factor=1`` re-bases nothing, so the merge's decode + re-encode
    must write the input's postings rows back unchanged."""
    from neural_search_spark.index.merge import merge_segments

    out = str(tmp_path / "merged")
    merge_segments(spark, codec_indexes[codec], out, factor=1)
    a, b = _postings(codec_indexes[codec]), _postings(out)
    assert len(a) == len(b) > 0
    assert list(a.columns) == list(b.columns)
    for col in a.columns:
        for x, y in zip(a[col].tolist(), b[col].tolist()):
            if isinstance(x, np.ndarray):
                assert np.array_equal(x, y), col
            else:
                assert x == y, col
