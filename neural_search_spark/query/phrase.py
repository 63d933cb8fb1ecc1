"""Indexed match_phrase — position-intersection over positional postings.

Lucene's PhraseQuery (which the reference's ``match_phrase`` queries in
its *QueryIT tests compile to) walks the terms' positional postings and
keeps docs where the terms occur at consecutive positions; scoring is
plain BM25 over the phrase's term statistics — the positional constraint
gates MATCHING, not scoring. Same split here, re-expressed for the
segmented index (index/builder.py v4 format):

* per segment, the unique phrase terms' postings decode once (the bulk
  strategy of query/wand.py) and a conjunctive doc set is formed — a doc
  missing any phrase term cannot match, so this is the cheap prefilter.
* POSITIONS decode only for blocks that contain a conjunctive candidate
  (``block_pos_off`` random access) — phrase-verification I/O scales
  with the candidate set, not with the terms' full posting lists.
* the consecutive-position check is a vectorized ordinal-offset
  intersection: encode (doc, pos - ordinal) into one int64 key per
  token occurrence and fold ``np.intersect1d`` across the phrase's
  ordinals — surviving keys are phrase start positions. Duplicate terms
  in the phrase (e.g. "the the") need no special casing: each ordinal
  uses its own offset against the same position chain.
* scores are the same OR-sum of per-term BM25 contributions the
  exhaustive ``bm25_phrase`` (query/exhaustive.py) computes, so the two
  paths are score- and rank-identical (pinned in tests/test_round3.py).

Executors (query/wand.py's rule, ``wand.on_driver``): when the phrase's
unique terms hold at most ``wand.DRIVER_MAX_POSTINGS`` postings, in at
most ``wand.DRIVER_MAX_READ_BYTES`` postings file bytes, the kernel
runs segment by segment in the calling process over the reader's
pyarrow snapshot (``IndexReader.read_terms``) and the answer is a
local frame (0 Spark jobs); above either, it runs per segment in
``applyInPandas`` with a broadcast docmap join. Same kernel, same rows.

Scale shape: the only shuffle key is segment_id (uniform); per-query
I/O is the phrase terms' postings rows (term/bucket-pruned scan) and
the candidate blocks' position bytes; per-segment output is the
matching docs only. No full-corpus scan — the fix for round 2's "a
phrase query is a full-corpus scan at 100x" weakness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.norms import byte4_to_int
from ..index.builder import SEG_SHIFT, decode_rows
from .bm25 import B, K1, idf_by_term, tf_norm
from .wand import BULK_COLS, IndexReader, _driver_answer, _spark_cut, on_driver

PHRASE_COLS = [*BULK_COLS, "block_pos_off", "positions"]

# key = doc * 2^POS_SHIFT + position: positions must fit the low bits.
# 2^24 = 16M tokens per doc — far beyond any real document; asserted.
POS_SHIFT = 24

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("nss_doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def term_streams(pdf: pd.DataFrame, range_block: int) -> dict[str, tuple]:
    """Positional-postings rows of one segment -> {term: (row, doc ids,
    tfs, quantized dls as int64, per-block posting counts)}: one batch
    decode (``decode_rows``) of every row, sliced per term. The row is
    kept for :func:`candidate_position_keys`. For every positional
    kernel (phrase and span)."""
    d = decode_rows(pdf, range_block)
    dlq = byte4_to_int(d.norms)
    o = d.offsets
    return {r.term: (r, d.ids[o[i]:o[i + 1]], d.tfs[o[i]:o[i + 1]], dlq[o[i]:o[i + 1]],
                     np.asarray(r.block_ns, dtype=np.int64))
            for i, r in enumerate(pdf.itertuples())}


def candidate_position_keys(r, ids, tfv, ns, cand: np.ndarray) -> np.ndarray:
    """Sorted (doc << POS_SHIFT | pos) int64 keys for this term's
    occurrences in candidate docs — positions decode for candidate
    blocks only (block_pos_off random access), so verification I/O
    scales with the candidate set. Shared by the phrase and span
    kernels."""
    from ..index.builder import chains_absolute, decode_block_positions

    in_cand = np.isin(ids, cand)
    if not in_cand.any():
        return np.empty(0, dtype=np.int64)
    noff = np.r_[0, np.cumsum(ns)]
    post_block = np.repeat(np.arange(len(ns), dtype=np.int64), ns)
    needed = np.unique(post_block[in_cand])
    pos_off = np.asarray(r.block_pos_off, dtype=np.int64)
    parts = []
    for j in needed:
        p0, p1 = int(noff[j]), int(noff[j + 1])
        d = decode_block_positions(r.positions, int(j), pos_off, len(r.positions))
        pos_abs = chains_absolute(d, tfv[p0:p1])
        # explicit raise (not assert: stripped under python -O) —
        # a >=2^24-token doc would silently corrupt (doc<<24|pos)
        if pos_abs.size and int(pos_abs.max()) >= (1 << POS_SHIFT):
            raise ValueError(
                f"document position {int(pos_abs.max())} exceeds the "
                f"2^{POS_SHIFT} positional-key limit; re-index with "
                "chunking for >16M-token documents")
        doc_rep = np.repeat(ids[p0:p1], tfv[p0:p1])
        keep = np.repeat(in_cand[p0:p1], tfv[p0:p1])
        parts.append(((doc_rep << POS_SHIFT) + pos_abs)[keep])
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def _phrase_kernel(
    phrase_terms: list[str],
    idf_by_term: dict[str, float],
    avgdl: float,
    range_block: int,
    dtype: str,
    k1: float = K1,
    b: float = B,
    slop: int = 0,
):
    """Per-segment kernel: conjunctive prefilter -> candidate-block
    position decode -> ordinal-offset intersection (slop=0) or greedy
    minimal-window chain (slop>0) -> BM25 score."""
    ft = np.float32 if dtype == "float32" else np.float64
    uniq_terms = sorted(set(phrase_terms))
    n_uniq = len(uniq_terms)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"segment_id": pd.Series(dtype=np.int32),
             "nss_doc_id": pd.Series(dtype=np.int64),
             "score": pd.Series(dtype=np.float64)}
        )
        if len(pdf) < n_uniq:  # a term absent from this segment -> no match
            return empty
        pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        seg = int(pdf["segment_id"].iloc[0])

        # --- batch decode doc/tf streams + conjunctive candidate set ---
        per_term: dict[str, tuple] = {}
        size = 0
        for t, (r, ids, tfv, dlq_int, ns) in term_streams(pdf, range_block).items():
            tff = tfv.astype(np.float64).astype(ft)
            contrib = ft(idf_by_term[t]) * tf_norm(tff, dlq_int.astype(ft), avgdl, k1, b, ft)
            per_term[t] = (ids, tfv, contrib, ns, r)
            if len(ids):
                size = max(size, int(ids[-1]) + 1)
        if size == 0:
            return empty
        acc = np.zeros(size, dtype=ft)
        cnt = np.zeros(size, dtype=np.int32)
        for t in uniq_terms:  # sorted-term order -> deterministic sums
            ids, contrib = per_term[t][0], per_term[t][2]
            acc[ids] += contrib
            cnt[ids] += 1
        cand = np.flatnonzero(cnt == n_uniq).astype(np.int64)
        if len(cand) == 0:
            return empty

        # --- positions for candidate postings, candidate blocks only ---
        pos_keys: dict[str, np.ndarray] = {}
        for t in uniq_terms:
            ids, tfv, _, ns, r = per_term[t]
            pos_keys[t] = candidate_position_keys(r, ids, tfv, ns, cand)

        if slop == 0:
            # --- ordinal-offset intersection ---------------------------
            survivors: np.ndarray | None = None
            for i, t in enumerate(phrase_terms):
                k_i = pos_keys[t] - i  # phrase-start key each occurrence implies
                if i == 0:
                    # drop occurrences whose position < ordinal (cannot start)
                    survivors = k_i
                else:
                    survivors = np.intersect1d(survivors, k_i, assume_unique=True)
                if len(survivors) == 0:
                    return empty
            docs = np.unique(survivors >> POS_SHIFT)
        else:
            # --- greedy minimal-window ordered chain (slop > 0) --------
            # For each occurrence of ordinal 0 (a chain start), walk the
            # remaining ordinals taking the EARLIEST occurrence strictly
            # after the current key — earliest-next minimizes the chain's
            # final position for that start, hence its span. A doc
            # matches iff some start yields an in-doc chain with
            #   span_gap = (p_last - p_first) - (k-1) <= slop
            # (for strictly increasing positions the gap sum telescopes
            # to exactly that). slop=0 would reduce to the contiguous
            # intersection above. All steps are vectorized searchsorted
            # over the (doc << POS_SHIFT | pos) key arrays, which are
            # sorted by construction (blocks ascend, docs ascend within
            # block, positions ascend within doc).
            start = pos_keys[phrase_terms[0]]
            cur = start.copy()
            ok = np.ones(len(cur), dtype=bool)
            for t in phrase_terms[1:]:
                arr = pos_keys[t]
                idx = np.searchsorted(arr, cur, side="right")
                ok &= idx < len(arr)
                idx = np.minimum(idx, len(arr) - 1)
                cur = arr[idx]
            same_doc = (cur >> POS_SHIFT) == (start >> POS_SHIFT)
            gap = (cur - start) - np.int64(len(phrase_terms) - 1)
            hit = ok & same_doc & (gap <= slop)
            if not hit.any():
                return empty
            docs = np.unique(start[hit] >> POS_SHIFT)
        gid = (np.int64(seg) << SEG_SHIFT) + docs
        return pd.DataFrame(
            {
                "segment_id": np.full(len(docs), seg, dtype=np.int32),
                "nss_doc_id": gid,
                "score": acc[docs].astype(np.float64),
            }
        )

    return kernel


def bm25_phrase_indexed(
    reader: IndexReader,
    phrase_terms: list[str],
    dtype: str = "float64",
    k: int | None = None,
    slop: int = 0,
) -> DataFrame:
    """All docs whose token stream contains ``phrase_terms`` contiguously
    (``slop=0``) or as an ordered proximity match (``slop>0``: some
    strictly-increasing position assignment with total gap
    ``p_last - p_first - (len-1) <= slop`` — Lucene PhraseQuery's slop
    budget restricted to in-order matches), BM25-scored over the
    phrase's unique terms (global, unfiltered stats — Lucene
    semantics). Returns (nss_doc_id, <key_cols>, score);
    ``k`` adds a deterministic top-k cut (score desc, key asc) and its
    1-based ``rank`` column."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    if not bool(reader.meta.get("store_positions", False)):
        raise ValueError(
            "index was built with store_positions=False — phrase queries "
            "need positional postings (rebuild with store_positions=True)"
        )
    uniq = sorted(set(phrase_terms))
    N, avgdl = reader.global_stats()
    dfs = reader.term_dfs(uniq)
    key_cols = reader.meta["key_cols"]
    if N == 0 or any(t not in dfs for t in uniq):
        # a phrase term absent from the index: an answer the optimizer
        # proves empty (no Spark job), with the usual columns
        per_seg = reader.spark.createDataFrame([], _RESULT_SCHEMA).limit(0)
    else:
        ftype = np.float32 if dtype == "float32" else np.float64
        kernel = _phrase_kernel(
            list(phrase_terms), idf_by_term(N, dfs, uniq, ftype), avgdl,
            int(reader.meta["range_block"]), dtype, slop=slop,
        )
        if on_driver(reader, dfs, uniq):
            rows = reader.read_terms(uniq, PHRASE_COLS)
            hits = pd.concat([kernel(seg) for _, seg in rows.groupby("segment_id", sort=True)],
                             ignore_index=True)
            cols = ["nss_doc_id", *key_cols, "score", *(["rank"] if k is not None else [])]
            return _driver_answer(reader, hits, cols, k)
        per_seg = (
            reader.scan_terms(uniq, PHRASE_COLS, positional=True)
            .groupBy("segment_id")
            .applyInPandas(kernel, schema=_RESULT_SCHEMA)
        )
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    out = dm.join(F.broadcast(per_seg.drop("segment_id")), "nss_doc_id")
    if k is not None:
        out = _spark_cut(out, key_cols, k)
    return out
