"""Block-max pruned BM25 top-k over the segmented index.

The role of the reference's block-max machinery
(query/HybridScoreBlockBoundaryPropagator.java:25-99 — sort scorers by
max score, advanceShallow to the next block boundary, drop clauses whose
max can't beat the current min-competitive score) re-expressed for a
vectorized executor:

* postings blocks are **doc-range aligned across terms** (index/builder),
  so a per-range upper bound is just the sum of the query terms'
  per-block bounds: ub(range) = Σ_t idf_t · bound(max_tf_t, min_dl_q_t).
* each segment's kernel sorts ranges by ub desc and scores them with a
  dense numpy accumulator (np.add.at over local offsets); once k results
  are held and the next range's ub < θ (the current k-th score), every
  remaining range is provably non-competitive — the whole tail is
  skipped. This is exact top-k (same guarantee as Block-Max WAND,
  Ding & Suel 2011), not an approximation.
* per-segment top-k partial results are tiny (k rows/segment); the
  global merge is orderBy(score desc, doc_id asc).limit(k) —
  TakeOrderedAndProject, no wide shuffle. Mirrors
  HybridTopScoreDocCollector (one bounded heap per scorer) +
  TopDocsMerger (reference search/collector, search/query).

Float discipline: ``dtype="float32"`` gives Lucene-parity arithmetic
(scores within DELTA_FOR_SCORE_ASSERTION=0.001 of the reference's,
ranks identical); ``"float64"`` bit-matches the SQL oracles.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import varint_decode
from ..functions.norms import byte4_to_int
from ..index.builder import SEG_SHIFT, paths
from .bm25 import B, K1

# column sets per kernel — pruning the applyInPandas input to what the
# kernel touches shrinks the JVM→python Arrow transfer (ReadSchema
# minimality: the block-max metadata only feeds the WAND kernel; the
# match-only kernel needs neither tf nor norm blobs)
DECODE_COLS = ["segment_id", "term", "block_ids", "block_ns", "block_doc_off",
               "pack_bits", "exc_pos", "exc_high", "docs"]
BULK_COLS = [*DECODE_COLS, "tfs", "norms"]
WAND_COLS = [*BULK_COLS, "block_max_tf", "block_min_dl_q", "block_tf_off"]

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("nss_doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("matched_terms", T.IntegerType(), False),
    ]
)


class IndexReader:
    """Lazy handles on a built index + cached global stats.

    DataFrame handles are memoized — Spark's InMemoryFileIndex (file
    listing + parquet footers) is per-DataFrame, so recreating the frame
    every query re-lists the whole index. ``cache_hot=True`` additionally
    persists postings/docmap in memory — the single-JVM analog of a hot
    page cache on data nodes; leave it off when the index exceeds
    executor memory (queries then rely on partition/row-group pruning).

    BM25 statistics (N, avgdl, df) never run a Spark job: the calling
    process reads them with pyarrow from the manifest and postings
    files, the way Lucene's searcher sums docFreq over its segments'
    term dictionaries in-process. Each table's ``pyarrow.dataset`` is listed
    once per reader, like the memoized frames, so a reader keeps one
    file snapshot for its statistics across later appends.
    """

    def __init__(self, spark: SparkSession, index_dir: str, cache_hot: bool = False):
        self.spark = spark
        self.index_dir = index_dir
        self.p = paths(index_dir)
        from ..index.builder import read_meta
        self.meta = read_meta(index_dir)  # raises on format mismatch
        self._stats: tuple[int, float] | None = None
        self._postings: DataFrame | None = None
        self._postings_pos: DataFrame | None = None
        self._docmap: DataFrame | None = None
        self._dfs: dict[str, int] | None = None
        self._arrow: dict[str, ds.Dataset] = {}
        self.cache_hot = cache_hot

    def postings(self) -> DataFrame:
        """Scoring-path postings handle — EXCLUDES the position streams
        (v4 format): only the phrase path reads positions, and caching
        them hot would roughly double the in-memory index for queries
        that never touch them (positions bytes ~ total token count)."""
        if self._postings is None:
            df = self.spark.read.parquet(self.p["postings"])
            df = df.drop("positions", "block_pos_off")
            self._postings = df.cache() if self.cache_hot else df
        return self._postings

    def postings_positional(self) -> DataFrame:
        """Full postings incl. position streams, for the phrase kernel.
        Deliberately NOT hot-cached: phrase queries prune the scan to
        their terms and decode candidate blocks only, so the read is
        per-query-small; a second hot copy of the whole index is not."""
        if self._postings_pos is None:
            self._postings_pos = self.spark.read.parquet(self.p["postings"])
        return self._postings_pos

    def docmap(self) -> DataFrame:
        if self._docmap is None:
            df = self.spark.read.parquet(self.p["docmap"])
            self._docmap = df.cache() if self.cache_hot else df
        return self._docmap

    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(self.p["manifest"])

    def _dataset(self, table: str):
        """In-process ``pyarrow.dataset`` over one index table (hive
        partition columns recovered from the directory names), listed
        on first use and kept for the reader's lifetime."""
        if table not in self._arrow:
            self._arrow[table] = ds.dataset(self.p[table], format="parquet",
                                            partitioning="hive")
        return self._arrow[table]

    def global_stats(self) -> tuple[int, float]:
        """(N, avgdl): the manifest's per-segment ``docs_tokenized`` and
        ``total_tokens`` summed in-process (one row per segment)."""
        if self._stats is None:
            man = self._dataset("manifest").to_table(
                columns=["docs_tokenized", "total_tokens"])
            n = pc.sum(man["docs_tokenized"]).as_py() or 0
            tok = pc.sum(man["total_tokens"]).as_py() or 0
            self._stats = (n, tok / n if n else 0.0)
        return self._stats

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per query term = Σ over segments of the postings
        row's ``n`` (the segment df — the postings hold one row per
        (segment, term), i.e. they ARE the per-segment term
        dictionaries).

        Read in-process: the postings dataset is projected to
        ``term``/``n``, filtered to the query terms (parquet row-group
        statistics skip row groups that cannot hold them) and, when the
        index is term-bucketed, pruned to the terms' bucket directories.
        Per-query work is O(|query terms| × segments) rows, independent
        of vocabulary size. Results memoize incrementally per reader —
        repeat terms never re-read; memory holds only terms ever
        queried, never the full vocabulary."""
        if self._dfs is None:
            self._dfs = {}
        missing = sorted(t for t in set(terms) if t not in self._dfs)
        if missing:
            cond = ds.field("term").isin(missing)
            n_buckets = int(self.meta.get("term_buckets", 0))
            if n_buckets > 1:
                from ..pipeline.hashing import py_hash64

                buckets = sorted({py_hash64(t) % n_buckets for t in missing})
                cond = ds.field("term_bucket").isin(buckets) & cond
            rows = self._dataset("postings").to_table(columns=["term", "n"], filter=cond)
            sums = rows.group_by("term").aggregate([("n", "sum")])
            found = dict(zip(sums["term"].to_pylist(), sums["n_sum"].to_pylist()))
            for t in missing:
                # memoize absence too (df=0) so repeats don't re-read
                self._dfs[t] = found.get(t, 0)
        return {t: self._dfs[t] for t in terms if self._dfs.get(t, 0) > 0}


def _min_matched(mode: str, n_terms: int) -> int:
    """Distinct-matched-term threshold for a doc to be a hit: 1 for
    ``or``, ``n_terms`` for ``and``, ``m`` for ``msm:m``
    (minimum_should_match — OpenSearch ``bool.should`` semantics)."""
    if mode == "and":
        return n_terms
    if mode.startswith("msm:"):
        m = int(mode[4:])
        if m < 1:
            raise ValueError(f"minimum_should_match must be >= 1, got {m}")
        return m
    return 1


def _wand_kernel(
    terms: list[str],
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    range_block: int,
    mode: str,
    dtype: str,
    k1: float = K1,
    b: float = B,
):
    """Per-segment kernel: exact top-k with block-max range pruning.

    ``kernel(pdf, allow)``: ``allow`` is an optional int64 array of
    LOCAL doc ids allowed by a filter (reference ANDs filters into every
    sub-query as FILTER occur — HybridQuery.java:48-59; a filter never
    contributes to the score, so block upper bounds stay valid and the
    pruning stays exact)."""
    ft = np.float32 if dtype == "float32" else np.float64
    n_terms = len(terms)
    term_order = {t: i for i, t in enumerate(sorted(terms))}

    def kernel(pdf: pd.DataFrame, allow: np.ndarray | None = None) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"segment_id": pd.Series(dtype=np.int32), "nss_doc_id": pd.Series(dtype=np.int64),
                 "score": pd.Series(dtype=np.float64), "matched_terms": pd.Series(dtype=np.int32)}
            )
        # one row per (segment, term): <= |query terms| rows here. Rows
        # are processed in sorted-term order so per-doc float sums are
        # deterministic regardless of storage order.
        pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        seg = int(pdf["segment_id"].iloc[0])
        k1f, bf, av = ft(k1), ft(b), ft(avgdl)
        idf = np.array([idf_by_term[t] for t in pdf["term"]], dtype=ft)

        # flatten per-term block arrays → per-(term, block) upper bounds
        r_bids = [np.asarray(x, dtype=np.int64) for x in pdf["block_ids"]]
        r_bns = [np.asarray(x, dtype=np.int64) for x in pdf["block_ns"]]
        r_bmax = [np.asarray(x, dtype=np.float64) for x in pdf["block_max_tf"]]
        r_bmin = [np.asarray(x, dtype=np.float64) for x in pdf["block_min_dl_q"]]
        r_doff = [np.asarray(x, dtype=np.int64) for x in pdf["block_doc_off"]]
        r_toff = [np.asarray(x, dtype=np.int64) for x in pdf["block_tf_off"]]
        r_noff = [np.r_[0, np.cumsum(ns)] for ns in r_bns]
        row_of = np.concatenate([np.full(len(x), i, dtype=np.int64) for i, x in enumerate(r_bids)])
        pos_of = np.concatenate([np.arange(len(x), dtype=np.int64) for x in r_bids])
        flat_bid = np.concatenate(r_bids)
        flat_max = np.concatenate(r_bmax).astype(ft)
        flat_min = np.concatenate(r_bmin).astype(ft)
        ub_entry = idf[row_of] * (flat_max / (flat_max + k1f * (ft(1.0) - bf + bf * flat_min / av)))

        uniq_blocks, inv = np.unique(flat_bid, return_inverse=True)
        block_ub = np.zeros(len(uniq_blocks), dtype=np.float64)
        np.add.at(block_ub, inv, ub_entry.astype(np.float64))
        if mode == "and":
            # a range missing any term can't produce a conjunctive match
            tcount = np.zeros(len(uniq_blocks), dtype=np.int64)
            np.add.at(tcount, inv, 1)
            block_ub[tcount < n_terms] = -np.inf
        order = np.argsort(-block_ub, kind="mergesort")
        # entries grouped by block: sort entry index by (block, row) —
        # row order is term order, keeping float sums deterministic
        egrp = np.lexsort((row_of, inv))
        ebounds = np.r_[0, np.cumsum(np.bincount(inv, minlength=len(uniq_blocks)))]
        docs_blobs = pdf["docs"].to_numpy()
        tfs_blobs = pdf["tfs"].to_numpy()
        norm_blobs = pdf["norms"].to_numpy()
        pack_bits = pdf["pack_bits"].to_numpy()
        r_ep = pdf["exc_pos"].to_numpy()
        r_eh = pdf["exc_high"].to_numpy()
        doc_ends = [len(x) for x in docs_blobs]
        tf_ends = [len(x) for x in tfs_blobs]
        from ..index.builder import decode_block_deltas

        top_docs = np.empty(0, dtype=np.int64)
        top_scores = np.empty(0, dtype=np.float64)
        top_counts = np.empty(0, dtype=np.int64)
        theta = -np.inf

        for bi in order:
            ub = block_ub[bi]
            if ub == -np.inf:
                break
            if len(top_docs) >= k and ub < theta:
                break  # ranges sorted by ub desc — tail is non-competitive
            base = int(uniq_blocks[bi]) * range_block
            acc = np.zeros(range_block, dtype=ft)
            cnt = np.zeros(range_block, dtype=np.int32)
            for e in egrp[ebounds[bi]:ebounds[bi + 1]]:
                r, p = int(row_of[e]), int(pos_of[e])
                local = np.cumsum(
                    decode_block_deltas(
                        docs_blobs[r], int(pack_bits[r]), p, r_bns[r], r_doff[r],
                        r_ep[r], r_eh[r], doc_ends[r],
                    )
                )
                ts = int(r_toff[r][p])
                te = int(r_toff[r][p + 1]) if p + 1 < len(r_toff[r]) else tf_ends[r]
                tfv = varint_decode(tfs_blobs[r][ts:te]).astype(np.float64).astype(ft)
                ns, ne = int(r_noff[r][p]), int(r_noff[r][p + 1])
                dlq = byte4_to_int(
                    np.frombuffer(norm_blobs[r][ns:ne], dtype=np.uint8)
                ).astype(ft)
                contrib = idf[r] * (tfv / (tfv + k1f * (ft(1.0) - bf + bf * dlq / av)))
                acc[local] += contrib
                cnt[local] += 1
            hit = np.flatnonzero(cnt > 0) if mode != "and" else np.flatnonzero(cnt == n_terms)
            if len(hit) == 0:
                continue
            docs = base + hit
            if allow is not None:
                keep = np.isin(docs, allow)
                if not keep.any():
                    continue
                docs, hit = docs[keep], hit[keep]
            scores = acc[hit].astype(np.float64)
            counts = cnt[hit].astype(np.int64)
            top_docs = np.concatenate([top_docs, docs])
            top_scores = np.concatenate([top_scores, scores])
            top_counts = np.concatenate([top_counts, counts])
            if len(top_docs) > k:
                # keep exactly k best under (score desc, doc_id asc)
                sel = np.lexsort((top_docs, -top_scores))[:k]
                top_docs, top_scores, top_counts = top_docs[sel], top_scores[sel], top_counts[sel]
            if len(top_docs) >= k:
                theta = top_scores.min()

        if len(top_docs) == 0:
            return pd.DataFrame(
                {"segment_id": pd.Series(dtype=np.int32), "nss_doc_id": pd.Series(dtype=np.int64),
                 "score": pd.Series(dtype=np.float64), "matched_terms": pd.Series(dtype=np.int32)}
            )
        gid = (np.int64(seg) << SEG_SHIFT) + top_docs
        return pd.DataFrame(
            {
                "segment_id": np.full(len(gid), seg, dtype=np.int32),
                "nss_doc_id": gid,
                "score": top_scores,
                "matched_terms": top_counts.astype(np.int32),
            }
        )

    return kernel


def _bulk_kernel(
    terms: list[str],
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    range_block: int,
    mode: str,
    dtype: str,
    k1: float = K1,
    b: float = B,
):
    """Per-segment exact top-k by bulk decode: each term's posting blob
    decodes in ONE varint pass (segmented cumsum over the block offsets
    recovers absolute ids), contributions accumulate into a dense local
    array. ~10 numpy calls per term instead of one per (term, block) —
    wins whenever most ranges would survive pruning anyway (head terms,
    OR queries). Scores are bit-identical to the WAND kernel: per-doc
    sums happen in the same sorted-term order. ``allow`` (optional int64
    array of local doc ids) restricts hits — FILTER-occur semantics."""
    ft = np.float32 if dtype == "float32" else np.float64
    n_terms = len(terms)

    def kernel(pdf: pd.DataFrame, allow: np.ndarray | None = None) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"segment_id": pd.Series(dtype=np.int32), "nss_doc_id": pd.Series(dtype=np.int64),
                 "score": pd.Series(dtype=np.float64), "matched_terms": pd.Series(dtype=np.int32)}
            )
        pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        seg = int(pdf["segment_id"].iloc[0])
        k1f, bf, av = ft(k1), ft(b), ft(avgdl)
        from ..index.builder import decode_term_deltas

        min_match = _min_matched(mode, n_terms)
        size = 0
        decoded = []
        for r in pdf.itertuples():
            deltas = decode_term_deltas(
                r.docs, r.block_ns, r.block_doc_off, int(r.pack_bits), r.exc_pos, r.exc_high
            )
            ns = np.asarray(r.block_ns, dtype=np.int64)
            bids = np.asarray(r.block_ids, dtype=np.int64)
            starts = np.r_[0, np.cumsum(ns)[:-1]]
            cs = np.cumsum(deltas)
            carry = np.repeat(cs[starts] - deltas[starts], ns)
            ids = np.repeat(bids * range_block, ns) + cs - carry
            tfv = varint_decode(r.tfs).astype(np.float64).astype(ft)
            dlq = byte4_to_int(np.frombuffer(r.norms, dtype=np.uint8)).astype(ft)
            idf = ft(idf_by_term[r.term])
            contrib = idf * (tfv / (tfv + k1f * (ft(1.0) - bf + bf * dlq / av)))
            decoded.append((ids, contrib))
            if len(ids):
                size = max(size, int(ids[-1]) + 1)
        acc = np.zeros(size, dtype=ft)
        cnt = np.zeros(size, dtype=np.int32)
        for ids, contrib in decoded:  # sorted-term order → deterministic
            acc[ids] += contrib
            cnt[ids] += 1
        hit = np.flatnonzero(cnt >= min_match)
        if allow is not None and len(hit):
            mask = np.zeros(size, dtype=bool)
            in_range = allow[(allow >= 0) & (allow < size)]
            mask[in_range] = True
            hit = hit[mask[hit]]
        if len(hit) == 0:
            return pd.DataFrame(
                {"segment_id": pd.Series(dtype=np.int32), "nss_doc_id": pd.Series(dtype=np.int64),
                 "score": pd.Series(dtype=np.float64), "matched_terms": pd.Series(dtype=np.int32)}
            )
        scores = acc[hit].astype(np.float64)
        if len(hit) > k:
            sel = np.lexsort((hit, -scores))[:k]
            hit, scores = hit[sel], scores[sel]
        gid = (np.int64(seg) << SEG_SHIFT) + hit
        return pd.DataFrame(
            {
                "segment_id": np.full(len(gid), seg, dtype=np.int32),
                "nss_doc_id": gid,
                "score": scores,
                "matched_terms": cnt[hit].astype(np.int32),
            }
        )

    return kernel


def bm25_topk_indexed(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    dtype: str = "float64",
    with_keys: bool = True,
    strategy: str = "bulk",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 via the index: broadcast query stats → per-segment
    block-max kernel → global TakeOrderedAndProject merge.

    ``allowed`` (a frame with an ``nss_doc_id`` column, e.g. docmap
    joined against a filtered attribute table) restricts results to
    those docs without touching the scoring — the reference's
    FILTER-occur semantics (HybridQuery.java:48-59: filters AND-ed into
    every sub-query, non-scoring). Delivered per-segment via a cogrouped
    applyInPandas, so each task sees only its segment's slice of the
    allow-list; global stats (N, avgdl, df) stay UNfiltered, matching
    Lucene (filters don't alter index statistics)."""
    terms = sorted(set(terms))
    if mode.startswith("msm:") and strategy != "bulk":
        # WAND's block-max pruning bounds the OR top-k; under an msm
        # cut a pruned range could hide a qualifying lower-scored doc,
        # so minimum_should_match requires the exact bulk decode.
        raise ValueError("minimum_should_match requires strategy='bulk'")
    per_seg = _per_segment_scores(reader, terms, k, mode, dtype, strategy, allowed)
    if per_seg is None:
        empty = reader.spark.createDataFrame([], RESULT_SCHEMA)
        return _attach_keys(reader, empty, k) if with_keys else empty
    if not with_keys:
        return per_seg.orderBy(F.col("score").desc(), F.col("nss_doc_id").asc()).limit(k)
    # keys must be attached BEFORE the final cut: score ties at the k
    # boundary are resolved on the external key (partition-invariant),
    # and internal ids only order correctly *within* a segment.
    return _attach_keys(reader, per_seg, k)


def _per_segment_scores(
    reader: IndexReader,
    terms: list[str],
    k: int,
    mode: str,
    dtype: str,
    strategy: str,
    allowed: DataFrame | None,
) -> DataFrame | None:
    """Shared assembly for the per-segment scoring kernels: broadcast
    query stats → term-bucket-pruned postings scan → per-segment
    (co)grouped kernel. Returns None when no query term is live (the
    caller emits its own empty frame)."""
    N, avgdl = reader.global_stats()
    dfs = reader.term_dfs(terms)
    live = [t for t in terms if t in dfs]
    if not live or N == 0 or len(live) < _min_matched(mode, len(terms)):
        return None

    ftype = np.float32 if dtype == "float32" else np.float64
    idf_by_term = {
        t: float(np.log(ftype(1.0) + (ftype(N) - ftype(dfs[t]) + ftype(0.5)) / (ftype(dfs[t]) + ftype(0.5))).astype(ftype))
        for t in live
    }
    make = _bulk_kernel if strategy == "bulk" else _wand_kernel
    kernel = make(live, idf_by_term, avgdl, k, int(reader.meta["range_block"]), mode, dtype)
    scan = reader.postings()
    n_buckets = int(reader.meta.get("term_buckets", 0))
    if n_buckets > 1:
        # partition pruning: only the term_bucket directories that can
        # contain the query terms are listed/read (PartitionFilters in
        # the scan node) — per-query I/O ∝ query terms, not index size.
        from ..pipeline.hashing import py_hash64

        buckets = sorted({py_hash64(t) % n_buckets for t in live})
        scan = scan.where(F.col("term_bucket").isin(buckets))
    scan = scan.where(F.col("term").isin(live)).select(
        *(BULK_COLS if strategy == "bulk" else WAND_COLS)
    )
    if allowed is None:
        # NB: single-arg wrapper — applyInPandas dispatches 2-arg
        # callables as (key, pdf), which would swallow the allow param
        per_seg = scan.groupBy("segment_id").applyInPandas(
            lambda pdf: kernel(pdf), schema=RESULT_SCHEMA
        )
    else:
        local_mask = (1 << SEG_SHIFT) - 1
        allow_df = allowed.select(
            (F.col("nss_doc_id").bitwiseAND(F.lit(local_mask))).alias("local_id"),
            F.shiftright("nss_doc_id", SEG_SHIFT).cast("int").alias("segment_id"),
        )

        def cokernel(post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
            allow = allow_pdf["local_id"].to_numpy(dtype=np.int64)
            return kernel(post_pdf, allow)

        per_seg = (
            scan.groupby("segment_id")
            .cogroup(allow_df.groupby("segment_id"))
            .applyInPandas(cokernel, schema=RESULT_SCHEMA)
        )
    return per_seg


def match_text_topk(
    reader: IndexReader, query_text: str, k: int = 10, mode: str = "or"
) -> DataFrame:
    """``match`` over a RAW query string: analyze the string with the
    INDEX'S OWN tokenizer spec (reader.meta['tokenizer']) — driver-side,
    deterministic, query metadata only — then dispatch the term list to
    the block-max kernel. This closes the term-list-in vs query-DSL-in
    gap: the reference's match runs the field analyzer over the query
    text (Lucene QueryBuilder.createBooleanQuery) before scoring.
    Duplicate analyzed terms dedup (the kernel scores a term set, as
    the OR boolean over unique terms does)."""
    from ..functions.tokenize import analyze_query

    terms = analyze_query(query_text, reader.meta.get("tokenizer", "simple"))
    if not terms:
        empty = reader.spark.createDataFrame([], RESULT_SCHEMA)
        return _attach_keys(reader, empty, k)
    return bm25_topk_indexed(reader, terms, k=k, mode=mode)


def bm25_scores_indexed(reader: IndexReader, terms: list[str], mode: str = "or") -> DataFrame:
    """ALL matched docs' BM25 scores via the index — no top-k cut.

    Feeds consumers that need a sub-query's complete score LIST — e.g.
    hybrid min_max/L2 normalization, which normalizes over the whole
    retrieved list (processor/normalization min_max uses the list's own
    min/max). The per-segment kernel runs with k = N so its heap never
    cuts; the docmap key join is a plain equi-join on the uniform
    internal id (the matched set is unbounded, so no broadcast hint —
    at 100-TB scale this is one shuffle at match-set cardinality, and a
    production deployment would cap the sub-query at its rescore
    window instead). Returns (<key cols>, score), score unrounded."""
    terms = sorted(set(terms))
    N, _ = reader.global_stats()
    per_seg = _per_segment_scores(
        reader, terms, k=max(N, 1), mode=mode, dtype="float64",
        strategy="bulk", allowed=None,
    )
    key_cols = reader.meta["key_cols"]
    if per_seg is None:
        fields = ", ".join(f"{c} long" for c in key_cols)
        return reader.spark.createDataFrame([], f"{fields}, score double")
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    return dm.join(per_seg.select("nss_doc_id", "score"), "nss_doc_id").select(
        *key_cols, "score"
    )


def matched_ids_indexed(reader: IndexReader, terms: list[str], mode: str = "or") -> DataFrame:
    """All matched doc ids from the index — no top-k cut, no scoring.

    The per-segment kernel decodes only the doc-id stream (tf/norm blobs
    untouched), unions (OR) or intersects (AND) the query terms'
    postings, and emits (segment_id, nss_doc_id). Feeds field-sort /
    keyset-paging / total-hits collectors over the INDEXED path — the
    reference's field collectors iterate exactly this per-segment match
    stream (HybridTopFieldDocSortCollector.java:40-416)."""
    terms = sorted(set(terms))
    dfs = reader.term_dfs(terms)
    live = [t for t in terms if t in dfs]
    spark = reader.spark
    out_schema = T.StructType(
        [
            T.StructField("segment_id", T.IntegerType(), False),
            T.StructField("nss_doc_id", T.LongType(), False),
        ]
    )
    if not live or (mode == "and" and len(live) < len(terms)):
        return spark.createDataFrame([], out_schema)
    n_terms = len(live)
    range_block = int(reader.meta["range_block"])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"segment_id": pd.Series(dtype=np.int32),
                                 "nss_doc_id": pd.Series(dtype=np.int64)})
        seg = int(pdf["segment_id"].iloc[0])
        from ..index.builder import decode_term_deltas

        parts = []
        for r in pdf.itertuples():
            deltas = decode_term_deltas(
                r.docs, r.block_ns, r.block_doc_off, int(r.pack_bits), r.exc_pos, r.exc_high
            )
            ns = np.asarray(r.block_ns, dtype=np.int64)
            bids = np.asarray(r.block_ids, dtype=np.int64)
            starts = np.r_[0, np.cumsum(ns)[:-1]]
            cs = np.cumsum(deltas)
            carry = np.repeat(cs[starts] - deltas[starts], ns)
            parts.append(np.repeat(bids * range_block, ns) + cs - carry)
        if not parts:
            return pd.DataFrame({"segment_id": pd.Series(dtype=np.int32),
                                 "nss_doc_id": pd.Series(dtype=np.int64)})
        all_ids = np.concatenate(parts)
        if mode == "and":
            uniq, counts = np.unique(all_ids, return_counts=True)
            ids = uniq[counts == n_terms]
        else:
            ids = np.unique(all_ids)
        gid = (np.int64(seg) << SEG_SHIFT) + ids
        return pd.DataFrame(
            {"segment_id": np.full(len(gid), seg, dtype=np.int32), "nss_doc_id": gid}
        )

    scan = reader.postings()
    n_buckets = int(reader.meta.get("term_buckets", 0))
    if n_buckets > 1:
        from ..pipeline.hashing import py_hash64

        buckets = sorted({py_hash64(t) % n_buckets for t in live})
        scan = scan.where(F.col("term_bucket").isin(buckets))
    return (
        scan.where(F.col("term").isin(live))
        .select(*DECODE_COLS)
        .groupBy("segment_id")
        .applyInPandas(kernel, schema=out_schema)
    )


def _attach_keys(reader: IndexReader, top: DataFrame, k: int) -> DataFrame:
    """Join the (tiny) top-k against docmap to recover source keys; ties
    re-resolved on the external key so results are partition-invariant."""
    key_cols = reader.meta["key_cols"]
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    # top is <= segments x k rows but its size is opaque to Catalyst
    # (applyInPandas output) — hint the broadcast explicitly so the join
    # is a map-side hash probe of docmap, never a sort-merge shuffle.
    out = dm.join(F.broadcast(top), "nss_doc_id")
    return out.orderBy(F.col("score").desc(), *[F.col(c).asc() for c in key_cols]).limit(k)


# --- multi-query (msearch-style) batch execution -----------------------

MULTI_SCHEMA = T.StructType(
    [
        T.StructField("query_idx", T.IntegerType(), False),
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("nss_doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("matched_terms", T.IntegerType(), False),
    ]
)


def _bulk_kernel_multi(
    query_specs: list[tuple[list[str], str, int]],
    idf_by_term: dict[str, float],
    avgdl: float,
    range_block: int,
    dtype: str,
    k1: float = K1,
    b: float = B,
):
    """Per-segment kernel scoring ALL queries of a batch in one postings
    pass: each term's posting blob decodes ONCE and its per-doc BM25
    contribution (idf · tf-part — identical whichever query references
    the term) is cached, then each query accumulates its own terms'
    contributions in sorted-term order — bit-identical to running the
    single-query bulk kernel per query, at 1/Q the decode work for
    shared terms and 1/Q the job-scheduling overhead. The DataFrame
    analog of the reference's multi-search + HybridQueryScorer
    sub-query iteration (query/HybridQueryScorer.java:190-208).

    The kernel accepts MULTI-SEGMENT input (rows of several segments in
    one Arrow batch, grouped by pmod(segment_id, G)) and loops segments
    internally — fewer, larger Arrow transfers and python-worker
    dispatches per batch; results are bit-identical to per-segment
    grouping because every (query, segment) sub-result is computed
    independently either way."""
    ft = np.float32 if dtype == "float32" else np.float64

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_idx": pd.Series(dtype=np.int32),
             "segment_id": pd.Series(dtype=np.int32),
             "nss_doc_id": pd.Series(dtype=np.int64),
             "score": pd.Series(dtype=np.float64),
             "matched_terms": pd.Series(dtype=np.int32)}
        )
        if len(pdf) == 0:
            return empty
        segs = pdf["segment_id"].unique()
        if len(segs) > 1:
            outs = [kernel(sub) for _, sub in pdf.groupby("segment_id", sort=True)]
            outs = [o for o in outs if len(o)]
            return pd.concat(outs, ignore_index=True) if outs else empty
        pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        seg = int(pdf["segment_id"].iloc[0])
        k1f, bf, av = ft(k1), ft(b), ft(avgdl)
        from ..index.builder import decode_term_deltas

        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        size = 0
        for r in pdf.itertuples():
            deltas = decode_term_deltas(
                r.docs, r.block_ns, r.block_doc_off, int(r.pack_bits), r.exc_pos, r.exc_high
            )
            ns = np.asarray(r.block_ns, dtype=np.int64)
            bids = np.asarray(r.block_ids, dtype=np.int64)
            starts = np.r_[0, np.cumsum(ns)[:-1]]
            cs = np.cumsum(deltas)
            carry = np.repeat(cs[starts] - deltas[starts], ns)
            ids = np.repeat(bids * range_block, ns) + cs - carry
            tfv = varint_decode(r.tfs).astype(np.float64).astype(ft)
            dlq = byte4_to_int(np.frombuffer(r.norms, dtype=np.uint8)).astype(ft)
            idf = ft(idf_by_term[r.term])
            contrib = idf * (tfv / (tfv + k1f * (ft(1.0) - bf + bf * dlq / av)))
            decoded[r.term] = (ids, contrib)
            if len(ids):
                size = max(size, int(ids[-1]) + 1)
        if size == 0:
            return empty
        frames = []
        acc = np.zeros(size, dtype=ft)
        cnt = np.zeros(size, dtype=np.int32)
        for qi, (terms, mode, k) in enumerate(query_specs):
            live = [t for t in terms if t in decoded]
            if not live or (mode == "and" and len(live) < len(terms)):
                continue
            acc[:] = 0
            cnt[:] = 0
            for t in live:  # sorted-term order → deterministic sums
                ids, contrib = decoded[t]
                acc[ids] += contrib
                cnt[ids] += 1
            hit = np.flatnonzero(cnt > 0) if mode != "and" else np.flatnonzero(cnt == len(terms))
            if len(hit) == 0:
                continue
            scores = acc[hit].astype(np.float64)
            if len(hit) > k:
                sel = np.lexsort((hit, -scores))[:k]
                hit, scores = hit[sel], scores[sel]
            gid = (np.int64(seg) << SEG_SHIFT) + hit
            frames.append(pd.DataFrame(
                {"query_idx": np.full(len(gid), qi, dtype=np.int32),
                 "segment_id": np.full(len(gid), seg, dtype=np.int32),
                 "nss_doc_id": gid,
                 "score": scores,
                 "matched_terms": cnt[hit].astype(np.int32)}
            ))
        return pd.concat(frames, ignore_index=True) if frames else empty

    return kernel


def bm25_topk_indexed_multi(
    reader: IndexReader,
    queries: list[tuple[list[str], str]],
    k: int = 10,
    dtype: str = "float64",
    segment_groups: int | None = None,
) -> DataFrame:
    """Execute a BATCH of (terms, mode) queries through the index in
    one pass: union-of-terms pruned scan → multi-query kernel → one
    docmap join → per-query top-k cut. 2 Spark jobs for the whole batch
    instead of ~2 per query — the driver-orchestration floor (the
    measured ~0.2 s/query serial cost) amortizes across the batch.
    Results are bit-identical per query to ``bm25_topk_indexed``
    (asserted in tests). Returns (query_idx, <key_cols>, score, rank).

    ``segment_groups=G`` coarsens the kernel grouping from one Arrow
    batch per segment to one per pmod(segment_id, G) — G ≈ the core
    count gives each python worker ONE large batch per job instead of
    segments/cores small ones, cutting per-group Arrow framing +
    dispatch overhead (the serving-path scaling residual measured by
    the round-2 control probe). Segments are uniform by construction,
    so the G groups are balanced. None = per-segment (unchanged)."""
    specs = [(sorted(set(terms)), mode, k) for terms, mode in queries]
    union_terms = sorted({t for terms, _, _ in specs for t in terms})
    N, avgdl = reader.global_stats()
    dfs = reader.term_dfs(union_terms)
    spark = reader.spark
    key_cols = reader.meta["key_cols"]
    live_union = [t for t in union_terms if t in dfs]
    ftype = np.float32 if dtype == "float32" else np.float64
    idf_by_term = {
        t: float(np.log(ftype(1.0) + (ftype(N) - ftype(dfs[t]) + ftype(0.5)) / (ftype(dfs[t]) + ftype(0.5))).astype(ftype))
        for t in live_union
    }
    live_specs = [([t for t in terms if t in dfs] if mode != "and" else terms, mode, k)
                  for terms, mode, k in specs]
    kernel = _bulk_kernel_multi(
        live_specs, idf_by_term, avgdl, int(reader.meta["range_block"]), dtype
    )
    scan = reader.postings()
    n_buckets = int(reader.meta.get("term_buckets", 0))
    if n_buckets > 1:
        from ..pipeline.hashing import py_hash64

        buckets = sorted({py_hash64(t) % n_buckets for t in live_union})
        scan = scan.where(F.col("term_bucket").isin(buckets))
    pruned = scan.where(F.col("term").isin(live_union)).select(*BULK_COLS)
    if segment_groups and segment_groups > 0:
        per_seg = (
            pruned.groupBy(F.pmod("segment_id", F.lit(segment_groups)).alias("_sg"))
            .applyInPandas(
                lambda pdf: kernel(pdf.drop(columns=["_sg"], errors="ignore")),
                schema=MULTI_SCHEMA,
            )
        )
    else:
        per_seg = pruned.groupBy("segment_id").applyInPandas(
            lambda pdf: kernel(pdf), schema=MULTI_SCHEMA
        )
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    joined = dm.join(F.broadcast(per_seg), "nss_doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("query_idx").orderBy(
        F.col("score").desc(), *[F.col(c).asc() for c in key_cols]
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_idx", *key_cols, "score", "rank")
    )
