"""BM25 top-k over the segmented index: one term scan, one bulk kernel.

Every BM25 top-k over the index — single search, filtered search,
hybrid sub-query score lists and msearch batches — is the same three
steps, written once:

* query statistics (N, avgdl, df → idf) come from the index files on
  the driver (``IndexReader.global_stats`` / ``term_dfs``), no Spark job;
* the query terms' postings rows are read by ONE term scan
  (term-bucket partition pruning, then ``term IN (...)``, then the
  kernel's columns);
* per segment, ONE bulk kernel (``_bulk_kernel_multi``) decodes each
  term's postings once and scores a batch of queries — a single search
  is a batch of one. It is a pure pandas/numpy function of (postings
  rows, query specs, statistics). Per-segment top-k partial results
  are tiny (k rows/segment); the global merge is the cut on
  (score desc, key asc). Mirrors HybridTopScoreDocCollector (one
  bounded heap per scorer) + TopDocsMerger (reference search/collector,
  search/query).

Two executors run those steps, chosen per query by one rule
(``on_driver``): when the query's live terms hold at most
``DRIVER_MAX_POSTINGS`` postings (Σ df) and the postings files their
read opens hold at most ``DRIVER_MAX_READ_BYTES`` bytes, the driver
executor scores it in the calling process, as Lucene scores a query
over its segments in-process: the scan is ``IndexReader.read_terms``
over the reader's pyarrow snapshot, the kernel runs per segment, the
keys come from the docmap snapshot filtered to the hits, the cut and
``rank`` are pandas, and the answer is a local Spark frame (a
LocalRelation: collecting it, or a projection, filter or limit over
it, runs 0 Spark jobs). Above either bound — and whenever the call
carries an ``allowed`` frame — the Spark executor runs:
``IndexReader.scan_terms`` → (co)grouped ``applyInPandas`` kernel →
broadcast docmap join → orderBy(score desc, key asc).limit(k),
TakeOrderedAndProject, no wide shuffle (``_per_segment_scores``). It
is the path that scales; both return the same rows, columns and
types. Keyed top-k answers carry their 1-based ``rank`` under both,
so callers never re-rank.

The kernel decodes every posting of the query terms; there is no
block-max pruning. A per-block Python WAND kernel and a vectorised
two-pass block-max (exact, Ding & Suel 2011) both lost to this bulk
decode on every query class measured at the scaling index's
per-segment shape (BENCH/block_max.json), so neither is kept, and the
postings carry no per-block score bounds.

Float discipline: ``dtype="float32"`` gives Lucene-parity arithmetic
(scores within DELTA_FOR_SCORE_ASSERTION=0.001 of the reference's,
ranks identical); ``"float64"`` bit-matches the SQL oracles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import varint_decode
from ..functions.norms import byte4_to_int
from ..index.builder import SEG_SHIFT, _term_buckets_of, decode_term_ids, paths
from .bm25 import B, K1, idf_by_term, tf_norm

# The executor rule's two bounds (``on_driver``), both measured on a
# 4-core box (local[4]) over a 200k-doc / 8-segment index and the
# 1.2M-doc / 256-segment scaling corpus (BENCH/driver_threshold.json,
# scripts/driver_threshold.py). A query (or msearch batch) is scored on
# the driver when both hold:
# * its live terms hold at most DRIVER_MAX_POSTINGS postings (Σ df): the
#   largest Σ df below which the driver's median beat Spark's in every
#   one-client case (ORs, phrases, 256-body msearch). The first loss is
#   a head-term phrase at Σ df 396,616, whose position decode is
#   single-threaded here and 4-way on Spark. This is a latency bound:
#   under 8 and 32 concurrent clients on the 200k-doc index the driver
#   served 17% fewer to 41% more requests per second than Spark, about
#   the spread of a repeated run (up to 20%).
# * the postings files its terms' read opens hold at most
#   DRIVER_MAX_READ_BYTES bytes: the 200k-doc index's postings. Each
#   segment file is one row group, so every driver read decodes whole
#   files' columns, a cost that grows with the index, not with Σ df,
#   while a hot Spark reader scans its in-memory copy. On the 1.2M-doc
#   index (1,177,726,670 B) the driver still won one client at a time,
#   but under 8 and 32 clients it served 26–60% fewer requests per
#   second than Spark, so an index of that size goes to Spark.
DRIVER_MAX_POSTINGS = 296_704
DRIVER_MAX_READ_BYTES = 179_339_520

# column sets per kernel — pruning the applyInPandas input to what the
# kernel touches shrinks the JVM→python Arrow transfer (ReadSchema
# minimality: the match-only kernel needs neither tf nor norm blobs)
DECODE_COLS = ["segment_id", "term", "block_ids", "block_ns", "block_doc_off",
               "pack_bits", "exc_pos", "exc_high", "docs"]
BULK_COLS = [*DECODE_COLS, "tfs", "norms"]

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("nss_doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("matched_terms", T.IntegerType(), False),
    ]
)
MULTI_SCHEMA = T.StructType(
    [T.StructField("query_idx", T.IntegerType(), False), *RESULT_SCHEMA.fields]
)
RANK_FIELD = T.StructField("rank", T.IntegerType(), False)


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

    Which executor serves a query (module docstring): at most
    ``DRIVER_MAX_POSTINGS`` postings in at most ``DRIVER_MAX_READ_BYTES``
    file bytes (``read_bytes``) → the driver, whose scan (``read_terms``)
    and key lookup read that same pyarrow snapshot, so statistics,
    postings and keys always come from one set of files; above either →
    Spark (``scan_terms``, ``docmap``). ``cache_hot`` serves only the
    Spark executor.
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
        self._file_bytes: dict[str, int] | None = None
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

    def _term_buckets(self, terms: list[str]) -> list[int] | None:
        """The ``term_bucket`` directories that can hold ``terms`` (the
        builder's own bucket function), or None on an unbucketed index."""
        n_buckets = int(self.meta.get("term_buckets", 0))
        if n_buckets <= 1:
            return None
        return sorted(set(_term_buckets_of(np.asarray(terms, dtype=object), n_buckets).tolist()))

    def scan_terms(self, terms: list[str], cols: list[str],
                   positional: bool = False) -> DataFrame:
        """THE term scan of every query kernel: the postings rows of
        ``terms`` (one per (segment, term)) projected to ``cols``. On a
        term-bucketed index only the terms' bucket directories are
        listed and read (PartitionFilters in the scan node), so
        per-query I/O ∝ query terms, not index size. ``positional``
        reads the handle that carries the position streams."""
        scan = self.postings_positional() if positional else self.postings()
        buckets = self._term_buckets(terms)
        if buckets is not None:
            scan = scan.where(F.col("term_bucket").isin(buckets))
        return scan.where(F.col("term").isin(list(terms))).select(*cols)

    def _terms_filter(self, terms: list[str]) -> ds.Expression:
        """pyarrow filter of ``terms``' postings rows: their bucket
        directories (as ``scan_terms``), then ``term IN``. ``terms``
        must be non-empty (``isin([])`` raises in pyarrow)."""
        cond = ds.field("term").isin(list(terms))
        buckets = self._term_buckets(terms)
        if buckets is not None:
            cond = ds.field("term_bucket").isin(buckets) & cond
        return cond

    def read_terms(self, terms: list[str], cols: list[str]) -> pd.DataFrame:
        """The driver executor's term scan: the rows ``scan_terms``
        returns, read in-process with pyarrow from this reader's file
        snapshot. ``terms`` must be non-empty."""
        return self._dataset("postings").to_table(
            columns=cols, filter=self._terms_filter(terms)).to_pandas()

    def read_bytes(self, terms: list[str]) -> int:
        """Bytes of the postings files a read of ``terms`` opens: every
        file in their term-bucket directories (all files on an
        unbucketed index). Sizes come from this reader's snapshot
        listing, once per reader; no file is opened."""
        dset = self._dataset("postings")
        if self._file_bytes is None:
            infos = dset.filesystem.get_file_info(dset.files)
            self._file_bytes = {i.path: i.size for i in infos}
        buckets = self._term_buckets(terms)
        if buckets is None:
            return sum(self._file_bytes.values())
        frags = dset.get_fragments(filter=ds.field("term_bucket").isin(buckets))
        return sum(self._file_bytes[f.path] for f in frags)

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
        statistics skip row groups that cannot hold them) and pruned to
        the terms' bucket directories like ``scan_terms``.
        Per-query work is O(|query terms| × segments) rows, independent
        of vocabulary size. Results memoize incrementally per reader —
        repeat terms never re-read; memory holds only terms ever
        queried, never the full vocabulary."""
        if self._dfs is None:
            self._dfs = {}
        missing = sorted(t for t in set(terms) if t not in self._dfs)
        if missing:
            rows = self._dataset("postings").to_table(
                columns=["term", "n"], filter=self._terms_filter(missing))
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


_NO_IDS = np.empty(0, dtype=np.int64)


def _result_frame(seg: int, local: np.ndarray, scores: np.ndarray, counts: np.ndarray,
                  query_idx: np.ndarray) -> pd.DataFrame:
    """Kernel output rows of one segment (MULTI_SCHEMA). Empty arrays
    give the typed empty frame."""
    return pd.DataFrame({"query_idx": query_idx.astype(np.int32, copy=False),
                         "segment_id": np.full(len(local), seg, dtype=np.int32),
                         "nss_doc_id": (np.int64(seg) << SEG_SHIFT) + local,
                         "score": scores.astype(np.float64, copy=False),
                         "matched_terms": counts.astype(np.int32, copy=False)})


def _bulk_kernel_multi(
    query_specs: list[tuple[list[str], int, int]],
    idf_by_term: dict[str, float],
    avgdl: float,
    range_block: int,
    dtype: str,
    k1: float = K1,
    b: float = B,
):
    """THE BM25 top-k kernel: scores a batch of queries over one
    postings pass. ``query_specs`` are (sorted unique terms, min_match,
    k): a doc is a hit of a query when at least ``min_match`` of its
    terms occur in it (1 = OR, |terms| = AND, m = minimum_should_match).
    A single search is a batch of one.

    Each term's postings row decodes ONCE (``decode_term_ids`` + one
    varint pass over tfs) and its per-doc BM25 contribution (idf ·
    tf-part — identical whichever query references the term) is kept;
    each query then accumulates its own terms' contributions into a
    dense local array in sorted-term order, so per-doc float sums are
    deterministic. The DataFrame analog of the reference's multi-search
    + HybridQueryScorer sub-query iteration
    (query/HybridQueryScorer.java:190-208).

    ``kernel(pdf, allow)``: ``pdf`` holds BULK_COLS rows of one or more
    segments (rows grouped by pmod(segment_id, G) arrive together; each
    segment is scored independently, so results do not depend on the
    grouping). ``allow`` (optional int64 LOCAL doc ids of the one
    segment in ``pdf``) restricts hits without touching scores —
    FILTER-occur semantics. Pure pandas/numpy: no Spark in the body, so
    the same kernel runs inside ``applyInPandas`` or in-process over
    pyarrow reads. Returns MULTI_SCHEMA rows, at most k per query."""
    ft = np.float32 if dtype == "float32" else np.float64

    def kernel(pdf: pd.DataFrame, allow: np.ndarray | None = None) -> pd.DataFrame:
        segs = pdf["segment_id"].to_numpy()
        if len(segs) == 0:
            return _result_frame(0, _NO_IDS, _NO_IDS, _NO_IDS, _NO_IDS)
        if (segs != segs[0]).any():
            outs = [kernel(sub) for _, sub in pdf.groupby("segment_id", sort=True)]
            outs = [o for o in outs if len(o)]
            return (pd.concat(outs, ignore_index=True) if outs
                    else _result_frame(0, _NO_IDS, _NO_IDS, _NO_IDS, _NO_IDS))
        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        size = 0
        for r in pdf.sort_values("term", kind="mergesort").itertuples():
            ids = decode_term_ids(r, range_block)
            tfv = varint_decode(r.tfs).astype(np.float64).astype(ft)
            dlq = byte4_to_int(np.frombuffer(r.norms, dtype=np.uint8)).astype(ft)
            decoded[r.term] = (ids, ft(idf_by_term[r.term]) * tf_norm(tfv, dlq, avgdl, k1, b, ft))
            if len(ids):
                size = max(size, int(ids[-1]) + 1)
        allowed = None
        if allow is not None:
            allowed = np.zeros(size, dtype=bool)
            allowed[allow[(allow >= 0) & (allow < size)]] = True
        out_q, out_ids, out_scores, out_counts = [], [], [], []
        for qi, (terms, min_match, k) in enumerate(query_specs):
            live = [t for t in terms if t in decoded]
            if not live or len(live) < min_match:
                continue
            acc = np.zeros(size, dtype=ft)
            cnt = np.zeros(size, dtype=np.int32)
            for t in live:  # sorted-term order → deterministic sums
                ids, contrib = decoded[t]
                acc[ids] += contrib
                cnt[ids] += 1
            hit = np.flatnonzero(cnt >= min_match)
            if allowed is not None:
                hit = hit[allowed[hit]]
            if len(hit) == 0:
                continue
            scores = acc[hit].astype(np.float64)
            if len(hit) > k:
                sel = np.lexsort((hit, -scores))[:k]
                hit, scores = hit[sel], scores[sel]
            out_q.append(np.full(len(hit), qi, dtype=np.int32))
            out_ids.append(hit)
            out_scores.append(scores)
            out_counts.append(cnt[hit])
        if not out_ids:
            return _result_frame(0, _NO_IDS, _NO_IDS, _NO_IDS, _NO_IDS)
        return _result_frame(int(segs[0]), np.concatenate(out_ids), np.concatenate(out_scores),
                             np.concatenate(out_counts), np.concatenate(out_q))

    return kernel


def _batch_plan(reader: IndexReader, queries: list[tuple[list[str], str, int]],
                dtype: str):
    """Driver-side statistics of a batch of (sorted unique terms, mode,
    k) queries: (live terms, kernel specs, idf per live term, avgdl,
    df per live term), or None when no query can match (no live term,
    or fewer live terms than a query needs)."""
    N, avgdl = reader.global_stats()
    union = sorted({t for terms, _, _ in queries for t in terms})
    dfs = reader.term_dfs(union)
    live = [t for t in union if t in dfs]
    specs = [(terms, _min_matched(mode, len(terms)), k) for terms, mode, k in queries]
    n_live = [sum(t in dfs for t in terms) for terms, _, _ in queries]
    if N == 0 or not any(n and n >= m for n, (_, m, _) in zip(n_live, specs)):
        return None
    ftype = np.float32 if dtype == "float32" else np.float64
    return live, specs, idf_by_term(N, dfs, live, ftype), avgdl, dfs


def on_driver(reader: IndexReader, dfs: dict[str, int], terms: list[str]) -> bool:
    """The executor rule: a query whose ``terms`` hold at most
    ``DRIVER_MAX_POSTINGS`` postings (Σ df), in postings files of at
    most ``DRIVER_MAX_READ_BYTES`` bytes, is scored on the driver."""
    return (sum(dfs.get(t, 0) for t in terms) <= DRIVER_MAX_POSTINGS
            and reader.read_bytes(terms) <= DRIVER_MAX_READ_BYTES)


def _driver_scores(reader: IndexReader, queries: list[tuple[list[str], str, int]],
                   dtype: str = "float64") -> pd.DataFrame | None:
    """The driver executor's kernel rows (MULTI_SCHEMA columns) of a
    batch: ``read_terms`` over the batch's live terms, then the bulk
    kernel segment by segment — or None when ``on_driver`` sends the
    batch to the Spark executor."""
    plan = _batch_plan(reader, queries, dtype)
    if plan is None:
        return _result_frame(0, _NO_IDS, _NO_IDS, _NO_IDS, _NO_IDS)
    live, specs, idf, avgdl, dfs = plan
    if not on_driver(reader, dfs, live):
        return None
    kernel = _bulk_kernel_multi(specs, idf, avgdl, int(reader.meta["range_block"]), dtype)
    return kernel(reader.read_terms(live, BULK_COLS))


def _per_segment_scores(
    reader: IndexReader,
    queries: list[tuple[list[str], str, int]],
    dtype: str = "float64",
    allowed: DataFrame | None = None,
    segment_groups: int | None = None,
) -> DataFrame:
    """The Spark executor's kernel rows of a batch: query statistics on
    the driver → one term scan → per-segment (co)grouped kernel.
    ``queries`` are (sorted unique terms, mode, k); rows come out as
    MULTI_SCHEMA. When no query can match, the frame is one the
    optimizer proves empty, so it costs no Spark job.

    ``allowed`` (a frame with an ``nss_doc_id`` column) is delivered per
    segment through a cogrouped applyInPandas, so each task sees only
    its segment's slice of the allow-list. ``segment_groups=G`` groups
    the kernel input by pmod(segment_id, G) instead of by segment."""
    plan = _batch_plan(reader, queries, dtype)
    if plan is None:
        return reader.spark.createDataFrame([], MULTI_SCHEMA).limit(0)
    live, specs, idf, avgdl, _ = plan
    kernel = _bulk_kernel_multi(specs, idf, avgdl, int(reader.meta["range_block"]), dtype)
    scan = reader.scan_terms(live, BULK_COLS)
    if allowed is not None:
        local_mask = (1 << SEG_SHIFT) - 1
        allow_df = allowed.select(
            (F.col("nss_doc_id").bitwiseAND(F.lit(local_mask))).alias("local_id"),
            F.shiftright("nss_doc_id", SEG_SHIFT).cast("int").alias("segment_id"),
        )

        def cokernel(post_pdf: pd.DataFrame, allow_pdf: pd.DataFrame) -> pd.DataFrame:
            return kernel(post_pdf, allow_pdf["local_id"].to_numpy(dtype=np.int64))

        return (
            scan.groupby("segment_id")
            .cogroup(allow_df.groupby("segment_id"))
            .applyInPandas(cokernel, schema=MULTI_SCHEMA)
        )
    if segment_groups and segment_groups > 0:
        return scan.groupBy(F.pmod("segment_id", F.lit(segment_groups)).alias("_sg")).applyInPandas(
            lambda pdf: kernel(pdf.drop(columns=["_sg"], errors="ignore")), schema=MULTI_SCHEMA
        )
    # NB: single-arg wrapper — applyInPandas dispatches 2-arg callables
    # as (key, pdf), which would swallow the allow param
    return scan.groupBy("segment_id").applyInPandas(lambda pdf: kernel(pdf), schema=MULTI_SCHEMA)


def _with_keys(reader: IndexReader, hits: pd.DataFrame) -> pd.DataFrame:
    """The driver executor's key lookup: ``hits`` (an ``nss_doc_id``
    column) inner-joined to their docmap rows, read from the reader's
    docmap snapshot — only the hits' segment directories, filtered to
    the hits' ids."""
    key_cols = reader.meta["key_cols"]
    if len(hits) == 0:
        return hits.assign(**{c: pd.Series(dtype=object) for c in key_cols})
    ids = hits["nss_doc_id"].unique()
    segs = np.unique(ids >> SEG_SHIFT).tolist()
    cond = ds.field("segment_id").isin(segs) & ds.field("nss_doc_id").isin(ids)
    dm = reader._dataset("docmap").to_table(
        columns=["nss_doc_id", *key_cols], filter=cond).to_pandas()
    return dm.merge(hits, on="nss_doc_id")


def _cut(hits: pd.DataFrame, keys: list[str], k: int) -> pd.DataFrame:
    """The final cut in pandas: per ``query_idx`` (when present), the k
    best rows under (score desc, ``keys`` asc) with their 1-based
    ``rank`` — the order of the Spark executor's orderBy/row_number
    (strings compare by code point, as UTF-8 bytes do; nulls first)."""
    by = [c for c in ("query_idx",) if c in hits]
    out = hits.sort_values([*by, "score", *keys],
                           ascending=[True] * len(by) + [False] + [True] * len(keys),
                           kind="mergesort", na_position="first")
    rank = (out.groupby(by).cumcount() + 1 if by
            else pd.Series(np.arange(1, len(out) + 1), index=out.index))
    out = out.assign(rank=rank.to_numpy(dtype=np.int32))
    return out[out["rank"] <= k]


def _local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """A driver-served answer as a Spark frame with ``schema``: a
    LocalRelation. An empty answer is the plan the optimizer proves
    empty instead — an empty pandas frame would plan as an RDD scan and
    cost a job."""
    if len(pdf) == 0:
        return spark.createDataFrame([], schema).limit(0)
    return spark.createDataFrame(pdf[schema.names], schema)


def _driver_answer(reader: IndexReader, hits: pd.DataFrame, cols: list[str],
                   k: int | None = None) -> DataFrame:
    """The driver executor's answer: kernel ``hits`` with their docmap
    keys (when ``cols`` names a key column), cut to the k best per query
    with their ``rank`` (when ``k`` is given), as a local frame of
    ``cols`` typed as the Spark executor's answer — keyed columns as
    Spark reads them from the docmap, the rest as the kernel's."""
    key_cols = reader.meta["key_cols"]
    keyed = any(c in key_cols for c in cols)
    if keyed:
        hits = _with_keys(reader, hits)
    if k is not None:
        hits = _cut(hits, key_cols if keyed else ["nss_doc_id"], k)
    fields = {f.name: f for f in (*MULTI_SCHEMA.fields, RANK_FIELD)}
    if keyed:
        dm = reader.docmap().schema
        fields.update((c, dm[c]) for c in ("nss_doc_id", *key_cols))
    return _local_frame(reader.spark, hits, T.StructType([fields[c] for c in cols]))


def bm25_topk_indexed(
    reader: IndexReader,
    terms: list[str],
    k: int = 10,
    mode: str = "or",
    dtype: str = "float64",
    with_keys: bool = True,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 via the index: the bulk kernel as a batch of one →
    the global cut on (score desc, key asc). With keys the answer is
    (nss_doc_id, <key cols>, segment_id, score, matched_terms, rank);
    ``with_keys=False`` gives the kernel's columns ordered by
    (score desc, nss_doc_id asc).

    ``allowed`` (a frame with an ``nss_doc_id`` column, e.g. docmap
    joined against a filtered attribute table) restricts results to
    those docs without touching the scoring — the reference's
    FILTER-occur semantics (HybridQuery.java:48-59: filters AND-ed into
    every sub-query, non-scoring). Global stats (N, avgdl, df) stay
    UNfiltered, matching Lucene (filters don't alter index statistics)."""
    queries = [(sorted(set(terms)), mode, k)]
    hits = _driver_scores(reader, queries, dtype) if allowed is None else None
    if hits is not None:
        cols = (["nss_doc_id", *reader.meta["key_cols"], "segment_id", "score",
                 "matched_terms", "rank"] if with_keys else RESULT_SCHEMA.names)
        return _driver_answer(reader, hits, cols, k)
    per_seg = _per_segment_scores(reader, queries, dtype, allowed).drop("query_idx")
    if not with_keys:
        return per_seg.orderBy(F.col("score").desc(), F.col("nss_doc_id").asc()).limit(k)
    # keys must be attached BEFORE the final cut: score ties at the k
    # boundary are resolved on the external key (partition-invariant),
    # and internal ids only order correctly *within* a segment.
    return _attach_keys(reader, per_seg, k)


def match_text_topk(
    reader: IndexReader, query_text: str, k: int = 10, mode: str = "or"
) -> DataFrame:
    """``match`` over a RAW query string: analyze the string with the
    INDEX'S OWN tokenizer spec (reader.meta['tokenizer']) — driver-side,
    deterministic, query metadata only — then dispatch the term list to
    the bulk kernel. This closes the term-list-in vs query-DSL-in
    gap: the reference's match runs the field analyzer over the query
    text (Lucene QueryBuilder.createBooleanQuery) before scoring.
    Duplicate analyzed terms dedup (the kernel scores a term set, as
    the OR boolean over unique terms does)."""
    from ..functions.tokenize import analyze_query

    terms = analyze_query(query_text, reader.meta.get("tokenizer", "simple"))
    return bm25_topk_indexed(reader, terms, k=k, mode=mode)


def bm25_scores_indexed(reader: IndexReader, terms: list[str], mode: str = "or") -> DataFrame:
    """ALL matched docs' BM25 scores via the index — no top-k cut.

    Feeds consumers that need a sub-query's complete score LIST — e.g.
    hybrid min_max/L2 normalization, which normalizes over the whole
    retrieved list (processor/normalization min_max uses the list's own
    min/max). The bulk kernel runs with k = N so its cut never bites.
    On the driver executor the list holds at most Σ df ≤
    ``DRIVER_MAX_POSTINGS`` rows; on the Spark executor the docmap key
    join is a plain equi-join on the uniform internal id (the matched
    set is unbounded, so no broadcast hint — at 100-TB scale this is one
    shuffle at match-set cardinality, and a production deployment would
    cap the sub-query at its rescore window instead). Returns
    (<key cols>, score), score unrounded."""
    N, _ = reader.global_stats()
    queries = [(sorted(set(terms)), mode, max(N, 1))]
    key_cols = reader.meta["key_cols"]
    hits = _driver_scores(reader, queries)
    if hits is not None:
        return _driver_answer(reader, hits, [*key_cols, "score"])
    per_seg = _per_segment_scores(reader, queries)
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
    out_schema = T.StructType(RESULT_SCHEMA.fields[:2])
    if not live or (mode == "and" and len(live) < len(terms)):
        return reader.spark.createDataFrame([], out_schema).limit(0)
    n_terms = len(live)
    range_block = int(reader.meta["range_block"])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment_id"].iloc[0]) if len(pdf) else 0
        all_ids = np.concatenate(
            [_NO_IDS, *(decode_term_ids(r, range_block) for r in pdf.itertuples())])
        if mode == "and":
            uniq, counts = np.unique(all_ids, return_counts=True)
            ids = uniq[counts == n_terms]
        else:
            ids = np.unique(all_ids)
        return pd.DataFrame({"segment_id": np.full(len(ids), seg, dtype=np.int32),
                             "nss_doc_id": (np.int64(seg) << SEG_SHIFT) + ids})

    return (
        reader.scan_terms(live, DECODE_COLS)
        .groupBy("segment_id")
        .applyInPandas(kernel, schema=out_schema)
    )


def _spark_cut(keyed: DataFrame, key_cols: list[str], k: int) -> DataFrame:
    """The Spark executor's final cut: orderBy(score desc, keys
    asc).limit(k) — TakeOrderedAndProject — with its 1-based ``rank``, a
    row_number over the cut's own order, which the cut's single output
    partition already satisfies (no extra job)."""
    order = [F.col("score").desc(), *[F.col(c).asc() for c in key_cols]]
    return keyed.orderBy(*order).limit(k).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int"))


def _attach_keys(reader: IndexReader, top: DataFrame, k: int) -> DataFrame:
    """Join the (tiny) top-k against docmap to recover source keys; ties
    re-resolved on the external key so results are partition-invariant."""
    key_cols = reader.meta["key_cols"]
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    # top is <= segments x k rows but its size is opaque to Catalyst
    # (applyInPandas output) — hint the broadcast explicitly so the join
    # is a map-side hash probe of docmap, never a sort-merge shuffle.
    return _spark_cut(dm.join(F.broadcast(top), "nss_doc_id"), key_cols, k)


def bm25_topk_indexed_multi(
    reader: IndexReader,
    queries: list[tuple[list[str], str]],
    k: int = 10,
    dtype: str = "float64",
    segment_groups: int | None = None,
) -> DataFrame:
    """Execute a BATCH of (terms, mode) queries through the index in
    one pass: union-of-terms pruned scan → the bulk kernel over the
    whole batch → one key lookup → per-query top-k cut. The executor
    rule applies to the batch's Σ df: on the driver the batch runs no
    Spark job; on Spark it is 2 jobs for the whole batch instead of ~2
    per query — the driver-orchestration floor (the measured ~0.2 s/query
    serial cost) amortizes across the batch. Results are bit-identical
    per query to ``bm25_topk_indexed`` (asserted in tests). Returns
    (query_idx, <key_cols>, score, rank).

    ``segment_groups=G`` coarsens the Spark executor's kernel grouping
    from one Arrow batch per segment to one per pmod(segment_id, G) —
    G ≈ the core count gives each python worker ONE large batch per job
    instead of segments/cores small ones, cutting per-group Arrow
    framing + dispatch overhead (the serving-path scaling residual
    measured by the round-2 control probe). Segments are uniform by
    construction, so the G groups are balanced. None = per-segment
    (unchanged)."""
    queries = [(sorted(set(terms)), mode, k) for terms, mode in queries]
    key_cols = reader.meta["key_cols"]
    hits = _driver_scores(reader, queries, dtype)
    if hits is not None:
        return _driver_answer(reader, hits, ["query_idx", *key_cols, "score", "rank"], k)
    per_seg = _per_segment_scores(reader, queries, dtype, segment_groups=segment_groups)
    dm = reader.docmap().select("nss_doc_id", *key_cols)
    joined = dm.join(F.broadcast(per_seg), "nss_doc_id")
    w = Window.partitionBy("query_idx").orderBy(
        F.col("score").desc(), *[F.col(c).asc() for c in key_cols]
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_idx", *key_cols, "score", "rank")
    )
