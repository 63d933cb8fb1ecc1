"""Distributed inverted-index (segment) builder.

Architecture (Spark-first, mirrors Lucene's segment model rather than the
reference's per-node shards — SURVEY.md §1.4 "Shard → partition"):

* Each document is deterministically assigned to a **segment** by
  ``xxhash64(key) % num_segments`` — never by Spark's nondeterministic
  partitioner, so resume/scaling runs produce the identical index
  (FIXTURES.md §5).
* ``groupBy(segment_id).applyInPandas`` builds each segment's full
  postings locally (Arrow-vectorized kernel, functions/tokenize.py).
  There is **no global groupBy(term)**: term skew (`def`, `return`, ...
  stop-word-like tokens, north rule) cannot create a hot shuffle key
  because the only shuffle key is segment_id, which is uniform by
  construction. A segment's postings for a term are bounded by the
  segment's doc count — this IS the salting strategy, structurally.
* Postings are stored in **doc-range blocks** (all terms share block
  boundaries: ``local_id // range_block``), delta+varint encoded
  (functions/codecs.py), with per-block doc and position byte offsets.
  The BM25 kernel (query/wand.py) decodes whole terms; the phrase and
  span kernels use the aligned ranges to decode positions only for
  blocks that hold candidate docs. No per-block score bounds are
  stored: block-max pruning lost to the bulk decode
  (BENCH/block_max.json).
* Output layout (all parquet, partitioned by segment_id so query-time
  term filters prune row groups within a segment file):

    <index>/postings/segment_id=N/...   term-sorted posting blocks
    <index>/docmap/segment_id=N/...     doc_id ↔ source key + sha256
    <index>/manifest/...                per-segment lineage + metrics

* Resume: a segment is complete iff its manifest row exists. Re-running
  with ``resume=True`` rebuilds only missing segments; writes use
  dynamic partition overwrite so replays are idempotent (north rule:
  "resumable from per-partition checkpoints").

Internal doc ids are ``segment_id * 2**40 + local_id`` with local ids
dense in sorted key order — stable under any parallelism.
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codecs import varint_encode
from ..functions.norms import int_to_byte4
from ..functions.tokenize import SPLIT_RES, term_freq_frame

SEG_SHIFT = 40  # doc_id = (segment_id << 40) | local_id
# bump when POSTINGS_SCHEMA changes — persisted in index_meta.json and
# enforced by read_meta() (readers, merge, live append, resume), and
# cached index dirs embed it in their path, so no code path opens or
# appends into an index written by an incompatible layout
# v4: per-posting position streams (block_pos_off + positions columns)
# v6: one varint position stream — the v5 per-term PFor position codec
#     and its four columns are gone: it could save only 9.3% of position
#     bytes on the code corpus for +43% encode CPU (BENCH/r5_pos_bytes.json)
# v7: the five block-max bound columns (per-block max tf, min quantized
#     length and tf offsets; per-term max tf and min length) are gone with
#     the WAND kernel, their only reader (BENCH/block_max.json)
FORMAT_VERSION = 7

# One row per (segment, term): per-block metadata travels as parallel
# arrays and the three payload streams are single blobs with per-block
# byte offsets. Versus a row per (term, block): ~15x fewer rows and
# Python bytes objects at build time, fewer rows for the query scan to
# filter (a query touches <= |query terms| rows per segment), identical
# random access per block through the offset arrays.
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),         # segment df
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("block_ids", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("block_ns", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("block_doc_off", T.ArrayType(T.IntegerType(), False), False),
        # doc-delta codec per term: pack_bits < 0 -> LEB128 varint;
        # pack_bits >= 0 -> PFor (b-bit packed low parts, byte-aligned
        # per block, exceptions patched from exc_pos/exc_high)
        T.StructField("pack_bits", T.IntegerType(), False),
        T.StructField("exc_pos", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("exc_high", T.ArrayType(T.LongType(), False), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("norms", T.BinaryType(), False),
        # positional postings (Lucene .prx analog): per-posting chains of
        # token positions, first absolute then deltas, varint-encoded in
        # posting order; block_pos_off gives each block's byte offset so
        # a phrase kernel decodes only blocks holding candidate docs.
        # Empty when the index was built with store_positions=False.
        T.StructField("block_pos_off", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("positions", T.BinaryType(), False),
    ]
)

_EMPTY_POSTINGS = {
    "segment_id": np.int32, "term_bucket": np.int32, "term": object,
    "n": np.int32, "sum_tf": np.int64,
    "block_ids": object, "block_ns": object, "block_doc_off": object,
    "pack_bits": np.int32, "exc_pos": object, "exc_high": object,
    "docs": object, "tfs": object, "norms": object,
    "block_pos_off": object, "positions": object,
}


def decode_term_deltas(
    docs_blob: bytes,
    block_ns,
    block_doc_off,
    pack_bits: int,
    exc_pos,
    exc_high,
) -> np.ndarray:
    """Whole-term doc-delta stream for any codec (exceptions patched)."""
    from ..functions.codecs import pfor_decode_group, varint_decode

    if pack_bits < 0:
        return varint_decode(docs_blob).astype(np.int64)
    ns = np.asarray(block_ns, dtype=np.int64)
    offs = np.asarray(block_doc_off, dtype=np.int64)
    parts = [
        pfor_decode_group(docs_blob[offs[j]:offs[j] + (int(ns[j]) * pack_bits + 7) // 8],
                          int(ns[j]), pack_bits)
        for j in range(len(ns))
    ]
    low = np.concatenate(parts) if parts else np.empty(0, dtype=np.uint64)
    ep = np.asarray(exc_pos, dtype=np.int64)
    if len(ep):
        low[ep] |= np.asarray(exc_high, dtype=np.uint64) << np.uint64(pack_bits)
    return low.astype(np.int64)


def decode_term_ids(r, range_block: int) -> np.ndarray:
    """One postings row (``docs``, ``block_ids``, ``block_ns`` and the
    codec columns) -> its absolute LOCAL doc ids: each block's delta
    chain starts from the block's range base. THE doc-id decode of
    every query kernel and of the merge."""
    ns = np.asarray(r.block_ns, dtype=np.int64)
    deltas = decode_term_deltas(r.docs, ns, r.block_doc_off, int(r.pack_bits),
                                r.exc_pos, r.exc_high)
    base = np.asarray(r.block_ids, dtype=np.int64) * range_block
    return np.repeat(base, ns) + chains_absolute(deltas, ns)


def chains_absolute(deltas: np.ndarray, chain_lens: np.ndarray) -> np.ndarray:
    """Segmented cumsum: per-chain (first-absolute, then deltas) stream
    -> absolute values. Shared by doc-id and position decode."""
    if len(deltas) == 0:
        return deltas.astype(np.int64)
    lens = np.asarray(chain_lens, dtype=np.int64)
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    cs = np.cumsum(deltas.astype(np.int64))
    carry = np.repeat(cs[starts] - deltas[starts], lens)
    return cs - carry


def decode_block_positions(
    pos_blob: bytes, block_idx: int, block_pos_off, blob_end: int
) -> np.ndarray:
    """One block's raw position-delta stream (chains still packed —
    split them with the block's tf values via :func:`chains_absolute`)."""
    from ..functions.codecs import varint_decode

    offs = np.asarray(block_pos_off, dtype=np.int64)
    s = int(offs[block_idx])
    e = int(offs[block_idx + 1]) if block_idx + 1 < len(offs) else blob_end
    return varint_decode(pos_blob[s:e]).astype(np.int64)


def decode_term_positions(pos_blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Whole-term flat ABSOLUTE position stream (chains of len tfs[i])."""
    from ..functions.codecs import varint_decode

    return chains_absolute(varint_decode(pos_blob).astype(np.int64), tfs)


def empty_postings_frame() -> pd.DataFrame:
    return pd.DataFrame({c: pd.Series(dtype=t) for c, t in _EMPTY_POSTINGS.items()})


def postings_rows_from_flat(
    seg: int,
    term: np.ndarray,
    doc: np.ndarray,
    tfv: np.ndarray,
    norm: np.ndarray,
    range_block: int,
    term_buckets: int,
    codec: str = "varint",
    pos_flat: np.ndarray | None = None,
) -> pd.DataFrame:
    """Flat (term, doc_id, tf, norm_byte) posting streams (any
    order) -> one POSTINGS_SCHEMA row per term. Shared by the build and
    merge kernels so the two stay byte-compatible by construction.

    ``pos_flat`` (optional) is the flat token-position stream whose
    chains align with the input rows — row i's positions are the next
    ``tfv[i]`` values (ascending). When given, each term row also gets
    its varint positions blob + per-block byte offsets.

    All heavy steps are integer numpy (terms are dictionary-encoded for
    the sort); the only Python loop is one thin slice pass per term.
    """
    from ..functions.codecs import varint_nbytes

    if len(term) == 0:
        return empty_postings_frame()
    codes, uniq_terms = pd.factorize(term, sort=True)
    block = (doc // range_block).astype(np.int64)
    order = np.lexsort((doc, block, codes))
    if pos_flat is not None:
        # permute the position chains with their rows: gather each
        # reordered row's chain from the old flat stream (vectorized)
        tfl = tfv.astype(np.int64)
        old_starts = np.r_[0, np.cumsum(tfl)][:-1]
        lens_new = tfl[order]
        total = int(lens_new.sum())
        chain_off_new = np.r_[0, np.cumsum(lens_new)][:-1]
        gather = (
            np.repeat(old_starts[order], lens_new)
            + np.arange(total, dtype=np.int64)
            - np.repeat(chain_off_new, lens_new)
        )
        pos_flat = np.asarray(pos_flat, dtype=np.int64)[gather]
    codes, doc, tfv, norm, block = (
        codes[order], doc[order], tfv[order], norm[order], block[order]
    )
    new = np.r_[True, (codes[1:] != codes[:-1]) | (block[1:] != block[:-1])]
    starts = np.flatnonzero(new)
    bounds = np.r_[starts, len(codes)]
    n_per = np.diff(bounds)
    # per-group delta chains: first posting relative to the block base
    deltas = np.empty(len(doc), dtype=np.int64)
    deltas[1:] = doc[1:] - doc[:-1]
    deltas[starts] = doc[starts] - block[starts] * range_block
    doc_b = varint_encode(deltas)
    tf_b = varint_encode(tfv)
    doc_off = np.r_[0, np.cumsum(varint_nbytes(deltas))]
    tf_off = np.r_[0, np.cumsum(varint_nbytes(tfv))]
    norm_b = norm.astype(np.uint8).tobytes()
    if pos_flat is not None:
        # per-posting position chains: first absolute, rest deltas
        tfl = tfv.astype(np.int64)
        chain_starts = np.r_[0, np.cumsum(tfl)][:-1]
        pdl = np.empty(len(pos_flat), dtype=np.int64)
        pdl[1:] = pos_flat[1:] - pos_flat[:-1]
        pdl[chain_starts] = pos_flat[chain_starts]
        pos_b = varint_encode(pdl)
        pos_elem_off = np.r_[0, np.cumsum(varint_nbytes(pdl))]
        post_byte = pos_elem_off[chain_starts]  # byte start of posting i's chain
        pos_blob_end = int(pos_elem_off[-1])

    g_code = codes[starts]
    g_block = block[starts].astype(np.int32)
    g_doc_start = doc_off[bounds[:-1]]

    t_new = np.r_[True, g_code[1:] != g_code[:-1]]
    t_starts = np.flatnonzero(t_new)
    t_bounds = np.r_[t_starts, len(g_code)]
    n_terms = len(t_starts)
    terms_out = np.asarray(uniq_terms, dtype=object)[g_code[t_starts]]

    from ..functions.codecs import choose_pfor_width, pfor_encode_groups

    use_pfor = codec == "pfor"
    empty_i = np.empty(0, dtype=np.int32)
    empty_l = np.empty(0, dtype=np.int64)
    block_ids, block_ns = [], []
    bdoc_off, docs_col, tfs_col, norms_col = [], [], [], []
    bpos_off, pos_col = [], []
    pack_col = np.full(n_terms, -1, dtype=np.int32)
    excp_col, exch_col = [], []
    n_col = np.empty(n_terms, dtype=np.int32)
    for j in range(n_terms):
        a, b = t_bounds[j], t_bounds[j + 1]
        p0, p1 = bounds[a], bounds[b]  # posting index range of this term
        if pos_flat is not None:
            t_start = int(post_byte[p0])
            t_end = int(post_byte[p1]) if p1 < len(post_byte) else pos_blob_end
            pos_col.append(pos_b[t_start:t_end])
            bpos_off.append((post_byte[bounds[a:b]] - t_start).astype(np.int32))
        else:
            pos_col.append(b"")
            bpos_off.append(empty_i)
        block_ids.append(g_block[a:b])
        ns_t = n_per[a:b].astype(np.int32)
        block_ns.append(ns_t)
        if use_pfor:
            d_t = deltas[p0:p1].astype(np.uint64)
            bt = choose_pfor_width(d_t)
            blob, offs, ep, eh = pfor_encode_groups(
                d_t, (bounds[a:b] - p0).astype(np.int64), ns_t.astype(np.int64), bt
            )
            pack_col[j] = bt
            docs_col.append(blob)
            bdoc_off.append(offs.astype(np.int32))
            excp_col.append(ep.astype(np.int32))
            exch_col.append(eh.astype(np.int64))
        else:
            docs_col.append(doc_b[g_doc_start[a]:doc_off[p1]])
            bdoc_off.append((g_doc_start[a:b] - g_doc_start[a]).astype(np.int32))
            excp_col.append(empty_i)
            exch_col.append(empty_l)
        tfs_col.append(tf_b[tf_off[p0]:tf_off[p1]])
        norms_col.append(norm_b[p0:p1])
        n_col[j] = p1 - p0
    return pd.DataFrame(
        {
            "segment_id": np.full(n_terms, seg, dtype=np.int32),
            "term_bucket": _term_buckets_of(terms_out, term_buckets),
            "term": terms_out,
            "n": n_col,
            "sum_tf": np.add.reduceat(tfv, bounds[t_starts]).astype(np.int64),
            "block_ids": block_ids,
            "block_ns": block_ns,
            "block_doc_off": bdoc_off,
            "pack_bits": pack_col,
            "exc_pos": excp_col,
            "exc_high": exch_col,
            "docs": docs_col,
            "tfs": tfs_col,
            "norms": norms_col,
            "block_pos_off": bpos_off,
            "positions": pos_col,
        }
    )

TOKENIZERS = SPLIT_RES  # name -> deterministic split-regex spec


def paths(index_dir: str) -> dict[str, str]:
    return {
        "postings": os.path.join(index_dir, "postings"),
        "docmap": os.path.join(index_dir, "docmap"),
        "manifest": os.path.join(index_dir, "manifest"),
        "meta": os.path.join(index_dir, "index_meta.json"),
    }


def read_meta(index_dir: str) -> dict:
    """Load ``index_meta.json``, rejecting layouts this code can't
    open (Lucene's SegmentInfos version check analog). Every v5+ writer
    persists ``format_version`` (build writes it, merge and append copy
    it), so a meta without it predates v6 and is rejected too — never a
    missing-column crash deep in a kernel."""
    with open(paths(index_dir)["meta"]) as fh:
        meta = json.load(fh)
    ver = meta.get("format_version")
    if ver is None or int(ver) != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} is format "
            f"{'unversioned' if ver is None else f'v{ver}'}; this build "
            f"reads/writes v{FORMAT_VERSION} — rebuild the index (or open "
            f"it with the matching release)"
        )
    return meta


def _segment_expr(key_cols: list[str], num_segments: int):
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    return F.pmod(F.xxhash64(key), F.lit(num_segments)).cast("int")


def _term_buckets_of(terms: np.ndarray, term_buckets: int) -> np.ndarray:
    """Deterministic bucket per term (md5-56bit % B, hashing.py scheme) —
    computed over the unique terms only."""
    from ..pipeline.hashing import py_hash64

    if term_buckets <= 1:
        return np.zeros(len(terms), dtype=np.int32)
    uniq, inv = np.unique(terms.astype(str), return_inverse=True)
    buckets = np.array([py_hash64(t) % term_buckets for t in uniq], dtype=np.int32)
    return buckets[inv]


def _build_segment_kernel(
    tokenizer_name: str, text_col: str, key_cols: list[str], range_block: int,
    term_buckets: int = 0, codec: str = "varint", store_positions: bool = False,
):
    # registry name, or a custom split regex — the same contract
    # index.mappings.validate_index_spec accepts (term_freq_frame resolves
    # via SPLIT_RES.get(name, name), so any compilable regex works)
    if tokenizer_name not in TOKENIZERS:
        re.compile(tokenizer_name)  # fail fast on an invalid custom regex

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.tokenize import term_freq_frame_positions

        seg = int(pdf["segment_id"].iloc[0])
        # assign local ids by an in-kernel sort on the doc keys (cheap at
        # segment granularity; a JVM-side window sort of the full text
        # column measured strictly slower) — deterministic because the
        # whole segment is present in this one group
        pdf = pdf.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
        local_ids = pd.Series(np.arange(len(pdf), dtype=np.int64))
        tf, pos_flat = term_freq_frame_positions(
            pdf[text_col], local_ids, tokenizer=tokenizer_name,
            with_positions=store_positions,
        )
        if len(tf) == 0:
            return empty_postings_frame()
        return postings_rows_from_flat(
            seg,
            tf["term"].to_numpy(),
            tf["doc_id"].to_numpy(dtype=np.int64),
            tf["tf"].to_numpy(dtype=np.int64),
            int_to_byte4(tf["dl"].to_numpy()),
            range_block,
            term_buckets,
            codec,
            pos_flat,
        )

    return build


def docmap_df(
    corpus: DataFrame,
    key_cols: list[str],
    text_col: str,
    num_segments: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """(segment_id, local_id, nss_doc_id, <key cols>, sha256[, keep_cols])
    — Catalyst-only; ids deterministic (dense in sorted key order within
    each md5-assigned segment, independent of partitioning)."""
    from pyspark.sql import Window

    seg = _segment_expr(key_cols, num_segments)
    w = Window.partitionBy("segment_id").orderBy(*[F.col(c) for c in key_cols])
    return (
        corpus.withColumn("segment_id", seg)
        .withColumn("local_id", F.row_number().over(w).cast("long") - 1)
        .withColumn("nss_doc_id", (F.col("segment_id").cast("long") * F.lit(1 << SEG_SHIFT)) + F.col("local_id"))
        .withColumn("sha256", F.sha2(F.col(text_col), 256))
        .select("segment_id", "local_id", "nss_doc_id", *key_cols, "sha256", *(keep_cols or []))
    )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    key_cols: list[str],
    text_col: str = "content",
    tokenizer: str = "code",
    num_segments: int = 8,
    range_block: int = 4096,
    resume: bool = False,
    build_id: str | None = None,
    term_buckets: int = 0,
    codec: str = "varint",
    store_positions: bool = True,
) -> dict:
    """Build (or resume) the index; returns build metrics.

    ``store_positions=True`` (default — Lucene stores positions by
    default too) writes per-posting token-position streams alongside the
    doc/tf/norm blobs, enabling indexed phrase queries
    (query/phrase.py). Flip off for position-free workloads to shave
    build time and index bytes.

    Metrics per segment (docs tokenized, postings emitted, bytes
    compressed — north rule) land in ``<index>/manifest``.

    ``term_buckets > 0`` adds a second physical partition level
    ``term_bucket = md5_56(term) % B``: at query time the reader prunes
    the scan to the buckets containing the query terms, so per-query I/O
    scales with the query (≈ q/B of the index), not the corpus — the
    layout lever that matters at 10^12 files. Leave 0 for small indexes
    where extra directories cost more than pruning saves.
    """
    from .mappings import validate_index_spec

    validate_index_spec(
        corpus.schema, key_cols, text_col, tokenizer, num_segments,
        range_block, term_buckets, codec,
    )
    p = paths(index_dir)
    done: set[int] = set()
    if resume and os.path.exists(p["meta"]):
        # never append this layout's segments into an older-format dir
        read_meta(index_dir)
    if resume and os.path.exists(p["manifest"]):
        try:
            done = {int(r.segment_id) for r in spark.read.parquet(p["manifest"]).select("segment_id").collect()}
        except Exception:
            done = set()
    # resume appends only missing segments (dynamic partition overwrite);
    # a fresh build statically overwrites so stale partitions can't linger
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic" if done else "static")

    t0 = time.time()
    with_seg = corpus.withColumn("segment_id", _segment_expr(key_cols, num_segments))
    todo = with_seg.where(~F.col("segment_id").isin(sorted(done))) if done else with_seg

    phase_t: dict[str, float] = {}
    kernel = _build_segment_kernel(
        tokenizer, text_col, key_cols, range_block, term_buckets, codec,
        store_positions,
    )
    postings = todo.select("segment_id", text_col, *key_cols).groupBy("segment_id").applyInPandas(
        kernel, schema=POSTINGS_SCHEMA
    )
    part_cols = ["segment_id", "term_bucket"] if term_buckets > 1 else ["segment_id"]
    t = time.time()
    postings.write.mode("overwrite").partitionBy(*part_cols).parquet(p["postings"])
    phase_t["postings_write"] = round(time.time() - t, 2)

    t = time.time()
    dm = docmap_df(todo.drop("segment_id"), key_cols, text_col, num_segments)
    dm.write.mode("overwrite").partitionBy("segment_id").parquet(p["docmap"])
    phase_t["docmap_write"] = round(time.time() - t, 2)

    built = spark.read.parquet(p["postings"])
    dm_read = spark.read.parquet(p["docmap"])
    seg_stats = (
        built.groupBy("segment_id")
        .agg(
            F.sum("sum_tf").alias("total_tokens"),
            F.sum("n").alias("postings_emitted"),
            F.sum(F.size("block_ids")).alias("blocks"),
            (F.sum(F.length("docs")) + F.sum(F.length("tfs")) + F.sum(F.length("norms"))).alias(
                "bytes_compressed"
            ),
            # the position stream reported separately — it was the v4
            # build's bandwidth cost (BENCH/r4_attrib.json)
            F.sum(F.length("positions")).alias("bytes_positions"),
        )
        .join(dm_read.groupBy("segment_id").agg(F.count(F.lit(1)).alias("docs_tokenized")), "segment_id", "outer")
        .na.fill(0)
        # no wall-clock value in any parquet file: identical builds write
        # identical bytes (the build time lives in index_meta.json)
        .withColumn("build_id", F.lit(build_id or "build"))
        .withColumn("tokenizer", F.lit(tokenizer))
        .withColumn("range_block", F.lit(range_block))
    )
    t = time.time()
    seg_stats.write.mode("overwrite").parquet(p["manifest"])
    phase_t["manifest_write"] = round(time.time() - t, 2)

    meta = {
        "format_version": FORMAT_VERSION,
        "num_segments": num_segments,
        "range_block": range_block,
        "term_buckets": term_buckets,
        "tokenizer": tokenizer,
        "codec": codec,
        "key_cols": key_cols,
        "text_col": text_col,
        "seg_shift": SEG_SHIFT,
        "store_positions": store_positions,
        "built_at_unix": int(t0),
    }
    with open(p["meta"], "w") as fh:
        json.dump(meta, fh)

    agg = seg_stats.agg(
        F.sum("docs_tokenized").alias("docs"),
        F.sum("postings_emitted").alias("postings"),
        F.sum("bytes_compressed").alias("bytes"),
        F.sum("bytes_positions").alias("pos_bytes"),
        F.sum("total_tokens").alias("tokens"),
    ).collect()[0]
    return {
        "docs": agg["docs"],
        "postings": agg["postings"],
        "bytes_compressed": agg["bytes"],
        "bytes_positions": agg["pos_bytes"],
        "total_tokens": agg["tokens"],
        "wall_sec": time.time() - t0,
        "segments_built": num_segments - len(done),
        "segments_skipped": len(done),
        "phase_sec": phase_t,
    }


def verify_sha256(spark: SparkSession, corpus: DataFrame, index_dir: str) -> int:
    """Per-row content sha256 equality vs source (input_hint invariant).

    Returns the number of mismatching/missing rows (0 = pass).
    """
    p = paths(index_dir)
    meta = read_meta(index_dir)
    key_cols, text_col = meta["key_cols"], meta["text_col"]
    src = corpus.select(*key_cols, F.sha2(F.col(text_col), 256).alias("src_sha"))
    dm = spark.read.parquet(p["docmap"]).select(*key_cols, F.col("sha256").alias("idx_sha"))
    joined = src.join(dm, key_cols, "full_outer")
    return joined.where(
        F.col("src_sha").isNull() | F.col("idx_sha").isNull() | (F.col("src_sha") != F.col("idx_sha"))
    ).count()
