"""Distributed segment merge — SURVEY.md §2.14 "Segment merge".

Lucene background-merges small segments into larger ones to keep
per-query segment fan-out bounded; our equivalent folds groups of
``factor`` adjacent segments into one:

    new_segment_id = segment_id // factor
    new_local_id   = local_id + Σ doc counts of preceding old segments

Postings rows of the constituent segments are re-based, re-blocked and
re-encoded in one Arrow kernel per new segment (same shuffle shape as
the build: the only key is the uniform new_segment_id). Doc-id rebasing
preserves the (repo, path, commit) sort order *within* each old segment
and concatenates old segments in id order, so BM25 stats (N, avgdl, df,
norms) are untouched — merged-index queries are rank- and score-
identical to the unmerged index (tests/test_merge.py pins this).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.codecs import varint_decode
from .builder import POSTINGS_SCHEMA, SEG_SHIFT, paths


def _merge_kernel(range_block: int, shift_of: dict[int, int], factor: int, term_buckets: int,
                  codec: str = "varint", store_positions: bool = False):
    """Kernel over one NEW segment's postings rows (one row per old
    (segment, term)): decode each term's blob, re-base doc ids, then
    re-group through the same helper the builder uses — the merged
    segment is byte-compatible with a fresh build by construction.
    Positions (when the index stores them) ride along unchanged: doc-id
    rebasing never alters in-doc token positions."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.norms import byte4_to_int
        from .builder import empty_postings_frame, postings_rows_from_flat

        if len(pdf) == 0:
            return empty_postings_frame()
        new_seg = int(pdf["segment_id"].iloc[0]) // factor
        from .builder import decode_term_ids, decode_term_positions

        terms_l, docs_l, tfs_l, norms_l, pos_l = [], [], [], [], []
        for r in pdf.itertuples():
            tfs = varint_decode(r.tfs).astype(np.int64)
            norms = np.frombuffer(r.norms, dtype=np.uint8)
            rebased = decode_term_ids(r, range_block) + shift_of[int(r.segment_id)]
            terms_l.append(np.full(len(rebased), r.term, dtype=object))
            docs_l.append(rebased)
            tfs_l.append(tfs)
            norms_l.append(norms)
            if store_positions:
                pos_l.append(decode_term_positions(r.positions, tfs))
        term = np.concatenate(terms_l)
        norm = np.concatenate(norms_l)
        return postings_rows_from_flat(
            new_seg,
            term,
            np.concatenate(docs_l),
            np.concatenate(tfs_l),
            norm,
            byte4_to_int(norm).astype(np.int64),
            range_block,
            term_buckets,
            codec,
            np.concatenate(pos_l) if store_positions else None,
        )

    return merge


def merge_segments(
    spark: SparkSession, index_dir: str, out_dir: str, factor: int = 2
) -> dict:
    """Fold groups of ``factor`` adjacent segments into one; returns
    merge metrics. The merged index is a fully valid index dir."""
    p_in, p_out = paths(index_dir), paths(out_dir)
    from .builder import read_meta
    meta = read_meta(index_dir)  # raises on format mismatch
    range_block = int(meta["range_block"])
    t0 = time.time()

    dm = spark.read.parquet(p_in["docmap"])
    counts = {
        int(r.segment_id): int(r.c)
        for r in dm.groupBy("segment_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # shift = total docs of preceding old segments within the new group
    shift_of: dict[int, int] = {}
    for seg in sorted(counts):
        group = seg // factor
        prev = sum(counts.get(s, 0) for s in range(group * factor, seg))
        shift_of[seg] = prev

    kernel = _merge_kernel(range_block, shift_of, factor, int(meta.get("term_buckets", 0)),
                           meta.get("codec", "varint"),
                           bool(meta.get("store_positions", False)))
    merged = (
        spark.read.parquet(p_in["postings"])
        .withColumn("merge_group", (F.col("segment_id") / factor).cast("int"))
        .groupBy("merge_group")
        .applyInPandas(lambda pdf: kernel(pdf.drop(columns=["merge_group"])), POSTINGS_SCHEMA)
    )
    part_cols = ["segment_id", "term_bucket"] if int(meta.get("term_buckets", 0)) > 1 else ["segment_id"]
    merged.write.mode("overwrite").partitionBy(*part_cols).parquet(p_out["postings"])

    shift_expr = F.create_map(
        *[x for s, sh in shift_of.items() for x in (F.lit(s), F.lit(sh))]
    )
    new_seg = (F.col("segment_id") / factor).cast("int")
    new_local = F.col("local_id") + shift_expr[F.col("segment_id")]
    dm_new = dm.select(
        new_seg.alias("segment_id"),
        new_local.alias("local_id"),
        (new_seg.cast("long") * F.lit(1 << SEG_SHIFT) + new_local).alias("nss_doc_id"),
        *[c for c in dm.columns if c not in ("segment_id", "local_id", "nss_doc_id")],
    )
    dm_new.write.mode("overwrite").partitionBy("segment_id").parquet(p_out["docmap"])

    # invariant stats (docs/tokens/postings) sum from the old manifest;
    # layout stats (blocks, bytes_compressed) are recomputed from the
    # RE-ENCODED postings — merge re-blocks them, so the old numbers no
    # longer describe what is on disk (same aggregate build_index uses)
    merged_read = spark.read.parquet(p_out["postings"])
    layout = merged_read.groupBy("segment_id").agg(
        F.sum(F.size("block_ids")).alias("blocks"),
        (
            F.sum(F.length("docs")) + F.sum(F.length("tfs")) + F.sum(F.length("norms"))
        ).alias("bytes_compressed"),
        F.sum(F.length("positions")).alias("bytes_positions"),
    )
    man = spark.read.parquet(p_in["manifest"])
    man_new = (
        man.withColumn("segment_id", (F.col("segment_id") / factor).cast("int"))
        .groupBy("segment_id")
        .agg(
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("postings_emitted").alias("postings_emitted"),
            F.sum("docs_tokenized").alias("docs_tokenized"),
        )
        .join(layout, "segment_id", "left")
        .na.fill(0, ["blocks", "bytes_compressed", "bytes_positions"])
        .withColumn("build_id", F.lit("merge"))
        .withColumn("tokenizer", F.lit(meta["tokenizer"]))
        .withColumn("range_block", F.lit(range_block))
    )
    man_new.write.mode("overwrite").parquet(p_out["manifest"])

    new_meta = dict(meta)
    new_meta["num_segments"] = (int(meta["num_segments"]) + factor - 1) // factor
    new_meta["built_at_unix"] = int(t0)
    os.makedirs(out_dir, exist_ok=True)
    with open(p_out["meta"], "w") as fh:
        json.dump(new_meta, fh)
    return {
        "segments_in": len(counts),
        "segments_out": new_meta["num_segments"],
        "wall_sec": time.time() - t0,
    }
