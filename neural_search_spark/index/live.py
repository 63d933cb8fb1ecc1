"""Live (streaming) index ingest: micro-batch → new segment.

The Lucene shape the reference's ingest path sits on — writes accumulate
in fresh segments that become searchable on refresh, and background
merges compact them (index/merge.py here) — re-expressed for Structured
Streaming:

* ``append_segment``: run the standard segment-build kernel over ONE
  micro-batch with a FIXED segment id, write its postings/docmap
  partitions with dynamic partition overwrite (idempotent — a retried
  batch replaces exactly its own segment, the exactly-once contract of
  foreachBatch's stable batch ids), append its manifest row, bump
  ``num_segments`` in the meta.
* ``streaming_index_ingest``: readStream → foreachBatch(append_segment)
  with ``segment_id = base + batch_id``. A NEW IndexReader sees the new
  segments immediately (the "refresh"); global stats (N, avgdl, df)
  come from the manifest/postings aggregates, so BM25 over the grown
  index equals a from-scratch build over the full corpus
  (pytest-asserted score equality).

At scale this is the streaming half of the lambda pair: per-batch
segments stay small and uniform (one shuffle keyed by the constant
segment id per batch — i.e. none), queries prune by term_bucket as
usual, and merge_segments() periodically folds the tail.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .builder import (
    POSTINGS_SCHEMA,
    SEG_SHIFT,
    _build_segment_kernel,
    paths,
)


def append_segment(
    spark: SparkSession, batch: DataFrame, index_dir: str, segment_id: int
) -> None:
    """Build + write one segment from ``batch`` (idempotent per id)."""
    p = paths(index_dir)
    from .builder import read_meta
    meta = read_meta(index_dir)  # raises on format mismatch
    key_cols, text_col = meta["key_cols"], meta["text_col"]
    with_seg = batch.withColumn("segment_id", F.lit(segment_id).cast("int"))
    # dynamic partition overwrite scoped to this call: save and restore the
    # session value so unrelated writes keep their overwrite semantics
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        _append_segment_writes(spark, with_seg, meta, p, segment_id, key_cols, text_col)
    finally:
        if prev_mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    meta["num_segments"] = max(int(meta["num_segments"]), segment_id + 1)
    meta["appended_at_unix"] = int(time.time())
    with open(p["meta"], "w") as fh:
        json.dump(meta, fh)


def _append_segment_writes(spark, with_seg, meta, p, segment_id, key_cols, text_col):
    kernel = _build_segment_kernel(
        meta["tokenizer"], text_col, key_cols, int(meta["range_block"]),
        int(meta.get("term_buckets", 0)), meta.get("codec", "varint"),
        bool(meta.get("store_positions", False)),
    )
    postings = (
        with_seg.select("segment_id", text_col, *key_cols)
        .groupBy("segment_id")
        .applyInPandas(kernel, schema=POSTINGS_SCHEMA)
    )
    part_cols = (
        ["segment_id", "term_bucket"] if int(meta.get("term_buckets", 0)) > 1 else ["segment_id"]
    )
    postings.write.mode("overwrite").partitionBy(*part_cols).parquet(p["postings"])

    w = Window.partitionBy("segment_id").orderBy(*[F.col(c) for c in key_cols])
    dm = (
        with_seg.withColumn("local_id", F.row_number().over(w).cast("long") - 1)
        .withColumn(
            "nss_doc_id",
            (F.col("segment_id").cast("long") * F.lit(1 << SEG_SHIFT)) + F.col("local_id"),
        )
        .withColumn("sha256", F.sha2(F.col(text_col), 256))
        .select("segment_id", "local_id", "nss_doc_id", *key_cols, "sha256")
    )
    dm.write.mode("overwrite").partitionBy("segment_id").parquet(p["docmap"])

    built = spark.read.parquet(p["postings"]).where(F.col("segment_id") == segment_id)
    dm_read = spark.read.parquet(p["docmap"]).where(F.col("segment_id") == segment_id)
    seg_stats = (
        built.groupBy("segment_id")
        .agg(
            F.sum("sum_tf").alias("total_tokens"),
            F.sum("n").alias("postings_emitted"),
            F.sum(F.size("block_ids")).alias("blocks"),
            (
                F.sum(F.length("docs")) + F.sum(F.length("tfs")) + F.sum(F.length("norms"))
            ).alias("bytes_compressed"),
            F.sum(F.length("positions")).alias("bytes_positions"),
        )
        .join(
            dm_read.groupBy("segment_id").agg(F.count(F.lit(1)).alias("docs_tokenized")),
            "segment_id", "outer",
        )
        .na.fill(0)
        .withColumn("build_id", F.lit(f"stream-seg-{segment_id}"))
        .withColumn("tokenizer", F.lit(meta["tokenizer"]))
        .withColumn("range_block", F.lit(int(meta["range_block"])))
    )
    # manifest rows are tiny; rewrite = old rows minus this segment's
    # (idempotent retry) plus the fresh row.  NOTE: the os.rename swap
    # below assumes a POSIX-rename filesystem (local disk / NFS / HDFS
    # via fuse); on an object store deploy the swap becomes a versioned
    # manifest dir + atomic pointer update instead.  Crash-safe swap: the live
    # manifest is never deleted before its replacement is in place —
    # old is renamed ASIDE first (recoverable), tmp renamed IN, and the
    # aside copy removed last, so a crash at any point leaves either the
    # old or the new manifest readable and the retried micro-batch
    # (exactly-once contract, tests/test_streaming.py) can proceed.
    man_path = p["manifest"]
    # an older manifest's built_at_unix wall clock (now kept in
    # index_meta.json) is dropped on its next append
    old = (spark.read.parquet(man_path).where(F.col("segment_id") != segment_id)
           .drop("built_at_unix"))
    merged = old.unionByName(seg_stats.select(*old.columns))
    tmp = man_path + f"_tmp_{segment_id}"
    merged.write.mode("overwrite").parquet(tmp)
    import shutil

    aside = man_path + f"_old_{segment_id}"
    if os.path.exists(aside):  # leftover from a crashed earlier retry
        shutil.rmtree(aside)
    os.rename(man_path, aside)
    try:
        os.rename(tmp, man_path)
    except BaseException:
        os.rename(aside, man_path)  # roll back: restore the old manifest
        raise
    shutil.rmtree(aside)


def streaming_index_ingest(
    stream_df: DataFrame,
    index_dir: str,
    base_segment_id: int,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Attach a stream of corpus rows to the index: each micro-batch
    becomes segment ``base_segment_id + batch_id``. Returns the
    StreamingQuery."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_segment(batch_df.sparkSession, batch_df, index_dir,
                       base_segment_id + int(batch_id))

    writer = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
