"""Structured Streaming: the same windowed-agg plan must produce the
batch answer when run through readStream + watermark + availableNow."""

import os

import pytest

from neural_search_spark.streaming.windows import (
    run_stream_available_now,
    sessionized_user_stats,
    windowed_event_agg,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_path(tmp_path_factory):
    # FileStreamSource wants a directory; the driver table is one file
    import shutil

    src = os.path.join(SF_SMALL, "events.parquet")
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(src, d / "part-0.parquet")
    return str(d)


def _canon(rows):
    return sorted((r.window_start, r.event_type, r.n, r.sum_value) for r in rows)


def test_stream_equals_batch(spark, events_path):
    batch = windowed_event_agg(spark.read.parquet(events_path))
    expected = _canon(batch.collect())

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    out = windowed_event_agg(stream, with_watermark="2 hours")
    q = run_stream_available_now(out, "win_agg_test", output_mode="complete")
    q.awaitTermination(120)
    got = _canon(spark.table("win_agg_test").collect())
    assert got == expected and len(got) > 0


def test_stream_drops_late_rows(spark, events_path):
    """Append mode + watermark: only windows the watermark has passed are
    emitted — the count must be <= the batch window count and the emitted
    windows must match batch exactly."""
    batch = {(r.window_start, r.event_type): (r.n, r.sum_value)
             for r in windowed_event_agg(spark.read.parquet(events_path)).collect()}
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    out = windowed_event_agg(stream, with_watermark="2 hours")
    q = run_stream_available_now(out, "win_agg_append", output_mode="append")
    q.awaitTermination(120)
    got = spark.table("win_agg_append").collect()
    assert 0 < len(got) <= len(batch)
    for r in got:
        assert batch[(r.window_start, r.event_type)] == (r.n, r.sum_value)


def test_sessionization_batch_matches_lag_rule(spark, events_path):
    """session_window gap semantics == gaps-and-islands lag rule."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = spark.read.parquet(events_path).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.user_id: (r.n_sessions, r.n_events)
           for r in sessionized_user_stats(ev, gap="12 hours").collect()}
    w = Window.partitionBy("user_id").orderBy("ts")
    lagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 12 * 3600),
            1,
        ).otherwise(0),
    )
    exp = {r.user_id: (r.ns, r.ne) for r in lagged.groupBy("user_id").agg(
        F.sum("new_s").alias("ns"), F.count(F.lit(1)).alias("ne")).collect()}
    assert got == exp


def test_stateful_dedup_stream_equals_batch(spark, events_path):
    """applyInPandasWithState running dedup counts: the LAST update per
    user emitted by the stream must equal the batch aggregate."""
    from neural_search_spark.streaming.stateful import (
        dedup_counts_batch, streaming_dedup_counts)

    batch = {
        r["user_id"]: (r["n_events"], r["n_distinct"])
        for r in dedup_counts_batch(spark.read.parquet(events_path)).collect()
    }

    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    out = streaming_dedup_counts(stream)
    q = run_stream_available_now(out, "dedup_state_test", output_mode="update")
    q.awaitTermination(120)
    got = {}
    for r in spark.table("dedup_state_test").collect():
        prev = got.get(r["user_id"], (0, 0))
        # update mode appends one row per (user, micro-batch); counts
        # are monotone, so the row with the max n_events is the final one
        if r["n_events"] >= prev[0]:
            got[r["user_id"]] = (r["n_events"], r["n_distinct"])
    assert got == batch


def test_streaming_segment_append_equals_full_build(spark, tmp_path):
    """Stream-appended segments + base index == one-shot full build:
    identical BM25 scores per doc key (global stats/df aggregate over
    the union of segments)."""
    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.index.live import streaming_index_ingest
    from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

    full = corpus_df(spark, 300, partitions=2).cache()
    base = full.where("pmod(xxhash64(path), 3) < 2")
    tail = full.subtract(base)

    live_dir = str(tmp_path / "live_idx")
    build_index(spark, base, live_dir, key_cols=["repo", "path", "commit"],
                text_col="content", tokenizer="code", num_segments=4, range_block=64)

    tail_dir = str(tmp_path / "tail_src")
    tail.write.parquet(tail_dir)
    stream = spark.readStream.schema(tail.schema).option("maxFilesPerTrigger", 1).parquet(tail_dir)
    q = streaming_index_ingest(stream, live_dir, base_segment_id=4,
                               checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    ref_dir = str(tmp_path / "ref_idx")
    build_index(spark, full, ref_dir, key_cols=["repo", "path", "commit"],
                text_col="content", tokenizer="code", num_segments=4, range_block=64)

    live, ref = IndexReader(spark, live_dir), IndexReader(spark, ref_dir)
    assert live.global_stats() == ref.global_stats()
    for terms, mode in [(["def", "return"], "or"), (["import"], "or")]:
        got = {(r["repo"], r["path"]): r["score"]
               for r in bm25_topk_indexed(live, terms, k=10, mode=mode)
               .select("repo", "path", "score").collect()}
        exp = {(r["repo"], r["path"]): r["score"]
               for r in bm25_topk_indexed(ref, terms, k=10, mode=mode)
               .select("repo", "path", "score").collect()}
        assert got == exp


def test_append_segment_stats_and_reader_snapshot(spark, tmp_path):
    """After ``append_segment`` a fresh reader's pyarrow-read stats equal
    Spark's aggregates over the grown index, while a reader that had
    already answered keeps its snapshot: same N, same df (also for
    terms it first looks up after the append) and same hits."""
    from tests.conftest import assert_stats_match_spark, under_both

    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.index.live import append_segment
    from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

    full = corpus_df(spark, 240, partitions=2).cache()
    base = full.where("pmod(xxhash64(path), 3) < 2")
    tail = full.subtract(base)
    d = str(tmp_path / "idx")
    build_index(spark, base, d, key_cols=["repo", "path", "commit"],
                text_col="content", tokenizer="code", num_segments=2,
                range_block=64, term_buckets=2)

    def hits(reader):
        return under_both(lambda: bm25_topk_indexed(reader, ["def", "return"], k=10).select(
            "path", "score").collect())

    old = IndexReader(spark, d)
    before = hits(old)
    ref = IndexReader(spark, d)
    exp_stats = ref.global_stats()
    exp_dfs = ref.term_dfs(["def", "return", "import", "class"])

    append_segment(spark, tail, d, segment_id=2)
    assert_stats_match_spark(spark, d)
    assert IndexReader(spark, d).global_stats()[0] == 240 > exp_stats[0]
    assert old.global_stats() == exp_stats
    assert old.term_dfs(["def", "return", "import", "class"]) == exp_dfs
    assert hits(old) == before


def test_append_drops_old_manifest_wall_clock(spark, tmp_path):
    """An index whose manifest still carries the ``built_at_unix`` wall
    clock (written before the build time moved to index_meta.json)
    takes appends: the append drops that column and keeps the others."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.index.live import append_segment

    full = corpus_df(spark, 120, partitions=2).cache()
    base = full.where("pmod(xxhash64(path), 3) < 2")
    d = str(tmp_path / "idx")
    build_index(spark, base, d, key_cols=["repo", "path", "commit"],
                text_col="content", tokenizer="code", num_segments=2, range_block=64)
    man = os.path.join(d, "manifest")
    cols = spark.read.parquet(man).columns
    spark.read.parquet(man).withColumn("built_at_unix", F.lit(1_700_000_000)).write.parquet(
        man + "_old")
    shutil.rmtree(man)
    os.rename(man + "_old", man)

    append_segment(spark, full.subtract(base), d, segment_id=2)
    grown = spark.read.parquet(man)
    assert sorted(grown.columns) == sorted(cols)
    assert sorted(r["segment_id"] for r in grown.select("segment_id").collect()) == [0, 1, 2]
