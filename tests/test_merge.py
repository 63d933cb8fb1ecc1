"""Segment merge: merged index must answer every query rank- AND
score-identically to the unmerged index (BM25 stats are untouched by
merging — N, avgdl, df, norms all survive doc-id rebasing)."""

import hashlib
import os
import time

import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.builder import build_index, verify_sha256
from neural_search_spark.index.merge import merge_segments
from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed

QUERIES = [
    (["def", "return"], "or"),
    (["import", "class", "lambda"], "or"),
    (["def", "import"], "and"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    from neural_search_spark.corpus import corpus_df

    return corpus_df(spark, 600, partitions=4).cache()


@pytest.fixture(scope="module")
def merged_pair(spark, corpus, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("idx_base"))
    out = str(tmp_path_factory.mktemp("idx_merged"))
    build_index(
        spark, corpus, base, key_cols=["repo", "path", "commit"], text_col="content",
        tokenizer="code", num_segments=8, range_block=64, term_buckets=4,
    )
    metrics = merge_segments(spark, base, out, factor=4)
    return base, out, metrics


def _table_digests(index_dir: str) -> dict[str, list[str]]:
    """Sorted sha256 digests of each index table's parquet files (file
    names carry a random id; their bytes must not)."""
    out = {}
    for table in ("postings", "docmap", "manifest"):
        root_dir = os.path.join(index_dir, table)
        out[table] = sorted(
            hashlib.sha256(open(os.path.join(root, f), "rb").read()).hexdigest()
            for root, _, files in os.walk(root_dir) for f in files if f.endswith(".parquet"))
    return out


def test_identical_builds_write_identical_bytes(spark, corpus, tmp_path):
    """No wall-clock value reaches a parquet file: two builds of one
    corpus, over a second apart, and their merges write the same bytes
    per table; the build time is in index_meta.json."""
    from neural_search_spark.index.builder import read_meta

    digests = []
    for i in range(2):
        if i:
            time.sleep(1.1)
        d, m = str(tmp_path / f"b{i}"), str(tmp_path / f"m{i}")
        build_index(spark, corpus, d, key_cols=["repo", "path", "commit"],
                    text_col="content", tokenizer="code", num_segments=4, range_block=64)
        merge_segments(spark, d, m, factor=2)
        digests.append((_table_digests(d), _table_digests(m)))
        assert read_meta(d)["built_at_unix"] > 0
        for index_dir, build_id in ((d, "build"), (m, "merge")):
            man = spark.read.parquet(os.path.join(index_dir, "manifest"))
            assert "built_at_unix" not in man.columns
            assert {r["build_id"] for r in man.select("build_id").collect()} == {build_id}
    assert digests[0] == digests[1]


def test_merge_reduces_segments(spark, merged_pair):
    base, out, metrics = merged_pair
    assert metrics["segments_in"] == 8 and metrics["segments_out"] == 2
    segs = {r.segment_id for r in spark.read.parquet(out + "/postings").select("segment_id").distinct().collect()}
    assert segs == {0, 1}


def test_merge_preserves_stats(spark, merged_pair):
    base, out, _ = merged_pair
    rb, rm = IndexReader(spark, base), IndexReader(spark, out)
    assert rb.global_stats() == rm.global_stats()
    for terms, _ in QUERIES:
        assert rb.term_dfs(terms) == rm.term_dfs(terms)


def test_merge_reader_stats_match_spark(spark, merged_pair):
    """The reader's pyarrow-read N/avgdl/df equal Spark's aggregates
    over the files, both after the build and after the merge."""
    from tests.conftest import assert_stats_match_spark

    base, out, _ = merged_pair
    assert_stats_match_spark(spark, base)
    assert_stats_match_spark(spark, out)


def test_merge_rank_and_score_identical(spark, merged_pair):
    base, out, _ = merged_pair
    rb, rm = IndexReader(spark, base), IndexReader(spark, out)
    for terms, mode in QUERIES:
        a = bm25_topk_indexed(rb, terms, k=10, mode=mode).select("repo", "path", "commit", "score").collect()
        b = bm25_topk_indexed(rm, terms, k=10, mode=mode).select("repo", "path", "commit", "score").collect()
        assert [(r.repo, r.path, r.commit) for r in a] == [(r.repo, r.path, r.commit) for r in b]
        assert all(abs(x.score - y.score) < 1e-9 for x, y in zip(a, b))


def test_merge_docmap_consistent(spark, corpus, merged_pair):
    base, out, _ = merged_pair
    assert verify_sha256(spark, corpus, out) == 0
    dm = spark.read.parquet(out + "/docmap")
    assert dm.count() == dm.select("nss_doc_id").distinct().count() == 600
    # local ids dense per merged segment
    bad = (
        dm.groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("c"), F.max("local_id").alias("mx"), F.min("local_id").alias("mn"))
        .where((F.col("mx") != F.col("c") - 1) | (F.col("mn") != 0))
        .count()
    )
    assert bad == 0


def test_merge_rejects_output_overlapping_input(spark, merged_pair, tmp_path):
    """An output that is the input, lies inside it, contains it or
    resolves to it through a symlink is refused before anything is
    read or written: the input's files keep their bytes."""
    import shutil

    src = str(tmp_path / "idx")
    shutil.copytree(merged_pair[0], src)
    before = _table_digests(src)
    os.symlink(src, str(tmp_path / "link"))
    for out in (src, os.path.join(src, "merged"), str(tmp_path), str(tmp_path / "link")):
        with pytest.raises(ValueError, match="overlaps"):
            merge_segments(spark, src, out, factor=2)
        assert _table_digests(src) == before
    assert not os.path.exists(os.path.join(src, "merged"))


@pytest.mark.parametrize("factor", [0, -1, 2.5, True, "2"])
def test_merge_rejects_invalid_factor(spark, merged_pair, tmp_path, factor):
    """``factor`` must be an int >= 1; anything else raises ValueError
    before any Spark job or write."""
    from tests.conftest import spark_job_count

    out = str(tmp_path / "out")

    def call():
        with pytest.raises(ValueError, match="factor"):
            merge_segments(spark, merged_pair[0], out, factor=factor)

    assert spark_job_count(spark, call) == 0
    assert not os.path.exists(out)
