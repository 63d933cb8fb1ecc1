import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from neural_search_spark.session import get_spark

    s = get_spark(app_name="nss-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ["documents", "embeddings", "lineitem", "orders", "events"]:
        p = os.path.join(SF_SMALL, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.fixture(scope="session")
def positional_reader_ctx(spark, documents, tmp_path_factory):
    """One positional index over the sf0.001 documents, shared by the
    span and intervals indexed-dispatch suites."""
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.dsl import SearchContext
    from neural_search_spark.query.wand import IndexReader

    d = str(tmp_path_factory.mktemp("pos_idx"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=4, range_block=64,
                store_positions=True)
    return SearchContext(docs=documents,
                         reader=IndexReader(spark, d, cache_hot=True))


# The indexed BM25 entry points' two executors, selected through
# query/wand.py's rule bounds: 0 postings sends every query with a live
# term to Spark; unreachable bounds send every query to the driver.
EXECUTORS = {"spark": (0, 0), "driver": (1 << 62, 1 << 62)}


@contextlib.contextmanager
def executor(name: str):
    """Frames built inside run on executor ``name``."""
    from neural_search_spark.query import wand

    prev = wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES
    wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES = EXECUTORS[name]
    try:
        yield
    finally:
        wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES = prev


def under_both(fn):
    """``fn()`` (which builds and collects its frames) under each
    executor; the answers must be identical, unrounded scores included.
    Returns the answer."""
    out = {}
    for name in EXECUTORS:
        with executor(name):
            out[name] = fn()
    assert out["spark"] == out["driver"]
    return out["spark"]


def spark_job_count(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs, counted through a job
    group and the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def assert_stats_match_spark(spark, index_dir: str) -> None:
    """A fresh reader's N, avgdl and df of EVERY term equal
    Spark aggregates over the same manifest and postings files."""
    from pyspark.sql import functions as F

    from neural_search_spark.query.wand import IndexReader

    post = spark.read.parquet(os.path.join(index_dir, "postings"))
    exp = {r["term"]: int(r["df"])
           for r in post.groupBy("term").agg(F.sum("n").alias("df")).collect()}
    man = spark.read.parquet(os.path.join(index_dir, "manifest")).agg(
        F.sum("docs_tokenized").alias("n"), F.sum("total_tokens").alias("tok")
    ).collect()[0]
    reader = IndexReader(spark, index_dir)
    assert reader.global_stats() == (man["n"], man["tok"] / man["n"])
    assert reader.term_dfs(sorted(exp)) == exp


# Generative tests (tests/test_dsl_fuzz.py) run in tier-1: derandomized
# draws make every run see the same bodies, no example database is
# written into the repo, and the example count stays bounded.
from hypothesis import HealthCheck, settings  # noqa: E402

settings.register_profile(
    "tier1", derandomize=True, database=None, deadline=None, max_examples=30,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large,
                           HealthCheck.function_scoped_fixture],
)
settings.load_profile("tier1")
