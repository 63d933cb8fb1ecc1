#!/usr/bin/env python
"""Headline benchmark — the driver's per-round feedback loop.

Runs the engine's headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Index build is timed separately (fresh build, not the /tmp cache) because
index-build throughput is itself a BASELINE.json metric; the indexed
queries then run against the warm index, mirroring a production
build-once/query-many split.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time


# Representative per-operator-family picks (full registry runs in the
# driver's correctness pass; the bench samples each execution path once).
HEADLINE = [
    "bm25_or_scores",        # exhaustive DataFrame BM25 (Catalyst path)
    "bm25_topk",             # TakeOrderedAndProject top-k
    "indexed_bm25_topk",     # segmented index + block-max WAND kernel
    "indexed_bm25_and_topk",
    "indexed_bm25_filtered", # FILTER-occur via cogrouped allow-list
    "indexed_msearch",       # 3-query batch in one kernel pass
    "hybrid_minmax_arith",   # normalization/combination layer
    "hybrid_neural_bm25",    # the reference's headline match+neural hybrid
    "sparse_two_phase_topk", # two-phase sparse retrieval
    "hybrid_aggs",           # aggregations over matched docs
]
# Added as the pipeline layer lands; missing names are skipped so bench
# never breaks mid-build.
HEADLINE += [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh",
    "dedup_components",      # pairs -> connected components (round-4)
    "hybrid_cardinality_hll",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_pq_topk",           # PQ-ADC quantized scan (round-3)
    "ann_hnsw_topk",         # graph search, SERVED from persisted graphs (round-4)
    "ann_hnsw_layered",      # hierarchical HNSW serving at ef=24 (round-4)
    "indexed_hybrid_neural", # production match+neural: index + stored graphs (round-4)
    "indexed_phrase_slop",   # positional proximity over the index (round-3)
    "hybrid_rrf",            # rank-fusion combination (round-4)
    "indexed_hybrid_rrf",    # production RRF: index + stored graphs (round-4)
    "ann_filtered_topk",     # filtered kNN, exact-with-filter branch (round-4)
    "text_quality",
    "rescore_window",
    "events_windowed_agg",
    "ingest_dense_embed",
    "dsl_dismax_sparse",     # DSL translate + heterogeneous dis_max reduce
    #                          over neural_sparse+match_all (round-5).
    #                          dsl_nested_total is NOT benched: its cost is
    #                          ~90% corpus chunk+encode (ingest, done once
    #                          in production); the rollup itself rides the
    #                          same agg machinery as hybrid_aggs.
    "dsl_span_near_indexed", # span_near from the positional index:
    #                          candidate-block position decode +
    #                          searchsorted chaining (round-5)
]


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from neural_search_spark.session import get_spark

    spark = get_spark("nss-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    docs_path = os.path.join(sf_dir, "documents.parquet")
    n_docs = spark.read.parquet(docs_path).count()  # warm JVM + FS cache

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    timings: dict[str, float] = {}      # per-query MEDIAN over `repeats` runs
    runs: dict[str, list[float]] = {}   # every individual run, for auditing

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0

    # --- index build (fresh each repeat, timed) ------------------------
    from neural_search_spark.index.builder import build_index

    idx_dir = "/tmp/nss_bench_index"
    build_runs: list[float] = []
    for _ in range(repeats):
        shutil.rmtree(idx_dir, ignore_errors=True)
        t0 = time.perf_counter()
        build_index(
            spark, spark.read.parquet(docs_path), idx_dir,
            key_cols=["doc_id"], text_col="text", tokenizer="simple",
            num_segments=4, range_block=128,
        )
        build_runs.append(time.perf_counter() - t0)
    build_s = _median(build_runs)
    timings["index_build"] = round(build_s, 3)
    runs["index_build"] = [round(x, 3) for x in build_runs]

    # Point the entry's index cache at the freshly built index so the
    # indexed_* queries measure query latency, not a second build.
    from neural_search_spark.index.builder import FORMAT_VERSION
    from neural_search_spark.query.wand import IndexReader

    import hashlib

    key = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}_v{FORMAT_VERSION}"
    entry._INDEX_CACHE[key] = IndexReader(spark, idx_dir, cache_hot=True)

    qs = entry.queries()
    # interleave repeats round-robin (run the whole suite `repeats` times)
    # so a transient machine-load spike hits at most one run per query
    # instead of every run of one query — medians then reject it
    for rep in range(repeats):
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            rows = fn(spark, sf_dir).collect()
            runs.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
            assert rows is not None
    for name, xs in runs.items():
        if name != "index_build":
            timings[name] = round(_median(xs), 3)

    total = round(sum(timings.values()), 3)
    # The stdout line must stay COMPACT: the driver's capture buffer
    # truncated round 3's line once it carried per-run arrays plus the
    # embedded scaling evidence (BENCH_r03.json came back unparseable).
    # Medians + totals go to stdout; runs + scaling evidence go to a
    # side file under BENCH/.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "repeats": repeats,
        "sf": _sf_of(sf_dir),
        "n_docs": n_docs,
        "index_build_files_per_sec": round(n_docs / build_s, 1),
        "scaling_2to8_query": None,
        "scaling_2to8_build": None,
        "scaling_8to32_query": None,
        "scaling_8to32_build": None,
        "detail": "BENCH/bench_runs_latest.json",
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    bench_dir = os.path.join(repo_dir, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    side = {
        "runs": runs,
        "repeats": repeats,
        "sf": _sf_of(sf_dir),
        "note": "per-query bench values are MEDIANS over `repeats` "
                "interleaved runs (multi-tenant box, ±25% single-run "
                "noise — see BENCH/BASELINE.md); sf0.1 is 5k docs — "
                "build time there is fixed overhead; throughput/scaling "
                "at 1.2M-2.4M files is in scaling_evidence. "
                "dedup_embedding_lsh picks its band-key projection "
                "adaptively (impl='auto'): a bounded limit-probe selects "
                "interpreted HOF keys under the measured 256k-row "
                "crossover (dodges the ~4.5s fixed Janino compile of the "
                "128 inlined hyperplane dot products — the old ~8s bench "
                "row was ~70% that compile) and constant-folded whole-"
                "stage-codegen keys above it (2.1x better per-row at "
                "512k vectors). Both forms are bit-identical per pair; "
                "measurements in BENCH/r5_lsh_impl.json",
    }
    scaling_path = os.path.join(bench_dir, "scaling.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            sc = json.load(fh)
        side["scaling_evidence"] = sc
        # serving latency percentiles per concurrency level (1/8/32
        # clients), measured by scaling_worker on the persisted index
        lat = {c: r.get("latency_p50_p95")
               for c, r in sc.get("results", {}).items()
               if isinstance(r, dict) and r.get("latency_p50_p95")}
        # curated shape: pairs.<pair>.query.<level>.latency_p50_p95
        for pair in sc.get("pairs", {}).values():
            for lvl, q in (pair.get("query") or {}).items():
                if isinstance(q, dict) and q.get("latency_p50_p95"):
                    lat[lvl] = q["latency_p50_p95"]
        if lat:
            side["latency_p50_p95"] = lat
        # surface the four headline efficiency scalars on stdout — the
        # 2->8 pair is the north rule's N-vs-4N criterion (>=0.8)
        try:
            for pname, tag28 in (("2_to_8", "2to8"), ("8_to_32", "8to32")):
                pair = sc.get("pairs", {}).get(pname, {})
                out[f"scaling_{tag28}_query"] = pair.get("query", {}).get("efficiency")
                out[f"scaling_{tag28}_build"] = pair.get("build", {}).get("efficiency")
            # end-of-round follow-up build pair in a recovered box
            # window (healthy-window reps 0.919/0.950 — see BASELINE.md)
            fu = sc.get("pairs", {}).get("2_to_8", {}).get("build_followup_rerun")
            if fu:
                out["scaling_2to8_build_followup"] = fu.get("efficiency")
        except Exception:
            pass
        # those scalars are copied from the file, not measured by this
        # run — the same stdout line says where they come from
        out["scaling_source"] = (f"BENCH/scaling.json (round {sc.get('round', '?')}, "
                                 f"not measured by this run)")
    # round number = 1 + highest BENCH_r{N}.json already recorded (the
    # driver writes BENCH_r{N}.json after this run), fallback "latest"
    rounds = [int(m.group(1)) for f in os.listdir(repo_dir)
              if (m := re.match(r"BENCH_r(\d+)\.json$", f))]
    tag = f"r{max(rounds) + 1:02d}" if rounds else "latest"
    for name in (f"bench_runs_{tag}.json", "bench_runs_latest.json"):
        with open(os.path.join(bench_dir, name), "w") as fh:
            json.dump(side, fh, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
