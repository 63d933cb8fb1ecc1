#!/usr/bin/env python
"""N-vs-4N scaling evidence (north rule: efficiency >= 0.8 from N to 4N
executors; sandbox proxy = local[8] vs local[32] on one machine).

1. Generates the deterministic source-code corpus (corpus.py — schema
   per BASELINE.json input_hint) once.
2. Packages ``neural_search_spark`` into a zip and runs
   ``spark-submit --master local[{8,32}] --py-files pkg.zip
   scripts/scaling_worker.py`` — a fresh JVM per parallelism level.
3. Computes scaling efficiency = (tp@4N) / (4 x tp@N) for index build
   and for query throughput; writes BENCH/BASELINE.md + BENCH/scaling.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_pkg_zip(path: str) -> str:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg = os.path.join(REPO, "neural_search_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return path


def gen_corpus(corpus_dir: str, n_docs: int) -> None:
    if os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        return
    sys.path.insert(0, REPO)
    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.session import get_spark

    spark = get_spark("nss-corpus-gen", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    corpus_df(spark, n_docs, partitions=64).write.mode("overwrite").parquet(corpus_dir)
    spark.stop()


def _run_worker(cpus: int, corpus_dir: str, work_dir: str, pkg_zip: str, extra: list[str]) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cpus}]",
        "--driver-memory", "16g",
        "--py-files", pkg_zip,
        os.path.join(REPO, "scripts", "scaling_worker.py"),
        "--corpus", corpus_dir,
        "--index-dir", os.path.join(work_dir, f"index_{cpus}"),
        "--cpus", str(cpus),
        *extra,
    ]
    env = dict(
        os.environ,
        MALLOC_TRIM_THRESHOLD_="268435456",
        MALLOC_MMAP_THRESHOLD_="268435456",
        MALLOC_ARENA_MAX="4",
    )
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600, env=env)
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker local[{cpus}] produced no JSON:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def run_level(cpus: int, corpus_dir: str, work_dir: str, pkg_zip: str) -> dict:
    """Two fresh JVMs per level: build-only, then query-only — the
    production build-once/query-many split (a builder JVM's heap/GC
    state measurably depresses query throughput; observed 3.35 vs
    9.31 qps at 32 cores for the identical workload)."""
    build = _run_worker(cpus, corpus_dir, work_dir, pkg_zip, ["--skip-queries"])
    query = _run_worker(cpus, corpus_dir, work_dir, pkg_zip, ["--skip-build"])
    merged = dict(build)
    for k in ("n_queries", "query_sec", "queries_per_sec",
              "query_single_sec", "queries_per_sec_single",
              "latency_p50_p95"):
        merged[k] = query[k]
    return merged


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=2400000)
    ap.add_argument("--work-dir", default="/tmp/nss_scaling")
    ap.add_argument("--levels", type=int, nargs=2, default=[8, 32])
    args = ap.parse_args()

    os.makedirs(args.work_dir, exist_ok=True)
    corpus_dir = os.path.join(args.work_dir, f"corpus_{args.n_docs}")
    gen_corpus(corpus_dir, args.n_docs)
    pkg_zip = make_pkg_zip(os.path.join(args.work_dir, "nss_pkg.zip"))

    lo, hi = args.levels
    results = {c: run_level(c, corpus_dir, args.work_dir, pkg_zip) for c in (lo, hi)}
    ratio = hi / lo
    build_eff = results[hi]["files_per_sec"] / (ratio * results[lo]["files_per_sec"])
    query_eff = results[hi]["queries_per_sec"] / (ratio * results[lo]["queries_per_sec"])

    summary = {
        "n_docs": args.n_docs,
        "levels": [lo, hi],
        "results": results,
        "build_scaling_efficiency": round(build_eff, 3),
        "query_scaling_efficiency": round(query_eff, 3),
    }
    bench_dir = os.path.join(REPO, "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "scaling.json"), "w") as fh:
        json.dump(summary, fh, indent=2)

    md = f"""# BENCH/BASELINE.md — measured numbers vs BASELINE.json targets

Protocol: deterministic synthetic source-code corpus
(`neural_search_spark/corpus.py`, seeded counter-based generation —
identical table at any parallelism), index build + fixed query set run
via `spark-submit --master local[{{{lo},{hi}}}] --py-files nss_pkg.zip
scripts/scaling_worker.py` — one fresh JVM per level, same input
(sandbox proxy for N vs 4N executors per the task instructions).

## Scaling run ({args.n_docs:,} files, {results[lo]['total_tokens']:,} tokens, 256 segments)

| metric | local[{lo}] (N) | local[{hi}] (4N) | efficiency (tp@4N / 4·tp@N) |
|---|---|---|---|
| index build wall (s) | {results[lo]['build_sec']} | {results[hi]['build_sec']} | — |
| **index build files/sec** | {results[lo]['files_per_sec']} | {results[hi]['files_per_sec']} | **{build_eff:.3f}** |
| query set wall (s, {results[lo]['n_queries']} queries) | {results[lo]['query_sec']} | {results[hi]['query_sec']} | — |
| **queries/sec (BM25 top-10, indexed)** | {results[lo]['queries_per_sec']} | {results[hi]['queries_per_sec']} | **{query_eff:.3f}** |
| per-row sha256 mismatches | {results[lo]['sha256_mismatches']} | {results[hi]['sha256_mismatches']} | target 0 |
| postings emitted | {results[lo]['postings']:,} | {results[hi]['postings']:,} | equal ⇒ deterministic |
| postings bytes (delta+varint) | {results[lo]['bytes_compressed']:,} | {results[hi]['bytes_compressed']:,} | equal ⇒ deterministic |

Target (BASELINE.json): scaling efficiency ≥ 0.8 N→4N. Raw JSON:
`BENCH/scaling.json`.

Environment: single machine, {os.cpu_count()} cores, local mode (threads
share one JVM — a real 4N-executor cluster adds network shuffle but
removes the shared memory-bandwidth ceiling this proxy suffers).
"""
    # BENCH/BASELINE.md is the curated evidence document (multiple pairs,
    # hardware controls) — raw per-run output goes to its own file
    with open(os.path.join(bench_dir, "scaling_run.md"), "w") as fh:
        fh.write(md)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
