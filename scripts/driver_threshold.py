#!/usr/bin/env python
"""Measure ``query/wand.py``'s executor bounds: the Σ df (postings of a
query's live terms) up to which the driver executor answers faster than
the Spark executor (``DRIVER_MAX_POSTINGS``), and how each executor
serves concurrent clients per index size (``DRIVER_MAX_READ_BYTES``).

    python scripts/driver_threshold.py --docs 200000 1200000 --segments 8 256 \\
        --work /tmp/nss_threshold --out BENCH/driver_threshold.json

For each corpus size it generates the seeded code corpus
(``corpus.corpus_df``), builds the index (code analyzer, positions on;
256 segments and range_block 128 are ``scripts/scaling_worker.py``'s
layout), opens one hot reader and times, under each executor in
alternating order after one warm call each: head-term ORs of 2–8 terms,
ORs of 4 identifiers at Zipf ranks 0–3000, a ``match_phrase`` over head terms and a
256-body msearch of rare identifiers. Each timing is one call plus its
collect, with the Spark jobs it ran. The threshold is the largest
measured Σ df at or below which every case's driver median is below its
Spark median.

The concurrent section serves one-query requests (``bm25_topk_indexed``,
one fresh frame per request) from 8 and 32 client threads through the
FAIR scheduler, as ``scaling_worker.py``'s latency measurement does:
its 48-request mixed workload, and 24 distinct 4-identifier ORs per
Zipf band. Each runs under the driver executor and the Spark
executor, reporting p50/p95 latency, requests per second and how many
of the requests the module's own rule sends to the driver.
``--sections concurrent --keep`` adds it to an existing file without
re-running the single-client section.

One JSON file is written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_worker import _HEAD as HEAD  # noqa: E402  (scripts/ is sys.path[0])
from scaling_worker import _vocab_term, make_query_workload  # noqa: E402


# (DRIVER_MAX_POSTINGS, DRIVER_MAX_READ_BYTES) that force each executor
LIMITS = {"driver": (1 << 62, 1 << 62), "spark": (0, 0)}


def use_bounds(bounds: tuple[int, int]) -> None:
    from neural_search_spark.query import wand

    wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES = bounds


def job_count(spark, fn) -> tuple[int, object]:
    sc = spark.sparkContext
    group = f"threshold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver threshold")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def cases(rng) -> list[dict]:
    """(kind, label, call(reader), terms whose Σ df counts)."""
    from neural_search_spark.query.phrase import bm25_phrase_indexed
    from neural_search_spark.query.wand import bm25_topk_indexed, bm25_topk_indexed_multi

    out = []
    for rank in (3000, 300, 30, 0):
        terms = [_vocab_term(rank + i) for i in range(4)]
        out.append({"kind": "or_identifiers", "label": f"4 identifiers from Zipf rank {rank}",
                    "terms": terms,
                    "call": lambda r, t=terms: bm25_topk_indexed(r, t, k=10).collect()})
    for n in range(2, 9):
        terms = HEAD[:n]
        out.append({"kind": "or_head", "label": f"{n} head terms", "terms": terms,
                    "call": lambda r, t=terms: bm25_topk_indexed(r, t, k=10).collect()})
    for phrase in (["def", "return"], ["import", "class", "if"]):
        out.append({"kind": "phrase", "label": " ".join(phrase), "terms": phrase,
                    "call": lambda r, p=phrase: bm25_phrase_indexed(r, p, k=10).collect()})
    bodies = [([_vocab_term(int(i)) for i in rng.integers(200, 20000, 2)], "or")
              for _ in range(256)]
    out.append({"kind": "msearch", "label": "256 bodies of 2 rare identifiers",
                "terms": sorted({t for b, _ in bodies for t in b}),
                "call": lambda r: bm25_topk_indexed_multi(r, bodies, k=10).collect()})
    return out


def measure(spark, reader, runs: int, rng) -> list[dict]:
    from neural_search_spark.query import wand

    rule = wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES
    rows = []
    for case in cases(rng):
        sum_df = sum(reader.term_dfs(case["terms"]).values())
        ms = {"driver": [], "spark": []}
        jobs = {}
        for bounds in LIMITS.values():  # warm each executor once
            use_bounds(bounds)
            case["call"](reader)
        for i in range(runs):
            order = ["driver", "spark"] if i % 2 == 0 else ["spark", "driver"]
            for ex in order:
                use_bounds(LIMITS[ex])
                t = time.perf_counter()
                jobs[ex], _ = job_count(spark, lambda: case["call"](reader))
                ms[ex].append((time.perf_counter() - t) * 1e3)
        row = {"kind": case["kind"], "label": case["label"], "sum_df": int(sum_df),
               "driver_ms": round(statistics.median(ms["driver"]), 1),
               "spark_ms": round(statistics.median(ms["spark"]), 1),
               "driver_jobs": jobs["driver"], "spark_jobs": jobs["spark"],
               "driver_runs_ms": [round(x, 1) for x in ms["driver"]],
               "spark_runs_ms": [round(x, 1) for x in ms["spark"]]}
        print(json.dumps({k: v for k, v in row.items() if not k.endswith("runs_ms")}),
              flush=True)
        rows.append(row)
    use_bounds(rule)
    return rows


def measure_concurrent(reader, levels: list[int], per_band: int) -> list[dict]:
    """Per workload, client count and executor: request latency p50/p95
    and requests per second (requests / wall time of the whole set)."""
    from neural_search_spark.query import wand
    from neural_search_spark.query.wand import bm25_topk_indexed

    rule = wand.DRIVER_MAX_POSTINGS, wand.DRIVER_MAX_READ_BYTES
    workloads = [("scaling_worker latency workload (48 mixed requests)",
                  make_query_workload(48))]
    for rank in (3000, 300, 30):
        workloads.append((f"{per_band} ORs of 4 identifiers from Zipf rank {rank}",
                          [([_vocab_term(rank + 4 * j + i) for i in range(4)], "or")
                           for j in range(per_band)]))
    rows = []
    for label, requests in workloads:
        dfs = [reader.term_dfs(terms) for terms, _ in requests]
        sum_dfs = sorted(sum(d.values()) for d in dfs)
        use_bounds(rule)
        rule_driver = sum(wand.on_driver(reader, d, sorted(d)) for d in dfs)
        for n, clients in enumerate(levels):
            order = list(LIMITS) if n % 2 == 0 else list(LIMITS)[::-1]
            for ex in order:
                use_bounds(LIMITS[ex])
                bm25_topk_indexed(reader, requests[0][0], k=10, mode=requests[0][1]).collect()
                times: list[float] = []
                lock = threading.Lock()

                def one(req):
                    t = time.perf_counter()
                    bm25_topk_indexed(reader, req[0], k=10, mode=req[1]).collect()
                    with lock:
                        times.append((time.perf_counter() - t) * 1e3)

                t0 = time.perf_counter()
                with ThreadPoolExecutor(max_workers=clients) as pool:
                    list(pool.map(one, requests))
                wall = time.perf_counter() - t0
                ts = sorted(times)
                row = {"workload": label, "clients": clients, "executor": ex,
                       "sum_df_median": int(statistics.median(sum_dfs)),
                       "sum_df_max": int(sum_dfs[-1]),
                       "rule_on_driver": f"{rule_driver}/{len(requests)}",
                       "p50_ms": round(statistics.median(ts), 1),
                       "p95_ms": round(ts[min(len(ts) - 1, int(0.95 * (len(ts) - 1)))], 1),
                       "requests_per_s": round(len(requests) / wall, 2)}
                print(json.dumps(row), flush=True)
                rows.append(row)
    use_bounds(rule)
    return rows


def threshold(rows: list[dict]) -> dict:
    """Largest measured Σ df at or below which the driver's median is
    below Spark's in every case, and the case with the smallest Σ df
    where it is not."""
    losses = [r for r in rows if r["driver_ms"] >= r["spark_ms"]]
    first_loss = min(losses, key=lambda r: r["sum_df"]) if losses else None
    wins = [r["sum_df"] for r in rows
            if first_loss is None or r["sum_df"] < first_loss["sum_df"]]
    return {"sum_df": max(wins, default=0),
            "first_loss": None if first_loss is None else
            {k: first_loss[k] for k in ("docs", "kind", "label", "sum_df", "driver_ms", "spark_ms")}}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, nargs="+", default=[200_000, 1_200_000])
    ap.add_argument("--segments", type=int, nargs="+", default=[8, 256])
    ap.add_argument("--range-block", type=int, default=128)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--clients", type=int, nargs="+", default=[8, 32])
    ap.add_argument("--per-band", type=int, default=24)
    ap.add_argument("--sections", nargs="+", choices=["single", "concurrent"],
                    default=["single", "concurrent"],
                    help="sections to measure; the others are kept from --out")
    ap.add_argument("--work", default="/tmp/nss_threshold")
    ap.add_argument("--keep", action="store_true", help="reuse built indexes in --work")
    ap.add_argument("--out", default="BENCH/driver_threshold.json")
    args = ap.parse_args()

    from neural_search_spark.corpus import corpus_df
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader
    from neural_search_spark.session import get_spark

    prev = {}
    if os.path.exists(args.out):
        with open(args.out) as fh:
            prev = json.load(fh)
    # FAIR, as scaling_worker.py serves concurrent clients (one job at a
    # time schedules the same under FIFO)
    spark = get_spark("nss-driver-threshold", master=f"local[{args.cpus}]",
                      shuffle_partitions=2 * args.cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.scheduler.mode": "FAIR"})
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(7)
    built = {c["docs"]: c.get("build_s") for c in prev.get("corpora", [])}
    corpora, rows, conc = [], [], []
    for n_docs, segments in zip(args.docs, args.segments):
        index_dir = os.path.join(args.work, f"index_{n_docs}")
        build_s = built.get(n_docs)
        if not (args.keep and os.path.exists(os.path.join(index_dir, "index_meta.json"))):
            shutil.rmtree(index_dir, ignore_errors=True)
            corpus = corpus_df(spark, n_docs, partitions=max(8, n_docs // 20_000))
            t = time.perf_counter()
            build_index(spark, corpus, index_dir, key_cols=["repo", "path", "commit"],
                        text_col="content", tokenizer="code", num_segments=segments,
                        range_block=args.range_block)
            build_s = round(time.perf_counter() - t, 1)
        reader = IndexReader(spark, index_dir, cache_hot=True)
        corpora.append({"docs": n_docs, "segments": segments,
                        "range_block": args.range_block, "build_s": build_s,
                        "postings_bytes": sum(
                            os.path.getsize(os.path.join(root, f))
                            for root, _, files in os.walk(os.path.join(index_dir, "postings"))
                            for f in files if f.endswith(".parquet"))})
        print(json.dumps(corpora[-1]), flush=True)
        if "single" in args.sections:
            for row in measure(spark, reader, args.runs, rng):
                rows.append({"docs": n_docs, **row})
        if "concurrent" in args.sections:
            for row in measure_concurrent(reader, args.clients, args.per_band):
                conc.append({"docs": n_docs, **row})
        spark.catalog.clearCache()
    out = {
        "what": "median ms of one indexed query (call + collect) per executor, "
                "hot reader, alternating order after one warm call each",
        "box": {"cpus": os.cpu_count(), "master": f"local[{args.cpus}]"},
        "runs_per_executor": args.runs,
        "corpora": corpora,
        "cases": rows if "single" in args.sections else prev["cases"],
        "threshold": threshold(rows) if "single" in args.sections else prev["threshold"],
        "concurrent": {
            "what": "one-query requests from N client threads (FAIR scheduler); "
                    "rule_on_driver: requests the module's own bounds send to the driver",
            "rows": conc if "concurrent" in args.sections else prev["concurrent"]["rows"],
        },
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out["threshold"]))
    spark.stop()
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
