"""Outside-in layer trace for the benchmark's traced run.

Spans are recorded from the benchmark's own files: ``install`` wraps the
engine's public functions (module attributes and ``IndexReader``
methods) and ``restore`` puts the originals back, so no engine file
changes. Each timed operation runs as a *request* with its own Spark job
group; per request the tracer reads

* job, stage and task counts from ``SparkContext.statusTracker``;
* the SQL metrics of the executed plan after each ``collect`` (scan
  rows and bytes, the Arrow hop, Python worker times, broadcast and
  shuffle);
* JVM GC time from the management beans before and after.

Spans stay in memory; ``dump`` writes them out at the end. The time the
tracer spends on its own bookkeeping is summed as its overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from collections import defaultdict

from .stats import covered, self_time

# (module path, owner attribute or None, function name, span name)
WRAPPED = [
    ("neural_search_spark.query.dsl", None, "search", "query.dsl.search"),
    ("neural_search_spark.query.dsl", None, "msearch", "query.dsl.msearch"),
    ("neural_search_spark.query.wand", "IndexReader", "__init__", "query.wand.reader_open"),
    ("neural_search_spark.query.wand", "IndexReader", "term_dfs", "query.wand.term_dfs"),
    ("neural_search_spark.query.wand", "IndexReader", "global_stats", "query.wand.global_stats"),
    ("neural_search_spark.query.wand", None, "bm25_scores_indexed", "query.wand.bm25_scores_indexed"),
    ("neural_search_spark.query.wand", None, "bm25_topk_indexed_multi", "query.wand.topk_multi"),
    ("neural_search_spark.query.wand", None, "match_text_topk", "query.wand.match_text_topk"),
    ("neural_search_spark.query.phrase", None, "bm25_phrase_indexed", "query.phrase.phrase_indexed"),
    ("neural_search_spark.query.hybrid", None, "normalize", "query.hybrid.normalize"),
    ("neural_search_spark.query.hybrid", None, "combine", "query.hybrid.combine"),
    ("neural_search_spark.index.builder", None, "build_index", "index.builder.build_index"),
    ("neural_search_spark.index.live", None, "append_segment", "index.live.append_segment"),
    ("neural_search_spark.index.merge", None, "merge_segments", "index.merge.merge_segments"),
]

_METRIC_RE = re.compile(r"^(\w+) -> SQLMetric\(.*value: (-?\d+)\)$")


def plan_metrics(df) -> dict[str, float]:
    """SQL metrics of ``df``'s executed plan, summed per layer. Call it
    after the plan ran (``collect``)."""
    out: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its exchange ran once and is counted where it ran
        metrics = {}
        for line in node.metrics().mkString("\n").splitlines():
            m = _METRIC_RE.match(line.strip())
            if m:
                metrics[m.group(1)] = float(m.group(2))
        postings = "term#" in node.output().mkString(",")
        if cls in ("InMemoryTableScanExec", "FileSourceScanExec") and postings:
            out["scan.postings_rows"] += metrics.get("numOutputRows", 0.0)
            out["scan.postings_bytes"] += metrics.get("filesSize", 0.0)
        if "pythonTotalTime" in metrics:
            # per task, Spark times total = finish - task start and
            # boot = worker start - task start. A reused worker starts
            # before the task, so its negative boot is dropped and its
            # init also holds the worker's idle wait: init can exceed total
            out["arrow.bytes_to_python"] += metrics.get("pythonDataSent", 0.0)
            out["arrow.bytes_from_python"] += metrics.get("pythonDataReceived", 0.0)
            out["kernel.python_run_ms"] += metrics["pythonTotalTime"]
            out["kernel.python_init_ms"] += (metrics.get("pythonBootTime", 0.0)
                                             + metrics.get("pythonInitTime", 0.0))
            out["kernel.rows_out"] += metrics.get("pythonNumRowsReceived", 0.0)
        if cls == "BroadcastExchangeExec":
            out["join.broadcast_ms"] += (metrics.get("collectTime", 0.0)
                                         + metrics.get("buildTime", 0.0)
                                         + metrics.get("broadcastTime", 0.0))
        out["shuffle.bytes"] += metrics.get("shuffleBytesWritten", 0.0)
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return dict(out)


class Tracer:
    """Spans, per-request Spark counters and plan metrics, in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.requests: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._request: dict | None = None
        self._originals: list[tuple[object, str, object]] = []

    # --- bookkeeping helpers -------------------------------------------

    def _jobs(self) -> list[int]:
        if self._request is None:
            return []
        return list(self.sc.statusTracker().getJobIdsForGroup(self._request["group"]))

    def _gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(beans.get(i).getCollectionTime() for i in range(beans.size())))

    # --- requests and spans --------------------------------------------

    @contextlib.contextmanager
    def request(self, kind: str):
        t = time.perf_counter()
        rid = len(self.requests)
        req = {"id": rid, "kind": kind, "group": f"perfbench-req-{rid}",
               "plan": defaultdict(float), "memo_hits": 0, "memo_terms": 0}
        self.sc.setJobGroup(req["group"], kind)
        req["gc_before"] = self._gc_ms()
        self._request = req
        self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            with self.span("request." + kind):
                yield req
        finally:
            end = time.perf_counter()
            t = time.perf_counter()
            req["start"], req["end"] = start, end
            req["gc_ms"] = self._gc_ms() - req.pop("gc_before")
            tracker = self.sc.statusTracker()
            jobs = self._jobs()
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (list(info.stageIds) if info else []):
                    stages += 1
                    sinfo = tracker.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo else 0
            req["jobs"], req["stages"], req["tasks"] = len(jobs), stages, tasks
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._request = None
            self.requests.append(req)
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "request": self._request["id"] if self._request else None,
               "jobs_before": len(self._jobs())}
        self.spans.append(rec)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = len(self._jobs()) - rec.pop("jobs_before")
            self.overhead_s += time.perf_counter() - t

    def collect(self, df) -> list:
        """``df.collect()`` inside a span, then the plan's SQL metrics."""
        with self.span("collect"):
            rows = df.collect()
        t = time.perf_counter()
        if self._request is not None:
            for k, v in plan_metrics(df).items():
                self._request["plan"][k] += v
        self.overhead_s += time.perf_counter() - t
        return rows

    # --- wrappers -------------------------------------------------------

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if name == "query.wand.term_dfs":
                # a term already in the reader's df memo is a hit
                reader, terms = args[0], set(args[1])
                if tracer._request is not None:
                    tracer._request["memo_hits"] += len(terms & (reader._dfs or {}).keys())
                    tracer._request["memo_terms"] += len(terms)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def install(self) -> None:
        import importlib

        for mod_name, owner_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            fn = getattr(owner, attr)
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self._wrapper(fn, name))

    def restore(self) -> None:
        while self._originals:
            owner, attr, fn = self._originals.pop()
            setattr(owner, attr, fn)

    # --- summaries ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """Self time per span id (duration minus the children's cover)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        return {s["id"]: self_time(s["start"], s["end"], children[s["id"]]) for s in self.spans}

    def coverage(self, kinds: set[str]) -> float:
        """Share of the wall of requests of ``kinds`` covered by their
        child spans (the engine calls and collects under the root)."""
        wall = inner = 0.0
        for req in self.requests:
            if req["kind"] not in kinds:
                continue
            root = next(s for s in self.spans
                        if s["request"] == req["id"] and s["parent"] is None)
            kids = [(s["start"], s["end"]) for s in self.spans if s["parent"] == root["id"]]
            wall += root["end"] - root["start"]
            inner += covered(kids)
        return inner / wall if wall else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans,
                       "requests": [{k: v for k, v in r.items() if k != "plan"}
                                    | {"plan": dict(r["plan"])} for r in self.requests],
                       "overhead_s": self.overhead_s}, fh)
