"""Per-layer metrics of a traced run, from the tracer's spans, request
counters and plan metrics plus what the workload measured directly."""

from __future__ import annotations

from collections import defaultdict

from . import stats

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "query.dsl.translate_ms": "ms",
    "query.wand.term_dfs_ms": "ms",
    "query.wand.term_dfs_jobs": "count",
    "query.wand.term_memo_hit_ratio": "ratio",
    "query.wand.global_stats_ms": "ms",
    "query.wand.reader_open_ms": "ms",
    "query.wand.first_query_ms": "ms",
    "query.hybrid.normalize_combine_ms": "ms",
    "query.hybrid.jobs_per_request": "count",
    "query.phrase.jobs_per_request": "count",
    "query.phrase.collect_ms": "ms",
    "spark.jobs_per_request": "count",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.collect_ms": "ms",
    "scan.postings_rows_per_request": "count",
    "scan.postings_bytes_per_request": "bytes",
    "arrow.bytes_to_python_per_request": "bytes",
    "arrow.bytes_from_python_per_request": "bytes",
    "kernel.python_run_ms_per_request": "ms",
    "kernel.python_init_ms_per_request": "ms",
    "kernel.rows_out_per_request": "count",
    "kernel.msearch_python_share": "ratio",
    "join.docmap_broadcast_ms_per_request": "ms",
    "shuffle.bytes_per_request": "bytes",
    "jvm.gc_ms_per_request": "ms",
    "index.builder.postings_write_s": "s",
    "index.builder.docmap_write_s": "s",
    "index.builder.manifest_write_s": "s",
    "index.builder.tokens_per_s": "1/s",
    "index.builder.jobs": "count",
    "functions.codecs.doc_bytes_per_posting": "bytes",
    "functions.codecs.pos_bytes_per_token": "bytes",
    "index.live.append_ms": "ms",
    "index.live.jobs_per_append": "count",
    "index.merge.wall_s": "s",
    "index.merge.jobs": "count",
    "index.merge.bytes_out_per_byte_in": "ratio",
    "session.start_s": "s",
    "corpus.gen_s": "s",
    "setup.build_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_ms_per_request": "ms",
    "trace.span_coverage": "ratio",
    "trace.request_p50_ms": "ms",
}

# plan metric -> per-layer metric (per request)
_PLAN = {
    "scan.postings_rows": "scan.postings_rows_per_request",
    "scan.postings_bytes": "scan.postings_bytes_per_request",
    "arrow.bytes_to_python": "arrow.bytes_to_python_per_request",
    "arrow.bytes_from_python": "arrow.bytes_from_python_per_request",
    "kernel.python_run_ms": "kernel.python_run_ms_per_request",
    "kernel.python_init_ms": "kernel.python_init_ms_per_request",
    "kernel.rows_out": "kernel.rows_out_per_request",
    "join.broadcast_ms": "join.docmap_broadcast_ms_per_request",
    "shuffle.bytes": "shuffle.bytes_per_request",
}


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def summarize(tracer, measured: dict) -> tuple[dict[str, float], list[str]]:
    """(per-layer values, names of layers this workload did not exercise).
    ``measured`` holds what the workload timed itself (set-up phases,
    build phases, codec bytes); a layer absent from both reads 0."""
    timed = [r for r in tracer.requests if not r["kind"].startswith("setup.")]
    ids = {r["id"] for r in timed}
    by_kind: dict[str, list[dict]] = defaultdict(list)
    for r in timed:
        by_kind[r["kind"]].append(r)
    spans = [s for s in tracer.spans if s["request"] in ids]
    self_t = tracer.self_times()

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    def named(name, reqs=None):
        want = ids if reqs is None else {r["id"] for r in reqs}
        return [s for s in spans if s["name"] == name and s["request"] in want]

    n = len(timed)
    out: dict[str, float] = {}
    dsl_spans = named("query.dsl.search") + named("query.dsl.msearch")
    out["query.dsl.translate_ms"] = _mean([self_t[s["id"]] * 1e3 for s in dsl_spans])
    tdfs = named("query.wand.term_dfs")
    out["query.wand.term_dfs_ms"] = sum(dur(s) for s in tdfs) / n
    out["query.wand.term_dfs_jobs"] = sum(s["jobs"] for s in tdfs) / n
    terms = sum(r["memo_terms"] for r in timed)
    out["query.wand.term_memo_hit_ratio"] = sum(r["memo_hits"] for r in timed) / terms if terms else 0.0
    out["query.wand.global_stats_ms"] = sum(dur(s) for s in named("query.wand.global_stats")) / n
    opens = named("query.wand.reader_open")
    out["query.wand.reader_open_ms"] = _mean([dur(s) for s in opens])
    refresh = by_kind.get("refresh", [])
    out["query.wand.first_query_ms"] = _mean(
        [(r["end"] - r["start"]) * 1e3 - sum(dur(s) for s in named("query.wand.reader_open", [r]))
         for r in refresh])
    hyb = by_kind.get("hybrid", [])
    out["query.hybrid.normalize_combine_ms"] = (
        sum(dur(s) for s in named("query.hybrid.normalize", hyb) + named("query.hybrid.combine", hyb))
        / len(hyb) if hyb else 0.0)
    out["query.hybrid.jobs_per_request"] = _mean([r["jobs"] for r in hyb])
    phr = by_kind.get("phrase", [])
    out["query.phrase.jobs_per_request"] = _mean([r["jobs"] for r in phr])
    out["query.phrase.collect_ms"] = _mean([dur(s) for s in named("collect", phr)])
    out["spark.jobs_per_request"] = _mean([r["jobs"] for r in timed])
    out["spark.stages_per_request"] = _mean([r["stages"] for r in timed])
    out["spark.tasks_per_request"] = _mean([r["tasks"] for r in timed])
    out["spark.collect_ms"] = sum(dur(s) for s in named("collect")) / n
    for plan_key, name in _PLAN.items():
        out[name] = sum(r["plan"].get(plan_key, 0.0) for r in timed) / n
    out["kernel.msearch_python_share"] = msearch_breakdown(tracer).get("python_share", 0.0)
    out["jvm.gc_ms_per_request"] = _mean([r["gc_ms"] for r in timed])
    app = by_kind.get("append", [])
    out["index.live.append_ms"] = _mean([(r["end"] - r["start"]) * 1e3 for r in app])
    out["index.live.jobs_per_append"] = _mean([r["jobs"] for r in app])
    builds = by_kind.get("build") or [r for r in tracer.requests if r["kind"] == "setup.build"]
    out["index.builder.jobs"] = _mean([r["jobs"] for r in builds])
    out["index.merge.jobs"] = _mean([r["jobs"] for r in by_kind.get("merge", [])])
    out["trace.overhead_ms_per_request"] = tracer.overhead_s * 1e3 / n
    out["trace.span_coverage"] = tracer.coverage({r["kind"] for r in timed})
    out["trace.request_p50_ms"] = stats.median([(r["end"] - r["start"]) * 1e3 for r in timed])
    for name, value in measured.items():
        if name in PER_LAYER and value is not None:
            out[name] = float(value)
    absent = [name for name in PER_LAYER if name not in out or out[name] == 0.0]
    return {name: out.get(name, 0.0) for name in PER_LAYER}, absent


def msearch_breakdown(tracer) -> dict[str, float]:
    """Where an ``msearch`` request's time goes, as means per request in
    ms: its wall, the Python workers' time (``pythonTotalTime``, summed
    over tasks), the df lookup, the DSL's self time, the broadcast and
    the collect; ``python_share`` is the Python time over the wall.
    Empty when the run had no msearch request."""
    reqs = [r for r in tracer.requests if r["kind"] == "msearch"]
    if not reqs:
        return {}
    ids = {r["id"] for r in reqs}
    self_t = tracer.self_times()

    def span_ms(name):
        return sum((s["end"] - s["start"]) * 1e3 for s in tracer.spans
                   if s["name"] == name and s["request"] in ids) / len(reqs)

    wall = _mean([(r["end"] - r["start"]) * 1e3 for r in reqs])
    python = _mean([r["plan"].get("kernel.python_run_ms", 0.0) for r in reqs])
    return {
        "wall": wall,
        "python": python,
        "term_dfs": span_ms("query.wand.term_dfs"),
        "translate": sum(self_t[s["id"]] * 1e3 for s in tracer.spans
                         if s["name"] == "query.dsl.msearch" and s["request"] in ids) / len(reqs),
        "broadcast": _mean([r["plan"].get("join.broadcast_ms", 0.0) for r in reqs]),
        "collect": span_ms("collect"),
        "python_share": python / wall,
    }


def memo_hits_by_kind(tracer) -> dict[str, float]:
    """Share of the terms looked up by ``term_dfs`` that the reader's df
    memo already held, per request kind that looked any up."""
    hits: dict[str, int] = defaultdict(int)
    terms: dict[str, int] = defaultdict(int)
    for r in tracer.requests:
        hits[r["kind"]] += r["memo_hits"]
        terms[r["kind"]] += r["memo_terms"]
    return {k: hits[k] / n for k, n in terms.items() if n}
