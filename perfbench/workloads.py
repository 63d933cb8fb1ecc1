"""The benchmark's workloads, one closed-loop client each.

``search``: a fresh index over a seeded corpus, a hot reader, then a
repeating pattern of single requests (``match`` OR and AND, a
``match_phrase``, an indexed hybrid composition) with one ``msearch``
batch of many distinct ``match`` bodies per pattern.

``ingest``: a fresh ``build_index``, then ``append_segment``
micro-batches each followed by a fresh ``IndexReader`` answering one
query (the refresh), then ``merge_segments``.

Every request's answer is checked after the timed phase; a wrong answer
or an error counts as a failed op.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import stats
from .environment import CpuWindow

K = 10
TOKENIZER = "code"

SEARCH_DOCS = 1500
SEARCH_SEGMENTS = 4
MSEARCH_BODIES = 256
# one pattern takes about PATTERN_SECONDS; a run times whole patterns
PATTERN_SECONDS = 9
PATTERN = ["match_or", "match_and", "match_or", "phrase",
           "match_or", "msearch", "match_and", "hybrid"]

INGEST_BASE_DOCS = 600
INGEST_SEGMENTS = 2
INGEST_BATCH_DOCS = 100
INGEST_MIN_APPENDS = 2
INGEST_MAX_APPENDS = 6
INGEST_WARMUP_DOCS = 50

# corpus.generate_batch mixes its seed into an int64 as
# seed * 0x100000001B3, which overflows for seeds of 2**23 and above, and
# numpy's generators take no negative seed; the CLI seed is folded into
# [0, 2**23), so any integer seed runs and seeds in that range are used as given
INPUT_SEEDS = 1 << 23


@dataclass
class Run:
    """State shared by a workload's phases."""

    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object | None
    t_process: float
    layers: dict = field(default_factory=dict)
    human: dict = field(default_factory=dict)
    # workload-specific metrics, printed by name: (value, unit, n[, label])
    # or the reason one is not reported
    named: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    @property
    def input_seed(self) -> int:
        """The seed every generated input derives from."""
        return self.seed % INPUT_SEEDS

    def collect(self, df) -> list:
        return self.tracer.collect(df) if self.tracer else df.collect()

    def request(self, kind: str):
        return self.tracer.request(kind) if self.tracer else contextlib.nullcontext()

    def check(self, ok: bool, what: str) -> None:
        """One correctness op outside the timed phase."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


# --- inputs ---------------------------------------------------------------


def make_corpus(run: Run, n_docs: int):
    """The seeded synthetic code corpus plus a ``doc_id`` column, written
    once as parquet so every later read is the same table. Rows come from
    ``corpus.generate_batch``, the generator ``corpus_df`` runs per
    partition (rows depend only on seed and id), called in this process
    for the whole id range. Returns (Spark frame, pandas (doc_id, content))."""
    from neural_search_spark.corpus import generate_batch

    ids = np.arange(n_docs, dtype=np.int64)
    pdf = generate_batch(ids, seed=run.input_seed)
    pdf["doc_id"] = ids
    path = os.path.join(run.work, "corpus")
    os.makedirs(path)
    pdf.to_parquet(os.path.join(path, "part-0.parquet"), index=False)
    return run.spark.read.parquet(path), pdf[["doc_id", "content"]]


class QueryGen:
    """Seeded query inputs drawn from the corpus's own token stream, so
    term frequencies follow the corpus's Zipf law."""

    def __init__(self, docs, seed: int, stream: int):
        from neural_search_spark.functions.tokenize import analyze_query

        self.rng = np.random.default_rng([seed, stream])
        self.doc_tokens = [analyze_query(t, TOKENIZER) for t in docs["content"]]
        self.flat = np.array([t for toks in self.doc_tokens for t in toks], dtype=object)
        vocab = np.unique(self.flat)
        # identifiers of the generator's vocabulary carry underscores;
        # keywords (def, return, ...) do not
        self.identifiers = vocab[np.char.find(vocab.astype(str), "_") >= 0]

    def zipf_terms(self, n: int) -> list[str]:
        return [str(self.flat[i]) for i in self.rng.integers(0, len(self.flat), n)]

    def rare_terms(self, n: int) -> list[str]:
        return [str(self.identifiers[i]) for i in self.rng.integers(0, len(self.identifiers), n)]

    def phrase(self) -> list[str]:
        while True:
            toks = self.doc_tokens[int(self.rng.integers(0, len(self.doc_tokens)))]
            if len(toks) >= 2:
                p = int(self.rng.integers(0, len(toks) - 1))
                return toks[p:p + 2]


def request_terms(req: dict) -> list[list[str]]:
    """The term lists a request sends, in order."""
    if "bodies" in req:
        return req["bodies"]
    return req.get("groups") or [req["terms"]]


def match_body(terms: list[str], op: str) -> dict:
    return {"query": {"match": {"content": {"query": " ".join(terms), "operator": op}}}, "size": K}


def make_request(gen: QueryGen, kind: str) -> dict:
    if kind == "match_or":
        return {"kind": kind, "terms": gen.zipf_terms(int(gen.rng.integers(2, 4))), "op": "or"}
    if kind == "match_and":
        return {"kind": kind, "terms": gen.zipf_terms(2), "op": "and"}
    if kind == "phrase":
        return {"kind": kind, "terms": gen.phrase()}
    if kind == "hybrid":
        return {"kind": kind, "groups": [gen.zipf_terms(1), gen.zipf_terms(2)]}
    if kind == "msearch":
        return {"kind": kind, "bodies": [gen.rare_terms(2) for _ in range(MSEARCH_BODIES)]}
    raise ValueError(kind)


# --- engine calls ---------------------------------------------------------


def _pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def execute(run: Run, ctx, req: dict):
    """Run one request through the engine's public functions; returns
    its answer ((doc_id, score) list, or one list per msearch body)."""
    from pyspark.sql import functions as F

    from neural_search_spark.query import dsl, hybrid, wand

    kind = req["kind"]
    if kind in ("match_or", "match_and"):
        return _pairs(run.collect(dsl.search(ctx, match_body(req["terms"], req["op"]))))
    if kind == "phrase":
        body = {"query": {"match_phrase": {"content": " ".join(req["terms"])}}, "size": K}
        return _pairs(run.collect(dsl.search(ctx, body)))
    if kind == "hybrid":
        subs = [wand.bm25_scores_indexed(ctx.reader, g).withColumn("subquery_idx", F.lit(i))
                for i, g in enumerate(req["groups"])]
        tagged = subs[0].unionByName(subs[1])
        # weights and sub-query count passed as the DSL's hybrid path
        # passes them, so combine runs no job of its own to count them
        combined = hybrid.combine(hybrid.normalize(tagged, "min_max"), "arithmetic_mean",
                                  [0.5, 0.5], 2)
        top = combined.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(K)
        return _pairs(run.collect(top))
    if kind == "msearch":
        rows = run.collect(dsl.msearch(ctx, [match_body(b, "or") for b in req["bodies"]]))
        out: list[list] = [[] for _ in req["bodies"]]
        for r in sorted(rows, key=lambda r: (r["query_idx"], r["rank"])):
            out[r["query_idx"]].append((int(r["doc_id"]), float(r["score"])))
        return out
    raise ValueError(kind)


def timed(run: Run, kind: str, fn):
    """(seconds, result or None) of one op; an error counts as failed."""
    run.attempted += 1
    t = time.perf_counter()
    try:
        with run.request(kind):
            out = fn()
    except Exception:
        run.failed += 1
        traceback.print_exc(file=sys.stderr)
        out = None
    return time.perf_counter() - t, out


def index_bytes(index_dir: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(index_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet") and not f.startswith("."))
    return total


def codec_layers(index_dir: str) -> dict:
    """Bytes per posting of the doc-id stream and per token of the
    position stream, read from the postings files with pyarrow."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                   partitioning="hive").to_table(columns=["docs", "positions", "n", "sum_tf"])
    postings = pc.sum(t["n"]).as_py()
    tokens = pc.sum(t["sum_tf"]).as_py()
    return {
        "functions.codecs.doc_bytes_per_posting": pc.sum(pc.binary_length(t["docs"])).as_py() / postings,
        "functions.codecs.pos_bytes_per_token": pc.sum(pc.binary_length(t["positions"])).as_py() / tokens,
    }


def content_bytes(docs) -> int:
    return int(sum(len(s.encode("utf-8")) for s in docs["content"]))


def build(run: Run, corpus, index_dir: str, segments: int) -> dict:
    from neural_search_spark.index import builder

    return builder.build_index(run.spark, corpus, index_dir, key_cols=["doc_id"],
                               text_col="content", tokenizer=TOKENIZER,
                               num_segments=segments)


def build_layers(run: Run, metrics: dict) -> None:
    phase = metrics["phase_sec"]
    run.layers.update({
        "index.builder.postings_write_s": phase["postings_write"],
        "index.builder.docmap_write_s": phase["docmap_write"],
        "index.builder.manifest_write_s": phase["manifest_write"],
        "index.builder.tokens_per_s": metrics["total_tokens"] / metrics["wall_sec"],
    })


# --- search ---------------------------------------------------------------


def run_search(run: Run) -> dict:
    from neural_search_spark.query import dsl, wand

    from .oracle_check import Oracle, same_hits

    t = time.perf_counter()
    corpus, docs = make_corpus(run, SEARCH_DOCS)
    run.layers["corpus.gen_s"] = time.perf_counter() - t

    index_dir = os.path.join(run.work, "index")
    t = time.perf_counter()
    with run.request("setup.build"):
        built = build(run, corpus, index_dir, SEARCH_SEGMENTS)
    run.layers["setup.build_s"] = time.perf_counter() - t
    build_layers(run, built)
    run.layers.update(codec_layers(index_dir))
    bytes_ratio = index_bytes(index_dir) / content_bytes(docs)

    reader = wand.IndexReader(run.spark, index_dir, cache_hot=True)
    ctx = dsl.SearchContext(docs=corpus, reader=reader, text_col="content", analyzer=TOKENIZER)
    gen = QueryGen(docs, run.input_seed, stream=1)

    # warm-up, untimed: fills the hot cache and runs each kind once
    t = time.perf_counter()
    warm = [make_request(gen, kind) for kind in dict.fromkeys(PATTERN)]
    for req in warm:
        execute(run, ctx, req)
    run.layers["setup.warmup_s"] = time.perf_counter() - t

    # inputs for the timed phase are drawn before it starts
    n_patterns = max(1, round(run.seconds / PATTERN_SECONDS))
    queued = [make_request(gen, kind) for _ in range(n_patterns) for kind in PATTERN]
    cpu = CpuWindow()
    setup_s = time.perf_counter() - run.t_process
    done: list[tuple[dict, float, object]] = []
    t0 = time.perf_counter()
    for req in queued:
        secs, out = timed(run, req["kind"], lambda: execute(run, ctx, req))
        done.append((req, secs, out))
    wall = time.perf_counter() - t0
    env = cpu.close()

    # --- correctness gate (untimed) -------------------------------------
    oracle = Oracle(docs, TOKENIZER)
    visible = docs["doc_id"].tolist()
    for req, _secs, out in done:
        if out is None:
            continue
        kind = req["kind"]
        if kind in ("match_or", "match_and"):
            exp = oracle.topk(visible, [(req["terms"], req["op"])], K)[0]
            ok = same_hits(out, exp, K)
        elif kind == "phrase":
            ok = same_hits(out, oracle.phrase_topk(visible, req["terms"], K), K)
        elif kind == "hybrid":
            ok = same_hits(out, oracle.hybrid_topk(visible, req["groups"], K), K)
        else:
            exp = oracle.topk(visible, [(b, "or") for b in req["bodies"]], K)
            ok = all(same_hits(o, e, K) for o, e in zip(out, exp))
        if not ok:
            run.failed += 1
            print(f"perfbench: wrong answer for {kind} {req}", file=sys.stderr)
    oracle.close()
    # msearch per-query answers equal the single-query answers
    first = next((d for d in done if d[0]["kind"] == "msearch" and d[2] is not None), None)
    if first is not None:
        single = execute(run, ctx, {"kind": "match_or", "terms": first[0]["bodies"][0], "op": "or"})
        run.check(single == first[2][0], "msearch body 0 differs from its single search")

    lat_ms = [secs * 1e3 for _req, secs, out in done if out is not None]
    queries = sum(len(req["bodies"]) if req["kind"] == "msearch" else 1
                  for req, _secs, out in done if out is not None)
    by_kind: dict[str, list[float]] = {}
    for req, secs, out in done:
        if out is not None:
            by_kind.setdefault(req["kind"], []).append(secs * 1e3)
    beyond95 = stats.beyond(lat_ms, 95)
    run.named.update({
        "request_p95_ms": ((stats.percentile(lat_ms, 95), "ms", len(lat_ms))
                           if beyond95 >= stats.MIN_BEYOND else
                           f"not reported: {len(lat_ms)} requests leave {beyond95} beyond p95, "
                           f"fewer than {stats.MIN_BEYOND}"),
        "queries_per_s": (queries / wall, "1/s", queries),
        **{f"{k}_p50_ms": (stats.median(v), "ms", len(v)) for k, v in by_kind.items()},
    })
    run.human.update({
        "timed_wall_s": wall,
        "request_quartiles_ms": stats.quartiles(lat_ms),
        "term_repeat_share": stats.repeat_share(
            [t for req in warm + [d[0] for d in done] for t in request_terms(req)]),
        **env,
    })
    return {
        "setup_s": (setup_s, "s", 1),
        "request_p50_ms": (stats.median(lat_ms), "ms", len(lat_ms)),
        "items_per_s": (queries / wall, "1/s", queries),
        "index_bytes_per_input_byte": (bytes_ratio, "ratio", 1),
    }


# --- ingest ---------------------------------------------------------------


def ingest_appends(seconds: float) -> int:
    """Micro-batches per run: about one per 8 s of --seconds, fixed
    before the run so the one-shot reference build can cover them."""
    return max(INGEST_MIN_APPENDS, min(INGEST_MAX_APPENDS, round(seconds / 8)))


def run_ingest(run: Run) -> dict:
    from pyspark.sql import functions as F

    from neural_search_spark.index import builder, live, merge
    from neural_search_spark.query import dsl, wand

    from .oracle_check import Oracle, same_hits

    n_appends = ingest_appends(run.seconds)
    base_end = INGEST_BASE_DOCS
    batch_end = base_end + n_appends * INGEST_BATCH_DOCS
    t = time.perf_counter()
    corpus, docs = make_corpus(run, batch_end + INGEST_WARMUP_DOCS)
    run.layers["corpus.gen_s"] = time.perf_counter() - t

    def id_range(lo: int, hi: int):
        return corpus.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))

    base = id_range(0, base_end)
    batches = [id_range(base_end + i * INGEST_BATCH_DOCS, base_end + (i + 1) * INGEST_BATCH_DOCS)
               for i in range(n_appends)]
    gen = QueryGen(docs[docs["doc_id"] < base_end], run.input_seed, stream=2)

    def answer(index_dir: str, req: dict):
        reader = wand.IndexReader(run.spark, index_dir)
        ctx = dsl.SearchContext(docs=corpus, reader=reader, text_col="content", analyzer=TOKENIZER)
        return execute(run, ctx, req)

    def refresh_req(terms: list[str]) -> dict:
        return {"kind": "match_or", "terms": terms, "op": "or"}

    # warm-up, untimed: a small build of other docs takes the process's
    # first-build costs (JIT, Python workers) out of the timed build
    t = time.perf_counter()
    build(run, id_range(batch_end, batch_end + INGEST_WARMUP_DOCS), os.path.join(run.work, "warmup"), 1)
    run.layers["setup.warmup_s"] = time.perf_counter() - t
    run.layers["setup.build_s"] = 0.0  # this workload's build is timed, not set-up

    refresh_terms = [gen.zipf_terms(2) for _ in range(n_appends)]
    index_dir = os.path.join(run.work, "index")
    merged_dir = os.path.join(run.work, "merged")
    cpu = CpuWindow()
    setup_s = time.perf_counter() - run.t_process
    build_s, built = timed(run, "build", lambda: build(run, base, index_dir, INGEST_SEGMENTS))
    bytes_ratio = index_bytes(index_dir) / content_bytes(docs[docs["doc_id"] < base_end])
    codecs = codec_layers(index_dir)
    appends: list[float] = []
    refreshes: list[tuple[float, object]] = []
    for i in range(n_appends):
        secs, _ = timed(run, "append", lambda: live.append_segment(
            run.spark, batches[i], index_dir, INGEST_SEGMENTS + i))
        appends.append(secs)
        refreshes.append(timed(run, "refresh", lambda: answer(index_dir, refresh_req(refresh_terms[i]))))
    merge_s, _ = timed(run, "merge", lambda: merge.merge_segments(run.spark, index_dir, merged_dir))
    env = cpu.close()

    # --- correctness gate (untimed) -------------------------------------
    run.check(builder.verify_sha256(run.spark, id_range(0, batch_end), index_dir) == 0,
              "verify_sha256 of the appended index")
    oracle = Oracle(docs, TOKENIZER)
    for i, (_secs, out) in enumerate(refreshes):
        if out is not None:
            visible = list(range(base_end + (i + 1) * INGEST_BATCH_DOCS))
            if not same_hits(out, oracle.topk(visible, [(refresh_terms[i], "or")], K)[0], K):
                run.failed += 1
                print(f"perfbench: wrong refresh answer {i}", file=sys.stderr)
    # the appended and the merged index must answer as an index built in
    # one go over the same docs: the oracle's answer over those docs. A
    # phrase probe checks positions as well as scores.
    probe = gen.phrase()
    want = oracle.phrase_topk(list(range(batch_end)), probe, K)
    oracle.close()
    for name, d in (("appended", index_dir), ("merged", merged_dir)):
        got = answer(d, {"kind": "phrase", "terms": probe})
        run.check(same_hits(got, want, K), f"{name} index answer to phrase {probe}")

    write_wall = build_s + sum(appends) + merge_s
    cycle_ms = [(a + r) * 1e3 for a, (r, out) in zip(appends, refreshes) if out is not None]
    refresh_ms = [r * 1e3 for r, out in refreshes if out is not None]
    run.named.update({
        "request_p95_ms": f"not reported: {len(cycle_ms)} append cycles per run",
        "build_docs_per_s": (base_end / build_s, "docs/s", base_end),
        "append_docs_per_s": (n_appends * INGEST_BATCH_DOCS / sum(appends), "docs/s",
                              n_appends * INGEST_BATCH_DOCS),
        "refresh_p50_ms": (stats.median(refresh_ms), "ms", len(refresh_ms)),
        "merge_docs_per_s": (batch_end / merge_s, "docs/s", batch_end),
    })
    run.human.update({
        "term_repeat_share": stats.repeat_share(refresh_terms),
        **env,
    })
    if run.tracer:
        run.layers.update(codecs)
        run.layers["index.merge.bytes_out_per_byte_in"] = index_bytes(merged_dir) / index_bytes(index_dir)
        run.layers["index.merge.wall_s"] = merge_s
        if built is not None:
            build_layers(run, built)
    return {
        "setup_s": (setup_s, "s", 1),
        "request_p50_ms": (stats.median(cycle_ms), "ms", len(cycle_ms)),
        # documents written: the build's, the appends', and the merge's rewrite of all
        "items_per_s": (2 * batch_end / write_wall, "1/s", 2 * batch_end),
        "index_bytes_per_input_byte": (bytes_ratio, "ratio", 1),
    }


WORKLOADS = {"search": run_search, "ingest": run_ingest}
