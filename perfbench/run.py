"""Benchmark of the engine's full-text path: one process per run,
``local[4]``, one closed-loop client.

    python3 perfbench/run.py --workload search|ingest --seed N --seconds S --trace 0|1

Run it from the root of a checkout; it works in ``.perfbench_work/``
there and removes that run's files at the end. Human-readable lines go
to stdout first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). BENCHMARK.json describes the workloads and metrics.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# every workload prints these by name; the gated ones are in BENCHMARK.json
NAMED = ["setup_s", "request_p50_ms", "request_p95_ms", "queries_per_s", "phrase_p50_ms",
         "hybrid_p50_ms", "build_docs_per_s", "append_docs_per_s", "refresh_p50_ms",
         "merge_docs_per_s", "index_bytes_per_input_byte", "failed_ops_ratio"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str):
    """A session on the engine's defaults, keeping every file Spark or
    its Python workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from neural_search_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def report(args, run, result, env, layers, absent) -> dict:
    """Print the human-readable lines; return the JSON metrics."""
    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace}")
    print("env " + " ".join(f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}"
                            for k, v in env.items()))
    named = {**result, **run.named,
             "failed_ops_ratio": (run.failed / run.attempted, "ratio", run.attempted)}
    for name in NAMED + [n for n in named if n not in NAMED]:
        value = named.get(name, "n/a: not exercised by this workload")
        if isinstance(value, str):
            print(f"metric {name}: {value}")
        else:
            label = f" {value[3]}" if len(value) > 3 else ""
            print(f"metric {name} = {value[0]:.6g} {value[1]} (n={value[2]}{label})")
    for name, value in run.human.items():
        print(f"detail {name} = {value}")
    if args.trace == 0:
        return {name: {"value": value, "unit": unit} for name, (value, unit, _n) in result.items()}
    from perfbench.layers import PER_LAYER

    for name, value in layers.items():
        print(f"layer {name} = {value:.6g} {PER_LAYER[name]}")
    print("layer not exercised by this workload (reads 0): " + ", ".join(absent))
    return {name: {"value": value, "unit": PER_LAYER[name]} for name, value in layers.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "neural_search_spark", "__init__.py")):
        print(f"perfbench: no neural_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import environment, workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.install()
        run = workloads.Run(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                            tracer=tracer, t_process=T_PROCESS)
        run.layers["session.start_s"] = session_s
        result = workloads.WORKLOADS[args.workload](run)
        if tracer is not None:
            tracer.restore()
        env = environment.record(ROOT)
        layers, absent = {}, []
        if tracer is not None:
            from perfbench.layers import memo_hits_by_kind, msearch_breakdown, summarize

            layers, absent = summarize(tracer, run.layers)
            run.human["term_memo_hit_ratio_by_kind"] = " ".join(
                f"{k}={v:.3g}" for k, v in memo_hits_by_kind(tracer).items())
            breakdown = msearch_breakdown(tracer)
            if breakdown:
                run.human["msearch_breakdown_ms"] = " ".join(
                    f"{k}={v:.3g}" for k, v in breakdown.items())
            tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                     f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    metrics = report(args, run, result, env, layers, absent)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
