#!/usr/bin/env python3
"""Crawl-to-graph benchmark for graphblast_spark.

One workload per run, closed loop with one client, on
``local[<cores>]`` with the engine's own session defaults:

    python3 perfbench/run.py --workload pagerank --seed 1 --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans, Spark event log, superstep
metrics). ``--workload all`` runs every workload untraced and traced,
one process after another, and prints the tracing overhead. The last
line of standard output is the JSON result; the lines before it name
every metric of the workload with its unit and record the host's load
and CPU steal at the start and end of the run.

The metric names, units and bounds are read from BENCHMARK.json at
the repository root; METRICS.md maps each per-layer metric to the
end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "pagerank", "analytics", "refresh")
PAGES = 20_000       # corpus size: pages generated per seed
SETUP_CYCLES = 3     # setup_s is the median of this many set-ups
WARMUP_OPS = 1       # untimed operations before the timed ones
MIN_OPS = 4          # timed operations per run, however long they take


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's working directory, and let the workers import the engine
    from this checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    return conf


def _identity(batches):
    yield from batches


def start_session(master: str, conf: dict):
    from graphblast_spark.session import get_spark

    spark = get_spark(master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cores: int, pages_path: str) -> None:
    """Python worker start on every core and a scan of the pages input."""
    from pyspark.sql import functions as F
    from graphblast_spark.sources.pages import read_pages

    spark.range(0, cores, 1, cores).mapInPandas(_identity, "id long").collect()
    pages = read_pages(spark, pages_path, format="parquet")
    pages.agg(F.sum(F.length("url")), F.sum(F.length("html"))).first()


def set_up(master: str, conf: dict, cores: int, pages_path: str) -> tuple[object, float]:
    """Session start and :func:`warm_up`. Returns (session, seconds)."""
    t0 = time.perf_counter()
    spark = start_session(master, conf)
    warm_up(spark, cores, pages_path)
    return spark, time.perf_counter() - t0


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext
    from trace import process_tree

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def measure(args, cores: int, cache: str, work: str) -> dict | None:
    """Input prep, set-up cycles, then the closed loop. None when no
    timed operation completed."""
    from inputs import Inputs
    from trace import Tracer, host_sample, install_wrappers, layer_metrics, peak_rss_mb, \
        process_tree, read_event_log, reset_peak_rss, steal_pct
    from workloads import Ctx, WORKLOADS as IMPL

    master = f"local[{cores}]"
    env = {"cores": cores, "master": master, "start": host_sample()}
    conf = session_conf(work, bool(args.trace))
    tracer = Tracer(enabled=bool(args.trace))
    wl = IMPL[args.workload]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(master, conf)
        env["cold_session_s"] = time.perf_counter() - t0
        inputs = Inputs(cache, args.seed, PAGES)
        t0 = time.perf_counter()
        inputs.build(spark, cores)
        env["input_prep_s"] = time.perf_counter() - t0
        # The first worker start and scan in this JVM are untimed, so the
        # timed set-ups below are alike.
        t0 = time.perf_counter()
        warm_up(spark, cores, inputs.full)
        env["cold_warm_up_s"] = time.perf_counter() - t0

        setup_s = []
        for _ in range(SETUP_CYCLES):
            spark.stop()
            spark, dt = set_up(master, conf, cores, inputs.full)
            setup_s.append(dt)

        if args.trace:
            install_wrappers(tracer)
        ctx = Ctx(spark, tracer, inputs, work)
        t0 = time.perf_counter()
        checks = list(wl.prepare(ctx))
        env["prepare_s"] = time.perf_counter() - t0
        # Warm-up operations (checked, not timed) fill the JIT and Spark's
        # code caches; timed operations follow until --seconds of operation
        # time and at least MIN_OPS operations are measured. Peak RSS is
        # taken per operation so that it does not grow with the operation
        # count; the heap an operation leaves behind is carried into the
        # next, as in a long-lived client.
        ops, op_s, rss, warm, k = [], [], [], [], 0
        env["check_s"] = 0.0
        while len(ops) < MIN_OPS or sum(op_s) < args.seconds:
            reset_peak_rss(process_tree(os.getpid()))
            try:
                with tracer.operation(spark.sparkContext, k):
                    t0 = time.perf_counter()
                    out = wl.op(ctx, k)
                    dt = time.perf_counter() - t0
                peak = peak_rss_mb(process_tree(os.getpid()))
                t0 = time.perf_counter()
                checks += wl.check(ctx, k, out)
                env["check_s"] += time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                checks.append(False)
                break
            if len(warm) < WARMUP_OPS:
                warm.append(dt)
            else:
                ops.append(k)
                op_s.append(dt)
                rss.append(peak)
            k += 1
        env["warmup_op_s"] = warm
        if not ops:
            return None
        report = wl.report(ctx, ops, op_s)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_everything(spark)
        env["stop_s"] = time.perf_counter() - t0
    env["end"] = host_sample()
    env["run_steal_pct"] = steal_pct(env["start"], env["end"])

    failed = checks.count(False)
    e2e = {"setup_s": median(setup_s), "op_s": median(op_s), "peak_rss_mb": median(rss)}
    report.update({
        "setup_s": (e2e["setup_s"], "s"),
        "op_s": (e2e["op_s"], "s"),
        "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
        "failed_ratio": (failed / len(checks), "ratio"),
    })
    if args.trace:
        values = layer_metrics(tracer, read_event_log(os.path.join(work, "eventlog")),
                               ops, cores, op_s)
    else:
        values = e2e
    return {"env": env, "report": report, "values": values, "checks": checks,
            "op_s": op_s, "setup_s": setup_s}


def run_one(args) -> int:
    cores = len(os.sched_getaffinity(0))
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    spec = benchmark_spec()
    wanted = spec["end_to_end"]
    if args.trace:
        from trace import catalog

        # A workload BENCHMARK.json does not list (analytics, refresh)
        # prints every layer metric, including those only it fills.
        listed = {w["name"] for w in spec["workloads"]}
        wanted = spec["per_layer"] if args.workload in listed else catalog()
    try:
        res = measure(args, cores, cache, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        return 1

    failed = res["checks"].count(False)
    print(f"# workload={args.workload} seed={args.seed} pages={PAGES} "
          f"ops={len(res['op_s'])} op_s={[round(x, 3) for x in res['op_s']]} "
          f"setup_s={[round(x, 3) for x in res['setup_s']]} trace={args.trace}")
    for name, (value, unit) in res["report"].items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({"env": res["env"]}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["checks"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": res["values"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced, then traced, one process at a time; the
    tracing overhead is the traced minus the untraced operation time."""
    results = {}
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"{wl} trace={trace} failed with exit code {proc.returncode}", file=sys.stderr)
                return 1
            results[(wl, trace)] = json.loads(lines[-1])
    summary = {}
    for wl in WORKLOADS:
        plain = results[(wl, 0)]["metrics"]["op_s"]["value"]
        traced = results[(wl, 1)]["metrics"]["trace.op_s"]["value"]
        summary[wl] = {"op_s": plain, "traced_op_s": traced, "tracing_overhead_s": traced - plain,
                       "correct": all(results[(wl, t)]["correct"] for t in (0, 1))}
        print(f"{wl} tracing_overhead = {traced - plain:.4g} s "
              f"(traced {traced:.4g} s - untraced {plain:.4g} s)")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graphblast_spark", "__init__.py")):
        print(f"perfbench: no graphblast_spark package under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
