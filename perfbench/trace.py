"""Spans, layer wrappers, Spark event-log reader and host probes.

Spans are recorded from the benchmark's own code around each call into
a layer. With tracing off a span only keeps its wall time (the
end-to-end report needs the stage times); with tracing on it also tags
the Spark jobs it starts with a job group, so the event log can be
aggregated per span, and the wrappers in :func:`install_wrappers`
attribute work inside ``distill_edges`` and count ``truncate_plan``
calls at the names the engine modules import.

Spark evaluates lazily: a span is charged for the jobs that run while
it is open, which is where the work is forced, not where the plan was
built. ``extract_columns`` returns a lazy plan that ``distill_edges``
materializes with ``truncate_plan`` at once, so that materialization
is charged back to ``sources.extract_columns``.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np

# Spans recorded around public entry points, in pipeline order.
SPANS = (
    "sources.extract_columns",
    "sources.assign_dense_ids",
    "sources.distill_edges",
    "matrix.build",
    "store.save_graph",
    "store.load_graph",
    "algorithms.pagerank_prep",
    "algorithms.pagerank",
    "algorithms.connected_components",
    "algorithms.label_propagation_majority",
    "algorithms.triangle_count",
    "algorithms.incremental_pagerank",
    "algorithms.incremental_connected_components",
)
ITERATIVE = (
    "pagerank",
    "connected_components",
    "label_propagation_majority",
    "incremental_pagerank",
    "incremental_connected_components",
)
SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
    "executor_cpu_s",
    "core_utilization",
)
COUNTER_UNITS = {"jobs": "count", "tasks": "count", "gc_s": "s", "executor_cpu_s": "s",
                 "core_utilization": "ratio"}


def catalog() -> list[dict]:
    """Every metric :func:`layer_metrics` computes, with its unit and
    the direction that is better, in BENCHMARK.json's per_layer form."""
    out = []

    def add(name, unit, better="lower"):
        out.append({"name": name, "unit": unit, "better": better})

    for span in SPANS:
        add(f"{span}.s", "s")
    add("sources.input_bytes", "bytes")
    add("matrix.build.shuffle_bytes", "bytes")
    add("matrix.edges", "count", "higher")
    add("store.bytes_written", "bytes")
    for fn in ITERATIVE:
        add(f"algorithms.{fn}.iters", "count")
    add("runtime.superstep.ms_p50", "ms")
    add("runtime.superstep.ms_p90", "ms")
    add("runtime.truncate_plan.calls", "count")
    add("runtime.truncate_plan.s", "s")
    add("runtime.jobs_per_superstep", "jobs/superstep")
    add("runtime.checkpoint.bytes_written", "bytes")
    for c in SPARK_COUNTERS:
        for span in SPANS:
            add(f"spark.{c}.{span.split('.', 1)[1]}", COUNTER_UNITS.get(c, "bytes"),
                "higher" if c == "core_utilization" else "lower")
    add("trace.op_s", "s")
    return out


class Tracer:
    """Per-operation span recorder. ``sc`` is the live SparkContext
    (job groups are only set when ``enabled``)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.op = None
        self._stack: list[str] = []
        self.wall = defaultdict(float)       # (span, op) -> inclusive seconds
        self.self_wall = defaultdict(float)  # (span, op) -> seconds not in child spans
        self.counts = defaultdict(float)     # (name, op) -> summed value
        self.samples = defaultdict(list)     # (name, op) -> values
        self.pending_extract: list = []  # extract_columns plans not yet materialized

    def _set_group(self, span: str | None) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(f"{span or 'op'}@{self.op}", span or "op", False)

    @contextmanager
    def operation(self, sc, op):
        self.sc, self.op = sc, op
        self._set_group(None)
        try:
            yield
        finally:
            self.pending_extract.clear()
            if self.enabled and self.sc is not None:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            self._stack.pop()
            self._set_group(parent)
            self.wall[(name, self.op)] += dt
            self.self_wall[(name, self.op)] += dt
            if parent is not None:
                self.self_wall[(parent, self.op)] -= dt

    def count(self, name: str, value: float, op=None) -> None:
        self.counts[(name, self.op if op is None else op)] += value

    def sample(self, name: str, values, op=None) -> None:
        self.samples[(name, self.op if op is None else op)].extend(values)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the layer entry points the engine calls internally, at the
    names the calling modules imported."""
    # by module path: the algorithms package re-exports functions under
    # the same names as its modules (``algorithms.pagerank``)
    cc, lp, pagerank, superstep, distill = (
        importlib.import_module(f"graphblast_spark.{m}") for m in (
            "algorithms.cc", "algorithms.lp", "algorithms.pagerank",
            "runtime.superstep", "sources.distill"))
    orig_tp = superstep.truncate_plan
    orig_extract = distill.extract_columns
    orig_assign = distill.assign_dense_ids

    def extract_columns(pages):
        with tracer.span("sources.extract_columns"):
            df = orig_extract(pages)
        tracer.pending_extract.append(df)
        return df

    def assign_dense_ids(urls, num_partitions=None):
        with tracer.span("sources.assign_dense_ids"):
            return orig_assign(urls, num_partitions)

    def truncate_plan(df):
        t0 = time.perf_counter()
        if any(df is p for p in tracer.pending_extract):
            tracer.pending_extract.clear()
            with tracer.span("sources.extract_columns"):
                out = orig_tp(df)
        else:
            out = orig_tp(df)
        tracer.count("runtime.truncate_plan.s", time.perf_counter() - t0)
        tracer.count("runtime.truncate_plan.calls", 1)
        return out

    distill.extract_columns = extract_columns
    distill.assign_dense_ids = assign_dense_ids
    for module in (distill, pagerank, cc, lp, superstep):
        module.truncate_plan = truncate_plan


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Aggregate ``SparkListenerTaskEnd`` metrics per job group over every
    event log under ``log_dir`` (Spark 4 writes rolling
    ``eventlog_v2_*/events_N_*`` directories; plain files also work)."""
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        else:
            files.append(path)
    stage_group: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    agg[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    a = agg[group]
                    sr = tm["Shuffle Read Metrics"]
                    a["tasks"] += 1
                    a["run_s"] += tm["Executor Run Time"] / 1e3
                    a["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    a["gc_s"] += tm["JVM GC Time"] / 1e3
                    a["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    a["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    a["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
                    a["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
    return agg


def layer_metrics(tracer: Tracer, groups: dict, ops: list[int], cores: int,
                  op_s: list[float]) -> dict[str, float]:
    """Per-layer values by metric name from the spans, the runner
    counters and the event-log ``groups`` (:func:`read_event_log`), each
    the median over the timed operations ``ops`` (0 where the workload
    never enters that layer)."""

    def per_op(fn) -> float:
        return float(np.median([fn(k) for k in ops]))

    def group(span: str, k: int) -> dict:
        return groups.get(f"{span}@{k}", {})

    def spark_value(span: str, counter: str, k: int) -> float:
        if counter != "core_utilization":
            return group(span, k).get(counter, 0.0)
        wall = tracer.self_wall.get((span, k), 0.0)
        return group(span, k).get("run_s", 0.0) / (wall * cores) if wall > 0 else 0.0

    def count(name: str) -> float:
        return per_op(lambda k: tracer.counts.get((name, k), 0.0))

    def jobs_per_superstep(k: int) -> float:
        steps = tracer.counts.get(("runtime.supersteps", k), 0.0)
        jobs = sum(group(f"algorithms.{fn}", k).get("jobs", 0.0) for fn in ITERATIVE)
        return jobs / steps if steps else 0.0

    m = {}
    for span in SPANS:
        m[f"{span}.s"] = per_op(lambda k: tracer.wall.get((span, k), 0.0))
        for c in SPARK_COUNTERS:
            m[f"spark.{c}.{span.split('.', 1)[1]}"] = per_op(lambda k: spark_value(span, c, k))
    m["sources.input_bytes"] = per_op(lambda k: sum(
        group(s, k).get("input_bytes", 0.0) for s in SPANS if s.startswith("sources.")))
    m["matrix.build.shuffle_bytes"] = per_op(
        lambda k: group("matrix.build", k).get("shuffle_write_bytes", 0.0))
    for name in ("matrix.edges", "store.bytes_written", "runtime.truncate_plan.calls",
                 "runtime.truncate_plan.s", "runtime.checkpoint.bytes_written"):
        m[name] = count(name)
    for fn in ITERATIVE:
        m[f"algorithms.{fn}.iters"] = count(f"algorithms.{fn}.iters")
    ms = [v for k in ops for v in tracer.samples.get(("runtime.superstep.ms", k), [])]
    m["runtime.superstep.ms_p50"], m["runtime.superstep.ms_p90"] = (
        (float(x) for x in np.percentile(ms, [50, 90])) if ms else (0.0, 0.0))
    m["runtime.jobs_per_superstep"] = per_op(jobs_per_superstep)
    m["trace.op_s"] = float(np.median(op_s))
    return m


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


# -- host probes ---------------------------------------------------------

def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def _spin_ms(n: int = 1_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def host_sample(window_s: float = 0.5) -> dict:
    """1-minute load average, CPU steal share over a short window, the
    raw counters for a whole-run share (:func:`steal_pct`) and the time
    of a fixed single-thread loop, which grows when the host is slow
    even where steal does not show it."""
    s0, t0 = _cpu_times()
    time.sleep(window_s)
    s1, t1 = _cpu_times()
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"load1": load1, "steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1),
            "cpu_jiffies": [s1, t1], "spin_ms": _spin_ms()}


def steal_pct(start: dict, end: dict) -> float:
    """CPU steal share between two :func:`host_sample` records."""
    (s0, t0), (s1, t1) = start["cpu_jiffies"], end["cpu_jiffies"]
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def _children() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:
            continue
        pid = int(data.split(" ", 1)[0])
        ppid = int(data.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(pid)
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants: the benchmark process, the JVM
    it starts and the Python workers the JVM forks."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
