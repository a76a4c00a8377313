"""The workloads. Each is a closed loop with one client: the
benchmark process issues one operation, waits for it, checks its output
against the oracle, then issues the next.

An operation calls only the engine's public entry points. Its span
names are the per-layer metric prefixes (see trace.SPANS); with
tracing off the spans only time the stages.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

from graphblast_spark import algorithms as A
from graphblast_spark.algorithms.cc import remap_labels
from graphblast_spark.algorithms.pagerank import incremental_pagerank, remap_ranks
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime import SuperstepRunner
from graphblast_spark.sources.distill import distill_edges, extract_columns
from graphblast_spark.sources.pages import read_pages
from graphblast_spark.sources.store import drop_graph, load_graph, save_graph

from inputs import Inputs
from trace import Tracer, dir_bytes

PR_RTOL = 1e-6


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    inputs: Inputs
    work: str        # per-run working directory

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def runner(self, op: int, name: str, checkpoint_every: int = 0) -> SuperstepRunner:
        return SuperstepRunner(self.spark, run_dir=self.path("runs", f"op{op}", name),
                               checkpoint_every=checkpoint_every, name=name)

    def pages(self):
        return read_pages(self.spark, self.inputs.full, format="parquet")


def record_supersteps(ctx: Ctx, op: int, names: dict[str, str]) -> dict[str, list[float]]:
    """Per-superstep wall ms of each iterative call, read from its
    runner's own metrics.jsonl (runner name -> algorithm function name),
    recorded as iteration counts, loop time and superstep samples."""
    out = {}
    for runner_name, fn in names.items():
        with open(ctx.path("runs", f"op{op}", runner_name, "metrics.jsonl")) as fh:
            ms = [json.loads(line)["ms"] for line in fh]
        out[fn] = ms
        ctx.tracer.count(f"algorithms.{fn}.iters", len(ms), op)
        ctx.tracer.count(f"algorithms.{fn}.loop_s", sum(ms) / 1e3, op)
        ctx.tracer.count("runtime.supersteps", len(ms), op)
        ctx.tracer.sample("runtime.superstep.ms", ms, op)
    return out


def _sorted_edges(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("src", "dst").toPandas()
    keys = np.sort(pdf["src"].to_numpy(np.int64) * (1 << 32) + pdf["dst"].to_numpy(np.int64))
    return keys >> 32, keys & ((1 << 32) - 1)


def _dense(df, value_col: str, n: int) -> np.ndarray | None:
    pdf = df.select("id", value_col).toPandas()
    if len(pdf) != n or pdf["id"].nunique() != n:
        return None
    out = np.empty(n, dtype=pdf[value_col].dtype)
    out[pdf["id"].to_numpy()] = pdf[value_col].to_numpy()
    return out


def _edges_ok(ctx: Ctx, df) -> bool:
    src, dst = _sorted_edges(df)
    o = ctx.inputs.oracle
    return np.array_equal(src, o["src"]) and np.array_equal(dst, o["dst"])


def _ranks_ok(got, want, iters: int, want_iters) -> bool:
    return got is not None and iters == int(want_iters) and np.allclose(got, want, rtol=PR_RTOL, atol=0.0)


def _labels_ok(got, want) -> bool:
    return got is not None and np.array_equal(got, want)


class Ingest:
    """pages parquet -> distill_edges -> Graph.build -> save_graph."""

    name = "ingest"

    def prepare(self, ctx: Ctx) -> list[bool]:
        # Byte-identical extracted text per url, checked once per run.
        pdf = extract_columns(ctx.pages()).select("url", "text_extracted").toPandas()
        pdf = pdf.sort_values("url")
        o = ctx.inputs.oracle
        return [
            np.array_equal(pdf["url"].to_numpy(dtype=object), o["urls"]),
            np.array_equal(pdf["text_extracted"].to_numpy(dtype=object), o["text"]),
            np.array_equal(pdf["text_extracted"].to_numpy(dtype=object), o["stored_text"]),
        ]

    def op(self, ctx: Ctx, op: int) -> dict:
        t = ctx.tracer
        with t.span("sources.distill_edges"):
            edges, url_map = distill_edges(ctx.pages())
        with t.span("matrix.build"):
            g = Graph.build(edges, vertices=url_map.select("id"))
        path = ctx.path("store", f"g{op}")
        with t.span("store.save_graph"):
            save_graph(g, f"g{op}", path=path)
        return {"g": g, "url_map": url_map, "path": path}

    def check(self, ctx: Ctx, op: int, out: dict) -> list[bool]:
        g, o = out["g"], ctx.inputs.oracle
        ctx.tracer.count("matrix.edges", g.nvals, op)
        ctx.tracer.count("store.bytes_written", dir_bytes(out["path"]), op)
        urls = out["url_map"].orderBy("id").select("url").toPandas()["url"].to_numpy(dtype=object)
        stored = load_graph(ctx.spark, f"g{op}")
        checks = [
            np.array_equal(urls, o["urls"]),
            stored.n == len(o["urls"]) and stored.nvals == len(o["src"]),
            _edges_ok(ctx, stored.edges),
        ]
        g.unpersist()
        out["url_map"].unpersist()
        drop_graph(ctx.spark, f"g{op}")
        shutil.rmtree(out["path"], ignore_errors=True)
        return checks

    def report(self, ctx: Ctx, ops: list[int], op_s: list[float]) -> dict:
        return {"ingest_pages_per_s": (ctx.inputs.pages / float(np.median(op_s)), "pages/s")}


class PageRank:
    """load_graph, then pagerank_prep and PageRank to the reference
    stopping rule: the BASELINE metric's path, one superstep loop."""

    name = "pagerank"
    RUNNERS = {"pr": "pagerank"}

    def prepare(self, ctx: Ctx) -> list[bool]:
        # The stored graph is the engine's build of the oracle's edge set,
        # which the ingest workload checks distill_edges against.
        o, spark = ctx.inputs.oracle, ctx.spark
        edges = spark.createDataFrame(pd.DataFrame({"src": o["src"], "dst": o["dst"]}))
        g = Graph.build(edges, vertices=spark.range(len(o["urls"])))
        save_graph(g, "store", path=ctx.path("store"))
        g.unpersist()
        return []

    def op(self, ctx: Ctx, op: int) -> dict:
        t = ctx.tracer
        with t.span("store.load_graph"):
            g = load_graph(ctx.spark, "store")
        with t.span("algorithms.pagerank_prep"):
            w = A.pagerank_prep(g)
        with t.span("algorithms.pagerank"):
            ranks = A.pagerank(g, w_edges=w, runner=ctx.runner(op, "pr"))
        w.unpersist()
        return {"g": g, "ranks": ranks}

    def check(self, ctx: Ctx, op: int, out: dict) -> list[bool]:
        o, n = ctx.inputs.oracle, out["g"].n
        ctx.tracer.count("matrix.edges", out["g"].nvals, op)
        steps = record_supersteps(ctx, op, self.RUNNERS)
        return [
            n == len(o["urls"]) and out["g"].nvals == len(o["src"]),
            _ranks_ok(_dense(out["ranks"], "val", n), o["pr"], len(steps["pagerank"]), o["pr_iters"]),
        ]

    def report(self, ctx: Ctx, ops: list[int], op_s: list[float]) -> dict:
        t = ctx.tracer
        return {
            "pagerank_s": (float(np.median([t.wall[("algorithms.pagerank", k)] for k in ops])), "s"),
            "pagerank_edges_per_s": (_teps(t, ops, "pagerank"), "edges/s"),
        }


class Analytics(PageRank):
    """The PageRank operation, then CC to convergence, 5-superstep
    majority LP and triangle count on the same loaded graph."""

    name = "analytics"
    RUNNERS = {"pr": "pagerank", "cc": "connected_components", "lp": "label_propagation_majority"}

    def op(self, ctx: Ctx, op: int) -> dict:
        t, out = ctx.tracer, super().op(ctx, op)
        g = out["g"]
        with t.span("algorithms.connected_components"):
            out["comps"] = A.connected_components(g, runner=ctx.runner(op, "cc"))
        with t.span("algorithms.label_propagation_majority"):
            out["labels"] = A.label_propagation_majority(g, iters=5, runner=ctx.runner(op, "lp"))
        with t.span("algorithms.triangle_count"):
            out["tri"] = A.triangle_count(g)
        return out

    def check(self, ctx: Ctx, op: int, out: dict) -> list[bool]:
        o, n = ctx.inputs.oracle, out["g"].n
        return super().check(ctx, op, out) + [
            _labels_ok(_dense(out["comps"], "component", n), o["cc"]),
            _labels_ok(_dense(out["labels"], "label", n), o["lp"]),
            out["tri"] == int(o["tc"]),
        ]

    def report(self, ctx: Ctx, ops: list[int], op_s: list[float]) -> dict:
        t = ctx.tracer
        med = lambda span: float(np.median([t.wall[(span, k)] for k in ops]))
        return {
            **super().report(ctx, ops, op_s),
            "cc_s": (med("algorithms.connected_components"), "s"),
            "lp_s": (med("algorithms.label_propagation_majority"), "s"),
            "tc_s": (med("algorithms.triangle_count"), "s"),
        }


def _teps(t: Tracer, ops: list[int], fn: str) -> float:
    """|E| x supersteps / PageRank loop seconds, median over operations."""
    return float(np.median([
        t.counts[("matrix.edges", k)] * t.counts[(f"algorithms.{fn}.iters", k)]
        / (t.counts[(f"algorithms.{fn}.loop_s", k)] or float("nan"))
        for k in ops
    ]))


class Refresh:
    """A 5% delta arrives on top of a stored base crawl: re-distill,
    rebuild, carry the base PR scores and CC labels over by url, and
    warm-start PR and CC with a durable checkpoint every superstep."""

    name = "refresh"
    RUNNERS = {"pr": "incremental_pagerank", "cc": "incremental_connected_components"}

    def prepare(self, ctx: Ctx) -> list[bool]:
        return []

    def op(self, ctx: Ctx, op: int) -> dict:
        t, spark, state = ctx.tracer, ctx.spark, ctx.inputs.base_state
        with t.span("sources.distill_edges"):
            edges, url_map = distill_edges(ctx.pages())
        with t.span("matrix.build"):
            g = Graph.build(edges, vertices=url_map.select("id"))
        base_map = spark.read.parquet(os.path.join(state, "url_map.parquet"))
        base_ranks = spark.read.parquet(os.path.join(state, "ranks.parquet"))
        base_labels = spark.read.parquet(os.path.join(state, "labels.parquet"))
        prev_ranks = remap_ranks(base_ranks, base_map, url_map)
        prev_labels = remap_labels(base_labels, base_map, url_map).toDF("id", "component")
        with t.span("algorithms.incremental_pagerank"):
            ranks = incremental_pagerank(g, prev_ranks, runner=ctx.runner(op, "pr", 1))
        with t.span("algorithms.incremental_connected_components"):
            comps = A.incremental_connected_components(
                g, prev_labels, runner=ctx.runner(op, "cc", 1))
        return {"g": g, "url_map": url_map, "ranks": ranks, "comps": comps}

    def check(self, ctx: Ctx, op: int, out: dict) -> list[bool]:
        o, g = ctx.inputs.oracle, out["g"]
        ctx.tracer.count("matrix.edges", g.nvals, op)
        steps = record_supersteps(ctx, op, self.RUNNERS)
        ckpt = sum(dir_bytes(ctx.path("runs", f"op{op}", r)) for r in self.RUNNERS)
        ctx.tracer.count("runtime.checkpoint.bytes_written", ckpt, op)
        iters = len(steps["incremental_pagerank"])
        checks = [
            _edges_ok(ctx, g.edges),
            _ranks_ok(_dense(out["ranks"], "val", g.n), o["inc_pr"], iters, o["inc_pr_iters"]),
            _labels_ok(_dense(out["comps"], "component", g.n), o["cc"]),
        ]
        g.unpersist()
        out["url_map"].unpersist()
        return checks

    def report(self, ctx: Ctx, ops: list[int], op_s: list[float]) -> dict:
        t = ctx.tracer
        med = lambda *spans: float(np.median([sum(t.wall[(s, k)] for s in spans) for k in ops]))
        return {
            "refresh_s": (float(np.median(op_s)), "s"),
            "ingest_pages_per_s": (
                ctx.inputs.pages / med("sources.distill_edges", "matrix.build"), "pages/s"),
            "pagerank_s": (med("algorithms.incremental_pagerank"), "s"),
            "pagerank_edges_per_s": (_teps(t, ops, "incremental_pagerank"), "edges/s"),
            "cc_s": (med("algorithms.incremental_connected_components"), "s"),
        }


WORKLOADS = {w.name: w for w in (Ingest(), PageRank(), Analytics(), Refresh())}
