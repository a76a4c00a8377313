"""Strongly connected components + bowtie decomposition (directed).

The reference engine covers undirected/any-direction components (cc.hpp
FastSV); a *web* link graph is directed, and its classic global
analysis (Broder et al. 2000, "Graph structure in the Web") needs SCCs:
the giant core, IN, OUT and the tendrils. This module adds that tier
with the coloring / FW-BW family of parallel SCC algorithms (Orzan
2004; Slota, Rajamanickam, Madduri IPDPS 2014) — the published
approach for power-law graphs on bulk-synchronous engines, where
Tarjan's sequential stack is unusable.

Per outer round, on the still-unassigned subgraph:

1. **Trim** to fixpoint: vertices with no in-edge or no out-edge inside
   the remaining subgraph are singleton SCCs (removes the huge
   tendril/leaf mass of a web crawl in a few rounds).
2. **Forward max-coloring** to fixpoint: ``cf(v) = max id that
   reaches v`` via monotone max-propagation along edges. Monotone ⇒
   the decimal(38,0) sum of colors is an exact convergence witness
   (same single-agg trick as cc.py — no diff join).
3. **Backward max-coloring inside each color class**: every vertex in
   class r has id ≤ r, so for ``cb(v) = max id reachable from v
   staying inside the class``, cb(v) == r ⟺ v reaches the root r
   within the class ⟺ v ∈ SCC(r) (cf gives r → v, cb gives v → r).
   Membership is then a single equality filter. This replaces a
   per-level backward BFS (4 jobs per level: gather, distinct,
   anti-join, emptiness probe) with one gather + one agg per
   superstep at the same O(SCC diameter) superstep count — measured
   85 s → ~35 s on the sf0.1 ordseq fixture. All color classes sweep
   simultaneously — classes are disjoint. (See _max_coloring's note
   on the pointer-jump variant that was measured and removed.)
4. Assign those SCCs, drop them from the graph, repeat. The max id of
   the remaining subgraph is always a root, so every round removes at
   least one SCC; on bowtie-shaped graphs the giant core + trim
   absorb most of the graph in the first couple of rounds.

Labels are normalized to the **min vertex id of the SCC** at the end
(matching cc.py's component convention and the DuckDB oracle).

Scale shape: edges are persisted once per orientation, pinned on the
join key so only the (vertex-sized) color/frontier tables shuffle per
superstep; every convergence check is one aggregate; trim uses
semi/anti joins, never distinct-on-edges. State across supersteps is
O(|V|) rows.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import (
    SuperstepRunner,
    scaled_partition_count,
    stable_partitions,
    truncate_plan,
)


def _sum_witness(df: DataFrame, col: str) -> int:
    return int(df.agg(F.sum(F.col(col).cast("decimal(38,0)"))).first()[0] or 0)


def _max_coloring(
    edges: DataFrame,
    verts: DataFrame,
    key_src: str,
    key_dst: str,
    max_inner: int,
) -> DataFrame:
    """Max-label propagation: returns (id, val) with val = max vertex
    id that has a directed path to ``id`` along ``edges`` oriented
    key_src → key_dst (pass ("dst", "src") to propagate against edge
    direction, i.e. max id REACHABLE from v).

    Per superstep: one-hop gather (hash join + max agg) + a FastSV-
    style pointer jump (val' = max(val, val[val]) — valid because
    colors compose along paths: if u reaches v and w reaches u then w
    reaches v), fused into ONE plan before a single eager lineage
    truncation; convergence is one aggregate — labels are monotone
    non-decreasing integers, so an unchanged decimal(38,0) sum is an
    exact fixpoint witness. The jump doubles the known reach per
    round → **O(log diameter) supersteps** (measured: a 40k-vertex
    path converges in 16 rounds at a flat ~1.2 s each; the full
    backward pass on the sf0.1 web fixture in 12 rounds, ~1–2 s each).

    HISTORY: round 3 shipped the O(diameter) plain-gather loop after
    measuring per-superstep wall time DOUBLING every round with the
    jump (0.5 s → 32 s within 5 rounds) at constant rows/stages/
    tasks. Round 4 root-caused it — not the jump, and not Spark's
    task execution: Catalyst's default stats visitor estimates joins
    as the product of child ``sizeInBytes`` and ``localCheckpoint``
    carries origin stats forward, so the estimate SQUARES per
    superstep until per-action plan-string formatting (BigInteger →
    decimal) dominates the driver. The extra val-keyed self-join per
    superstep merely doubled the compounding rate, which is why the
    plain loop looked immune. Fixed engine-wide by
    :func:`graphblast_spark.runtime.superstep.truncate_plan`
    (checkpoint + stat reset — see its docstring for the full
    mechanism and measurements); tests/test_scc.py pins per-superstep
    flatness and tests/test_plans.py pins the bounded stat."""
    color = verts.select("id", F.col("id").alias("val"))
    prev = _sum_witness(color, "val")
    for _ in range(max_inner):
        c = color.hint("shuffle_hash")
        nbr_max = (
            edges.join(c, edges[key_src] == c["id"], "inner")
            .groupBy(edges[key_dst].alias("id"))
            .agg(F.max(c["val"]).alias("nmax"))
        )
        stepped = (
            color.join(nbr_max, "id", "left")
            .select(
                "id",
                F.greatest(
                    F.col("val"), F.coalesce("nmax", F.col("val"))
                ).alias("val"),
            )
        )
        parent = stepped.select(F.col("id").alias("pid"), F.col("val").alias("pval"))
        color = (
            stepped.join(
                parent.hint("shuffle_hash"),
                stepped["val"] == F.col("pid"),
                "left",
            )
            .select(
                stepped["id"].alias("id"),
                F.greatest(
                    stepped["val"], F.coalesce(F.col("pval"), stepped["val"])
                ).alias("val"),
            )
            .transform(truncate_plan)
        )
        cur = _sum_witness(color, "val")
        if cur == prev:
            return color
        prev = cur
    # The witness still moved on the last allowed superstep: a
    # non-converged coloring would split a long-diameter SCC into
    # fragments with DIFFERENT scc_ids, silently — the outer loop can
    # still "terminate". Fail loudly like the outer max_rounds path.
    raise RuntimeError(
        f"_max_coloring did not reach its fixpoint within "
        f"max_inner={max_inner} supersteps (color-class diameter "
        f"exceeds the cap); raise max_inner"
    )


def strongly_connected_components(
    g: Graph,
    runner: SuperstepRunner | None = None,
    max_rounds: int = 64,
    max_inner: int = 200,
) -> DataFrame:
    """Returns (id long, scc_id long), scc_id = min vertex id of the
    strongly connected component."""
    spark = g.edges.sparkSession
    n_edges = g.edges.count()
    n_part = scaled_partition_count(spark, n_edges)
    with stable_partitions(spark, n_part):
        # One pinned orientation: both colorings probe the persisted
        # src-partitioned edges (the backward pass flips the JOIN key,
        # not the layout); per-round activity is a semi-join filter.
        # Partition width is clamped to the edge count
        # (scaled_partition_count) so the ~30 supersteps per outer round
        # don't schedule hundreds of near-empty tasks each on small
        # remainders; every loop shuffle below runs at the same width,
        # keeping the persisted edges co-partitioned with the state.
        e_fwd = g.edges.select("src", "dst").repartition(n_part, "src").persist()
        e_fwd.count()
        return _scc_loop(g, spark, e_fwd, runner, max_rounds, max_inner)


def _scc_loop(
    g: Graph,
    spark,
    e_fwd: DataFrame,
    runner: SuperstepRunner | None,
    max_rounds: int,
    max_inner: int,
) -> DataFrame:
    if runner is None:
        runner = SuperstepRunner(spark)

    def init():
        return {
            "remaining": g.vertices.select("id"),
            "assigned": g.vertices.select("id", F.col("id").alias("scc_id")).limit(0),
        }

    state, start_round, _ = runner.resume_or_init(init)
    remaining, assigned = state["remaining"], state["assigned"]

    with stable_partitions(spark):
        for rnd in range(start_round, max_rounds):
            t0 = time.time()
            n_rem = remaining.count()
            if n_rem == 0:
                runner.commit(rnd, {}, metrics={"phase": "done"})
                break

            # -- 1. trim to fixpoint --------------------------------------
            while True:
                act = (
                    e_fwd.join(remaining.hint("shuffle_hash"),
                               e_fwd["src"] == remaining["id"], "left_semi")
                    .join(remaining.hint("shuffle_hash"),
                          F.col("dst") == remaining["id"], "left_semi")
                )
                keep = (
                    remaining.join(act, remaining["id"] == act["src"], "left_semi")
                    .join(act, remaining["id"] == act["dst"], "left_semi")
                    .transform(truncate_plan)
                )
                n_keep = keep.count()
                if n_keep == n_rem:
                    break
                trimmed = remaining.join(keep, "id", "left_anti")
                assigned = assigned.unionByName(
                    trimmed.select("id", F.col("id").alias("scc_id"))
                ).transform(truncate_plan)
                remaining, n_rem = keep, n_keep
            if n_rem == 0:
                state = runner.commit(
                    rnd, {"remaining": remaining, "assigned": assigned},
                    metrics={"phase": "trim-emptied", "ms": (time.time() - t0) * 1000},
                )
                remaining, assigned = state["remaining"], state["assigned"]
                continue

            act = act.transform(truncate_plan)  # edges inside `keep`

            # -- 2. forward max-coloring (pointer-jumped) -----------------
            # cf(v) = max id with a path TO v. O(log diameter) supersteps.
            cf = _max_coloring(act, remaining, "src", "dst", max_inner)

            # -- 3. backward max-coloring WITHIN color classes ------------
            # Key fact: every vertex in class r has id ≤ r (its cf is r,
            # and any vertex reaches itself, so id ≤ cf). Hence for
            # cb(v) = max id reachable FROM v staying inside the class:
            # cb(v) ≤ r always, and cb(v) == r ⟺ v reaches the root r
            # within the class ⟺ (with cf(v) == r: r reaches v) v and r
            # are mutually reachable ⟺ v ∈ SCC(r). The O(diameter)
            # backward BFS becomes a second O(log diameter) jumped
            # coloring — measured 85 s → 26 s on the sf0.1 ordseq graph
            # (the BFS was ~60 s of depth-bound supersteps).
            cfs = cf.select(F.col("id").alias("src"), F.col("val").alias("cls"))
            cfd = cf.select(F.col("id").alias("dst"), F.col("val").alias("cls"))
            ec = (
                act.join(cfs, "src")
                .join(cfd, ["dst", "cls"])
                .select("src", "dst")
                .transform(truncate_plan)
            )
            cb = _max_coloring(ec, remaining, "dst", "src", max_inner)

            members = (
                cf.join(
                    cb.select(F.col("id").alias("bid"), F.col("val").alias("bval")),
                    (F.col("id") == F.col("bid")) & (F.col("val") == F.col("bval")),
                    "inner",
                )
                .select("id", F.col("val").alias("root"))
            )

            assigned = assigned.unionByName(
                members.select("id", F.col("root").alias("scc_id"))
            ).transform(truncate_plan)
            remaining = remaining.join(members, "id", "left_anti").transform(truncate_plan)
            state = runner.commit(
                rnd,
                {"remaining": remaining, "assigned": assigned},
                metrics={
                    "ms": (time.time() - t0) * 1000,
                    "n_remaining": remaining.count(),
                },
            )
            remaining, assigned = state["remaining"], state["assigned"]
        else:
            raise RuntimeError(
                f"SCC did not converge in {max_rounds} outer rounds "
                f"({remaining.count()} vertices unassigned)"
            )

    e_fwd.unpersist()
    # Normalize root labels (max member id) to the min member id.
    rel = assigned.groupBy("scc_id").agg(F.min("id").alias("m"))
    return (
        assigned.join(rel, "scc_id")
        .select("id", F.col("m").alias("scc_id"))
    )


def _reach_from(edges: DataFrame, seeds: DataFrame, reverse: bool = False) -> DataFrame:
    """Vertices reachable from ``seeds`` (exclusive of the seeds
    themselves unless re-reached) along ``edges`` — plain frontier BFS,
    O(|V|) state, one anti-join + one hash join per level."""
    src, dst = ("dst", "src") if reverse else ("src", "dst")
    visited = seeds.select("id").transform(truncate_plan)
    frontier = visited
    while True:
        nxt = (
            edges.join(frontier.hint("shuffle_hash"),
                       edges[src] == frontier["id"], "inner")
            .select(edges[dst].alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .transform(truncate_plan)
        )
        if nxt.isEmpty():
            return visited
        visited = visited.unionByName(nxt).transform(truncate_plan)
        frontier = nxt


def bowtie_decomposition(
    g: Graph, scc: DataFrame | None = None, runner: SuperstepRunner | None = None
) -> DataFrame:
    """Broder-style bowtie map of a directed graph: (id, component)
    with component ∈ {CORE, IN, OUT, OTHER} — CORE = the largest SCC
    (ties broken by smallest scc_id), IN = reaches the core, OUT =
    reachable from the core, OTHER = tendrils/tubes/disconnected."""
    if scc is None:
        scc = strongly_connected_components(g, runner=runner)
    scc = scc.persist()
    core_row = (
        scc.groupBy("scc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .orderBy(F.desc("sz"), F.asc("scc_id"))
        .first()
    )
    core_id = core_row["scc_id"]
    core = scc.filter(F.col("scc_id") == core_id).select("id")
    edges = g.edges.select("src", "dst")
    out_side = _reach_from(edges, core)           # core ∪ forward-reachable
    in_side = _reach_from(edges, core, reverse=True)
    result = (
        scc.join(out_side.select("id", F.lit(True).alias("fwd")), "id", "left")
        .join(in_side.select("id", F.lit(True).alias("bwd")), "id", "left")
        .select(
            "id",
            F.when(F.col("scc_id") == core_id, "CORE")
            .when(F.col("bwd").isNotNull(), "IN")
            .when(F.col("fwd").isNotNull(), "OUT")
            .otherwise("OTHER")
            .alias("component"),
        )
    )
    scc.unpersist()
    return result


def condensation(g: Graph, scc: DataFrame | None = None) -> DataFrame:
    """The condensation DAG: contract every SCC to one vertex and
    aggregate parallel edges — (src_scc, dst_scc, n_edges), self-loops
    (intra-SCC edges) dropped. The standard follow-up to SCC: web-graph
    structure analysis runs on the condensation (it is acyclic and
    orders of magnitude smaller than the page graph).

    Plan: two vertex-keyed hash joins to relabel endpoints + one
    map-side-combining groupBy on the (scc, scc) pair — no windows, no
    distinct-on-edges."""
    if scc is None:
        scc = strongly_connected_components(g)
    src_m = scc.select(F.col("id").alias("src"), F.col("scc_id").alias("src_scc"))
    dst_m = scc.select(F.col("id").alias("dst"), F.col("scc_id").alias("dst_scc"))
    return (
        g.edges.select("src", "dst")
        .join(src_m, "src")
        .join(dst_m, "dst")
        .filter(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
