"""Connected components — FastSV-style min-label hooking + pointer jumping.

Reference: graphblas/algorithm/cc.hpp:17-136 (FastSV, Zhang/Azad/Hu
SIAM PP20): per round (1) min-neighbor-grandparent hooking, (2)
shortcutting, (3) pointer jumping, converging when parents stabilize.
Labels converge to the **min vertex id of the component** (parent init
is fillAscending, cc.hpp:44), which is exactly what we return —
deterministic, unlike the reference's GPU last-write-wins scatter
(SURVEY §7.3.3: min-resolution reaches the same fixpoint).

Spark formulation per superstep (undirected: edges are used in both
orientations, the --directed 2 semantics of run_cc.sh:16):

1. hook:    f'(u) = min(f(u), mngf(u)),  mngf(u) = min_{v∈N(u)} f(v)
            — join + min-agg
2. scatter: f'[f(u)] = min(f'[f(u)], mngf(u))        — group-by-parent
            + merge join (cc.hpp:83-84 assignScatter, min-resolved)
3. jump:    f''(u) = f'(f'(u))                       — self-join gather
4. converged when Σ label stops changing             — the scalar action

All three updates shrink labels monotonically, so the fixpoint is the
component minimum. The scatter step is load-bearing for the bound:
hook+jump alone is O(log n) from a cold start but degrades to
O(diameter) when a lower label invades an already-flattened (depth-1
star) region — the invader crawls one hop per superstep because there
is no pointer chain left to compress. Scattering the invader to the
star's ROOT lets the next jump convert the whole star at once,
restoring O(log n) for merges — the property that matters on a 100 TB
web graph whose link chains can be thousands long.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.descriptor import DEFAULT_DESC, Descriptor
from graphblast_spark.matrix import Graph
from graphblast_spark.operators.assign import extract_gather
from graphblast_spark.runtime.superstep import SuperstepRunner, stable_partitions, truncate_plan


def _hook_step(e_sym: DataFrame, parent: DataFrame) -> DataFrame:
    """One FastSV hook superstep over the persisted symmetric edges.

    (1a) min neighbor parent (cc.hpp:78 MinimumSelectSecond vxm);
    shuffle-hash: probe persisted edges, build from parent.
    (1b) self-hook: f(u) = min(f(u), mngf(u)) (cc.hpp:90-91).
    (1c) scatter-hook onto the PARENT: f[f(u)] = min(f[f(u)], mngf(u))
    (cc.hpp:83-84 assignScatter, min-resolved). The scatter is the step
    that keeps merges O(log): once a component has flattened into a
    depth-1 star, a lower label invading at one member would otherwise
    crawl ONE HOP PER SUPERSTEP through the min-diffusion (measured:
    two flattened 400-chains merged mid-chain crawl 1 vertex/superstep
    and blow max_niter=200 silently) — scattering the invader to the
    star's root lets the next jump convert the whole star at once.
    Same-component safety: f(u) is in u's component, and mngf(u) is a
    label FROM u's component, so the write never leaks a label across
    components (warm starts included).

    Both hook write streams are emitted in ONE pass over the joined
    table via an inline explode — a two-branch union would make
    Catalyst evaluate the |E|-row hook join TWICE per superstep
    (measured 9.9 s vs 6.9 s on the sf0.1 cc slot; plan-pinned in
    tests/test_plans.py test_cc_hook_step_single_edge_scan).
    """
    p = parent.hint("shuffle_hash")
    nbr_min = (
        e_sym.join(p, on=e_sym["dst"] == p["id"], how="inner")
        .groupBy(e_sym["src"].alias("id"))
        .agg(F.min(p["val"]).alias("nmin"))
    )
    j = parent.join(nbr_min, on="id", how="left")
    hv = F.least(F.col("val"), F.coalesce(F.col("nmin"), F.col("val")))
    return (
        j.select(
            F.explode(
                F.array(
                    F.struct(F.col("id").alias("id"), hv.alias("val")),
                    F.struct(F.col("val").alias("id"), hv.alias("val")),
                )
            ).alias("s")
        )
        .select("s.id", "s.val")
        .groupBy("id")
        .agg(F.min("val").alias("val"))
    )


def connected_components(
    g: Graph,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """Returns (id long, component long) with component = min id of the
    connected component (treating edges as undirected).

    ``init_labels`` (id, val) warm-starts the label table — see
    :func:`incremental_connected_components` for when that is sound.
    The fixpoint of min-diffusion + jumping is the per-component MIN OF
    THE INITIAL VALUES, so arbitrary inits compute that, not the
    component-min vertex id."""
    spark = g.edges.sparkSession

    # Undirected view: both orientations; duplicates are harmless under
    # the min aggregate, so skip the dedup shuffle (cf. util.hpp:263-329
    # which dedups at build — our build already deduped (src,dst)).
    e = g.edges.select("src", "dst")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # pin layout on dst — the hook join's edge-side key — so only the
    # (small) parent table shuffles each superstep
    e_sym = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(n_part, "dst")
        .persist()
    )
    e_sym.count()

    if runner is None:
        runner = SuperstepRunner(spark)

    def init():
        fresh = g.vertices.select("id", F.col("id").alias("val"))
        if init_labels is None:
            return {"parent": fresh}
        # Sanitize the warm start: a label pointing at a vertex no
        # longer in the graph would be dropped by extract_gather's
        # inner join — fall such rows (and uncovered vertices) back to
        # their own id.
        valid = init_labels.join(
            g.vertices.select(F.col("id").alias("val")), "val", "left_semi"
        )
        warm = fresh.drop("val").join(valid, "id", "left").select(
            "id", F.coalesce("val", F.col("id")).alias("val")
        )
        return {"parent": warm}

    state, start_iter, _ = runner.resume_or_init(init)
    parent = state["parent"]

    with stable_partitions(spark):
        for it in range(start_iter, desc.max_niter):
            t0 = time.time()
            hooked = _hook_step(e_sym, parent)
            # (2) shortcut/jump: f[u] = f[f[u]] (cc.hpp:98-99 extractGather)
            new_parent = extract_gather(hooked, hooked).transform(truncate_plan)

            # (3) convergence (cc.hpp:102-104 MinimumNotEqualTo reduce).
            # Labels are integers and strictly monotone non-increasing, so
            # Σ label is an exact fixpoint witness: unchanged sum ⟺ no
            # label moved. One agg over the just-checkpointed table — no
            # 1M×1M diff join per superstep. Summed as decimal(38,0):
            # at 10^12 vertices × 10^12-sized labels the int64 sum
            # overflows (~10^24 ≫ 2^63) — ANSI Spark (4.x default) kills
            # the job mid-superstep, non-ANSI wraps silently and a
            # wrapped collision could fake convergence; decimal keeps
            # the witness exact at any scale for the same single-agg
            # cost (tests/test_operators3.py pins both behaviors).
            label_sum = int(
                new_parent.agg(F.sum(F.col("val").cast("decimal(38,0)"))).first()[0]
            )
            changed = None if it == start_iter else (label_sum != prev_sum)
            prev_sum = label_sum
            ms = (time.time() - t0) * 1000.0
            state = runner.commit(
                it, {"parent": new_parent},
                scalars={"label_sum": label_sum}, metrics={"ms": ms},
            )
            parent = state["parent"]
            if changed is False:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"max_niter={desc.max_niter} supersteps (labels still "
                f"moving) — raise Descriptor.max_niter; a silent return "
                f"here would hand back wrong components"
            )

    e_sym.unpersist()
    return parent.select("id", F.col("val").alias("component"))


def remap_labels(
    prev_labels: DataFrame, old_url_map: DataFrame, new_url_map: DataFrame
) -> DataFrame:
    """Carry (id, val) component labels across a corpus re-distillation
    (dense ids shift on append — distill.py assigns them in url sort
    order). BOTH columns are vertex ids here, so both remap through the
    stable url key: rows whose vertex OR whose label's representative
    left the corpus drop (the warm-start init re-seeds them)."""
    old = old_url_map.select("url", F.col("id").alias("old_id"))
    new = new_url_map.select("url", "id")
    ids = old.join(new, "url").select("old_id", "id")
    return (
        prev_labels.select(F.col("id").alias("old_id"), F.col("val").alias("old_val"))
        .join(ids, "old_id")
        .join(
            ids.select(F.col("old_id").alias("old_val"), F.col("id").alias("val")),
            "old_val",
        )
        .select("id", "val")
    )


def incremental_connected_components(
    g: Graph,
    prev_labels: DataFrame,
    desc: Descriptor = DEFAULT_DESC,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Connected components after an EDGE/VERTEX APPEND, warm-started
    from the previous run's (id, component) labels.

    Two-part warm start — both parts matter:

    - old vertices INIT at min(own id, old component label) (new
      vertices at their own id): the min-diffusion fixpoint is the
      per-component min of the initial values, and with the least()
      that min is exactly the component's min VERTEX ID in the current
      numbering — cold parity holds even after a dense-id remap that
      made the old representative no longer its component's min id
      (ids shift in url sort order on append, sources/distill.py).
      Appends only MERGE components, so every carried label is an id
      from the same component and can never pull the min below the
      component's true min;
    - the old labels are ALSO unioned in as virtual STAR EDGES
      (u — old_rep(u)): the rep is in u's component by construction,
      so the star changes no component — but it keeps the previous
      run's O(1)-depth pointer topology alive as graph structure.
      Without it, a merge seam landing mid-chain re-diffuses the new
      minimum one hop per superstep all the way to the old rep
      (O(distance) supersteps); with it, the seam reaches the rep hub
      in one hop and the whole old component in the next — any append
      converges in O(log) supersteps of the PERTURBED region only. The
      rep hub's fan-in is absorbed map-side by the min aggregate, the
      same posture as every hub in the engine.

    Sound for additions only: after an edge DELETION a component can
    split and both the warm labels and the star edges poison the
    result — run the cold version instead. If the append re-assigned
    dense ids (sources/distill.py), remap through :func:`remap_labels`
    first.

    The streaming analog of pagerank.incremental_pagerank, completing
    the incremental-analytics loop for the second north-rule algorithm.
    """
    init = prev_labels.select(
        "id", F.least(F.col("id"), F.col("component")).alias("val")
    )
    # Star edges come from the RAW labels (u — old_rep), not the
    # least()-ed init: after an id shift the old rep can sit ABOVE its
    # members in the new numbering, but the u—rep connection is still a
    # same-component edge and still the O(1)-depth hub topology.
    star = (
        prev_labels.filter(F.col("id") != F.col("component"))
        .select("id", "component")
        .toDF("src", "dst")
        .withColumn("val", F.lit(1.0))
    )
    aug = Graph.build(
        g.edges.select("src", "dst", "val").unionByName(star),
        vertices=g.vertices,
        dedup=False,           # duplicates are harmless under min
        drop_self_loops=False,  # star rows exclude self-pointers already
    )
    out = connected_components(aug, desc=desc, runner=runner, init_labels=init)
    out = out.localCheckpoint(eager=True)  # materialize before release
    aug.unpersist()
    return out
