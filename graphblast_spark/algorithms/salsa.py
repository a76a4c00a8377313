"""SALSA (Stochastic Approach for Link-Structure Analysis) —
degree-normalized hubs & authorities (Lempel-Moran WWW 2000).

Beyond the reference's algorithm set, but the third canonical web
link-ranking algorithm next to PageRank and HITS, and the one of the
three actually deployed for social/web recommendation at scale
(Twitter's Who-To-Follow runs personalized SALSA). Structurally it is
HITS with each contribution divided by the contributing vertex's
degree — the random-walk (stochastic) transition instead of the raw
adjacency — which damps the tight-knit-community (TKC) inflation HITS
suffers on spam clusters: exactly the property a Common-Crawl-scale
ranking tier wants.

Semantics (deterministic, oracle-replayable — hits.py's posture):

    a'(v) = Σ_{(u→v)∈E} h(u) / outdeg(u)    then L1-normalize
    h'(u) = Σ_{(u→v)∈E} a'(v) / indeg(v)    then L1-normalize

The degree divisions are folded into TWO weighted edge tables built
once before the loop (w_fwd = 1/outdeg(src), w_bwd = 1/indeg(dst)) so
the physical plan per iteration is exactly two PageRank-shaped
``dense_pull`` supersteps (operators/vecmat.py) over persisted edges
— nothing new to tune.
The L1 normalization per half-step makes the fixed-iteration state
deterministic (SALSA's stationary vector is only defined per connected
component; the power-iteration form with explicit normalization is the
replayable contract, like lp_majority's fixed-superstep posture).

Vertices with no in-links (out-links) hold authority (hub) 0 — dense
output over the full vertex universe.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import dense_pull
from graphblast_spark.runtime.superstep import SuperstepRunner, stable_partitions, truncate_plan


def hub_authority_loop(
    g: Graph,
    ew_fwd: DataFrame,
    ew_bwd: DataFrame,
    init,
    fixed_iters: int,
    runner: SuperstepRunner | None,
) -> DataFrame:
    """The dual power loop SALSA and HITS (hits.py) share: per
    superstep authority pulls hub along ``ew_fwd`` (src → dst), hub
    pulls the new authority back along ``ew_bwd`` (dst → src), each
    L1-normalized; ``init`` returns the starting ``{"hub",
    "authority"}`` vectors. Both edge tables are (src, dst, w) — SALSA
    passes its degree-normalized pair, HITS unit weights on both.
    Returns (id long, hub double, authority double)."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    zeros = g.vertices.select("id", F.lit(0.0).alias("c"))

    state, start_iter, _ = runner.resume_or_init(init)
    hub, authority = state["hub"], state["authority"]

    def _l1_normalize(vec: DataFrame) -> DataFrame:
        total = vec.agg(F.sum("val")).first()[0] or 1.0
        return vec.select("id", (F.col("val") / F.lit(float(total))).alias("val"))

    with stable_partitions(spark):
        for it in range(start_iter, fixed_iters):
            t0 = time.time()
            authority = _l1_normalize(dense_pull(ew_fwd, hub, zeros)).transform(truncate_plan)
            hub = _l1_normalize(
                dense_pull(ew_bwd, authority, zeros, in_key="dst", out_key="src")
            ).transform(truncate_plan)
            state = runner.commit(
                it, {"hub": hub, "authority": authority},
                metrics={"ms": (time.time() - t0) * 1000.0},
            )
            hub, authority = state["hub"], state["authority"]

    return (
        hub.withColumnRenamed("val", "hub")
        .join(authority.withColumnRenamed("val", "authority"), on="id", how="outer")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def salsa(
    g: Graph,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Returns (id long, hub double, authority double) after
    ``fixed_iters`` dual degree-normalized half-steps with L1
    normalization.

    ``seeds`` (an (id) frame) switches to query-dependent SALSA
    (Lempel-Moran §6; the shape Twitter's Who-To-Follow personalizes):
    the initial hub mass is 1/|seeds| on the seed set and 0 elsewhere,
    so scores measure link-structure authority AS SEEN FROM the seeds'
    neighborhood rather than globally — mass diffuses outward through
    the stochastic half-steps exactly like the global variant, and the
    L1 normalization keeps the fixed-iteration state deterministic."""
    n = g.n

    e = g.edges.select("src", "dst")
    odeg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    ideg = e.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    # weighted transition tables, built once (pagerank_prep's posture)
    ew_fwd = e.join(odeg, on=e["src"] == odeg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    ).persist()
    ew_bwd = e.join(ideg, on=e["dst"] == ideg["id"]).select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    ).persist()
    ew_fwd.count(), ew_bwd.count()

    def init():
        if seeds is None:
            u0 = g.vertices.select("id", F.lit(1.0 / n).alias("val"))
        else:
            sd = seeds.select("id").distinct()
            k = sd.count()
            if k == 0:
                raise ValueError("salsa seeds must be non-empty when given")
            u0 = g.vertices.join(
                sd.withColumn("s", F.lit(1.0 / k)), "id", "left"
            ).select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        return {"hub": u0, "authority": u0}

    out = hub_authority_loop(g, ew_fwd, ew_bwd, init, fixed_iters, runner)
    ew_fwd.unpersist(), ew_bwd.unpersist()
    return out
