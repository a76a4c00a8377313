"""Katz centrality — attenuated path-count power iteration.

Beyond the reference's algorithm set but the third canonical link-
analysis ranker next to PageRank and HITS (Katz 1953; the alpha-
attenuated walk-count family PageRank generalizes): it completes the
engine's web-ranking tier and is a pure composition of existing verbs
— each iteration is ONE ``dense_pull`` (operators/vecmat.py, the
pagerank.py physical plan) over the edge table plus an affine map
that Catalyst fuses into the aggregate's projection.

Semantics (deterministic, fixed-iteration, oracle-replayable):

    x_0(v)     = beta
    x_{t+1}(v) = beta + alpha * Σ_{(u→v)∈E} x_t(u)

i.e. truncated Σ_k alpha^k · (#paths of length k into v) scaled by
beta. No normalization — Katz is well-defined unnormalized for
alpha < 1/λ_max, and a FIXED iteration count keeps the arithmetic a
finite rational expression DuckDB replays in float64 (the engine's
standard contract-oracle posture, like hits.py/salsa.py). Vertices
with no in-links hold exactly beta at every step — the output is
dense over the full vertex universe.

Scale: identical to one PageRank iteration per step — one shuffle
(join on src + agg on dst with map-side partial sums absorbing hub
fan-in); frontier is always the full vertex set so no direction
switching applies.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.matrix import Graph
from graphblast_spark.operators.vecmat import dense_pull
from graphblast_spark.runtime.superstep import (
    SuperstepRunner,
    stable_partitions,
    truncate_plan,
)


def _power_iterate(
    g: Graph, x0: float, finish, fixed_iters: int, runner: SuperstepRunner | None
) -> DataFrame:
    """x ← finish(Aᵀx) for ``fixed_iters`` supersteps from the constant
    vector ``x0`` — the loop Katz and eigenvector centrality share.
    Aᵀx is the unit-weight dense pull (one row per vertex; vertices
    with no in-links pull 0); ``finish`` maps it to the next state and
    truncates its plan. Checkpointed and resumed through ``runner``."""
    spark = g.edges.sparkSession
    if runner is None:
        runner = SuperstepRunner(spark)
    edges = g.edges.select("src", "dst", F.lit(1.0).alias("w"))
    zeros = g.vertices.select("id", F.lit(0.0).alias("c"))

    def init():
        return {"x": g.vertices.select("id", F.lit(x0).alias("val"))}

    state, start_iter, _ = runner.resume_or_init(init)
    x = state["x"]
    with stable_partitions(spark):
        for it in range(start_iter, fixed_iters):
            t0 = time.time()
            state = runner.commit(
                it, {"x": finish(dense_pull(edges, x, zeros))},
                metrics={"ms": (time.time() - t0) * 1000.0},
            )
            x = state["x"]
    return x


def katz_centrality(
    g: Graph,
    alpha: float = 0.05,
    beta: float = 1.0,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, katz double) after ``fixed_iters`` steps of
    x ← beta + alpha·Aᵀx from x = beta.

    ``alpha`` must satisfy alpha < 1/λ_max(A) for the infinite series
    to converge; with a fixed iteration count any alpha yields a
    deterministic finite result, but large alpha makes the scores
    meaningless (pure largest-eigenvector direction), so values ≥ 1
    are rejected as certainly wrong.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"katz alpha must be in (0, 1); got {alpha!r}")

    def finish(y: DataFrame) -> DataFrame:
        # the affine map fuses into the aggregate's projection
        return y.select(
            "id", (F.lit(float(beta)) + F.lit(float(alpha)) * F.col("val")).alias("val")
        ).transform(truncate_plan)

    x = _power_iterate(g, float(beta), finish, fixed_iters, runner)
    return x.select("id", F.col("val").alias("katz"))


def eigenvector_centrality(
    g: Graph,
    fixed_iters: int = 10,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, eigen double): L2-normalized power iteration
    x ← Aᵀx / ‖Aᵀx‖₂ from the all-ones vector — the undamped limit of
    the Katz/PageRank family (the principal in-eigenvector direction;
    Bonacich 1972). Completes the engine's centrality tier next to
    katz/pagerank/hits/salsa.

    Deterministic and oracle-replayable: a FIXED iteration count makes
    the result a finite float64 expression an unrolled-CTE SQL oracle
    replays (the hits.py/salsa.py posture). Vertices with no in-links
    hold exactly 0 after the first step; if an iteration collapses to
    the zero vector (possible on a DAG once all walks die out) the
    normalization guard keeps it at exact zeros instead of NaN, which
    is also the fixpoint the infinite series converges to there.

    Scale: per step ONE shuffle — the dense pull join on src + agg on
    dst with map-side partial sums absorbing hub fan-in (pagerank.py
    plan), plus a single-row L2-norm aggregate broadcast back onto the
    result (BroadcastNestedLoopJoin of one row; no second shuffle of
    the vertex table).
    """

    def finish(y: DataFrame) -> DataFrame:
        # truncate the un-normalized vector BEFORE the norm: both the
        # 1-row norm aggregate and the normalization read y, and
        # without materialization each would re-execute the |E|-row
        # join+agg (ReuseExchange is best-effort under AQE)
        y = y.transform(truncate_plan)
        nrm = y.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm"))
        return y.crossJoin(F.broadcast(nrm)).select(
            "id",
            F.when(F.col("nrm") > 0.0, F.col("val") / F.col("nrm"))
            .otherwise(F.lit(0.0))
            .alias("val"),
        )

    x = _power_iterate(g, 1.0, finish, fixed_iters, runner)
    return x.select("id", F.col("val").alias("eigen"))
