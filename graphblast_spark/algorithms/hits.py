"""HITS (hubs & authorities) — dual power iteration.

Beyond the reference's algorithm set, but the other canonical web
link-analysis algorithm next to PageRank (Kleinberg 1999), and a pure
composition of the engine's existing verbs: each half-step is one
``dense_pull`` (authority pulls over in-links, hub pulls over
out-links), so the physical plan per iteration is two of the PageRank
join+agg shapes over the same edge table — nothing new to tune.

Semantics (deterministic, oracle-replayable):

    a'(v) = Σ_{(u→v)∈E} h(u)        (authority = sum of in-link hubs)
    h'(u) = Σ_{(u→v)∈E} a'(v)       (hub = sum of out-link authorities)
    normalize each by its L1 sum    (sum-normalization keeps the
                                     arithmetic rational — exactly
                                     replayable in SQL float64, unlike
                                     the classic L2 sqrt)

Vertices with no in-links (out-links) hold authority (hub) 0 — dense
output over the full vertex universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphblast_spark.algorithms.salsa import hub_authority_loop
from graphblast_spark.matrix import Graph
from graphblast_spark.runtime.superstep import SuperstepRunner


def hits(
    g: Graph,
    fixed_iters: int = 5,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """Returns (id long, hub double, authority double) after
    ``fixed_iters`` dual half-steps with L1 normalization — SALSA's
    loop (salsa.py) with unit weights on both orientations."""
    unit = g.edges.select("src", "dst", F.lit(1.0).alias("w"))

    def init():
        u0 = g.vertices.select("id", F.lit(1.0 / g.n).alias("val"))
        return {"hub": u0, "authority": u0}

    return hub_authority_loop(g, unit, unit, init, fixed_iters, runner)
