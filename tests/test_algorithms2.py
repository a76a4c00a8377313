"""Tests for MIS, graph coloring, LGC, diameter vs numpy oracles +
structural verifiers (the reference's own verification style:
test_mis.hpp independence check, test_gc.hpp proper-coloring check)."""

from __future__ import annotations

import numpy as np
import pytest

from graphblast_spark.algorithms import diameter, graph_coloring, lgc, mis
from graphblast_spark.sources.fixtures import FIXTURES
from graphblast_spark.sources.mtx import fixture_graph
from tests.oracles import diameter_oracle, gc_oracle, lgc_oracle, mis_oracle


def _sym_fixture_edges(name):
    fx = FIXTURES[name]
    edges = [(s, d, v) for s, d, v in fx["edges"]]
    if fx["symmetric"]:
        edges = edges + [(d, s, v) for s, d, v in edges]
    return fx["n"], edges


def _adj(n, edges):
    nbr = [set() for _ in range(n)]
    for s, d, _ in edges:
        if s != d:
            nbr[s].add(d)
            nbr[d].add(s)
    return nbr


@pytest.mark.parametrize("name", ["test_mis", "test_cc", "chesapeake", "test_mesh"])
def test_mis_matches_oracle_and_is_maximal_independent(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = np.zeros(n, dtype=np.int64)
    for r in mis(g).collect():
        got[r["id"]] = r["in_mis"]
    assert (got == mis_oracle(n, edges)).all()
    # structural: independent (no edge inside) and maximal (every
    # outside vertex has a member neighbor) — test_mis.hpp semantics
    nbr = _adj(n, edges)
    members = {v for v in range(n) if got[v]}
    for v in members:
        assert not (nbr[v] & members), f"edge inside MIS at {v}"
    for v in range(n):
        if v not in members:
            assert nbr[v] & members, f"{v} could join — not maximal"
    g.unpersist()


@pytest.mark.parametrize("name", ["test_mis", "test_cc", "chesapeake"])
def test_coloring_matches_oracle_and_proper(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = np.zeros(n, dtype=np.int64)
    for r in graph_coloring(g).collect():
        got[r["id"]] = r["color"]
    assert (got == gc_oracle(n, edges)).all()
    assert (got > 0).all(), "everyone colored at convergence"
    nbr = _adj(n, edges)
    for v in range(n):
        for u in nbr[v]:
            assert got[v] != got[u], f"improper edge {v}-{u}"
    g.unpersist()


def test_coloring_fixed_rounds_leaves_zero(spark):
    n, edges = _sym_fixture_edges("chesapeake")
    g = fixture_graph(spark, "chesapeake")
    got = np.zeros(n, dtype=np.int64)
    for r in graph_coloring(g, fixed_rounds=1).collect():
        got[r["id"]] = r["color"]
    expect = gc_oracle(n, edges, max_rounds=1)
    assert (got == expect).all()
    assert (got == 0).any() and (got == 1).any()
    g.unpersist()


@pytest.mark.parametrize("name,src", [("chesapeake", 0), ("test_cc", 3), ("test_bc", 0)])
def test_lgc_allclose(spark, name, src):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = np.zeros(n)
    for r in lgc(g, source=src, alpha=0.15, eps=1e-6).collect():
        got[r["id"]] = r["p"]
    expect = lgc_oracle(n, edges, src, alpha=0.15, eps=1e-6)
    assert np.allclose(got, expect, atol=1e-6), np.abs(got - expect).max()
    g.unpersist()


@pytest.mark.parametrize("name", ["test_cc", "chesapeake"])
def test_diameter(spark, name):
    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    k = min(n, 8)
    got = diameter(g, n_sources=k)
    assert got == diameter_oracle(n, edges, list(range(k)))
    g.unpersist()


def test_closeness_centrality_chain(spark):
    """Path 0-1-2-3 (undirected): harmonic closeness is exactly
    computable by hand — c(0)=1+1/2+1/3, c(1)=1+1+1/2."""
    from pyspark.sql import functions as F

    from graphblast_spark.algorithms import closeness_centrality
    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    ).withColumn("val", F.lit(1.0))
    g = Graph.build(e, symmetrize=True)
    got = {r.id: round(r.closeness, 6) for r in closeness_centrality(g, n_sources=None).collect()}
    assert got == {
        0: round(1 + 1 / 2 + 1 / 3, 6),
        1: round(1 + 1 + 1 / 2, 6),
        2: round(1 + 1 + 1 / 2, 6),
        3: round(1 + 1 / 2 + 1 / 3, 6),
    }
    g.unpersist()


@pytest.mark.parametrize("name", ["test_mis", "chesapeake"])
def test_spec_coloring_converges_proper(spark, name):
    """Speculative hash coloring: at convergence every vertex is
    colored and no edge is monochrome (csrcolor-analog contract)."""
    from graphblast_spark.algorithms import graph_coloring_spec

    n, edges = _sym_fixture_edges(name)
    g = fixture_graph(spark, name)
    got = np.zeros(n, dtype=np.int64)
    for r in graph_coloring_spec(g, palette=4).collect():
        got[r["id"]] = r["color"]
    assert (got > 0).all()
    nbr = _adj(n, edges)
    for v in range(n):
        for u in nbr[v]:
            assert got[v] != got[u], f"improper edge {v}-{u}"
    g.unpersist()


def test_k_core_triangle_with_pendant(spark):
    """Triangle 0-1-2 plus pendant 3-0: the 2-core is exactly the
    triangle; vertex 3 (degree 1) peels in round one."""
    from pyspark.sql import functions as F

    from graphblast_spark.algorithms import k_core
    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (0, 3)], "src long, dst long"
    ).withColumn("val", F.lit(1.0))
    g = Graph.build(e, symmetrize=True)
    got = {r.id: r.in_core for r in k_core(g, k=2).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0}
    # k=3: the triangle is not a 3-core; everything peels
    got3 = {r.id: r.in_core for r in k_core(g, k=3).collect()}
    assert got3 == {0: 0, 1: 0, 2: 0, 3: 0}
    g.unpersist()


def test_hits_bipartite_structure(spark):
    """Directed star 0→{1,2,3}: 0 is a pure hub (authority 0), targets
    are pure authorities (hub 0) with equal scores summing to 1."""
    from pyspark.sql import functions as F

    from graphblast_spark.algorithms import hits
    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    ).withColumn("val", F.lit(1.0))
    g = Graph.build(e)
    got = {r.id: (round(r.hub, 9), round(r.authority, 9)) for r in hits(g, fixed_iters=3).collect()}
    assert got[0] == (1.0, 0.0)
    third = round(1 / 3, 9)
    for v in (1, 2, 3):
        assert got[v] == (0.0, third)
    g.unpersist()


def test_k_core_nesting_property(spark):
    """(k+1)-core ⊆ k-core on a real fixture — the defining nesting of
    the core decomposition."""
    from graphblast_spark.algorithms import k_core

    g = fixture_graph(spark, "chesapeake")
    c2 = {r.id for r in k_core(g, k=2).collect() if r.in_core}
    c4 = {r.id for r in k_core(g, k=4).collect() if r.in_core}
    assert c4 <= c2
    assert c2, "chesapeake has a non-empty 2-core"
    g.unpersist()


@pytest.mark.parametrize("name", ["test_bc", "test_cc", "chesapeake"])
def test_betweenness_matches_brandes(spark, name):
    from graphblast_spark.algorithms.bc import betweenness_centrality
    from tests.oracles import bc_oracle

    fx = FIXTURES[name]
    n, edges = fx["n"], fx["edges"]
    g = fixture_graph(spark, name)
    got = betweenness_centrality(g, sources=list(range(n)))  # all roots = exact
    vec = np.zeros(n)
    for r in got.collect():
        vec[r["id"]] = r["bc"]
    expect = bc_oracle(n, edges, directed=not fx["symmetric"])
    assert np.allclose(vec, expect, atol=1e-6), np.abs(vec - expect).max()


def test_betweenness_depth_bound_and_sampled_roots(spark):
    from graphblast_spark.algorithms.bc import betweenness_centrality
    from tests.oracles import bc_oracle

    fx = FIXTURES["chesapeake"]
    n, edges = fx["n"], fx["edges"]
    g = fixture_graph(spark, "chesapeake")
    got = betweenness_centrality(g, sources=[0, 1, 2, 3], max_depth=2)
    vec = np.zeros(n)
    for r in got.collect():
        vec[r["id"]] = r["bc"]
    expect = bc_oracle(n, edges, sources=[0, 1, 2, 3], max_depth=2)
    assert np.allclose(vec, expect, atol=1e-6), np.abs(vec - expect).max()


def test_betweenness_path_graph_hand_check(spark):
    # path 0-1-2-3 with explicit back-edges. Ordered-pair (directed)
    # convention: vertex 1 lies on 0→2, 2→0, 0→3, 3→0 ⇒ bc = 4
    # (halve for the undirected convention); endpoints 0.
    from graphblast_spark.algorithms.bc import betweenness_centrality
    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 1.0), (2, 1, 1.0), (2, 3, 1.0), (3, 2, 1.0)],
        "src long, dst long, val double",
    )
    g = Graph.build(e, vertices=spark.range(4).select("id"))
    got = {r["id"]: r["bc"] for r in betweenness_centrality(g, sources=[0, 1, 2, 3]).collect()}
    assert got == {0: 0.0, 1: 4.0, 2: 4.0, 3: 0.0}


@pytest.mark.parametrize("name", ["test_pr", "chesapeake"])
def test_personalized_pagerank_allclose(spark, name):
    from graphblast_spark.algorithms import personalized_pagerank
    from tests.oracles import ppr_oracle

    fx = FIXTURES[name]
    n = fx["n"]
    edges = fx["edges"] + ([(d, s, v) for s, d, v in fx["edges"]] if fx["symmetric"] else [])
    g = fixture_graph(spark, name)
    seeds = [0, 2]
    got = personalized_pagerank(g, seeds, fixed_iters=10)
    vec = np.zeros(n)
    for r in got.collect():
        vec[r["id"]] = r["val"]
    expect = ppr_oracle(n, edges, seeds, iters=10)
    assert np.allclose(vec, expect, atol=1e-6), np.abs(vec - expect).max()
    # mass concentrated near seeds; non-seed-reachable stays teleport-free
    assert vec[0] > 1.0 / n


def test_personalized_pagerank_all_seeds_is_pagerank(spark):
    """With every vertex a seed, PPR teleports (1-α)/n everywhere from
    a 1/n start — plain PageRank, superstep for superstep. Pins the
    power loop the two share."""
    from graphblast_spark.algorithms import pagerank, personalized_pagerank

    g = fixture_graph(spark, "chesapeake")
    k = 7
    ppr = {r["id"]: r["val"] for r in personalized_pagerank(g, list(range(g.n)), fixed_iters=k).collect()}
    pr = {r["id"]: r["val"] for r in pagerank(g, fixed_iters=k).collect()}
    ids = range(g.n)
    assert sorted(ppr) == sorted(pr) == list(ids)
    assert np.allclose([ppr[i] for i in ids], [pr[i] for i in ids], rtol=1e-12, atol=0.0)
    g.unpersist()


def test_ppr_seed_sanitization(spark):
    """Duplicate seeds must not double-count teleport mass; seeds outside
    the vertex domain must raise instead of silently skewing scores."""
    from graphblast_spark.algorithms import personalized_pagerank

    g = fixture_graph(spark, "test_pr")
    clean = {r["id"]: r["val"] for r in personalized_pagerank(g, [0, 2], fixed_iters=5).collect()}
    duped = {r["id"]: r["val"] for r in personalized_pagerank(g, [0, 0, 2], fixed_iters=5).collect()}
    assert clean == pytest.approx(duped, abs=1e-12)
    with pytest.raises(ValueError, match="not.*vertices"):
        personalized_pagerank(g, [0, 10**9], fixed_iters=1)
    with pytest.raises(ValueError, match="non-empty"):
        personalized_pagerank(g, [], fixed_iters=1)
    g.unpersist()


def test_betweenness_duplicate_roots_deduped(spark):
    from graphblast_spark.algorithms.bc import betweenness_centrality

    g = fixture_graph(spark, "test_bc")
    clean = {r["id"]: r["bc"] for r in betweenness_centrality(g, sources=[0, 1]).collect()}
    duped = {r["id"]: r["bc"] for r in betweenness_centrality(g, sources=[0, 0, 1, 1]).collect()}
    assert clean == pytest.approx(duped, abs=1e-12)
    df_duped = spark.createDataFrame([(0,), (0,), (1,)], "id long")
    via_df = {r["id"]: r["bc"] for r in betweenness_centrality(g, sources=df_duped).collect()}
    assert clean == pytest.approx(via_df, abs=1e-12)
    g.unpersist()


def test_betweenness_root_batching_exact(spark):
    """Brandes delta sums are additive over roots: forced tiny batches
    must reproduce the single-sweep scores exactly."""
    from graphblast_spark.algorithms.bc import betweenness_centrality

    g = fixture_graph(spark, "chesapeake")
    roots = [0, 1, 2, 3, 4, 5]
    whole = {r["id"]: r["bc"] for r in
             betweenness_centrality(g, sources=roots, root_batch=None).collect()}
    for b in (1, 2, 4):
        batched = {r["id"]: r["bc"] for r in
                   betweenness_centrality(g, sources=roots, root_batch=b).collect()}
        assert whole == pytest.approx(batched, abs=1e-9), f"root_batch={b}"
    g.unpersist()


def test_msbfs_root_batching_exact(spark):
    from graphblast_spark.algorithms.diameter import multi_source_bfs

    g = fixture_graph(spark, "test_cc")
    roots = list(range(6))
    whole = sorted(map(tuple, multi_source_bfs(g, roots, root_batch=None).collect()))
    for b in (1, 2, 4):
        batched = sorted(map(tuple, multi_source_bfs(g, roots, root_batch=b).collect()))
        assert whole == batched, f"root_batch={b}"
    g.unpersist()


def test_root_batch_knob_validated(spark):
    """A typo'd root_batch string must fail fast with a named ValueError,
    not an opaque TypeError deep in the sweep (ADVICE r3)."""
    from graphblast_spark.algorithms.diameter import multi_source_bfs

    g = fixture_graph(spark, "test_cc")
    with pytest.raises(ValueError, match="root_batch"):
        multi_source_bfs(g, [0], root_batch="Auto")
    g.unpersist()


def test_auto_root_batch_sizing():
    from graphblast_spark.algorithms.diameter import ROOT_PAIR_BUDGET, _auto_root_batch

    assert _auto_root_batch("auto", 1000) == ROOT_PAIR_BUDGET // 1000
    assert _auto_root_batch("auto", 10**12) == 1   # huge graph → 1 root per batch
    assert _auto_root_batch("auto", 0) == ROOT_PAIR_BUDGET
    assert _auto_root_batch(None, 1000) is None
    assert _auto_root_batch(7, 1000) == 7
