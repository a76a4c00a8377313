"""Plan-shape regression tests: the physical plans the engine relies on
for scale must stay the plans we designed (SURVEY §4 dispositions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphblast_spark.descriptor import Descriptor, MxvMode
from graphblast_spark.operators import vxm
from graphblast_spark.plans import (
    count_exchanges,
    join_strategies,
    pushed_filters,
    read_schemas,
    has_whole_stage_codegen,
)
from graphblast_spark.sources.mtx import fixture_graph

SF = "/root/testdata/sf0.001"


def test_push_vxm_broadcasts_frontier(spark):
    """Sparse frontier → broadcast hash join (the SpMSpV push path,
    reference backend/cuda/operations.hpp:131-140)."""
    g = fixture_graph(spark, "chesapeake")
    frontier = g.vertices.limit(1).select("id", F.lit(1.0).alias("val"))
    # 1/39 vertices is above the 0.01 switchpoint, so pin PUSHONLY (the
    # --mxvmode 1 analog); the density-based dispatch is covered below.
    out = vxm(frontier, g, "PlusMultiplies", u_nvals=1,
              desc=Descriptor(mxv_mode=MxvMode.PUSHONLY))
    assert "BroadcastHashJoin" in join_strategies(out)
    # density dispatch: frontier/n above switchpoint → NOT broadcast
    out2 = vxm(frontier, g, "PlusMultiplies", u_nvals=1)
    assert "BroadcastHashJoin" not in join_strategies(out2)
    # ...but below it → broadcast
    out3 = vxm(frontier, g, "PlusMultiplies", u_nvals=1,
               desc=Descriptor(switchpoint=0.1))
    assert "BroadcastHashJoin" in join_strategies(out3)
    g.unpersist()


def test_pull_vxm_uses_shuffled_hash_not_sort_merge(spark):
    """Dense vector → shuffle join, but hash not sort-merge: re-sorting
    |E| rows per superstep is the regression this test pins down."""
    g = fixture_graph(spark, "chesapeake")
    u = g.vertices.select("id", F.lit(1.0).alias("val"))
    out = vxm(u, g, "PlusMultiplies", u_nvals=g.n,
              desc=Descriptor(mxv_mode=MxvMode.PULLONLY))
    js = join_strategies(out)
    assert "SortMergeJoin" not in js, js
    g.unpersist()


def test_parquet_filter_pushdown_and_column_pruning(spark):
    # a cached documents DF from an earlier test would substitute an
    # InMemoryTableScan for the parquet scan, hiding PushedFilters
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    q.collect()  # finalize AQE plan
    assert any("lang" in f for f in pushed_filters(q)), pushed_filters(q)
    schemas = read_schemas(q)
    assert schemas and all("text" not in s for s in schemas), schemas


def test_aggregation_stays_in_codegen(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    q.collect()
    assert has_whole_stage_codegen(q)


def test_vecmat_single_aggregation_exchange_budget(spark):
    """The vecmat join+agg must not exceed 3 shuffles (edge side, vector
    side, group key) — extra exchanges mean a partitioning regression.
    Built from bare uncached DataFrames so the counted plan contains
    only vecmat's own exchanges (a persisted Graph's InMemoryRelation
    embeds its build-time plan in toString, inflating the count)."""
    from graphblast_spark.matrix import Graph

    edges = spark.range(200).select(
        (F.col("id") % 20).alias("src"), (F.col("id") % 31).alias("dst"),
        F.lit(1.0).alias("val"))
    vertices = spark.range(31).select("id")
    g = Graph(edges=edges, vertices=vertices, n=31, nvals=200)
    u = vertices.select("id", F.lit(1.0).alias("val"))
    out = vxm(u, g, "PlusMultiplies", u_nvals=31,
              desc=Descriptor(mxv_mode=MxvMode.PULLONLY))
    out.collect()
    assert count_exchanges(out) <= 3, count_exchanges(out)


def test_dense_pull_single_edge_scan_exchange_budget(spark):
    """The centrality tier's shared dense pull step (PageRank, PPR,
    Katz, eigenvector, HITS, SALSA) in both orientations: shuffle-hash,
    never sort-merge; the edge table scanned ONCE; at most 3 shuffles
    (edge side, vector side, group key). Bare uncached frames, as in
    the vecmat budget test above."""
    import re

    from graphblast_spark.operators.vecmat import dense_pull
    from graphblast_spark.plans.audit import _physical

    edges = spark.range(200).select(
        (F.col("id") % 20).alias("src"), (F.col("id") % 31).alias("dst"),
        F.lit(0.5).alias("w"))
    vertices = spark.range(31).select("id")
    u = vertices.select("id", F.lit(1.0).alias("val"))
    base = vertices.select("id", F.lit(0.0).alias("c"))
    for in_key, out_key in (("src", "dst"), ("dst", "src")):
        out = dense_pull(edges, u, base, in_key=in_key, out_key=out_key)
        rows = out.collect()
        # dense over every vertex; Σ val = Σ w over the edges
        assert len(rows) == 31 and sum(r["val"] for r in rows) == 100.0
        js = join_strategies(out)
        assert "SortMergeJoin" not in js, js
        scans = len(re.findall(r"Range \(0, 200,", _physical(out)))
        assert scans == 1, f"edge table scanned {scans}x:\n{_physical(out)}"
        assert count_exchanges(out) <= 3, count_exchanges(out)


def test_domain_edges_plan_single_aggregate_no_join(spark):
    """The domain rollup must be a pure projection + one hash aggregate
    over the pair table — no join, no window, no cartesian."""
    from graphblast_spark.functions.urls import domain_edges

    pairs = spark.createDataFrame(
        [("http://a.x.com/1", "http://b.y.com/2")], "src_url string, dst_url string"
    )
    plan = domain_edges(pairs)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Join", "CartesianProduct", "Window", "PythonUDF"):
        assert bad not in plan, f"{bad} in domain_edges plan:\n{plan}"


def test_clean_corpus_plan_no_cartesian_no_row_udf(spark):
    """The composed pipeline stays JVM-side: joins are hash joins on
    short keys — never a cartesian product or a per-row Python UDF."""
    from graphblast_spark.functions.pipeline import clean_corpus

    docs = spark.createDataFrame(
        [(i, f"the doc {i} and some words of it is here") for i in range(20)],
        "doc_id long, text string",
    )
    out = clean_corpus(docs, near_dup="simhash", min_quality=0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python UDF operator


def test_redact_pii_plan_pure_projection(spark):
    """PII redaction must stay a map-only codegen projection: zero
    exchanges, zero Python operators."""
    from graphblast_spark.functions.pii import redact_pii

    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    for bad in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "Window"):
        assert bad not in plan, f"{bad} in redact_pii plan:\n{plan}"


def test_remove_boilerplate_plan_no_window_no_cartesian(spark):
    from graphblast_spark.functions.dedup import remove_boilerplate

    docs = spark.createDataFrame(
        [(i, f"w{i} x y\nshared footer") for i in range(10)],
        "doc_id long, text string",
    )
    out = remove_boilerplate(docs, min_docs=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("Window", "CartesianProduct", "BatchEvalPython"):
        assert bad not in plan, f"{bad} in remove_boilerplate plan:\n{plan}"


def test_hyperball_superstep_stays_jvm_side(spark):
    """One HyperBall round = union + single hash aggregate of HLL
    sketches — no Python eval, no window, no cartesian product."""
    import pyspark.sql.functions as F

    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, val double"
    )
    g = Graph.build(e)
    counters = g.vertices.groupBy("id").agg(
        F.hll_sketch_agg("id", F.lit(12)).alias("sk")
    )
    gathered = (
        g.edges.join(counters, g.edges["dst"] == counters["id"], "inner")
        .select(g.edges["src"].alias("id"), counters["sk"].alias("sk"))
    )
    stepped = (
        gathered.unionByName(counters)
        .groupBy("id")
        .agg(F.hll_union_agg("sk", F.lit(True)).alias("sk"))
    )
    stepped.collect()
    plan = stepped._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Window", "CartesianProduct"):
        assert bad not in plan, f"{bad} in hyperball superstep plan:\n{plan}"
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_multimodal_stats_plans_no_python_worker(spark):
    """decode_stats / byte_histogram are closed-form functions of the
    payload bytes → must run as pure JVM Column expressions, with NO
    Python-eval operator of any kind in the plan (VERDICT r3 wrong #2;
    the real-codec splice points remain resize/frame_sample).
    extract_features joined them in round 5 (L2-normalized histogram as
    aggregate+transform over byte_histogram — the last per-row Python
    loop outside the codec splice, now retired)."""
    from graphblast_spark.functions.multimodal import (
        byte_histogram,
        decode_stats,
        extract_features,
    )

    assets = spark.createDataFrame(
        [(i, "image", bytes([i % 256]) * (32 + i), 8, 8, 0) for i in range(10)],
        "asset_id long, kind string, payload binary, width int, height int, sample_rate int",
    )
    for df in (decode_stats(assets), byte_histogram(assets), extract_features(assets)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                    "FlatMapGroupsInPandas", "PythonMapInArrow"):
            assert bad not in plan, f"{bad} in plan:\n{plan}"


def test_truncate_plan_bounds_catalyst_size_stat(spark):
    """truncate_plan must reset the optimizer's sizeInBytes statistic
    every superstep. Without the reset, Catalyst's join estimate (the
    PRODUCT of child sizes) compounds through localCheckpoint's
    origin-stats carry-over and the stat's digit count DOUBLES per
    iteration (measured 22 -> 4099 digits in 8 rounds), until the
    per-action plan-string formatting of that BigInteger dominates the
    driver (the round-3 'pointer-jump pathology'). Ten self-join
    rounds is enough: unbounded compounding would exceed 1000 digits,
    the reset keeps it at ~19 forever."""
    from graphblast_spark.runtime.superstep import truncate_plan

    def digits(df):
        return len(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    state = spark.range(100).select(F.col("id"), F.col("id").alias("val"))
    for _ in range(10):
        other = state.select(F.col("id").alias("oid"), F.col("val").alias("oval"))
        state = truncate_plan(
            state.join(other.hint("shuffle_hash"), state["val"] == other["oid"], "left")
            .select(state["id"].alias("id"),
                    F.greatest(state["val"], F.coalesce("oval", state["val"])).alias("val"))
        )
    assert state.count() == 100
    assert digits(state) < 40, (
        f"sizeInBytes stat has {digits(state)} digits after 10 supersteps — "
        "stat reset in truncate_plan is not working"
    )


def test_cc_hook_step_single_edge_scan(spark):
    """The FastSV hook superstep (cc.py _hook_step) must scan the
    persisted edge table exactly ONCE: the scatter-hook's two write
    streams are emitted via inline explode. The regression this pins:
    a two-branch union over the joined table makes Catalyst evaluate
    the |E|-row hook join twice per superstep (measured 9.9 s vs 6.9 s
    on the sf0.1 cc slot)."""
    import re

    from graphblast_spark.algorithms.cc import _hook_step
    from graphblast_spark.plans.audit import _physical

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    ).persist()
    e.count()
    parent = spark.range(4).select("id", F.col("id").alias("val"))
    hooked = _hook_step(e, parent)
    plan = _physical(hooked)
    scans = len(re.findall(r"InMemoryTableScan", plan))
    assert scans == 1, f"edge table scanned {scans}x per superstep:\n{plan}"
    e.unpersist()


def test_pack_sequences_plan_sharded_window_one_exchange(spark):
    """The packing map must sort per SHARD, never globally: exactly one
    hash-partitioning Exchange (by shard) feeding the window — a global
    Window.orderBy would show Exchange SinglePartition / rangepartitioning
    and funnel the corpus through one task — and no Python operators."""
    from graphblast_spark.functions.packing import pack_sequences
    from graphblast_spark.plans.audit import count_exchanges

    docs = spark.createDataFrame(
        [(i, "tok " * (i % 7 + 1)) for i in range(40)], "doc_id long, text string"
    )
    out = pack_sequences(docs, seq_len=4, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("SinglePartition", "rangepartitioning",
                "BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert bad not in plan, f"{bad} in pack_sequences plan:\n{plan}"
    assert count_exchanges(out) == 1, plan


def test_louvain_move_round_plan_no_python_no_window(spark):
    """One Louvain move round must stay JVM-side: hash aggregates and
    hash joins only — no Python workers, no window (the argmax is a
    struct-max aggregate), no cartesian product (the only scalar is
    m2, passed as a literal). Pinned on _move_round directly: the
    public louvain() output is lineage-truncated, so its executed
    plan is a checkpoint scan and would make this assertion vacuous."""
    from pyspark.sql import functions as F
    from graphblast_spark.algorithms.louvain import (
        _canonical_undirected,
        _move_round,
    )
    from graphblast_spark.matrix import Graph

    e = spark.createDataFrame(
        [(i, (i + 1) % 12, 1.0) for i in range(12)] + [(0, 6, 1.0)],
        "src long, dst long, val double",
    )
    g = Graph.build(e, vertices=spark.range(12).selectExpr("id"))
    und = _canonical_undirected(g.edges)
    nd = und.filter(F.col("a") != F.col("b"))
    sym = nd.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w").unionByName(
        nd.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("deg"))
    comm = deg.select("id", F.col("id").alias("comm"))
    plan = (
        _move_round(sym, deg, comm, 26.0, 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "Window", "rangepartitioning"):
        assert bad not in plan, f"{bad} in louvain move-round plan:\n{plan}"
    g.unpersist()
