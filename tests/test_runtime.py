"""M4: superstep runtime — checkpoint, metrics, resume (north rule:
'resumable from checkpoint with per-partition lineage + metrics').

The key contract (FIXTURES.md §6): run PR k iters with durable
checkpoints, start a FRESH runner on the same run_dir, and the final
vector equals an uninterrupted run at equal iteration count."""

from __future__ import annotations

import json
import os

import pytest

from graphblast_spark.algorithms import connected_components, pagerank, personalized_pagerank
from graphblast_spark.descriptor import DEFAULT_DESC
from graphblast_spark.runtime.superstep import SuperstepRunner
from graphblast_spark.sources.mtx import fixture_graph


def _ranks(df):
    return {r["id"]: r["val"] for r in df.collect()}


def test_pagerank_checkpoint_resume_equivalence(spark, tmp_path):
    g = fixture_graph(spark, "chesapeake")
    run_dir = str(tmp_path / "pr_run")

    # Uninterrupted 10 iters.
    full = _ranks(pagerank(g, fixed_iters=10))

    # Phase 1: 6 iters with checkpoints every 2.
    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    _ranks(pagerank(g, fixed_iters=6, runner=r1))
    metas = [d for d in os.listdir(run_dir) if d.startswith("ckpt_")]
    assert metas, "durable checkpoints written"

    # Phase 2: fresh runner resumes from newest checkpoint → finish to 10.
    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="pr")
    meta = r2.latest_checkpoint()
    assert meta["iter"] == 5  # iters 0..5 done, ckpt at (it+1)%2==0 → it=5
    resumed = _ranks(pagerank(g, fixed_iters=10, runner=r2))

    assert set(resumed) == set(full)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-15)
    g.unpersist()


def test_personalized_pagerank_checkpoint_resume_equivalence(spark, tmp_path):
    """PPR runs pagerank's superstep loop, so it resumes from durable
    checkpoints the same way."""
    g = fixture_graph(spark, "chesapeake")
    run_dir = str(tmp_path / "ppr_run")
    seeds = [0, 2]
    full = _ranks(personalized_pagerank(g, seeds, fixed_iters=6))

    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="ppr")
    _ranks(personalized_pagerank(g, seeds, fixed_iters=4, runner=r1))
    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=2, name="ppr")
    assert r2.latest_checkpoint()["iter"] == 3
    resumed = _ranks(personalized_pagerank(g, seeds, fixed_iters=6, runner=r2))

    assert set(resumed) == set(full)
    for k in full:
        assert resumed[k] == pytest.approx(full[k], abs=1e-15)
    g.unpersist()


def test_metrics_jsonl_shape(spark, tmp_path):
    g = fixture_graph(spark, "test_pr")
    run_dir = str(tmp_path / "m")
    runner = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=0)
    pagerank(g, fixed_iters=3, runner=runner)
    lines = [json.loads(l) for l in open(os.path.join(run_dir, "metrics.jsonl"))]
    assert [l["iter"] for l in lines] == [0, 1, 2]
    assert all("ms" in l for l in lines)
    g.unpersist()


def test_cc_resume(spark, tmp_path):
    g = fixture_graph(spark, "test_cc")
    run_dir = str(tmp_path / "cc")
    full = {r["id"]: r["component"] for r in connected_components(g).collect()}

    r1 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    desc = DEFAULT_DESC.with_(max_niter=1)  # simulate dying after 1 iter
    # max_niter exhaustion now fails loudly instead of returning a
    # non-converged label table — the superstep-0 checkpoint is durable
    # before the raise, which is exactly the crash being simulated.
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(g, desc=desc, runner=r1)

    r2 = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    resumed = {
        r["id"]: r["component"] for r in connected_components(g, runner=r2).collect()
    }
    assert resumed == full
    g.unpersist()


def test_torn_checkpoint_ignored(spark, tmp_path):
    """A ckpt dir without meta.json (torn write) must be skipped."""
    run_dir = str(tmp_path / "torn")
    os.makedirs(os.path.join(run_dir, "ckpt_000009"))
    runner = SuperstepRunner(spark, run_dir=run_dir, checkpoint_every=1)
    assert runner.latest_checkpoint() is None
