"""Superstep runtime: lineage truncation, durable checkpoints, metrics, resume.

The reference's iterative algorithms are driver-side loops with one
device→host sync per iteration (the scalar convergence reduce,
reference pr.hpp:50-84, reduce.hpp:43) and per-iteration timing lines
``iter, error/|V|, unvisited, push|pull, ms`` (pr.hpp:54-62). This
module reproduces that loop shape on Spark and adds what a 1000-executor
run needs and a GPU run didn't (north_rule):

- **lineage truncation** every iteration via eager ``localCheckpoint``
  (without it, the logical plan doubles per superstep and the driver
  OOMs planning iteration ~30);
- **durable checkpoints**: every ``checkpoint_every`` iterations the
  named state DataFrames are written as parquet (per-partition files —
  the per-partition frontier state) together with an atomically-renamed
  ``meta.json`` carrying iteration number + scalars + lineage of prior
  checkpoints;
- **resume**: a fresh driver points at the same ``run_dir`` and
  continues from the newest valid checkpoint mid-iteration;
- **metrics**: one JSONL line per superstep (iter, per-state row counts
  when supplied, direction, wall ms, scalars) in ``run_dir/metrics.jsonl``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def truncate_plan(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` + Catalyst size-statistic reset — THE
    lineage truncation for superstep loops (use as
    ``df.transform(truncate_plan)``).

    ``localCheckpoint`` alone is not enough. Its ``LogicalRDD`` carries
    the ORIGIN plan's ``Statistics`` forward, and Spark's default
    (non-CBO) stats visitor estimates every inner/outer join as the
    PRODUCT of its children's ``sizeInBytes``. In a loop whose state
    feeds a self-join, the estimate therefore *squares* every
    superstep — measured on Spark 4.1: the stat's decimal digit count
    doubles per iteration (22 → 54 → 118 → … → 10^6 digits by ~iter
    16). The number is a ``BigInteger``; every action then formats the
    plan tree for the SQL UI (``SQLExecution.withNewExecutionId`` and
    AQE's ``onUpdatePlan`` → ``QueryExecution.explainString`` →
    ``Statistics.simpleString`` → ``Utils.bytesToString`` →
    ``BigDecimal.bigDigitLength`` → ``BigInteger.pow(10, n)``), whose
    Toom-Cook squaring is superlinear in the digit count — so
    per-superstep DRIVER wall time doubles every round (1 s → 36 s in
    8 rounds on a 37k-edge input) while executor time stays flat, and
    the JVM eventually dies allocating the number itself. This was
    round 3's "pointer-jump pathology"; thread dumps pinned every
    slow second inside ``BigInteger.square`` under ``explainString``.

    The cure: rebuild the DataFrame JVM-side from the *checkpointed*
    RDD (zero recompute, no Python round-trip) — the fresh
    ``LogicalRDD`` has no origin stats, so ``sizeInBytes`` resets to
    the bounded session default and join estimates stay a few dozen
    digits no matter how many supersteps compound. Estimating the
    checkpointed state as "large" is the safe direction at scale: the
    engine's hot joins pin their strategy with explicit hints, and an
    oversized estimate can only suppress an automatic broadcast, never
    produce one that OOMs. Falls back to the plain checkpoint when the
    internal constructor is unavailable (e.g. Spark Connect)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        jspark = df.sparkSession._jsparkSession
        fresh = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, df.sparkSession)
    except Exception:
        return ck


def scaled_partition_count(
    spark: SparkSession, n_rows: int, rows_per_partition: int = 150_000
) -> int:
    """Partition width for a superstep loop over ``n_rows`` rows of
    state/edges: one partition per ``rows_per_partition`` rows, clamped
    to [4, session default]; pin it with ``stable_partitions(spark,
    width)``.

    Superstep loops inherit the session's shuffle width, which is sized
    for the BATCH queries' data volume. When the loop state is small
    (a trimmed web-graph remainder, a converging frontier), a 5-stage
    superstep at the session default of 32+ partitions schedules
    hundreds of near-empty tasks whose fixed cost (launch + codegen
    init, ~50-100 ms each) dwarfs the actual work — measured 31 s of
    executorRunTime per superstep for a 37k-edge input, collapsing to
    ~2 s at 4 partitions. At scale the clamp is a no-op: one partition
    per ``rows_per_partition`` rows reaches the session default long
    before real cluster inputs (10^9+ rows), so batch-sized widths are
    preserved exactly when they matter. Build the loop's persisted
    inputs under the same width so every downstream join stays
    co-partitioned."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(4, min(default, -(-int(n_rows) // rows_per_partition)))


@contextmanager
def stable_partitions(spark: SparkSession, shuffle_partitions: int | None = None):
    """Disable AQE partition coalescing for the duration of a superstep
    loop. Coalescing re-plans every iteration's small shuffles down to a
    handful of partitions, then the next join must redistribute again —
    measured 1.7× slower on a 16M-edge PageRank loop at local[32]. The
    batch (non-iterative) queries keep coalescing on.

    ``shuffle_partitions`` (usually from :func:`scaled_partition_count`)
    additionally pins the loop's shuffle width for the block — the
    static analog of the disabled coalescing, sized once from the
    loop's actual data instead of re-planned every superstep."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    pkey = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, "true")
    old_p = spark.conf.get(pkey)
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(pkey, str(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set(key, old)
        spark.conf.set(pkey, old_p)


def child_runner(runner: "SuperstepRunner | None", spark: SparkSession, tag: str) -> "SuperstepRunner":
    """A sub-runner for one batch of a root-batched sweep (BC / MSBFS):
    inherits the parent's checkpoint cadence but writes under its own
    ``run_dir/tag`` so per-batch resume stays well-defined — a restart
    replays finished batches from their newest checkpoints and picks the
    interrupted batch up mid-iteration, instead of mixing batch states
    in one checkpoint namespace."""
    if runner is None:
        return SuperstepRunner(spark)
    return SuperstepRunner(
        spark,
        run_dir=os.path.join(runner.run_dir, tag) if runner.run_dir else None,
        checkpoint_every=runner.checkpoint_every,
        name=f"{runner.name}/{tag}",
    )


@dataclass
class SuperstepRunner:
    spark: SparkSession
    run_dir: str | None = None      # None → in-memory only (no durable ckpt)
    checkpoint_every: int = 0       # 0 → never write durable checkpoints
    name: str = "run"
    _metrics_fh: object = field(default=None, repr=False)

    # -- paths ---------------------------------------------------------
    def _ckpt_dir(self, it: int) -> str:
        return os.path.join(self.run_dir, f"ckpt_{it:06d}")

    def _meta_path(self, it: int) -> str:
        return os.path.join(self._ckpt_dir(it), "meta.json")

    # -- resume ----------------------------------------------------------
    def latest_checkpoint(self) -> dict | None:
        """Newest checkpoint whose meta.json exists (the atomic commit
        marker — parquet dirs without it are torn writes and ignored)."""
        if not self.run_dir or not os.path.isdir(self.run_dir):
            return None
        best = None
        for d in sorted(os.listdir(self.run_dir)):
            if d.startswith("ckpt_"):
                mp = os.path.join(self.run_dir, d, "meta.json")
                if os.path.exists(mp):
                    with open(mp) as fh:
                        best = json.load(fh)
        return best

    def resume_or_init(
        self, init_fn: Callable[[], dict[str, DataFrame]]
    ) -> tuple[dict[str, DataFrame], int, dict]:
        """Returns (state, next_iter, scalars). next_iter==0 means fresh."""
        meta = self.latest_checkpoint()
        if meta is None:
            state = {k: truncate_plan(df) for k, df in init_fn().items()}
            return state, 0, {}
        it = meta["iter"]
        state = {
            k: self.spark.read.parquet(os.path.join(self._ckpt_dir(it), k))
            for k in meta["states"]
        }
        return state, it + 1, meta.get("scalars", {})

    # -- per-iteration bookkeeping ---------------------------------------
    def truncate(self, state: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Eager localCheckpoint + stat reset — forces materialization
        AND truncates lineage (the superstep 'action'); see
        :func:`truncate_plan` for why the stat reset is load-bearing."""
        return {k: truncate_plan(df) for k, df in state.items()}

    def commit(
        self,
        it: int,
        state: dict[str, DataFrame],
        scalars: dict | None = None,
        metrics: dict | None = None,
    ) -> dict[str, DataFrame]:
        """Log metrics; write a durable checkpoint when the cadence says
        so. Returns the (possibly checkpoint-backed) state.

        An empty ``state`` is metrics-only: it is never checkpointed
        (a convergence-break commit with ``{}`` must not become the
        newest checkpoint, or resume would restore an empty state dict
        and lose everything previously checkpointed)."""
        self._log({"iter": it, **(metrics or {}), **({"scalars": scalars} if scalars else {})})
        if state and self.checkpoint_every and self.run_dir and (it + 1) % self.checkpoint_every == 0:
            cdir = self._ckpt_dir(it)
            for k, df in state.items():
                df.write.mode("overwrite").parquet(os.path.join(cdir, k))
            meta = {
                "iter": it,
                "name": self.name,
                "states": sorted(state.keys()),
                "scalars": scalars or {},
                "wall_ts": time.time(),
            }
            tmp = self._meta_path(it) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(meta, fh)
            os.replace(tmp, self._meta_path(it))  # atomic commit marker
            # Re-read from parquet: truncates lineage to a durable source.
            state = {
                k: self.spark.read.parquet(os.path.join(cdir, k)) for k in state
            }
        return state

    def _log(self, rec: dict) -> None:
        if not self.run_dir:
            return
        os.makedirs(self.run_dir, exist_ok=True)
        with open(os.path.join(self.run_dir, "metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
