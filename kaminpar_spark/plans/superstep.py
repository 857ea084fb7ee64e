"""Bulk-synchronous superstep loop with checkpointed lineage.

The reference's iterative kernels (label propagation, balancer, coarsening
loop — parallel_label_propagation.h:169-216, parallel_balancer.cc:29-115)
mutate shared arrays in place across iterations. The Spark-native equivalent
is a driver loop over immutable vertex-state DataFrames. ``iterate`` is that
loop, the one every iterative operator runs on, and it handles the chronic
iterative-Spark problems in one place:

1. **Lineage blowup**: each superstep's plan references the previous one;
   after ~20 iterations Catalyst analysis dominates. Every superstep's output
   is materialized and its lineage truncated.
2. **Block-manager hygiene**: once a superstep's output is materialized, the
   previous state's checkpoint blocks and any intermediates the step
   truncated internally are unpersisted, so only the latest state stays live.
   Without this a long run accumulates one unreclaimable checkpoint per
   superstep (eviction of a lineage-truncated block is data loss).
3. **Resumability** (north rule): with a ``SuperstepRunner`` each superstep's
   state is written as a snapshot under ``workdir/<name>/step=<i>/`` plus a
   ``manifest.jsonl`` line with convergence metrics (residual L1, moved-label
   count, edge cut — whatever the algorithm reports). A re-run with the same
   workdir resumes from the last completed superstep and replays nothing.

The only durability branch is how a step's output is materialized:
``truncate`` (localCheckpoint, stays in the block manager) without a runner,
snapshot write + read-back plus a manifest line with one.

Contract:
    step(state, i)    -> new_state (LAZY — the loop materializes it)
    metrics(new_state) -> dict      (runs against the materialized state)
    converged(metrics) -> bool
    on_metrics(i, metrics)          (after every executed superstep)
The new state may carry scratch columns (e.g. ``old_rank``) that ``metrics``
needs; callers project them away after the loop.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from kaminpar_spark.plans.lineage import persistent_rdd_ids, release, release_ids, truncate
from kaminpar_spark.sources.iceberg import read_table, write_table

StepFn = Callable[[DataFrame, int], DataFrame]
MetricsFn = Callable[[DataFrame], dict]
ConvergedFn = Callable[[dict], bool]


def iterate(
    name: str,
    state: DataFrame,
    step: StepFn,
    max_iters: int,
    metrics: MetricsFn | None = None,
    converged: ConvergedFn | None = None,
    runner: SuperstepRunner | None = None,
    on_metrics: Callable[[int, dict], None] | None = None,
) -> DataFrame:
    """Run ``step`` for up to ``max_iters`` supersteps from ``state`` and
    return the last state. Stops early once ``converged(metrics(new))``.

    Without ``metrics`` no convergence job runs: every superstep reports
    ``{}`` and the loop runs all ``max_iters`` (fixed-iteration loops). ``name`` keys the runner's snapshots and
    manifest; a converged manifest short-circuits to its last snapshot."""
    spark = state.sparkSession
    start = 0
    if runner is not None:
        last = runner.last_step(name)
        if last is not None:
            state = read_table(spark, last["path"])
            if last["converged"]:
                return state
            start = last["step"] + 1
    state = truncate(state)
    for i in range(start, max_iters):
        t0 = time.time()
        pre = persistent_rdd_ids(spark)
        new = step(state, i)
        if runner is None:
            new = truncate(new)
        else:
            snap = runner.step_path(name, i)
            write_table(new, snap)
            new = read_table(spark, snap)
            rows = new.count()
        m = metrics(new) if metrics is not None else {}
        done = metrics is not None and converged is not None and converged(m)
        created = persistent_rdd_ids(spark) - pre
        release(state)  # previous superstep's blocks
        release_ids(spark, created - getattr(new, "_kaminpar_chk_ids", set()))
        if runner is not None:
            runner.append(name, {
                "step": i,
                "rows": rows,
                "metrics": m,
                "wall_sec": round(time.time() - t0, 3),
                "path": snap,
                "converged": done,
            })
        state = new
        if on_metrics is not None:
            on_metrics(i, m)
        if done:
            break
    return state


class SuperstepRunner:
    """Durable layout for ``iterate``: a snapshot and a manifest line per
    superstep, and the resume lookup.

    Layout:  <workdir>/<name>/manifest.jsonl
             <workdir>/<name>/step=<i>/   (state snapshot)

    The manifest line carries {step, rows, metrics, wall_sec, path,
    converged} — the per-partition lineage + convergence metrics demanded by
    the north rule. Snapshot IO routes through sources.iceberg.write_table/
    read_table: a path workdir snapshots to parquet, a dotted Iceberg catalog
    identifier gets real atomic createOrReplace snapshots when the runtime
    JAR is present (see sources/iceberg.py for the spark-submit recipe).
    """

    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.workdir = workdir

    def _dir(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _manifest(self, name: str) -> str:
        return os.path.join(self._dir(name), "manifest.jsonl")

    def step_path(self, name: str, i: int) -> str:
        return os.path.join(self._dir(name), f"step={i}")

    def completed_steps(self, name: str) -> list[dict]:
        path = self._manifest(name)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def last_step(self, name: str) -> dict | None:
        """The manifest line to resume from, or None for a fresh run."""
        done = self.completed_steps(name)
        return done[-1] if done else None

    def append(self, name: str, rec: dict) -> None:
        os.makedirs(self._dir(name), exist_ok=True)
        with open(self._manifest(name), "a") as f:
            f.write(json.dumps(rec) + "\n")
