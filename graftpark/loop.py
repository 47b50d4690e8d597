"""Superstep loop spine: iteration, lineage truncation, checkpoint/resume.

Every kernel is a driver-side level-synchronous loop over DataFrames —
the Spark analogue of the reference's kernel lifecycle (frontier
snapshot → parallel expand → barrier → termination reduce,
reference: src/traversals/BFS/bfs_par.jl:30-45, bfs_BLAS.jl:35-77).

Two problems Catalyst does not solve for us (SURVEY.md §4.3):

1. **Iterative plan growth** — each superstep's DataFrame references the
   previous one; after ~20 iterations analysis and task serialization
   dominate. Fix: truncate lineage after every call, either via
   ``localCheckpoint(eager=True)`` or — on a durable checkpoint's
   superstep — by writing state to parquet and re-reading it (which
   doubles as the resume checkpoint).
2. **Convergence probes** — stats (delta, active count) are computed as
   ONE aggregate job on the freshly persisted state, not separate
   count()/collect() probes.

Checkpoint layout (north_rule: resumable with per-partition lineage):

    {run_dir}/superstep=00007/state/*.parquet   (with _SUCCESS marker)
    {run_dir}/superstep=00007/lineage.json      per-partition rows/min/max/hash
    {run_dir}/metrics.jsonl                     one record per superstep
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel


class Checkpointer:
    """Durable parquet checkpoints with per-partition lineage + metrics."""

    def __init__(self, run_dir: str, every: int = 5, id_col: str = "id"):
        self.run_dir = run_dir
        self.every = max(1, every)
        self.id_col = id_col
        os.makedirs(run_dir, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.run_dir, f"superstep={superstep:05d}")

    def save(self, state: DataFrame, superstep: int) -> DataFrame:
        """Write state + lineage; return the re-read (lineage-truncated) state."""
        path = os.path.join(self._step_dir(superstep), "state")
        state.write.mode("overwrite").parquet(path)
        reread = state.sparkSession.read.parquet(path)
        # per-partition lineage of the checkpoint as written
        lineage = (
            reread.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(self.id_col).alias("min_id"),
                F.max(self.id_col).alias("max_id"),
                # xor-combine: order-insensitive and overflow-free under ANSI mode
                F.expr("bit_xor(xxhash64(struct(*)))").alias("content_hash"),
            )
            .orderBy("partition_id")
            .collect()
        )
        with open(os.path.join(self._step_dir(superstep), "lineage.json"), "w") as f:
            json.dump([r.asDict() for r in lineage], f)
        return reread

    def record_metrics(self, rec: dict) -> None:
        with open(os.path.join(self.run_dir, "metrics.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def latest(self) -> int | None:
        """Last superstep with a complete (_SUCCESS) state write."""
        if not os.path.isdir(self.run_dir):
            return None
        best = None
        for name in os.listdir(self.run_dir):
            if name.startswith("superstep="):
                step = int(name.split("=")[1])
                if os.path.exists(os.path.join(self.run_dir, name, "state", "_SUCCESS")):
                    best = step if best is None else max(best, step)
        return best

    def load(self, spark: SparkSession, superstep: int) -> DataFrame:
        return spark.read.parquet(os.path.join(self._step_dir(superstep), "state"))

    def load_metrics(self) -> list[dict]:
        path = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]


@dataclass
class LoopResult:
    state: DataFrame
    metrics: list[dict] = field(default_factory=list)
    supersteps: int = 0
    converged: bool = False


def iterate(
    initial_state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    stats_fn: Callable[[DataFrame, DataFrame, int], dict | list[dict]],
    converged_fn: Callable[[dict], bool],
    max_supersteps: int = 100,
    checkpointer: Checkpointer | None = None,
    start_superstep: int = 1,
    initial_metrics: list[dict] | None = None,
    observe_cols: Callable[[], dict] | None = None,
    steps_per_call: int | None = 1,
    label: str | None = None,
) -> LoopResult:
    """Run a level-synchronous superstep loop.

    ``step_fn(state, i)`` builds the next state (lazy); ``stats_fn(new,
    prev, i)`` returns the convergence record; ``converged_fn(stats)``
    decides termination (the global reduce,
    reference: src/traversals/BFS/bfs_BLAS.jl:62).

    When ``observe_cols`` is given (a thunk returning {name: aggregate
    Column}), the convergence aggregates ride along on the SAME job that
    materializes the new state (``DataFrame.observe``) — zero extra
    actions per superstep; ``stats_fn(observed_row_dict, prev, i)`` then
    just post-processes the observed values.

    ``steps_per_call`` is 1 or None. With 1, ``step_fn`` advances the
    state by superstep ``i``, and a durable checkpoint is taken at every
    multiple of ``checkpointer.every``.

    ``None`` is the interval mode: ``i`` is the next multiple of
    ``checkpointer.every`` or ``max_supersteps``, whichever comes first
    (without a checkpointer, ``max_supersteps``); the step may stop short
    of it only by converging, and ``stats_fn`` returns one record per
    superstep it ran. The loop then advances by that many supersteps,
    records each with its share of the call's wall time, and takes a
    durable checkpoint only when it stopped on a multiple.

    With a ``label``, the Spark jobs of a call ending at superstep ``i``
    are described as ``{label}/superstep={i}``; the caller's description
    is restored on return.
    """
    from pyspark.sql import Observation

    if steps_per_call not in (1, None):
        raise ValueError(f"steps_per_call must be 1 or None, not {steps_per_call!r}")
    metrics = list(initial_metrics or [])
    prev = initial_state.persist(StorageLevel.MEMORY_AND_DISK)
    prev.count()
    prev_ckpt_rdd = None
    converged = False
    i = start_superstep - 1
    interval = steps_per_call is None
    every = checkpointer.every if checkpointer is not None else max(1, max_supersteps)
    sc = initial_state.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    try:
        while i < max_supersteps:
            end = min((i // every + 1) * every, max_supersteps) if interval else i + 1
            if label is not None:
                sc.setJobDescription(f"{label}/superstep={end}")
            t0 = time.monotonic()
            new = step_fn(prev, end)
            obs = None
            if observe_cols is not None:
                obs = Observation(f"superstep_{end}")
                cols = observe_cols()
                new = new.observe(obs, *[c.alias(name) for name, c in cols.items()])
            new_ckpt_rdd = None
            if not interval and checkpointer is not None and end % every == 0:
                # parquet write + re-read: durable resume point AND flat lineage
                new = checkpointer.save(new, end)
                new = new.persist(StorageLevel.MEMORY_AND_DISK)
            else:
                # eager local checkpoint: materializes AND flattens the logical
                # plan — without this, Catalyst re-analysis of the growing join
                # tree dominates after a handful of supersteps (SURVEY.md §4.3.1)
                new = new.localCheckpoint(eager=True)
                new_ckpt_rdd = _checkpoint_rdd(new)
            stats = stats_fn(obs.get if obs is not None else new, prev, end)
            ran = stats if interval else [stats]
            i += len(ran)
            if interval and checkpointer is not None and i % every == 0:
                new = checkpointer.save(new, i).persist(StorageLevel.MEMORY_AND_DISK)
                _release(new_ckpt_rdd)
                new_ckpt_rdd = None
            wall = (time.monotonic() - t0) / len(ran)
            for j, s in enumerate(ran):
                rec = {"superstep": i - len(ran) + 1 + j, "wall_s": wall, **s}
                metrics.append(rec)
                if checkpointer is not None:
                    checkpointer.record_metrics(rec)
            # free the retired state NOW: DataFrame.unpersist does not release
            # localCheckpoint RDD blocks (they otherwise linger until the JVM
            # happens to GC the RDD reference → storage bloat + GC churn)
            prev.unpersist()
            _release(prev_ckpt_rdd)
            prev, prev_ckpt_rdd = new, new_ckpt_rdd
            if converged_fn(metrics[-1]):
                converged = True
                break
    finally:
        sc.setJobDescription(caller_desc)
    return LoopResult(state=prev, metrics=metrics, supersteps=i, converged=converged)


def _release(rdd) -> None:
    """Unpersist a localCheckpoint'ed RDD (None: nothing to release)."""
    if rdd is not None:
        try:
            rdd.unpersist(False)
        except Exception:
            pass


def _checkpoint_rdd(df: DataFrame):
    """The JVM RDD backing a localCheckpoint'ed DataFrame (for unpersist)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return plan.rdd()  # LogicalRDD
    except Exception:
        return None


def resume_point(
    checkpointer: Checkpointer, spark: SparkSession
) -> tuple[DataFrame, int, list[dict]] | None:
    """(state, last_superstep, metrics) of the last complete checkpoint."""
    last = checkpointer.latest()
    if last is None:
        return None
    state = checkpointer.load(spark, last)
    metrics = [m for m in checkpointer.load_metrics() if m["superstep"] <= last]
    return state, last, metrics
