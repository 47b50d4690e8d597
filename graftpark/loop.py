"""Superstep loop spine: iteration, lineage truncation, checkpoint/resume.

Every kernel is a driver-side level-synchronous loop over DataFrames —
the Spark analogue of the reference's kernel lifecycle (frontier
snapshot → parallel expand → barrier → termination reduce,
reference: src/traversals/BFS/bfs_par.jl:30-45, bfs_BLAS.jl:35-77).

Two problems Catalyst does not solve for us (SURVEY.md §4.3):

1. **Iterative plan growth** — each superstep's DataFrame references the
   previous one; after ~20 iterations analysis and task serialization
   dominate. Fix: truncate lineage after every call with
   ``localCheckpoint(eager=True)``.
2. **Convergence probes** — stats (delta, active count) are computed as
   ONE aggregate job on the freshly persisted state, not separate
   count()/collect() probes.

Checkpoint layout (north_rule: resumable with per-partition lineage):

    {run_dir}/superstep=00007/state/*.parquet   (with _SUCCESS marker)
    {run_dir}/superstep=00007/lineage.json      per-partition rows/min/max/hash
    {run_dir}/metrics.jsonl                     one record per superstep

Every loop writes a checkpoint the same way: inside the job that already
materializes its state, each task writes its partition's rows with
:func:`write_part`, as ``part-{partition:05d}.parquet`` and a lineage row
beside it. The packed tasks call it themselves; a DataFrame loop wraps its
state in :meth:`Checkpointer.parts`. ``lineage.json`` is the list of those
``{partition_id, rows, min_id, max_id, content_hash}`` rows in partition
order, where ``min_id``/``max_id`` range over the first column and
``content_hash`` is the hex blake2b-64 of the part file's bytes. Every
loop records a superstep's metrics before :meth:`Checkpointer.commit`
folds the rows into ``lineage.json`` and writes ``_SUCCESS``, so a
superstep dir without it is ignored and a resume replays its supersteps;
:meth:`Checkpointer.load_metrics` keeps the last record of a superstep
recorded twice.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel


class Checkpointer:
    """Durable parquet checkpoints with per-partition lineage + metrics."""

    def __init__(self, run_dir: str, every: int = 5):
        self.run_dir = run_dir
        self.every = max(1, every)
        os.makedirs(run_dir, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.run_dir, f"superstep={superstep:05d}")

    def state_dir(self, superstep: int) -> str:
        return os.path.join(self._step_dir(superstep), "state")

    def parts(self, df: DataFrame, superstep: int) -> DataFrame:
        """``df``, whose tasks also write their partitions as
        ``superstep``'s parts (:func:`write_part`) into its cleared dir
        when a job materializes it; :meth:`commit` completes them."""
        self.clear(superstep)
        state, schema = self.state_dir(superstep), to_arrow_schema(df.schema)

        def fn(batches):
            yield from write_part(state, TaskContext.get().partitionId(), batches, schema)

        return df.mapInArrow(fn, df.schema)

    def clear(self, superstep: int) -> None:
        """Remove ``superstep``'s dir, so that the tasks about to write its
        parts leave no stale part of an earlier run beside theirs."""
        shutil.rmtree(self._step_dir(superstep), ignore_errors=True)

    def commit(self, superstep: int) -> None:
        """Complete the checkpoint whose parts the tasks wrote with
        :func:`write_part`: fold their lineage rows into ``lineage.json``,
        then write ``state/_SUCCESS``. Every loop calls it after recording
        the superstep's metrics."""
        state = self.state_dir(superstep)
        names = sorted(f for f in os.listdir(state) if f.startswith(_LINEAGE_ROW))
        rows = []
        for name in names:
            with open(os.path.join(state, name)) as f:
                rows.append(json.load(f))
        with open(os.path.join(self._step_dir(superstep), "lineage.json"), "w") as f:
            json.dump(rows, f)
        for name in names:
            os.remove(os.path.join(state, name))
        open(os.path.join(state, "_SUCCESS"), "w").close()

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
        return spark.read.parquet(self.state_dir(superstep))

    def load_metrics(self) -> list[dict]:
        """One record per superstep, in superstep order: the last recorded,
        since a run that resumes before a superstep records it again."""
        path = os.path.join(self.run_dir, "metrics.jsonl")
        if not os.path.exists(path):
            return []
        last = {}
        with open(path) as f:
            for line in f:
                if line.strip():
                    rec = json.loads(line)
                    last[rec["superstep"]] = rec
        return [last[k] for k in sorted(last)]


#: name prefix of a task's lineage row beside its part; Spark's parquet
#: reader skips ``_`` files, and :meth:`Checkpointer.commit` removes them
_LINEAGE_ROW = "_lineage-"


def _tmp(path: str) -> str:
    """A dot-prefixed tmp path beside ``path``, which Spark's readers skip."""
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}.{os.getpid()}.tmp")


def _put(path: str, data) -> None:
    """Write ``data`` to ``path`` atomically: to :func:`_tmp`, then renamed."""
    tmp = _tmp(path)
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def write_part(state_dir: str, partition: int, batches: Iterable[pa.RecordBatch],
               schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Write one partition's checkpoint rows, ``batches`` of ``schema``,
    into ``state_dir`` as ``part-{partition:05d}.parquet``, yielding each
    batch once written; when they run out, the lineage row goes beside
    the part. Both are renamed into place from a tmp file (:func:`_tmp`),
    so a reader never sees half a file and a retried task rewrites the
    same bytes. An empty partition writes an empty part. Runs inside the
    task."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, f"part-{partition:05d}.parquet")
    tmp, firsts = _tmp(path), []
    # keys are unique, and most values too: dictionary pages would only add bytes
    with pq.ParquetWriter(tmp, schema, use_dictionary=False) as writer:
        for batch in batches:
            writer.write_batch(batch)
            firsts.append(batch.column(0))
            yield batch
    os.replace(tmp, path)
    with open(path, "rb") as f:
        digest = hashlib.file_digest(f, lambda: hashlib.blake2b(digest_size=8))
    ends = pc.min_max(pa.chunked_array(firsts, schema.field(0).type)).as_py()
    row = {"partition_id": partition, "rows": sum(map(len, firsts)), "min_id": ends["min"],
           "max_id": ends["max"], "content_hash": digest.hexdigest()}
    _put(os.path.join(state_dir, f"{_LINEAGE_ROW}{partition:05d}.json"), json.dumps(row).encode())


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
    multiple of ``checkpointer.every``: the job that materializes the new
    state writes the parts (:meth:`Checkpointer.parts`, above ``observe``).

    ``None`` is the interval mode: ``i`` is the next multiple of
    ``checkpointer.every`` or ``max_supersteps``, whichever comes first
    (without a checkpointer, ``max_supersteps``); the step may stop short
    of it only by converging, and ``stats_fn`` returns one record per
    superstep it ran. The loop then advances by that many supersteps and
    records each with its share of the call's wall time. The step writes
    the durable checkpoint's parts itself when ``i`` is a multiple of
    ``checkpointer.every`` (its tasks call :func:`write_part` on
    ``checkpointer.state_dir(i)``, cleared first). The next call gets the
    step's own (locally checkpointed) state. In both modes the loop
    commits a checkpoint (:meth:`Checkpointer.commit`) after recording
    its superstep's metrics.

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
            if not interval and checkpointer is not None and end % every == 0:
                new = checkpointer.parts(new, end)
            # eager local checkpoint: materializes AND flattens the logical
            # plan — without this, Catalyst re-analysis of the growing join
            # tree dominates after a handful of supersteps (SURVEY.md §4.3.1)
            new = new.localCheckpoint(eager=True)
            new_ckpt_rdd = _checkpoint_rdd(new)
            stats = stats_fn(obs.get if obs is not None else new, prev, end)
            ran = stats if interval else [stats]
            i += len(ran)
            wall = (time.monotonic() - t0) / len(ran)
            for j, s in enumerate(ran):
                rec = {"superstep": i - len(ran) + 1 + j, "wall_s": wall, **s}
                metrics.append(rec)
                if checkpointer is not None:
                    checkpointer.record_metrics(rec)
            if checkpointer is not None and i % every == 0:
                # after the records: a resume point always has its metrics
                checkpointer.commit(i)
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
