"""Packed superstep engine: one superstep loop and one driver for every semiring.

PageRank (sum), connected components (min) and label propagation (mode)
are one dataflow over the same CSR blocks (graftpark/blocks.py) with
different semirings — the reference writes all three as semiring SpMV
over one GraphBLAS matrix (reference: src/traversals/BFS/bfs_BLAS.jl:18,
BLAS_coloring.jl:26). Here a :class:`Semiring` supplies the numpy work at
both ends of a superstep and everything else is shared.

A bucket's state is one vector aligned to its sorted vertex ids, and
its partial aggregates travel as ONE payload per (src_bucket →
dst_bucket) pair. The destination-id list of every message is static —
derivable from the shared mmap blocks and the bucket's vertex ids (see
:func:`graftpark.blocks.bucket_layout`) — so payloads carry values only.
A superstep is, per bucket, gather (its messages to every bucket, as
byte slices of one dst-bucket-contiguous buffer, block layout v3+, plus
an optional broadcast scalar) → exchange →
combine (its messages in ascending src bucket and its broadcast scalars
summed exactly, so the result does not depend on arrival order).

The loop runs ONE Spark job per checkpoint interval: the supersteps up
to the next multiple of ``checkpoint_every`` (with a ``checkpoint_dir``)
or ``max_supersteps``. Between intervals it carries per-vertex ``(id,
value)`` rows, the same shape as a durable checkpoint and as the
result. Its tasks are a scheduling fact kept apart from the bucket
layout: T = min(P, task slots) tasks, at least one (see
:func:`task_slots`), where task t owns the buckets
``partition_perfect_ids(P)[j]`` with ``j % T == t``, and the carry is
routed so that partition t holds the vertices of the buckets task t
owns, each row with its bucket beside it. With T > 1 the tasks are one
gang-scheduled ``mapInArrow(barrier=True)``; each sorts its rows by
(bucket, id), which gives each bucket its ids and state vector, then
loops over the interval's supersteps, running for
each bucket it owns, in ascending bucket id (see :func:`_interval_fn`),

    combine → gather → a message file per bucket of another task + a
          step marker with the previous combine's aggregates and the
          broadcast scalar under {block_dir}/_bsp/{run}/step={s}/

keeping the messages between its own buckets in memory, then waits for
the markers of the buckets it does not own and reads their files. An
interval's first round only gathers: it sends the carried state's
messages.

Every task sums the same markers, so all stop at the same superstep:
convergence, the interval bound or ``max_supersteps``. Their final states
are the next interval's carry, routed by ONE owner-keyed shuffle. The
barrier stage is a shuffle map stage, which Spark retries whole when a
task fails; the compute is deterministic, so a retried attempt rewrites
the same files. One task (one bucket, or dynamic allocation, which
refuses barrier stages) runs every bucket and exchanges nothing. Results
do not depend on the task count. The partition-0 task writes each
superstep's summed (delta, dangling, active) to the run's history file,
so metrics stay per superstep.

An interval that ends on a multiple of ``checkpoint_every`` also writes
its durable checkpoint from the tasks, through the writer every loop
uses (:func:`graftpark.loop.write_part`): each streams its final rows
into one parquet part, with its lineage row beside it, under
``{checkpoint_dir}/superstep={i:05d}/state/``, and the driver commits
them after recording the interval's metrics. So the checkpoint dir, like
the block dir, must be storage every executor shares, and a checkpointed
interval is still one Spark job.

``strategy="auto"`` takes one bucket for graphs whose vertex state is
broadcastable and whose edges fit it (``ONE_BUCKET_MAX_EDGES``), and
``n_part`` buckets when the state is too big to broadcast, unless the
session allocates executors dynamically: one task for every bucket of an
at-scale graph would serialize it, so ``auto`` takes the dataframe path
there, and packed runs at scale want static allocation.
"""

from __future__ import annotations

import math
import os
import shutil
import struct
import time
import uuid
from contextlib import contextmanager, suppress
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from graftpark.blocks import (
    _gather_offsets,
    bucket_col,
    bucket_ids_sorted,
    bucket_layout,
    ensure_edge_blocks,
    load_block,
    partition_perfect_ids,
)
from graftpark.graph import Graph, choose_strategy, id_stats
from graftpark.loop import Checkpointer, LoopResult, _put, iterate, resume_point, write_part

STRATEGIES = ("auto", "dataframe", "packed")

#: ``strategy="auto"`` runs a graph with broadcastable state in ONE bucket
#: when its (directed or symmetrized) edge count is at most this, the
#: largest size measured. On local[4], 20 PageRank supersteps over
#: 0.2M-8M edges took 3-4x less time in one bucket than on the dataframe
#: path when the call builds the blocks, 8-12x less when they exist; 5
#: CC supersteps over 8M edges took as long as in 4 packed buckets. The
#: bucket's CSR arrays take at most ~32 bytes per edge (int64 sources,
#: int32 gather/scatter positions, per-dst starts and ids), ~256 MB here
ONE_BUCKET_MAX_EDGES = 8_000_000


@dataclass(frozen=True)
class Semiring:
    """What one packed kernel adds to the shared engine.

    Worker-side functions (shipped inside the UDFs, so they must not
    reference driver objects):

    - ``gather(state, lay, blk, seg) -> (values, byte_offsets)``: one
      src bucket's messages. ``state`` is the bucket's state vector,
      ``lay`` its layout (:func:`graftpark.blocks.bucket_layout`: its
      sorted ``ids``, their ``out_deg`` and the ``gather`` positions of
      the edge sources in ``state``), ``blk`` its CSR block, and
      ``seg[j]:seg[j+1]`` the dst-group range of the j-th destination
      bucket (ascending bucket id). Byte slice ``j`` of ``values`` is the
      message to that bucket, written to its file as is.
    - ``scalar(state, lay) -> float`` (optional): summed over all buckets
      and handed to every combine — PageRank's dangling mass.
    - ``combine(prev, msgs, scalar, lay) -> (new, delta, dangling,
      active)``: one dst bucket's next state from its previous state and
      its ``(positions into prev, payload buffer)`` messages.

    ``value_col`` names the per-vertex carry, result and checkpoint
    column, and ``dtype`` is the dtype of the state vectors.

    Driver-side: ``init`` (a Column over ``id``) seeds the state,
    ``stats(observed)`` turns the summed (delta, dangling, active) into
    the metrics record, and ``converged(record)`` stops the loop.
    The loop's tasks also run ``stats`` and ``converged``, so
    they too must not reference driver objects.
    ``sym`` selects symmetrized blocks.
    """

    value_col: str
    dtype: str
    sym: bool
    init: Column
    gather: Callable
    combine: Callable
    stats: Callable[[dict], dict]
    converged: Callable[[dict], bool]
    scalar: Callable | None = None


def resolve_strategy(graph: Graph, strategy: str, n: int, n_part: int,
                     broadcast_state: bool | None, block_dir: str | None,
                     sym: bool) -> tuple[str, int]:
    """Validate ``strategy`` and resolve ``'auto'``: ``(strategy, buckets)``.

    ``'auto'`` takes the packed path in ``n_part`` buckets when the vertex
    state is too big to broadcast, and in ONE bucket when it is
    broadcastable and the edges, directed or symmetrized per
    ``sym``, number at least one and at most ``ONE_BUCKET_MAX_EDGES``;
    otherwise the dataframe path. Packed block dirs default to driver-local tmp; on a
    multi-node master that path is not shared storage, so auto only picks
    packed when running locally or when the caller supplies an explicit
    (shared) block_dir. Under dynamic allocation (no task slots, see
    :func:`task_slots`) the packed loop runs in one task, so auto takes
    the dataframe path where packed would need more than one bucket."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}; expected one of {STRATEGIES}")
    if strategy != "auto":
        return strategy, n_part
    if not (graph.spark.sparkContext.master.startswith("local") or block_dir is not None):
        return "dataframe", n_part
    if not choose_strategy(n, broadcast_state):
        return ("packed" if n_part == 1 or task_slots(graph.spark) > 0 else "dataframe"), n_part
    # an edge-less graph has no blocks to build: the dataframe path serves it
    if 0 < graph.edge_stats(sym=sym)[0] <= ONE_BUCKET_MAX_EDGES:
        return "packed", 1
    return "dataframe", n_part


def label_stats(observed: dict) -> dict:
    """Metrics record of a label-valued semiring (min, mode): ``active``
    and ``delta`` both count the vertices whose label changed."""
    changed = int(observed["active"] or 0)
    return {"delta": float(changed), "active": changed}


def no_label_changed(rec: dict) -> bool:
    return rec["active"] == 0


@contextmanager
def _superstep_confs(spark):
    """Session confs for fixed-shape superstep queries, restored on exit.

    AQE re-planning buys nothing for a loop whose partitioning we control
    (it adds a driver sync per stage); small Arrow batches add per-batch
    overhead on the carry streams.
    """
    saved = {}
    wanted = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    }
    for k, v in wanted.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _sender(block_dir: str, num_buckets: int, gather: Callable, scalar: Callable | None):
    """``send(b, state, lay) -> (scalar, messages)``: bucket ``b``'s
    broadcast scalar (0.0 without one) and its messages, one byte slice
    of the gathered buffer per destination bucket in ascending bucket id,
    or None when its block has no edges."""
    bids = bucket_ids_sorted(num_buckets)

    def send(b: int, state: np.ndarray, lay: dict):
        s = scalar(state, lay) if scalar is not None else 0.0
        blk = load_block(block_dir, b)
        if blk is None or blk["n_edges"] == 0:
            return s, None
        off = np.asarray(_gather_offsets(block_dir, b, blk, num_buckets))
        # offsets at the (sparse) actual bucket ids tile the partial
        # exactly: absent ids contribute zero counts, so
        # off[bids[j+1]] == end of bucket bids[j]'s segment. Pairs with
        # no edges get empty messages (the combine's scatter segment for
        # them is empty too).
        seg = np.empty(num_buckets + 1, np.int64)
        seg[:-1] = off[bids]
        seg[-1] = off[-1]
        values, byte_off = gather(state, lay, blk, seg)
        raw, o = np.ascontiguousarray(values).view(np.uint8), [int(x) for x in byte_off]
        return s, [raw[o[j]:o[j + 1]] for j in range(num_buckets)]

    return send


def _by_bucket(batches, value_col: str, dtype: np.dtype) -> dict:
    """The carried ``(id, value_col, bucket)`` rows as ``{bucket: (ids,
    state)}``: each bucket's ids ascending and its state vector in their
    order."""
    cols = {"bucket": [np.empty(0, np.int32)], "id": [np.empty(0, np.int64)],
            value_col: [np.empty(0, dtype)]}
    for batch in batches:
        for name, arrays in cols.items():
            arrays.append(batch.column(name).to_numpy())
    bucket, ids, vals = (np.concatenate(arrays) for arrays in cols.values())
    order = np.lexsort((ids, bucket))
    bucket, ids, vals = bucket[order], ids[order], vals[order].astype(dtype, copy=False)
    cuts = np.flatnonzero(bucket[1:] != bucket[:-1]) + 1
    return {int(b[0]): (i, v) for b, i, v in
            zip(np.split(bucket, cuts), np.split(ids, cuts), np.split(vals, cuts)) if len(b)}


#: a step marker: the writer's (delta, dangling, active), its broadcast
#: scalar and whether it sent messages (its block has edges)
_MARKER = "<ddqd?"
#: sleep between polls for peer markers: well under a step's ~ms gather,
#: and long enough that waiting tasks leave their cores to the peers they
#: wait for (a local[N] session may run more tasks than it has cores)
_POLL_S = 0.0002
#: a peer silent this long is lost (e.g. a block dir that is not shared
#: storage): the task fails, and Spark retries the whole stage
_PEER_TIMEOUT_S = 900.0


def _await_markers(step_dir: str, peers: list) -> dict:
    """``{bucket: marker}`` of every peer's marker in ``step_dir``,
    polled with a short sleep until all are there."""
    got, deadline = {}, time.monotonic() + _PEER_TIMEOUT_S
    while True:
        for b in peers:
            if b not in got:
                try:
                    with open(os.path.join(step_dir, f"marker-{b}"), "rb") as f:
                        got[b] = struct.unpack(_MARKER, f.read())
                except FileNotFoundError:
                    pass
        if len(got) == len(peers):
            return got
        if time.monotonic() > deadline:
            raise TimeoutError(f"no step marker from buckets {sorted(set(peers) - set(got))} "
                               f"in {step_dir!r} after {_PEER_TIMEOUT_S:.0f} s: the block dir "
                               "must be storage every executor shares")
        time.sleep(_POLL_S)


def _owned(num_buckets: int, tasks: int, part: int) -> list[int]:
    """The buckets task ``part`` of ``tasks`` owns, ascending:
    ``partition_perfect_ids(num_buckets)[j]`` for every ``j % tasks == part``."""
    return sorted(int(b) for b in partition_perfect_ids(num_buckets)[part::tasks])


def _owner_col(num_buckets: int, tasks: int) -> Column:
    """The routing key of a carry row: the owner of its vertex's bucket,
    ``partition_perfect_ids(tasks)[j % tasks]`` for bucket
    ``partition_perfect_ids(num_buckets)[j]``, which a ``tasks``-wide
    hash partitioning places in partition ``j % tasks``."""
    ids = partition_perfect_ids(num_buckets)
    owner = np.zeros(int(ids.max()) + 1, np.int32)
    owner[ids] = partition_perfect_ids(tasks)[np.arange(num_buckets) % tasks]
    return F.element_at(F.array(*[F.lit(int(o)) for o in owner]),
                        bucket_col("id", num_buckets) + F.lit(1)).cast("int")


def _interval_fn(block_dir: str, num_buckets: int, tasks: int, spec: Semiring, exchange: str,
                 first: int, last: int, done: Callable, ckpt: str | None = None):
    """mapInArrow fn of the packed loop: supersteps ``first..last`` of the
    buckets this task's partition owns (:func:`_owned`).

    The task sorts its carried ``(id, value, bucket)`` rows by (bucket,
    id) into one state vector per bucket and takes each bucket's layout
    over those ids (:func:`graftpark.blocks.bucket_layout`), then runs
    one round per superstep, plus a first round that only gathers.
    A round runs each bucket it owns in ascending bucket id: combine the
    previous round's messages, gather, and write the messages to buckets
    of other tasks as files under ``{exchange}/step={s}/`` and a marker
    with the combine's aggregates and the broadcast scalar; messages
    between its own buckets stay in memory. It then waits for the markers
    of the buckets it does not own, and each bucket takes its messages in
    ascending src bucket. Every task sums the same markers in bucket
    order (exactly rounded), so all make the same ``done(delta, dangling,
    active)`` decision and stop at the same superstep. The last round
    sends nothing, and the final states are the task's output, in
    (bucket, id) order, one batch a bucket. When the task stops at
    ``last`` and ``ckpt`` is set, it also streams that output into
    ``ckpt`` as its checkpoint part (:func:`graftpark.loop.write_part`). The partition-0 task writes each
    superstep's summed aggregates to ``{exchange}/history``. One task
    exchanges nothing."""
    # the fn ships to the workers: it must not capture ``spec``, whose
    # ``init`` is a driver-side Column
    dt, value_col, bucket_combine = np.dtype(spec.dtype), spec.value_col, spec.combine
    out_dt = np.dtype(np.float64) if dt.kind == "f" else dt
    out_schema = pa.schema([("id", pa.int64()), (value_col, pa.from_numpy_dtype(out_dt))])
    order = [int(b) for b in bucket_ids_sorted(num_buckets)]
    send = _sender(block_dir, num_buckets, spec.gather, spec.scalar)

    def combine(lay: dict, prev, scalars, msgs):
        pos, off = np.asarray(lay["scatter"]), np.asarray(lay["offsets"])
        return bucket_combine(prev, [(pos[off[b]:off[b + 1]], buf) for b, buf in msgs],
                              math.fsum(scalars), lay)

    def fn(batches):
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        mine = _owned(num_buckets, tasks, part)
        owned = set(mine)
        peers = [b for b in order if b not in owned]
        carried = _by_bucket(batches, value_col, dt)
        # a bucket without vertices only writes markers; its layout still
        # checks that no edge touches it
        lay = {c: bucket_layout(block_dir, c, num_buckets,
                                carried[c][0] if c in carried else np.empty(0, np.int64))
               for c in mine}
        live = [c for c in mine if c in carried]
        state = {c: carried[c][1] for c in live}
        aggs = dict.fromkeys(mine, (0.0, 0.0, 0))
        history, scalars, msgs = [], [], {}
        for s in range(first - 1, last + 1):
            if s >= first:
                for c in live:
                    state[c], *aggs[c] = combine(lay[c], state[c], scalars, msgs[c])
            step_dir = os.path.join(exchange, f"step={s}")
            if peers:
                os.makedirs(step_dir, exist_ok=True)
            marks, local = {}, {}
            for c in mine:
                scalar, sent = 0.0, None
                if c in state and s < last:
                    scalar, sent = send(c, state[c], lay[c])
                for d, buf in zip(order, sent or ()):
                    if d in owned:
                        local[d, c] = buf
                    else:
                        _put(os.path.join(step_dir, f"{d}-{c}"), buf)
                marks[c] = (*aggs[c], scalar, sent is not None)
                if peers:
                    _put(os.path.join(step_dir, f"marker-{c}"), struct.pack(_MARKER, *marks[c]))
            if peers:
                marks.update(_await_markers(step_dir, peers))
            ordered = [marks[b] for b in order]
            if s >= first:
                total = (math.fsum(m[0] for m in ordered), math.fsum(m[1] for m in ordered),
                         sum(m[2] for m in ordered))
                history.append(total)
                if s == last or done(*total):
                    break
            scalars = [m[3] for m in ordered]
            msgs = {c: [(b, local[c, b] if b in owned
                         else np.fromfile(os.path.join(step_dir, f"{c}-{b}"), np.uint8))
                        for b in order if marks[b][4]]
                    for c in live}
        if part == 0:
            os.makedirs(exchange, exist_ok=True)
            _put(os.path.join(exchange, "history"), np.asarray(history, np.float64))
        out = (pa.RecordBatch.from_arrays([pa.array(lay[c]["ids"]),
                                           pa.array(state[c].astype(out_dt, copy=False))],
                                          schema=out_schema) for c in live)
        if ckpt is not None and s == last:
            out = write_part(ckpt, part, out, out_schema)
        yield from out

    return fn


def task_slots(spark) -> int:
    """Tasks the session can run at once, or 0 under dynamic allocation
    (which refuses barrier stages): the packed loop runs min(buckets,
    slots) tasks, at least one."""
    sc = spark.sparkContext
    if sc.getConf().get("spark.dynamicAllocation.enabled", "false").lower() == "true":
        return 0
    jsc = sc._jsc.sc()
    return int(jsc.maxNumConcurrentTasks(jsc.resourceProfileManager().defaultResourceProfile()))


def run_packed(
    graph: Graph,
    spec: Semiring,
    n_part: int,
    max_supersteps: int,
    block_dir: str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    *,
    kernel: str,
) -> LoopResult:
    """Run ``spec`` to convergence on the packed CSR-block path.

    Builds (or validates and reuses) the edge blocks in ``block_dir``,
    then loops Spark jobs described as
    ``{kernel}/packed/superstep={i}``. A resume refuses a checkpoint of
    another vertex set (ValueError), and the tasks refuse a vertex set
    that misses an edge endpoint. ``LoopResult.state`` is the
    materialized per-vertex ``(id, value_col)`` DataFrame.

    A job runs every superstep up to the next multiple of
    ``checkpoint_every`` (with a ``checkpoint_dir``) or ``max_supersteps``
    in min(``n_part``, :func:`task_slots`) tasks, at least one, each
    owning ``n_part`` / tasks buckets (rounded either way); more than one
    task run as a gang that exchanges messages through files under
    ``{block_dir}/_bsp/``. A job stops early at convergence and is
    described by its bound. Each superstep gets its own metrics record
    with its own convergence values and its share of the job's wall.
    A job that ends on a multiple of ``checkpoint_every`` has its tasks
    write the durable checkpoint's parts under ``checkpoint_dir``, so
    ``checkpoint_dir``, like ``block_dir``, must be storage every
    executor shares. Results do not depend on the task count.
    """
    spark = graph.spark
    if block_dir is None:
        block_dir = graph.block_dir(spec.sym, n_part)
    # _SUCCESS + meta validation (bucket count, symmetrized flag, edge
    # fingerprint): a crashed partial write or a directory built from the
    # other edge orientation is rebuilt instead of silently reused
    edges = graph.edges_sym() if spec.sym else graph.edges
    ensure_edge_blocks(edges, n_part, block_dir, sym=spec.sym, stats=graph.edge_stats(sym=spec.sym))

    tasks = max(1, min(n_part, task_slots(spark)))

    def route(carry: DataFrame) -> DataFrame:
        """Partition t ← the vertices of the buckets task t owns."""
        if tasks == 1:
            return carry.coalesce(1)
        return carry.repartition(tasks, _owner_col(n_part, tasks))

    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, initial_metrics = 1, None
    carry0 = graph.vertices().select("id", spec.init.alias(spec.value_col))
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            carry0, last, initial_metrics = rp
            if id_stats(carry0) != graph.vertex_stats():
                raise ValueError(f"the checkpoint in {checkpoint_dir!r} holds another vertex "
                                 "set than the graph's")
            start = last + 1

    exchange = os.path.join(block_dir, "_bsp", uuid.uuid4().hex)
    step, stats = _interval_loop(block_dir, n_part, tasks, spec, start, exchange, route,
                                 checkpointer)
    try:
        with _superstep_confs(spark):
            res = iterate(
                route(carry0),
                step,
                stats,
                converged_fn=spec.converged,
                max_supersteps=max_supersteps,
                checkpointer=checkpointer,
                start_superstep=start,
                initial_metrics=initial_metrics,
                steps_per_call=None,
                label=f"{kernel}/packed",
            )
    finally:
        shutil.rmtree(exchange, ignore_errors=True)
        with suppress(OSError):
            os.rmdir(os.path.dirname(exchange))  # only when no other run uses it
    return res


def _interval_loop(block_dir: str, n_part: int, tasks: int, spec: Semiring, start: int,
                   exchange: str, route: Callable, checkpointer: Checkpointer | None):
    """``(step, stats)`` for :func:`iterate`'s interval mode: the step's
    ``tasks`` tasks run supersteps up to the interval bound ``i`` (see
    :func:`_interval_fn`), more than one as a barrier map stage (Spark
    retries a failed barrier map stage whole, but aborts the job of a
    failed barrier result stage), and write ``checkpointer``'s parts for
    ``i``, into a cleared dir, when it is a checkpoint superstep; the
    history file its partition-0 task wrote becomes one stats record per
    superstep it ran."""
    stats_of, converged = spec.stats, spec.converged

    def done(delta: float, dangling: float, active: int) -> bool:
        return converged(stats_of({"delta": delta, "dangling": dangling, "active": active}))

    # a call ends short of its bound only when it converged, which ends the
    # loop, so every call starts right after the previous call's bound
    bound = {"i": start - 1}
    schema = f"id long, {spec.value_col} {'double' if np.dtype(spec.dtype).kind == 'f' else 'long'}"

    def step(carry: DataFrame, i: int) -> DataFrame:
        # the previous interval's job has finished: its files are spent
        shutil.rmtree(exchange, ignore_errors=True)
        ckpt = None
        if checkpointer is not None and i % checkpointer.every == 0:
            # the tasks write this checkpoint: no part of an earlier run may stay
            checkpointer.clear(i)
            ckpt = checkpointer.state_dir(i)
        fn = _interval_fn(block_dir, n_part, tasks, spec, exchange, bound["i"] + 1, i, done, ckpt)
        bound["i"] = i
        carry = carry.select("id", spec.value_col, bucket_col("id", n_part).alias("bucket"))
        return route(carry.mapInArrow(fn, schema=schema, barrier=tasks > 1))

    def stats(new: DataFrame, prev: DataFrame, i: int) -> list[dict]:
        rows = np.fromfile(os.path.join(exchange, "history"), np.float64).reshape(-1, 3)
        return [stats_of({"delta": d, "dangling": dm, "active": int(a)}) for d, dm, a in rows]

    return step, stats
