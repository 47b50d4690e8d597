"""Packed superstep engine: one per-bucket emitter, two superstep loops, one driver.

PageRank (sum), connected components (min) and label propagation (mode)
are one dataflow over the same CSR blocks (graftpark/blocks.py) with
different semirings — the reference writes all three as semiring SpMV
over one GraphBLAS matrix (reference: src/traversals/BFS/bfs_BLAS.jl:18,
BLAS_coloring.jl:26). Here a :class:`Semiring` supplies the numpy work at
both ends of a superstep and everything else is shared.

Vertex state travels as ONE binary payload per bucket and partial
aggregates as ONE payload per (src_bucket → dst_bucket) pair. The
destination-id list of every message is static — derivable from the
shared mmap blocks and the per-bucket vertex sidecar — so payloads carry
values only. The loop carries the message table, not the state: per
bucket, the emitter writes

    the state-carrier row (src_bucket=-1): the state payload plus the
          bucket's (delta, dangling, active) convergence aggregates,
    optional broadcast scalar rows (src_bucket=-2),
    the P outgoing messages as ONE zero-copy BinaryArray tiling the
          dst-bucket-contiguous partial buffer (block layout v3+)

and a bucket's superstep is combine (its messages in ascending src
bucket, its broadcast scalars summed exactly, so the result does not
depend on arrival order) → the emitter on the new state. On a fresh start
and on a checkpoint load, an entry ``applyInArrow`` packs per-vertex rows
by bucket and runs the same emitter, and the carry is routed: partition
j holds the rows addressed to bucket ``partition_perfect_ids(P)[j]``.
Durable checkpoints expand the carrier rows to plain per-vertex parquet
and re-enter the loop from it on resume.

The interval loop runs whenever the session can run all P bucket tasks
at once (P ≤ its task slots, no dynamic allocation; always for P = 1):
ONE Spark job per checkpoint interval, the supersteps up to the next
multiple of ``checkpoint_every`` (with a ``checkpoint_dir``) or
``max_supersteps``. The interval's P tasks are one gang-scheduled
``mapInArrow(barrier=True)`` over the routed carry; each task loops over
the interval's supersteps and exchanges with its peers through files in
the block dir (see :func:`_interval_fn`):

    combine → gather → P−1 message files + a step marker with its
          aggregates under {block_dir}/_bsp/{run}/step={s}/ → wait for
          the P markers → read the incoming files

Every task sums the same markers, so all stop at the same superstep:
convergence, the interval bound or ``max_supersteps``. Their last
emitted rows are the next interval's carry, routed by ONE bucket-keyed
shuffle. The barrier stage is a shuffle map stage, which Spark retries
whole when a task fails; the compute is deterministic, so a retried
attempt rewrites the same files. With one bucket nothing is exchanged.
A history row (src_bucket=-3) holds each superstep's summed (delta,
dangling, active), so metrics stay per superstep.

With more buckets than task slots, Spark would refuse the barrier stage,
and the fused loop runs instead: a superstep is

    carry ─the ONE bucket-keyed shuffle→ applyInArrow: payloads read
          straight from the Arrow IPC buffers → combine → the emitter on
          the new state, in the same task → next carry

so it runs ONE Python stage and shuffles ~P² small binary rows rather
than ~E rows, and ``steps_per_job`` supersteps chain into one query.
Supersteps are independent of their index (broadcast scalars are summed
inside the combine), and both loops give the same bytes.

``strategy="auto"`` takes one bucket for graphs whose vertex state is
broadcastable and whose edges fit it (``ONE_BUCKET_MAX_EDGES``), and
``n_part`` buckets when the state is too big to broadcast.
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
    _finish_layout,
    _gather_offsets,
    _static_positions,
    bucket_col,
    bucket_ids_sorted,
    ensure_edge_blocks,
    load_block,
    load_vertices,
    partition_perfect_ids,
    vertex_sidecar_writer,
)
from graftpark.graph import Graph, choose_strategy
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point

#: the loop carry: per bucket, its state-carrier row (src_bucket=-1, the
#: only row whose aggregates are not null), broadcast scalar rows (-2) and
#: one message row per (dst bucket, src bucket) pair
_CARRY_SCHEMA = ("bucket int, src_bucket int, payload binary, delta double, dangling double, "
                 "active long")
_CARRY_ARROW = pa.schema(
    [("bucket", pa.int32()), ("src_bucket", pa.int32()), ("payload", pa.binary()),
     ("delta", pa.float64()), ("dangling", pa.float64()), ("active", pa.int64())]
)

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

#: src_bucket of the history row an interval appends
_HISTORY = -3


@dataclass(frozen=True)
class Semiring:
    """What one packed kernel adds to the shared engine.

    Worker-side functions (shipped inside the UDFs, so they must not
    reference driver objects):

    - ``gather(state, vtx, blk, pos, seg) -> (values, byte_offsets)``:
      one src bucket's messages. ``state`` is the bucket's payload
      vector, ``vtx`` its vertex sidecar, ``blk`` its CSR block, ``pos``
      the per-edge positions of edge sources in ``state``, and
      ``seg[j]:seg[j+1]`` the dst-group range of the j-th destination
      bucket (ascending bucket id). Byte slice ``j`` of ``values`` is the
      message to that bucket.
    - ``scalar(state, vtx) -> float`` (optional): summed over all buckets
      and handed to every finish — PageRank's dangling mass.
    - ``combine(prev, msgs, scalar, vtx) -> (new, delta, dangling,
      active)``: one dst bucket's next state from its previous state and
      its ``(positions into prev, payload buffer)`` messages.

    ``value_col`` names the per-vertex result and checkpoint column and
    ``dtype`` is the payload dtype of the state vectors.

    Driver-side: ``init`` (a Column over ``id``/``out_deg``) seeds the
    state, ``stats(observed)`` turns the summed (delta, dangling, active)
    into the metrics record, and ``converged(record)`` stops the loop.
    The interval loop's tasks also run ``stats`` and ``converged``, so
    they too must not reference driver objects.
    ``out_deg`` stores real out-degrees in the sidecar (zeros otherwise);
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
    out_deg: bool = False


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
    (shared) block_dir."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}; expected one of {STRATEGIES}")
    if strategy != "auto":
        return strategy, n_part
    if not (graph.spark.sparkContext.master.startswith("local") or block_dir is not None):
        return "dataframe", n_part
    if not choose_strategy(n, broadcast_state):
        return "packed", n_part
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
def _superstep_confs(spark, n_part: int | None = None):
    """Session confs for fixed-shape superstep queries, restored on exit.

    AQE re-planning buys nothing for a loop whose partitioning we control
    (it coalesced the bucket-keyed shuffle below the core count, and adds
    a driver sync per stage); small Arrow batches add per-batch overhead
    on the state/partial streams.

    ``n_part`` pins ``spark.sql.shuffle.partitions`` to the bucket count
    for the loop: the partition-perfect bucket ids (see
    ``blocks.partition_perfect_ids``) place exactly one bucket per
    shuffle partition ONLY when the shuffle width equals the bucket
    count — any other width re-introduces balls-in-bins task skew.
    """
    saved = {}
    wanted = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    }
    if n_part is not None:
        wanted["spark.sql.shuffle.partitions"] = str(int(n_part))
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


def _binary_tiles(values: np.ndarray, byte_offsets):
    """Zero-copy ``pa.BinaryArray`` whose row *i* is the byte slice
    ``byte_offsets[i]:byte_offsets[i+1]`` of ``values``' own buffer — no
    per-row ``tobytes()`` copies. The array references ``values``'
    memory; the Arrow stream serializer writes each batch before the
    next is produced, so the lifetime is safe inside UDF generators."""
    off = np.ascontiguousarray(byte_offsets, dtype=np.int32)
    if len(off) == 0 or int(off[-1]) != values.nbytes:
        raise ValueError("byte_offsets must tile the values buffer exactly")
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(off) - 1, [None, pa.py_buffer(off), pa.py_buffer(values)]
    )


def _whole(values: np.ndarray):
    """One-row BinaryArray holding all of ``values``."""
    return _binary_tiles(values, np.asarray([0, values.nbytes], np.int64))


def _state_rows(batches):
    """(bucket, payload buffer) of every carrier row of a mapInArrow input."""
    for batch in batches:
        bcol = batch.column(batch.schema.get_field_index("bucket"))
        pcol = batch.column(batch.schema.get_field_index("payload"))
        for i in range(batch.num_rows):
            yield int(bcol[i].as_py()), pcol[i].as_buffer()


def _no_aggs(n: int) -> list:
    """Null (delta, dangling, active) columns for ``n`` non-carrier rows."""
    return [pa.nulls(n, pa.float64()), pa.nulls(n, pa.float64()), pa.nulls(n, pa.int64())]


def _emitter(block_dir: str, num_buckets: int, gather: Callable, scalar: Callable | None):
    """Per-bucket emitter: ``emit(b, state, vtx, (delta, dangling,
    active))`` → bucket ``b``'s rows of the loop carry as one Arrow table:
    its carrier row (src_bucket=-1, with the aggregates), broadcast scalar
    rows and one message per destination bucket."""
    bids = bucket_ids_sorted(num_buckets)
    all_dst = pa.array(np.ascontiguousarray(bids, dtype=np.int32))
    scalar_src = pa.array(np.full(num_buckets, -2, np.int32))
    scalar_off = np.arange(num_buckets + 1, dtype=np.int64) * 8
    no_aggs = _no_aggs(num_buckets)

    def messages(b: int, state: np.ndarray, vtx):
        if vtx is None:
            return
        if scalar is not None:
            s = np.full(num_buckets, scalar(state, vtx), np.float64)
            yield pa.RecordBatch.from_arrays(
                [all_dst, scalar_src, _binary_tiles(s, scalar_off), *no_aggs], schema=_CARRY_ARROW
            )
        blk = load_block(block_dir, b)
        if blk is None or blk["n_edges"] == 0:
            return
        off = np.asarray(_gather_offsets(block_dir, b, blk, num_buckets))
        # offsets at the (sparse) actual bucket ids tile the partial
        # exactly: absent ids contribute zero counts, so
        # off[bids[j+1]] == end of bucket bids[j]'s segment. Pairs with
        # no edges become empty-payload rows (the combine's scatter
        # segment for them is empty too).
        seg = np.empty(num_buckets + 1, np.int64)
        seg[:-1] = off[bids]
        seg[-1] = off[-1]
        values, byte_off = gather(state, vtx, blk, _static_positions(block_dir, b, blk), seg)
        yield pa.RecordBatch.from_arrays(
            [all_dst, pa.array(np.full(num_buckets, b, np.int32)),
             _binary_tiles(values, byte_off), *no_aggs],
            schema=_CARRY_ARROW,
        )

    def emit(b: int, state: np.ndarray, vtx, aggs) -> pa.Table:
        delta, dangling, active = aggs
        carrier = pa.RecordBatch.from_arrays(
            [pa.array([b], pa.int32()), pa.array([-1], pa.int32()), _whole(state),
             pa.array([delta], pa.float64()), pa.array([dangling], pa.float64()),
             pa.array([active], pa.int64())],
            schema=_CARRY_ARROW,
        )
        return pa.Table.from_batches([carrier, *messages(b, state, vtx)], schema=_CARRY_ARROW)

    return emit


def _enter_fn(block_dir: str, value_col: str, dtype: str, emit: Callable):
    """applyInArrow fn (grouped by bucket), run on a fresh start and on a
    checkpoint load: per-vertex rows → the bucket's state, aligned to its
    sorted sidecar ids → the emitter."""
    dt = np.dtype(dtype)

    def fn(key, table):
        b = int(key[0].as_py())
        ids = table.column("id").to_numpy()
        order = np.argsort(ids, kind="stable")
        state = np.ascontiguousarray(table.column(value_col).to_numpy().astype(dt)[order])
        return emit(b, state, load_vertices(block_dir, b), (float("inf"), 0.0, len(ids)))

    return fn


def _carry_inputs(batches, dtype: np.dtype):
    """One bucket's carry rows → ``(state, scalars, messages)``: the
    carrier row's state (None without one), the broadcast scalars, and
    ``(src_bucket, payload)`` messages in ascending src bucket, whatever
    order the rows arrived in."""
    prev, scalars, msgs = None, [], []
    for batch in batches:
        srcb = batch.column("src_bucket").to_numpy()
        pcol = batch.column("payload")
        for i in range(len(srcb)):
            b = int(srcb[i])
            buf = pcol[i].as_buffer()
            if b == -1:
                prev = np.frombuffer(buf, dtype=dtype)
            elif b == -2:
                scalars.append(float(np.frombuffer(buf, dtype=np.float64)[0]))
            elif b >= 0:
                msgs.append((b, buf))
    msgs.sort(key=lambda m: m[0])
    return prev, scalars, msgs


def _combiner(block_dir: str, num_buckets: int, combine: Callable):
    """``step(c, vtx, prev, scalars, msgs) -> (new, delta, dangling,
    active)``: bucket ``c``'s combine over ``(src_bucket, payload)``
    messages (applied in the order given) and the exactly rounded sum of
    the broadcast scalars, so neither depends on arrival order."""

    def step(c: int, vtx, prev, scalars, msgs):
        if prev is None:
            raise ValueError(f"bucket {c} of {block_dir!r} received messages but no state row")
        flay = _finish_layout(block_dir, c, num_buckets)
        fpos, foff = np.asarray(flay["pos"]), np.asarray(flay["offsets"])
        return combine(prev, [(fpos[foff[b]:foff[b + 1]], buf) for b, buf in msgs],
                       math.fsum(scalars), vtx)

    return step


def _superstep_fn(block_dir: str, num_buckets: int, dtype: str, combine: Callable,
                  emit: Callable):
    """applyInArrow fn (grouped by bucket) of the fused loop: one bucket's
    carrier, scalar and message rows → ``combine`` → the emitter, so the
    next superstep's gather runs in this same task."""
    dt = np.dtype(dtype)
    step = _combiner(block_dir, num_buckets, combine)

    def fn(key, table):
        c = int(key[0].as_py())
        vtx = load_vertices(block_dir, c)
        if vtx is None:  # a bucket with no vertices gets only broadcast rows
            return _CARRY_ARROW.empty_table()
        new, *aggs = step(c, vtx, *_carry_inputs(table.to_batches(), dt))
        return emit(c, new, vtx, aggs)

    return fn


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


def _put(path: str, data) -> None:
    """Write ``data`` to ``path`` atomically (tmp file + rename)."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


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


def _interval_fn(block_dir: str, num_buckets: int, spec: Semiring, emit: Callable,
                 exchange: str, first: int, last: int, done: Callable):
    """mapInArrow fn of the interval loop: supersteps ``first..last`` of
    the bucket this task's partition is routed to (``partition_perfect_ids``).

    Per superstep the task combines, gathers, writes its messages to its
    P−1 peers as files under ``{exchange}/step={s}/`` and a marker with
    its aggregates and broadcast scalar, waits for its peers' markers and
    reads their messages in ascending src bucket. Every task sums the
    same markers (exactly rounded), so all make the same
    ``done(delta, dangling, active)`` decision and stop at the same
    superstep. The last superstep sends nothing: its emitted rows are the
    task's output, the carry of the next interval. The task routed to
    partition 0 appends a history row (src_bucket=-3) with each
    superstep's summed aggregates. With one bucket nothing is exchanged."""
    dt = np.dtype(spec.dtype)
    ids = partition_perfect_ids(num_buckets)
    order = [int(b) for b in bucket_ids_sorted(num_buckets)]
    step = _combiner(block_dir, num_buckets, spec.combine)

    def fn(batches):
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        c = int(ids[part])
        peers = [b for b in order if b != c]
        vtx = load_vertices(block_dir, c)
        prev, scalars, msgs = _carry_inputs(batches, dt)
        history, out = [], None
        for s in range(first, last + 1):
            mark, own, sent = (0.0, 0.0, 0, 0.0, False), None, {}
            if vtx is not None:  # a bucket without vertices only writes markers
                prev, *aggs = step(c, vtx, prev, scalars, msgs)
                out = emit(c, prev, vtx, aggs)
                scalar, sent = _outgoing(out, c)
                own = sent.pop(c, None)
                mark = (*aggs, scalar, own is not None)
            marks = {c: mark}
            if peers:
                step_dir = os.path.join(exchange, f"step={s}")
                os.makedirs(step_dir, exist_ok=True)
                if s < last:
                    for d, buf in sent.items():
                        _put(os.path.join(step_dir, f"{d}-{c}"), buf)
                _put(os.path.join(step_dir, f"marker-{c}"), struct.pack(_MARKER, *mark))
                marks.update(_await_markers(step_dir, peers))
            ordered = [marks[b] for b in order]
            total = (math.fsum(m[0] for m in ordered), math.fsum(m[1] for m in ordered),
                     sum(m[2] for m in ordered))
            history.append(total)
            if s == last or done(*total):
                break
            scalars = [m[3] for m in ordered]
            msgs = []
            for b in order:
                if marks[b][4]:
                    if b == c:
                        msgs.append((b, own))
                    else:
                        with open(os.path.join(step_dir, f"{c}-{b}"), "rb") as f:
                            msgs.append((b, pa.py_buffer(f.read())))
        if out is not None:
            yield from out.to_batches()
        if part == 0:
            yield pa.RecordBatch.from_arrays(
                [pa.array([c], pa.int32()), pa.array([_HISTORY], pa.int32()),
                 _whole(np.asarray(history, np.float64).ravel()), *_no_aggs(1)],
                schema=_CARRY_ARROW,
            )

    return fn


def _outgoing(table: pa.Table, c: int) -> tuple[float, dict]:
    """Bucket ``c``'s broadcast scalar (0.0 without one) and
    ``{dst bucket: payload}`` of its messages, from its emitted rows."""
    scalar, sent = 0.0, {}
    for batch in table.to_batches():
        dst = batch.column("bucket").to_numpy()
        srcb = batch.column("src_bucket").to_numpy()
        pcol = batch.column("payload")
        for i in range(len(srcb)):
            if srcb[i] == -2:
                scalar = float(np.frombuffer(pcol[i].as_buffer(), dtype=np.float64)[0])
            elif srcb[i] == c:
                sent[int(dst[i])] = pcol[i].as_buffer()
    return scalar, sent


def _expand_fn(block_dir: str, value_col: str, dtype: str):
    """mapInArrow fn: carrier rows → per-vertex (id, value) rows."""
    dt = np.dtype(dtype)
    out = np.dtype(np.float64) if dt.kind == "f" else dt

    def fn(batches):
        for b, pbuf in _state_rows(batches):
            vtx = load_vertices(block_dir, b)
            if vtx is None:
                continue
            vals = np.frombuffer(pbuf, dtype=dt).astype(out, copy=False)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.asarray(vtx["ids"])), pa.array(vals)], names=["id", value_col]
            )

    return fn


class _PackedCheckpointer(Checkpointer):
    """Durable checkpoints stay per-vertex parquet (north_rule: resumable
    with per-partition lineage, readable by anything): ``save`` expands
    the carry's carrier rows before writing and re-enters the loop from
    the re-read, ``load`` re-enters it from the parquet."""

    def __init__(self, run_dir: str, every: int, enter, expand):
        super().__init__(run_dir, every=every)
        self.enter, self.expand = enter, expand

    def save(self, carry: DataFrame, superstep: int) -> DataFrame:
        return self.enter(super().save(self.expand(carry), superstep))

    def load(self, spark, superstep: int) -> DataFrame:
        return self.enter(super().load(spark, superstep))


def task_slots(spark) -> int:
    """Tasks the session can run at once, or 0 under dynamic allocation
    (which refuses barrier stages): the largest bucket count the
    interval loop can gang-schedule."""
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
    steps_per_job: int = 1,
    *,
    kernel: str,
) -> LoopResult:
    """Run ``spec`` to convergence on the packed CSR-block path.

    Builds (or validates and reuses) the edge blocks in ``block_dir`` and
    the per-bucket vertex sidecar, then loops Spark jobs described as
    ``{kernel}/packed/superstep={i}``. ``LoopResult.state`` is the
    expanded per-vertex ``(id, value_col)`` DataFrame. It reads
    ``block_dir`` lazily; with ``block_dir=None`` that is the graph's own
    (:meth:`Graph.block_dir`), so consume the state before
    ``graph.unpersist()``.

    When the session can run all ``n_part`` bucket tasks at once (see
    :func:`task_slots`; one bucket always can), a job runs every
    superstep up to the next multiple of ``checkpoint_every`` (with a
    ``checkpoint_dir``) or ``max_supersteps`` in one gang of bucket tasks
    that exchange messages through files under ``{block_dir}/_bsp/``,
    stops early at convergence, and is described by that bound. Otherwise
    a job fuses ``steps_per_job`` supersteps, one bucket-keyed shuffle
    each; ``steps_per_job`` has no other effect. Either way each superstep
    gets its own metrics record with its own convergence values (a fused
    job's land on its last superstep) and its share of the job's wall.
    """
    spark = graph.spark
    if block_dir is None:
        block_dir = graph.block_dir(spec.sym, n_part)
    # _SUCCESS + meta validation (bucket count, symmetrized flag, edge
    # fingerprint): a crashed partial write or a directory built from the
    # other edge orientation is rebuilt instead of silently reused
    edges = graph.edges_sym() if spec.sym else graph.edges
    ensure_edge_blocks(edges, n_part, block_dir, sym=spec.sym, stats=graph.edge_stats(sym=spec.sym))

    if spec.out_deg:
        deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
        vdf = graph.vertices().join(deg, "id", "left").select(
            "id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
    else:
        vdf = graph.vertices().select("id", F.lit(0).alias("out_deg"))
    vdf = vdf.withColumn("bucket", bucket_col("id", n_part).cast("int")).persist()
    # one-time: per-bucket static vertex sidecar (sorted ids, out-degrees)
    vdf.groupBy("bucket").applyInArrow(
        vertex_sidecar_writer(block_dir), schema="bucket int, n long"
    ).count()

    sql_t = "double" if np.dtype(spec.dtype).kind == "f" else "long"
    emit = _emitter(block_dir, n_part, spec.gather, spec.scalar)
    entry = _enter_fn(block_dir, spec.value_col, spec.dtype, emit)

    def route(carry: DataFrame) -> DataFrame:
        """Partition j ← the rows addressed to bucket
        ``partition_perfect_ids(n_part)[j]``."""
        return carry.repartition(n_part, "bucket") if n_part > 1 else carry.coalesce(1)

    def enter(expanded: DataFrame) -> DataFrame:
        """Per-vertex rows → the (routed) loop carry."""
        return route(
            expanded.withColumn("bucket", bucket_col("id", n_part).cast("int"))
            .groupBy("bucket")
            .applyInArrow(entry, schema=_CARRY_SCHEMA)
        )

    def expand(carry: DataFrame) -> DataFrame:
        return carry.where(F.col("src_bucket") == -1).mapInArrow(
            _expand_fn(block_dir, spec.value_col, spec.dtype),
            schema=f"id long, {spec.value_col} {sql_t}")

    k = max(1, steps_per_job)
    checkpointer = (
        _PackedCheckpointer(checkpoint_dir, checkpoint_every, enter, expand)
        if checkpoint_dir else None
    )
    start, initial_metrics = 1, None
    carry0 = enter(vdf.select("id", spec.init.alias(spec.value_col)))
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            carry0, last, initial_metrics = rp
            start = last + 1

    interval = n_part == 1 or n_part <= task_slots(spark)
    exchange = os.path.join(block_dir, "_bsp", uuid.uuid4().hex)
    step, observe_cols, stats = (
        _interval_loop(block_dir, n_part, spec, emit, start, exchange, route) if interval
        else _fused_loop(block_dir, n_part, spec, emit, k))
    try:
        with _superstep_confs(spark, n_part):
            res = iterate(
                carry0,
                step,
                stats,
                converged_fn=spec.converged,
                max_supersteps=max_supersteps,
                checkpointer=checkpointer,
                start_superstep=start,
                initial_metrics=initial_metrics,
                observe_cols=observe_cols,
                steps_per_call=None if interval else k,
                label=f"{kernel}/packed",
            )
    finally:
        shutil.rmtree(exchange, ignore_errors=True)
        with suppress(OSError):
            os.rmdir(os.path.dirname(exchange))  # only when no other run uses it
    vdf.unpersist()
    # per-superstep records: a fused job's record is named by its last
    # superstep and keeps the convergence values; walls are amortized
    metrics = []
    for rec in res.metrics:
        kk = rec.get("supersteps_in_job", 1)
        wall = rec["wall_s"] / kk
        metrics += [{"superstep": rec["superstep"] - kk + j, "wall_s": wall} for j in range(1, kk)]
        metrics.append({**rec, "wall_s": wall})
    return LoopResult(state=expand(res.state), metrics=metrics,
                      supersteps=res.supersteps, converged=res.converged)


def _summed(stats_of: Callable, delta, dangling, active) -> dict:
    """``stats_of`` over exactly rounded sums of per-bucket aggregates,
    so the record does not depend on the order buckets are summed in."""
    return stats_of({"delta": math.fsum(delta), "dangling": math.fsum(dangling),
                     "active": int(sum(active))})


def _fused_loop(block_dir: str, n_part: int, spec: Semiring, emit: Callable, k: int):
    """``(step, observe_cols, stats)`` for :func:`iterate`: each step
    chains ``k`` bucket-keyed supersteps into one query, and its record
    carries the last one's summed carrier aggregates."""
    superstep = _superstep_fn(block_dir, n_part, spec.dtype, spec.combine, emit)

    def step(carry: DataFrame, i: int) -> DataFrame:
        for _ in range(k):
            carry = carry.groupBy("bucket").applyInArrow(superstep, schema=_CARRY_SCHEMA)
        return carry

    def observe_cols() -> dict:
        # aggregates are null on all but the carrier rows, which
        # collect_list keeps
        return {c: F.collect_list(c) for c in ("delta", "dangling", "active")}

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        return {**_summed(spec.stats, observed["delta"], observed["dangling"], observed["active"]),
                "supersteps_in_job": k}

    return step, observe_cols, stats


def _interval_loop(block_dir: str, n_part: int, spec: Semiring, emit: Callable, start: int,
                   exchange: str, route: Callable):
    """``(step, observe_cols, stats)`` for :func:`iterate`'s interval mode:
    the step's gang of ``n_part`` bucket tasks runs supersteps up to the
    interval bound ``i`` (see :func:`_interval_fn`) as a barrier map
    stage (Spark retries a failed barrier map stage whole, but aborts the
    job of a failed barrier result stage), and its history row becomes
    one stats record per superstep it ran."""
    stats_of, converged = spec.stats, spec.converged

    def done(delta: float, dangling: float, active: int) -> bool:
        return converged(stats_of({"delta": delta, "dangling": dangling, "active": active}))

    # a call ends short of its bound only when it converged, which ends the
    # loop, so every call starts right after the previous call's bound
    bound = {"i": start - 1}

    def step(carry: DataFrame, i: int) -> DataFrame:
        # the previous interval's job has finished: its message files are spent
        shutil.rmtree(exchange, ignore_errors=True)
        fn = _interval_fn(block_dir, n_part, spec, emit, exchange, bound["i"] + 1, i, done)
        bound["i"] = i
        return route(carry.mapInArrow(fn, schema=_CARRY_SCHEMA, barrier=n_part > 1))

    def observe_cols() -> dict:
        return {"history": F.max(F.when(F.col("src_bucket") == _HISTORY, F.col("payload")))}

    def stats(observed: dict, prev: DataFrame, i: int) -> list[dict]:
        rows = np.frombuffer(bytes(observed["history"]), np.float64).reshape(-1, 3)
        return [stats_of({"delta": d, "dangling": dm, "active": int(a)}) for d, dm, a in rows]

    return step, observe_cols, stats
