"""Label propagation community detection (synchronous, deterministic).

Each superstep every vertex adopts the MODE of its neighbors' labels,
ties broken by MIN label; vertices with no neighbors keep their own.
Same loop skeleton as the reference MIS outer loop
(reference: src/traversals/coloring/BLAS_coloring.jl:34-89 / SURVEY.md §2.9).

The mode-with-min-tie-break is computed shuffle-efficiently as
``groupBy(dst, label).count`` → ``groupBy(dst).agg(max(struct(cnt,
-label)))`` — two partial-aggregating hash shuffles, no window over a
single partition.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graftpark.graph import Graph, choose_strategy, maybe_broadcast
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point
from graftpark.packed import Semiring, label_stats, no_label_changed, resolve_strategy, run_packed


def label_propagation(
    graph: Graph,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    strategy: str = "auto",
    block_dir: str | None = None,
) -> LoopResult:
    """Returns a LoopResult; ``labels_df(result)`` is its stable ``(id, label)``
    result table (the dataframe path's state also carries ``prev_label``).

    ``strategy``: ``'dataframe'``, ``'packed'`` (mode semiring over the
    symmetrized CSR blocks, graftpark/packed.py) or ``'auto'`` (packed, in
    one bucket for a small graph; see ``packed.resolve_strategy``);
    anything else raises ValueError."""
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    strategy, buckets = resolve_strategy(graph, strategy, n, n_part, broadcast_state, block_dir,
                                         sym=True)
    if strategy == "packed":
        return run_packed(graph, _mode_spec(), buckets, max_supersteps, block_dir,
                          checkpoint_dir, checkpoint_every, resume, kernel="label_propagation")
    use_bc = choose_strategy(n, broadcast_state)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src")
    sym = graph.edges_sym()

    init = (
        graph.vertices()
        .select("id", F.col("id").alias("label"), F.lit(None).cast("long").alias("prev_label"))
        .repartition(n_part, "id")
    )
    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, initial_metrics, state0 = 1, None, init
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1

    def step(state: DataFrame, i: int) -> DataFrame:
        # neighbor labels weight 1, UNION a weight-0 carrier per vertex
        # (its own label, doubling as prev_label). The carrier wins the
        # mode argmax only when the vertex has no neighbors — exactly
        # the keep-own-label rule — so no merge join is needed.
        lbl = maybe_broadcast(state.select("id", "label"), use_bc)
        prop = sym.join(lbl, sym.src == lbl.id).select(
            F.col("dst"), F.col("label"), F.lit(1).alias("w"), F.lit(None).cast("long").alias("prev")
        )
        carriers = state.select(
            F.col("id").alias("dst"), F.col("label"), F.lit(0).alias("w"), F.col("label").alias("prev")
        )
        counts = (
            prop.unionByName(carriers)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("cnt"), F.max("prev").alias("prev"))
        )
        return (
            counts.groupBy("dst")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("b"),
                F.max("prev").alias("prev"),
            )
            .select(
                F.col("dst").alias("id"),
                (-F.col("b.neg")).alias("label"),
                F.col("prev").alias("prev_label"),
            )
        )

    def observe_cols() -> dict:
        return {
            "changed": F.count(F.when(F.col("label") != F.col("prev_label"), True)),
            "num_labels_approx": F.approx_count_distinct("label"),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        changed = int(observed["changed"])
        return {
            "delta": float(changed),
            "active": changed,
            "num_labels_approx": int(observed["num_labels_approx"]),
        }

    return iterate(
        state0,
        step,
        stats,
        converged_fn=lambda rec: rec["active"] == 0,
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
        start_superstep=start,
        initial_metrics=initial_metrics,
        observe_cols=observe_cols,
        label="label_propagation/dataframe",
    )


# Packed mode semiring. A message carries, per static dst segment, a
# variable-length (label, count) list per dst, encoded as three arrays in
# one payload:
#   k[len(seg)] int32  — distinct-label count per dst (in segment order)
#   labels[sum(k)] int64, counts[sum(k)] int32


def _mode_gather(state, lay, blk, seg):
    """Per-dst (label, count) lists, all P payloads written ONCE into one
    contiguous buffer. Labels change every superstep, so the per-edge
    (group, label) pairs are lexsorted per call; contiguous dst groups
    make each segment's entries a contiguous slice of the result."""
    lab = state[lay["gather"]]
    gi = blk.get("group_idx")
    if gi is None:  # per-edge dst-group index, cached with the block
        counts = np.diff(np.append(blk["starts"], blk["n_edges"]))
        gi = blk["group_idx"] = np.repeat(np.arange(len(blk["starts"]), dtype=np.int64), counts)
    o = np.lexsort((lab, gi))
    gi_s, lab_s = gi[o], lab[o]
    bnd = np.flatnonzero(np.r_[True, (gi_s[1:] != gi_s[:-1]) | (lab_s[1:] != lab_s[:-1])])
    cnt = np.diff(np.append(bnd, len(gi_s))).astype(np.int32)
    lab_at = lab_s[bnd]
    k_per_dst = np.bincount(gi_s[bnd], minlength=len(blk["starts"])).astype(np.int32)
    ent = np.concatenate([[0], np.cumsum(k_per_dst, dtype=np.int64)])
    lo_g, hi_g = seg[:-1], seg[1:]
    nk = hi_g - lo_g
    offsets = np.concatenate([[0], np.cumsum(4 * nk + 12 * (ent[hi_g] - ent[lo_g]))])
    buf = np.empty(int(offsets[-1]), np.uint8)
    for j in np.flatnonzero(nk > 0):
        lo, hi = int(lo_g[j]), int(hi_g[j])
        e_lo, e_hi = int(ent[lo]), int(ent[hi])
        p = int(offsets[j])
        kb, lb, cb = 4 * (hi - lo), 8 * (e_hi - e_lo), 4 * (e_hi - e_lo)
        buf[p:p + kb] = k_per_dst[lo:hi].view(np.uint8)
        buf[p + kb:p + kb + lb] = lab_at[e_lo:e_hi].view(np.uint8)
        buf[p + kb + lb:p + kb + lb + cb] = cnt[e_lo:e_hi].view(np.uint8)
    return buf, offsets


def _mode_combine(prev, msgs, scalar, lay):
    n = len(prev)
    # each vertex's own label is a count-0 carrier: it wins only when the
    # vertex has no neighbor labels
    dst, lab, cnt = [], [], []
    for seg, buf in msgs:
        nk = len(seg)
        if nk == 0 or buf.size == 0:
            continue
        k = np.frombuffer(buf, dtype=np.int32, count=nk)
        total = int(k.sum())
        dst.append(np.repeat(seg.astype(np.int64), k))
        lab.append(np.frombuffer(buf, dtype=np.int64, count=total, offset=4 * nk))
        cnt.append(np.frombuffer(buf, dtype=np.int32, count=total, offset=4 * nk + 8 * total)
                   .astype(np.int64))
    new = combine_mode(np.concatenate(dst + [np.arange(n, dtype=np.int64)]),
                       np.concatenate(lab + [prev]),
                       np.concatenate(cnt + [np.zeros(n, dtype=np.int64)]))
    new = np.ascontiguousarray(new, dtype=np.int64)
    changed = int((new != prev).sum())
    return new, float(changed), 0.0, changed


def combine_mode(dst: np.ndarray, label: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Winner label per distinct ``dst`` (ascending): max total count,
    ties → min label — the dataframe path's mode rule."""
    o = np.lexsort((label, dst))
    d_s, l_s, c_s = dst[o], label[o], cnt[o]
    b = np.flatnonzero(np.r_[True, (d_s[1:] != d_s[:-1]) | (l_s[1:] != l_s[:-1])])
    cnt_u = np.add.reduceat(c_s, b)
    d_u, l_u = d_s[b], l_s[b]
    o2 = np.lexsort((l_u, -cnt_u, d_u))
    first = np.flatnonzero(np.r_[True, d_u[o2][1:] != d_u[o2][:-1]])
    return l_u[o2][first]


def _mode_spec() -> Semiring:
    """Mode semiring over the symmetrized blocks; durable checkpoints are
    per-vertex (id, label)."""
    return Semiring(value_col="label", dtype="int64", sym=True, init=F.col("id"),
                    gather=_mode_gather, combine=_mode_combine,
                    stats=label_stats, converged=no_label_changed)


def labels_df(result: LoopResult) -> DataFrame:
    return result.state.select("id", "label")
