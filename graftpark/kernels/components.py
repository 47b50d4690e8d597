"""Connected components — label-min hash propagation.

Schema-A superstep (masked frontier propagation generalized: propagate
the min component label instead of "any parent",
reference: src/traversals/BFS/bfs_BLAS.jl:36-76 / SURVEY.md §2.8):

    nbr_min = edges_sym ⋈ state ON src → groupBy(dst).agg(min(comp))
    comp'   = least(comp, nbr_min)
    stop when changed-count = 0   (the global termination reduce)

Deterministic by construction (min is order-insensitive). Component
label = min vertex id in the component.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graftpark.blocks import segment_gather_reduce
from graftpark.graph import Graph, choose_strategy, maybe_broadcast
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point
from graftpark.packed import Semiring, label_stats, no_label_changed, resolve_strategy, run_packed


def connected_components(
    graph: Graph,
    max_supersteps: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    strategy: str = "auto",
    block_dir: str | None = None,
) -> LoopResult:
    """Returns a LoopResult; ``components_df(result)`` is its stable ``(id, comp)``
    result table (the dataframe path's state also carries ``prev_comp``).

    ``strategy``: ``'dataframe'``, ``'packed'`` (min semiring over the
    symmetrized CSR blocks, graftpark/packed.py) or ``'auto'`` (packed, in
    one bucket for a small graph; see ``packed.resolve_strategy``);
    anything else raises ValueError."""
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    strategy, buckets = resolve_strategy(graph, strategy, n, n_part, broadcast_state, block_dir,
                                         sym=True)
    if strategy == "packed":
        return run_packed(graph, _min_label_spec(), buckets, max_supersteps, block_dir,
                          checkpoint_dir, checkpoint_every, resume, kernel="connected_components")
    use_bc = choose_strategy(n, broadcast_state)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src")
    sym = graph.edges_sym()

    init = (
        graph.vertices()
        .select("id", F.col("id").alias("comp"), F.lit(None).cast("long").alias("prev_comp"))
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
        # single-shuffle superstep: neighbor labels UNION one carrier row
        # per vertex (its own label, doubling as prev_comp), one
        # groupBy(dst) → next state; no merge join (SURVEY.md P1/P5)
        lbl = maybe_broadcast(state.select("id", "comp"), use_bc)
        prop = sym.join(lbl, sym.src == lbl.id).select(
            F.col("dst"), F.col("comp"), F.lit(None).cast("long").alias("prev")
        )
        carriers = state.select(
            F.col("id").alias("dst"), F.col("comp"), F.col("comp").alias("prev")
        )
        return (
            prop.unionByName(carriers)
            .groupBy("dst")
            .agg(F.min("comp").alias("comp"), F.max("prev").alias("prev"))
            .select(F.col("dst").alias("id"), "comp", F.col("prev").alias("prev_comp"))
        )

    def observe_cols() -> dict:
        return {
            "changed": F.count(F.when(F.col("comp") != F.col("prev_comp"), True)),
            # approximate distinct rides free; exact count once at the end
            "num_components_approx": F.approx_count_distinct("comp"),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        changed = int(observed["changed"])
        return {
            "delta": float(changed),
            "active": changed,
            "num_components_approx": int(observed["num_components_approx"]),
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
        label="connected_components/dataframe",
    )


def _min_gather(state, lay, blk, seg):
    partial = segment_gather_reduce(state, lay["gather"], blk["starts"], "min")
    return partial, seg * partial.itemsize


def _min_combine(prev, msgs, scalar, lay):
    new = prev.copy()
    for seg, buf in msgs:  # positions are unique within one message
        new[seg] = np.minimum(new[seg], np.frombuffer(buf, dtype=np.int64))
    changed = int((new != prev).sum())
    return new, float(changed), 0.0, changed


def _min_label_spec() -> Semiring:
    """Min semiring: int64 label minima per static dst segment over the
    symmetrized blocks; durable checkpoints are per-vertex (id, comp)."""
    return Semiring(value_col="comp", dtype="int64", sym=True, init=F.col("id"),
                    gather=_min_gather, combine=_min_combine,
                    stats=label_stats, converged=no_label_changed)


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to m = min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("mn", "u").alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; connect u and all its
    smaller neighbors to their minimum."""
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        o.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components_twophase(
    graph: Graph,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> LoopResult:
    """Large-star / small-star connected components — O(log n) rounds.

    The min-label propagation above needs ~diameter supersteps, which on
    high-diameter graphs (road networks, grids, paths) is the scale
    bottleneck: a 10^9-edge road graph can have diameter in the
    thousands. This alternating star-contraction algorithm (public:
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — the same pair of operators GraphX/GraphFrames use)
    converges in O(log n) rounds regardless of diameter: each round is
    two groupBy-min aggregations + two co-keyed joins over a shrinking
    edge set, all map-side combinable, hub skew handled by partial
    aggregation + AQE.

    Returns the same contract as ``connected_components``: state
    ``(id, comp)`` with comp = min vertex id of the component.

    A checkpoint round's edge set is written by the job that materializes
    it (``Checkpointer.parts``) and committed after its metrics record.

    Convergence is probabilistic: the fixed-point probe compares the
    edge sets of consecutive rounds by (count, two independent xor
    fingerprints) rather than exact set difference — a false "equal"
    requires a simultaneous collision in both 64-bit fingerprints
    (~2^-128 per round). The exact ``exceptAll`` probe it replaced cost
    an extra 2E-row shuffle join per round.
    """
    from pyspark.storagelevel import StorageLevel

    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # durable checkpoint state = the contracted edge set (u, v)
    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, e = 1, None
    metrics: list[dict] = []
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            e, last, metrics = rp
            start = last + 1
    if e is None:
        e = (
            graph.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .repartition(n_part, "u")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

    def _edge_probe(df: DataFrame) -> tuple[int, int, int]:
        """(count, two order-independent content fingerprints) in ONE
        job — the fixed-point test. Both rounds' edge sets are DISTINCT
        sets, so equal (count, xor-of-xxhash64, xor-of-rehash) means
        equal sets; this replaces the previous ``exceptAll(e).count()``
        probe, which cost an extra 2E-row shuffle join per round.

        Probabilistic by construction: two distinct equal-size edge sets
        whose per-row hashes xor to the same value would be declared
        equal. The second, independently keyed fingerprint (xxhash64 of
        the first hash — overflow-free, unlike a sum under ANSI mode)
        drives the collision odds from ~2^-64 to ~2^-128 per round."""
        h = F.xxhash64("u", "v")
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(h), F.lit(0)).alias("fp"),
            F.coalesce(F.bit_xor(F.xxhash64(h)), F.lit(0)).alias("fp2"),
        ).collect()[0]
        return int(row["n"]), int(row["fp"]), int(row["fp2"])

    n_edges, fp, fp2 = _edge_probe(e)
    converged = n_edges == 0
    rounds = start - 1
    import time

    while not converged and rounds < max_rounds:
        rounds += 1
        t0 = time.monotonic()
        new = _small_star(_large_star(e))
        ckpt = checkpointer is not None and rounds % checkpointer.every == 0
        if ckpt:
            new = checkpointer.parts(new, rounds)
        new = new.localCheckpoint(eager=True)
        n_new, fp_new, fp2_new = _edge_probe(new)
        converged = n_new == n_edges and fp_new == fp and fp2_new == fp2
        e.unpersist()
        e, n_edges, fp, fp2 = new, n_new, fp_new, fp2_new
        rec = {"superstep": rounds, "wall_s": time.monotonic() - t0,
               "edges": n_edges, "active": 0 if converged else n_edges}
        metrics.append(rec)
        if checkpointer is not None:
            checkpointer.record_metrics(rec)
        if ckpt:
            checkpointer.commit(rounds)
    # final stars point child → component-min root; roots + isolated
    # vertices map to themselves. min() per id: at the fixed point each
    # child carries exactly one root, but if max_rounds cut the loop
    # short a vertex can still hold two candidate roots — aggregating
    # keeps the one-row-per-id state contract (and makes the unconverged
    # output deterministic) at the cost of one V-row combine.
    comps = (
        graph.vertices()
        .join(
            e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("root")),
            "id",
            "left",
        )
        .select("id", F.coalesce("root", "id").alias("comp"))
    )
    return LoopResult(state=comps, metrics=metrics, supersteps=rounds, converged=converged)


def components_df(result: LoopResult) -> DataFrame:
    return result.state.select("id", "comp")
