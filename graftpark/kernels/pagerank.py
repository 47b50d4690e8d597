"""PageRank — power iteration with damping, the engine's flagship kernel.

Schema-B superstep (full-vector iteration with per-vertex semiring
reduce, the generalization of the reference's weight-update SpMV,
reference: src/traversals/coloring/BLAS_coloring.jl:119-130):

    contribs = edges ⋈ state ON src   (edges pre-partitioned by src,
                                       state partitioned by id → no
                                       edge shuffle per superstep)
    sums     = contribs.groupBy(dst).agg(sum)   (the ONE E-row shuffle;
                                       partial aggregation map-side)
    state'   = state ⟕ sums ON id=dst (co-partitioned → no shuffle)
    rank'    = (1-α)/N + α·(sum + dangling_mass/N)

Dangling mass (Σ rank over out_deg=0) and the L1 convergence delta are
computed in the SAME single aggregate job on the merged state, so each
superstep runs exactly one E-row job plus one V-row agg (SURVEY.md §4.3.4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from graftpark.blocks import segment_gather_reduce
from graftpark.graph import Graph, choose_strategy, maybe_broadcast
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point
from graftpark.packed import Semiring, resolve_strategy, run_packed


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    strategy: str = "auto",
    block_dir: str | None = None,
    payload_dtype: str = "float64",
) -> LoopResult:
    """Ranks sum to 1 over the full vertex set (isolated vertices included).

    Returns a LoopResult; ``ranks_df(result)`` is its stable ``(id, rank)``
    result table. The state's other columns depend on the strategy (the
    dataframe path also carries ``out_deg`` and ``prev_rank``).

    Skew handling: with broadcastable state (the default below
    GRAFTPARK_BROADCAST_V_LIMIT vertices) edges stay in balanced
    partitions and the slim rank projection is broadcast to them, so a
    power-law hub's out-edges are spread across all tasks; otherwise
    co-partitioned joins + AQE skew splitting (graph.py docstring).

    ``strategy`` is ``'dataframe'`` (the semantic reference), ``'packed'``
    (graftpark/packed.py, the at-scale path: one Spark job per checkpoint
    interval whatever the bucket and task-slot counts; ``payload_dtype``
    float64 or float32) or ``'auto'`` (packed, in one bucket for a small
    graph; see ``packed.resolve_strategy``); anything else raises
    ValueError.
    """
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    strategy, buckets = resolve_strategy(graph, strategy, n, n_part, broadcast_state, block_dir,
                                         sym=False)
    if n == 0:
        return LoopResult(state=spark.createDataFrame([], "id LONG, rank DOUBLE"), converged=True)
    if strategy == "packed":
        return run_packed(
            graph, _packed_spec(n, alpha, tol, payload_dtype), buckets, max_supersteps,
            block_dir, checkpoint_dir, checkpoint_every, resume, kernel="pagerank",
        )
    use_bc = choose_strategy(n, broadcast_state)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src", sym=False)
    edges = graph.edges

    out_deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    init = (
        graph.vertices()
        .join(out_deg, "id", "left")
        .select(
            "id",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.lit(0.0).alias("prev_rank"),
        )
        .repartition(n_part, "id")
    )

    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, initial_metrics, state0 = 1, None, init
    # carried scalar: dangling mass of the current state (updated from the
    # same agg that computes the convergence delta — no extra job)
    dangling = {"mass": 0.0}

    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1
    if start == 1 or not initial_metrics:
        # fresh start, or resume without a surviving metrics record:
        # recompute dangling mass from the state itself (a 0.0 default
        # would silently converge to wrong ranks)
        dangling["mass"] = (
            state0.where(F.col("out_deg") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0
        )
    else:
        dangling["mass"] = initial_metrics[-1]["dangling_mass"]

    def step(state: DataFrame, i: int) -> DataFrame:
        # single-shuffle superstep: edge contributions UNION one carrier row
        # per vertex (c=0, carrying out_deg + prev rank), then ONE
        # groupBy(dst) produces the complete next state — no merge join,
        # no second exchange (.explain: one E+V-row shuffle with map-side
        # partial aggregation; the edges⋈state join broadcasts the slim
        # rank projection or reuses the cached src-partitioning)
        ranks_slim = maybe_broadcast(
            state.where(F.col("out_deg") > 0).select("id", (F.col("rank") / F.col("out_deg")).alias("c")),
            use_bc,
        )
        contribs = (
            edges.join(ranks_slim, edges.src == F.col("id"))
            .select(
                F.col("dst"),
                F.col("c"),
                F.lit(None).cast("long").alias("out_deg"),
                F.lit(None).cast("double").alias("prev"),
            )
        )
        carriers = state.select(
            F.col("id").alias("dst"),
            F.lit(0.0).alias("c"),
            F.col("out_deg"),
            F.col("rank").alias("prev"),
        )
        base = (1.0 - alpha) / n + alpha * dangling["mass"] / n
        return (
            contribs.unionByName(carriers)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"), F.max("out_deg").alias("od"), F.max("prev").alias("p"))
            .select(
                F.col("dst").alias("id"),
                (F.lit(base) + F.lit(alpha) * F.col("s")).alias("rank"),
                F.col("od").alias("out_deg"),
                F.col("p").alias("prev_rank"),
            )
        )

    def observe_cols() -> dict:
        # convergence aggregates ride on the state-materializing job
        return {
            "delta": F.sum(F.abs(F.col("rank") - F.col("prev_rank"))),
            "dm": F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(F.lit(0.0))),
            "active": F.count(F.when(F.abs(F.col("rank") - F.col("prev_rank")) > tol / n, True)),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        dangling["mass"] = observed["dm"] or 0.0
        return {
            "delta": float(observed["delta"]),
            "active": int(observed["active"]),
            "dangling_mass": dangling["mass"],
        }

    return iterate(
        state0,
        step,
        stats,
        converged_fn=lambda rec: rec["delta"] < tol,
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
        start_superstep=start,
        initial_metrics=initial_metrics,
        observe_cols=observe_cols,
        label="pagerank/dataframe",
    )


def _packed_spec(n: int, alpha: float, tol: float, payload_dtype: str) -> Semiring:
    """Sum semiring: rank / out_deg summed per destination, damping base
    derived in the finish from the broadcast dangling mass.

    ``payload_dtype='float32'`` halves the dominant per-superstep memory
    traffic (per-edge gather temp + partial/state payloads). The dangling
    broadcast stays float64 (one scalar) and the convergence delta is
    accumulated in float64, so tol semantics are unchanged; ranks agree
    with the float64 path to ~1e-7 relative."""
    tol_active = tol / n

    def combine(prev, msgs, dm, lay):
        sums = np.zeros(len(prev), dtype=prev.dtype)
        for seg, buf in msgs:
            sums[seg] += np.frombuffer(buf, dtype=prev.dtype)
        base = (1.0 - alpha) / n + alpha * dm / n
        new = (base + alpha * sums.astype(np.float64, copy=False)).astype(prev.dtype, copy=False)
        diff = np.abs(new.astype(np.float64, copy=False) - prev.astype(np.float64, copy=False))
        od = np.asarray(lay["out_deg"])
        return (new, float(diff.sum()), float(new[od == 0].astype(np.float64).sum()),
                int((diff > tol_active).sum()))

    return Semiring(
        value_col="rank",
        dtype=payload_dtype,
        sym=False,
        init=F.lit(1.0 / n),
        gather=_sum_gather,
        combine=combine,
        stats=lambda o: {"delta": float(o["delta"]), "active": int(o["active"]),
                         "dangling_mass": float(o["dangling"] or 0.0)},
        converged=lambda rec: rec["delta"] < tol,
        scalar=_dangling_mass,
    )


def _sum_gather(state, lay, blk, seg):
    od = np.asarray(lay["out_deg"])
    # ufunc result is float64; ``out`` downcasts (same_kind) when the
    # payload is float32 — halves the per-edge gather temp below
    w = np.divide(state, od, out=np.zeros(len(state), dtype=state.dtype), where=od > 0)
    partial = segment_gather_reduce(w, lay["gather"], blk["starts"], "sum")
    return partial, seg * partial.itemsize


def _dangling_mass(state, lay):
    return float(state[np.asarray(lay["out_deg"]) == 0].astype(np.float64).sum())


def ranks_df(result: LoopResult) -> DataFrame:
    return result.state.select("id", "rank")
