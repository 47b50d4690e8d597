"""Vertex coloring — distributed Luby-style MIS layering + greedy oracles.

``mis_coloring`` is the DataFrame translation of the reference's
parallel maximal-independent-set coloring
(reference: src/traversals/coloring/BLAS_coloring.jl:8-90,103-216),
built from the P2-P6 primitive mappings (SURVEY.md §2.2):

outer loop (one color per round, BLAS_coloring.jl:34-89):
    cand = uncolored vertices with static priority weights
    IS   = maximal independent set over cand    (inner loop)
    colors ∪= IS × {round}
inner loop (BLAS_coloring.jl:103-216):
    nbr_max = edges_sym ⋈ cand ON src → groupBy(dst).agg(max(w))   (P2)
    sel     = cand WHERE w > coalesce(nbr_max, -∞)                 (P4 local maxima)
    knocked = neighbors(sel)                                       (P3)
    cand   -= sel ∪ knocked                                        (P4/P5 masked removal)
    until sel empty                                                (P6 reduce)

Determinism: the reference randomizes weights / orders
(BLAS_coloring.jl:31, greedy_coloring_seq.jl:46); we use a static
injective priority  w(v) = deg(v)·(n+1) + (n + 1 − r(v)), with r(v) the
dense rank 1..n of v's id — higher degree wins, ties go to the smaller
id, on any ids — so results are exactly reproducible (SURVEY.md §4.3.5)
and match oracles.mis_coloring.

``greedy_coloring`` ports the sequential variants C1-C5
(greedy_coloring_seq.jl:12-98) as driver-side oracles for small graphs
(the loop-carried dependence makes them inherently sequential).
"""

from __future__ import annotations

import random
import time

from pyspark.sql import DataFrame, functions as F

from graftpark import oracles
from graftpark.graph import Graph, choose_strategy, densify_ids, maybe_broadcast
from graftpark.loop import Checkpointer, LoopResult, _checkpoint_rdd, _release, resume_point


#: per-vertex status within the current outer round
_ST_CAND = 0   # candidate for this round's independent set
_ST_IS = 1     # newly selected into the IS; not yet knockout-propagated
_ST_KNOCKED = 2  # knocked out this round; candidate again next round
_ST_DONE = 3   # colored AND knockout-propagated — inert from here on


def mis_coloring(
    graph: Graph,
    max_colors: int = 10_000,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    priorities: DataFrame | None = None,
) -> LoopResult:
    """Result state: ``coloring(id: long, color: int)``; metrics include
    ``num_colors``. Proper coloring over the symmetrized graph.

    ``converged`` is True iff every vertex got a color; if the
    ``max_colors`` cap cuts the loop short, ``converged=False`` and the
    still-uncolored vertices are omitted from the result state (so the
    returned rows are always a proper partial coloring, never NULL
    colors).

    ``checkpoint_dir`` persists the full ``(id, w, color, st)`` state +
    metrics every ``checkpoint_every`` outer rounds via the durable
    parquet ``Checkpointer`` (north_rule: per-partition lineage,
    resumable): one job over the round's materialized state writes its
    parts (``Checkpointer.parts``), and the round is committed after its
    metrics record. ``resume=True`` continues from the last complete
    checkpoint to the exact coloring an uninterrupted run produces
    (the kernel is deterministic).

    ``priorities`` (advanced hook, mainly for tests): a ``(id, w)``
    DataFrame replacing the default degree-ranked weights. MUST be
    injective — equal weights on adjacent candidates deadlock the
    select step, which raises rather than returning a partial result.

    Scale shape (round-4 redesign): ONE unified state DataFrame
    ``(id, w, color, st)`` and exactly TWO actions per inner round —
    a select job (P2/P4: local weight maxima among candidate neighbors
    join the IS) and a knockout job (P3: neighbors of the round's IS
    leave the candidate set) — with every count riding the
    state-materializing job via ``DataFrame.observe``. Both jobs merge
    edge-propagated rows into the state with UNION + one groupBy(id),
    never a join of two state descendants: binary plan nodes MULTIPLY
    carried Catalyst size statistics, which squares per round under
    eager localCheckpoint (see pagerank.py step() note) — the hazard the
    pre-round-4 ``cand ⋈ nbr_max(cand)`` formulation carried.
    """
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    use_bc = choose_strategy(n)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src")
    sym = graph.edges_sym()
    if n == 0:
        return LoopResult(state=spark.createDataFrame([], "id LONG, color INT"), converged=True)

    from pyspark.sql import Observation

    checkpointer = (
        Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    )
    state, start_color, metrics = None, 0, []
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state, start_color, metrics = rp
    rank = None
    if state is None:
        if priorities is None:
            # static injective priorities (degree-ranked, id tie-break):
            # the id's dense rank r in 1..n keeps them injective on sparse ids
            rank = densify_ids(graph.vertices().select(F.col("id").alias("v")), "v", n_part)
            w_col = F.col("deg") * F.lit(n + 1) + (F.lit(n + 1) - F.col("r"))
            base = graph.degrees().join(
                rank.select(F.col("v").alias("id"), F.col("id").alias("r")), "id")
        else:
            w_col = F.col("w").cast("long")
            base = priorities
        state = (
            base.select(
                "id",
                w_col.alias("w"),
                F.lit(None).cast("int").alias("color"),
                F.lit(_ST_CAND).cast("int").alias("st"),
            )
            .repartition(n_part, "id")
            .localCheckpoint(eager=True)
        )
        if rank is not None:
            rank.unpersist()
        prev_rdd = _checkpoint_rdd(state)
        colored_total = 0
    else:
        # resumed from durable parquet — no local-checkpoint RDD to free;
        # the colored count is re-derived from the state itself (robust
        # to a truncated metrics.jsonl)
        prev_rdd = None
        colored_total = state.where(F.col("color").isNotNull()).count()

    def _merge(prop, st_df, finish_cols, obs_cols):
        """UNION edge-propagated rows with one carrier per vertex, ONE
        groupBy(id) reconstructs the full state; convergence counts ride
        the localCheckpoint materialization via observe (zero extra
        actions)."""
        nonlocal prev_rdd
        carriers = st_df.select(
            "id", "w", "color", "st",
            F.lit(None).cast("long").alias("nw"), F.lit(True).alias("own"),
        )
        agg = (
            prop.unionByName(carriers)
            .groupBy("id")
            .agg(
                F.max(F.when(F.col("own"), F.col("w"))).alias("w"),
                F.max(F.when(F.col("own"), F.col("color"))).alias("color"),
                F.max(F.when(F.col("own"), F.col("st"))).alias("st"),
                F.max(F.when(~F.col("own"), F.col("nw"))).alias("mw"),
            )
        )
        obs = Observation()
        out = agg.select("id", "w", *finish_cols).observe(
            obs, *[c.alias(k) for k, c in obs_cols.items()]
        )
        out = out.localCheckpoint(eager=True)
        got = obs.get
        _release(prev_rdd)
        prev_rdd = _checkpoint_rdd(out)
        return out, got

    _is_cand = F.col("color").isNull() & (F.col("st") == _ST_CAND)
    color = start_color
    n_uncolored = n - colored_total
    while n_uncolored > 0 and color < max_colors:
        color += 1
        t0 = time.monotonic()
        active = n_uncolored
        # lazy reset (merges into the first select job's plan): last
        # round's knocked vertices are candidates again, and an IS row
        # left at _ST_IS by the every-candidate-selected early break must
        # go inert (its neighbors are colored-or-knocked already; letting
        # it propagate NEXT round would wrongly knock out new candidates)
        state = state.withColumn(
            "st",
            F.when(F.col("color").isNull(), F.lit(_ST_CAND))
            .when(F.col("st") == _ST_IS, F.lit(_ST_DONE))
            .otherwise(F.col("st")),
        )
        inner_rounds = 0
        while True:
            inner_rounds += 1
            # --- select job: local maxima among candidate neighbors join
            # the IS and take this round's color (P2 max-weight SpMV + P4)
            cand = state.where(_is_cand).select("id", "w")
            prop = sym.join(maybe_broadcast(cand, use_bc), sym.src == cand.id).select(
                F.col("dst").alias("id"),
                F.lit(None).cast("long").alias("w"),
                F.lit(None).cast("int").alias("color"),
                F.lit(None).cast("int").alias("st"),
                F.col("w").alias("nw"), F.lit(False).alias("own"),
            )
            sel = _is_cand & (F.col("mw").isNull() | (F.col("w") > F.col("mw")))
            state, got = _merge(
                prop, state,
                finish_cols=[
                    F.when(sel, F.lit(color)).otherwise(F.col("color")).cast("int").alias("color"),
                    F.when(sel, F.lit(_ST_IS)).otherwise(F.col("st")).cast("int").alias("st"),
                ],
                obs_cols={
                    "n_is": F.count(F.when(F.col("color").isNotNull(), True)),
                    "n_cand": F.count(F.when(_is_cand, True)),
                },
            )
            n_selected = int(got["n_is"]) - colored_total
            colored_total = int(got["n_is"])
            if n_selected == 0:
                # unreachable with injective priorities (the max-weight
                # candidate always selects) — so fail LOUDLY rather than
                # silently returning a partial coloring with the round's
                # survivors stuck at _ST_IS/_ST_CAND
                raise RuntimeError(
                    f"mis_coloring selected no vertices in outer round {color} "
                    f"inner round {inner_rounds} with {int(got['n_cand'])} "
                    "candidates remaining — priorities must be injective "
                    "(adjacent candidates with equal w block each other)"
                )
            if int(got["n_cand"]) == 0:
                # every candidate was selected (e.g. an independent
                # remainder) — nothing left to knock out, skip that job
                break
            # --- knockout job: neighbors of the NEWLY selected vertices
            # leave the candidate set (P3 bool-or SpMV); counts ride the
            # same job. Earlier inner rounds' IS members are _ST_DONE —
            # their neighborhoods are already knocked out, so each inner
            # round shuffles only the new selections' edges
            is_cur = state.where(F.col("st") == _ST_IS).select("id")
            prop = sym.join(maybe_broadcast(is_cur, use_bc), sym.src == is_cur.id).select(
                F.col("dst").alias("id"),
                F.lit(None).cast("long").alias("w"),
                F.lit(None).cast("int").alias("color"),
                F.lit(None).cast("int").alias("st"),
                F.lit(1).cast("long").alias("nw"), F.lit(False).alias("own"),
            )
            knocked = _is_cand & F.col("mw").isNotNull()
            state, got = _merge(
                prop, state,
                finish_cols=[
                    F.col("color"),
                    F.when(knocked, F.lit(_ST_KNOCKED))
                    .when(F.col("st") == _ST_IS, F.lit(_ST_DONE))
                    .otherwise(F.col("st")).cast("int").alias("st"),
                ],
                obs_cols={"n_cand": F.count(F.when(_is_cand, True))},
            )
            if int(got["n_cand"]) == 0:
                break
        n_uncolored = n - colored_total
        if n_uncolored == active:
            raise RuntimeError(
                f"mis_coloring made no progress in outer round {color} "
                f"({active} uncolored) — priorities not injective?"
            )
        rec = {
            "superstep": color,
            "wall_s": time.monotonic() - t0,
            "active": active,
            "inner_rounds": inner_rounds,
            "colored_total": colored_total,
        }
        ckpt = checkpointer is not None and color % checkpointer.every == 0
        if ckpt:
            # durable outer-round boundary: one job writes the full (id, w,
            # color, st) state; the resumed loop's lazy st reset makes
            # mid-coloring state re-entrant
            checkpointer.parts(state, color).write.format("noop").mode("overwrite").save()
        metrics.append(rec)
        if checkpointer is not None:
            checkpointer.record_metrics(rec)
        if ckpt:
            checkpointer.commit(color)
    converged = n_uncolored == 0
    result = state.select("id", "color")
    if not converged:
        # max_colors cut the loop short: drop the NULL-color rows so the
        # result is always a proper partial coloring (docstring contract)
        result = result.where(F.col("color").isNotNull())
    if metrics:
        metrics[-1]["num_colors"] = color
    return LoopResult(state=result, metrics=metrics, supersteps=color, converged=converged)


def greedy_coloring(
    graph: Graph,
    order: str = "degree",
    n_times: int = 1,
    seed: int = 42,
    max_collect_edges: int = 5_000_000,
) -> tuple[DataFrame, int]:
    """Sequential greedy coloring (reference C1-C5) — driver-side.

    order: 'natural' | 'degree' (largest-first, greedy_coloring_seq.jl:77)
    | 'random' (seeded shuffle, :46); ``n_times`` keeps the best of n
    restarts (:58-67). Returns (coloring_df, num_colors).
    """
    spark = graph.spark
    n_edges = graph.edges_sym().count()
    if n_edges > max_collect_edges:
        raise ValueError(f"greedy_coloring is a driver-side oracle; graph too large ({n_edges} edges)")
    edges = [(r["src"], r["dst"]) for r in graph.edges_sym().collect()]
    vertices = sorted(r["id"] for r in graph.vertices().collect())
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)

    def make_order(k: int) -> list[int]:
        if order == "natural":
            return list(vertices)
        if order == "degree":
            return sorted(vertices, key=lambda v: (-len(adj[v]), v))
        rng = random.Random(seed + k)
        o = list(vertices)
        rng.shuffle(o)
        return o

    best: dict[int, int] | None = None
    for k in range(n_times):
        colors = oracles.greedy_coloring(edges, vertices, make_order(k))
        if best is None or max(colors.values(), default=0) < max(best.values(), default=0):
            best = colors
    num_colors = max(best.values(), default=0)
    df = spark.createDataFrame([(v, c) for v, c in sorted(best.items())] or [], "id LONG, color INT")
    return df, num_colors
