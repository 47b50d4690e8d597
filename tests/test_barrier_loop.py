"""The packed loop (graftpark/packed.py) with more than one bucket: a
checkpoint interval's tasks run as one barrier stage, each owning one or
more buckets, and swap messages through files in the block dir, so a
Spark job runs every superstep of the interval. Results, supersteps,
metrics and checkpoints do not depend on how many tasks the buckets are
spread over."""

import dataclasses
import json
import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from conftest import spy_step_descriptions
from graftpark import oracles, packed
from graftpark.blocks import load_vertices, partition_perfect_ids
from graftpark.fixtures import powerlaw_edges_pdf
from graftpark.graph import Graph
from graftpark.kernels.components import components_df, connected_components
from graftpark.kernels.labelprop import label_propagation, labels_df
from graftpark.kernels.pagerank import _packed_spec, pagerank, ranks_df

#: the powerlaw graph below converges at superstep 13 with this tol
TOL = 3e-4
P = 4


@pytest.fixture(scope="module")
def graph(spark):
    return Graph(spark.createDataFrame(powerlaw_edges_pdf(20000, 3000, seed=7)))


def _runs(graph, blk: str, buckets: int = P) -> dict:
    """PageRank to tol, CC and LP on ``buckets`` buckets: (supersteps,
    metrics deltas, sorted result rows) per kernel."""
    out = {}
    kw = dict(strategy="packed", num_partitions=buckets)
    for name, run, rows in (
        ("pagerank", lambda: pagerank(graph, tol=TOL, block_dir=blk, **kw), ranks_df),
        ("cc", lambda: connected_components(graph, block_dir=blk + "-sym", **kw), components_df),
        ("lp", lambda: label_propagation(graph, max_supersteps=7, block_dir=blk + "-sym", **kw),
         labels_df),
    ):
        res = run()
        out[name] = (res.supersteps, [m["delta"] for m in res.metrics], sorted(rows(res).collect()))
    return out


def _superstep_tasks(sc, group: str) -> set:
    """Task counts of the stages that ran in the group's packed superstep jobs."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    counts = set()
    for job in tracker.getJobIdsForGroup(group):
        desc = store.job(job).description()
        if desc.isDefined() and "/packed/superstep=" in desc.get():
            for sid in tracker.getJobInfo(job).stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    counts.add(stage.numTasks)
    return counts


def test_results_do_not_depend_on_task_count(spark, graph, tmp_path, monkeypatch):
    """8 buckets run in the session's 4 slots (two buckets a task), in 3
    tasks (3/3/2 buckets) and in one task; each run takes one superstep
    job per kernel, and all three give the same bytes."""
    sc = spark.sparkContext
    blk = str(tmp_path / "blk")
    steps = spy_step_descriptions(sc, monkeypatch)
    runs, tasks = [], []
    for slots in (None, 3, 1):
        if slots is not None:
            monkeypatch.setattr(packed, "task_slots", lambda spark, n=slots: n)
        group = f"tasks-{slots}"
        sc.setJobGroup(group, group)
        try:
            runs.append(_runs(graph, blk, buckets=8))
        finally:
            sc.setJobGroup(None, None)
        tasks.append(_superstep_tasks(sc, group))
    assert tasks == [{4}, {3}, {1}]
    assert [len(packed._owned(8, 3, t)) for t in range(3)] == [3, 3, 2]
    # no checkpoint_dir, so one step call per kernel and run
    assert steps == ["pagerank/packed/superstep=100", "connected_components/packed/superstep=50",
                     "label_propagation/packed/superstep=7"] * 3
    assert runs[0]["pagerank"][0] > 1 and runs[0]["cc"][0] > 1
    assert runs[1] == runs[0] and runs[2] == runs[0]
    assert not os.path.exists(os.path.join(blk, "_bsp"))
    assert not os.path.exists(os.path.join(blk + "-sym", "_bsp"))


def test_one_job_per_checkpoint_interval(spark, graph, tmp_path, monkeypatch):
    """A run converging at superstep 13 with ``checkpoint_every=5`` runs
    three superstep jobs, described by their interval bounds; it records
    13 metrics with their own deltas and checkpoints 5 and 10 only; a
    resume from 10 reproduces its ranks bit for bit."""
    sc = spark.sparkContext
    steps = spy_step_descriptions(sc, monkeypatch)
    run, blk = tmp_path / "run", str(tmp_path / "blk")
    kw = dict(tol=TOL, strategy="packed", num_partitions=P, block_dir=blk,
              checkpoint_dir=str(run), checkpoint_every=5)
    sc.setJobGroup("barrier-intervals", "barrier-intervals")
    try:
        full = pagerank(graph, **kw)
    finally:
        sc.setJobGroup(None, None)
    assert full.converged and full.supersteps == 13
    assert steps == [f"pagerank/packed/superstep={i}" for i in (5, 10, 15)]
    store = sc._jsc.sc().statusStore()
    described = Counter()
    for job in sc.statusTracker().getJobIdsForGroup("barrier-intervals"):
        desc = store.job(job).description()
        if desc.isDefined() and desc.get().startswith("pagerank/packed/superstep="):
            described[int(desc.get().rsplit("=", 1)[1])] += 1
    # 5 and 10 also write their checkpoints; the last interval is one job
    assert sorted(described) == [5, 10, 15] and described[15] == 1

    assert [m["superstep"] for m in full.metrics] == list(range(1, 14))
    deltas = [m["delta"] for m in full.metrics]
    assert len(set(deltas)) == 13 and deltas[-1] < TOL <= deltas[-2]
    with open(run / "metrics.jsonl") as f:
        assert [json.loads(line) for line in f] == full.metrics
    assert sorted(p for p in os.listdir(run) if p.startswith("superstep=")) == [
        "superstep=00005", "superstep=00010"]
    ranks = sorted(ranks_df(full).collect())

    resumed = pagerank(graph, resume=True, **kw)
    assert resumed.supersteps == 13 and resumed.metrics[:10] == full.metrics[:10]
    assert sorted(ranks_df(resumed).collect()) == ranks
    assert not os.path.exists(os.path.join(blk, "_bsp"))


def test_interval_runs_one_python_stage(spark, graph, tmp_path, monkeypatch):
    """An interval's plan is the bucket tasks' map-side Arrow UDF and the
    exchange that routes their output to the next interval's tasks."""
    import re

    plans = []
    real_iterate = packed.iterate

    def spy(state0, step_fn, *args, **kwargs):
        def step(state, i):
            new = step_fn(state, i)
            plans.append(new._jdf.queryExecution().executedPlan().toString())
            return new
        return real_iterate(state0, step, *args, **kwargs)

    monkeypatch.setattr(packed, "iterate", spy)
    pagerank(graph, tol=0.0, max_supersteps=4, strategy="packed", num_partitions=P,
             block_dir=str(tmp_path / "blk"), checkpoint_dir=str(tmp_path / "run"),
             checkpoint_every=2)
    assert len(plans) == 2
    for plan in plans:
        # the carry is cached: the plan above its scan is the step alone
        step = plan.split("InMemoryTableScan")[0]
        assert re.findall(r"\b(?:FlatMapGroupsInArrow|MapInArrow)\b", step) == ["MapInArrow"]
        assert step.count("Exchange hashpartitioning(bucket") == 1


def test_empty_bucket_converges(spark, tmp_path):
    """A graph with fewer vertices than buckets leaves a bucket without
    vertices; its task still writes every step marker."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 2)]
    g = Graph.from_edge_list(spark, edges, n=3, directed=True)
    blk = str(tmp_path / "blk")
    res = pagerank(g, tol=1e-10, strategy="packed", num_partitions=P, block_dir=blk)
    assert res.converged
    want, _ = oracles.pagerank(edges, {1, 2, 3}, tol=1e-10)
    got = {r["id"]: r["rank"] for r in ranks_df(res).collect()}
    assert got.keys() == want.keys() and max(abs(got[v] - want[v]) for v in want) < 1e-9
    comps = connected_components(g, strategy="packed", num_partitions=P,
                                 block_dir=str(tmp_path / "sym"))
    assert sorted(components_df(comps).collect()) == [(1, 1), (2, 1), (3, 1)]
    g.unpersist()


def _replays_failed_interval(graph, tmp_path, part: int) -> None:
    """The task at partition ``part`` fails in its third combine, which
    fails the barrier stage; Spark retries the whole gang from the
    interval's input carry, and the run ends with the uninterrupted
    result byte for byte."""
    n = graph.num_vertices()
    spec = _packed_spec(n, 0.85, TOL, "float64")
    flag, calls = str(tmp_path / "failed"), str(tmp_path / "calls")
    real = spec.combine

    def combine(prev, msgs, scalar, vtx):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == part:
            with open(calls, "a") as f:
                f.write("x")
            if os.path.getsize(calls) == 3 and not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected failure mid-interval")
        return real(prev, msgs, scalar, vtx)

    blk = str(tmp_path / "blk")
    want = packed.run_packed(graph, spec, P, 100, blk, kernel="pagerank")
    got = packed.run_packed(graph, dataclasses.replace(spec, combine=combine), P, 100, blk,
                            kernel="pagerank")
    assert os.path.exists(flag) and os.path.getsize(calls) > 3
    assert got.supersteps == want.supersteps == 13
    assert [m["delta"] for m in got.metrics] == [m["delta"] for m in want.metrics]
    assert sorted(got.state.collect()) == sorted(want.state.collect())
    assert not os.path.exists(os.path.join(blk, "_bsp"))


def test_task_failure_mid_interval_replays_the_interval(spark, graph, tmp_path):
    """One bucket a task: the failure hits superstep 3."""
    _replays_failed_interval(graph, tmp_path, part=2)


def test_two_bucket_task_failure_replays_the_interval(spark, graph, tmp_path, monkeypatch):
    """Two slots for the 4 buckets: the failing task owns two buckets and
    fails in the first of them at superstep 2."""
    monkeypatch.setattr(packed, "task_slots", lambda spark: 2)
    _replays_failed_interval(graph, tmp_path, part=1)


def test_combine_ignores_row_order(spark, graph, tmp_path):
    """A bucket's combine applies its messages in ascending src bucket and
    sums its broadcast scalars exactly, so a row-permuted carry gives the
    same bytes. The scalars here sum to 2.0 in one order and 1.0 in the
    other when added left to right."""
    blk = str(tmp_path / "blk")
    n = graph.num_vertices()
    pagerank(graph, tol=0.0, max_supersteps=1, strategy="packed", num_partitions=P,
             block_dir=blk)
    spec = _packed_spec(n, 0.85, TOL, "float64")
    emit = packed._emitter(blk, P, spec.gather, spec.scalar)
    ids = [int(b) for b in partition_perfect_ids(P)]
    rng = np.random.default_rng(0)
    tables = []
    for b in ids:
        vtx = load_vertices(blk, b)
        state = rng.random(len(vtx["ids"])) / n
        tables.append(emit(b, state, vtx, (math.inf, 0.0, len(state))))
    carry = pa.concat_tables(tables)
    c = ids[0]
    mine = carry.filter(pc.equal(carry.column("bucket"), c))
    scalar_rows = np.flatnonzero(mine.column("src_bucket").to_numpy() == -2)
    assert len(scalar_rows) == P
    payload = mine.column("payload").to_pylist()
    for row, v in zip(scalar_rows, (1e16, 1.0, -1e16, 1.0)):
        payload[row] = np.float64(v).tobytes()
    mine = mine.set_column(2, "payload", pa.array(payload, pa.binary()))
    assert math.fsum([1e16, 1.0, -1e16, 1.0]) != ((1e16 + 1.0) - 1e16) + 1.0
    step = packed._combiner(blk, P, spec.combine)
    vtx, dt = load_vertices(blk, c), np.dtype(spec.dtype)

    def superstep(table):
        new, *aggs = step(c, vtx, *packed._carry_inputs(table.to_batches(), dt)[c])
        return emit(c, new, vtx, aggs)

    a = superstep(mine)
    for seed in range(3):
        perm = np.random.default_rng(seed).permutation(mine.num_rows)
        assert superstep(mine.take(perm)).equals(a)


@pytest.mark.parametrize("buckets", [1, P])
def test_packed_on_isolated_vertices_matches_oracles(spark, tmp_path, buckets):
    """An edge-less graph writes no block file; its block dir still
    validates, and every kernel leaves the vertices on their own."""
    g = Graph.from_edge_list(spark, [], n=3, directed=True)
    kw = dict(strategy="packed", num_partitions=buckets)
    vertices = {1, 2, 3}
    want, _ = oracles.pagerank([], vertices)
    got = {r["id"]: r["rank"] for r in ranks_df(pagerank(g, block_dir=str(tmp_path / "d"),
                                                         **kw)).collect()}
    assert got.keys() == want.keys() and max(abs(got[v] - want[v]) for v in want) < 1e-12
    sym = str(tmp_path / "s")
    comps = connected_components(g, block_dir=sym, **kw)
    assert dict(components_df(comps).collect()) == oracles.connected_components([], vertices)
    labels = label_propagation(g, block_dir=sym, **kw)
    assert dict(labels_df(labels).collect()) == oracles.label_propagation([], vertices)[0]
    g.unpersist()


def test_dynamic_allocation_runs_packed_in_one_task(spark, tmp_path, monkeypatch):
    """Without task slots (dynamic allocation refuses barrier stages)
    ``auto`` keeps an at-scale graph off the packed path, and an explicit
    ``packed`` runs all its buckets in one task."""
    monkeypatch.setattr(packed, "task_slots", lambda spark: 0)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (5, 6)]
    g = Graph.from_edge_list(spark, edges, n=6, directed=True)
    assert packed.resolve_strategy(g, "auto", 6, P, False, None, sym=False) == ("dataframe", P)
    assert packed.resolve_strategy(g, "auto", 6, 1, False, None, sym=False) == ("packed", 1)
    sc = spark.sparkContext
    sc.setJobGroup("no-slots", "no-slots")
    try:
        res = pagerank(g, tol=1e-10, strategy="packed", num_partitions=P,
                       block_dir=str(tmp_path / "blk"))
    finally:
        sc.setJobGroup(None, None)
    assert _superstep_tasks(sc, "no-slots") == {1}
    want, _ = oracles.pagerank(edges, set(range(1, 7)), tol=1e-10)
    got = {r["id"]: r["rank"] for r in ranks_df(res).collect()}
    assert got.keys() == want.keys() and max(abs(got[v] - want[v]) for v in want) < 1e-9
    g.unpersist()
