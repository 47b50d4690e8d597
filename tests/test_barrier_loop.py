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
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest
from pyspark import TaskContext

from conftest import spy_step_descriptions
from graftpark import oracles, packed
from graftpark.blocks import bucket_col
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
    # the tasks write checkpoints 5 and 10 themselves: every interval is one job
    assert described == {5: 1, 10: 1, 15: 1}

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
        assert step.count("Exchange hashpartitioning(element_at(") == 1


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


def _checkpoint_files(run) -> dict:
    """``{path: bytes}`` of every file in the run's superstep dirs."""
    return {str(f.relative_to(run)): f.read_bytes()
            for f in sorted(run.glob("superstep=*/**/*")) if f.is_file()}


def _replays_failed_interval(graph, tmp_path, part: int) -> None:
    """The task at partition ``part`` fails in its third combine, inside
    the first checkpoint interval, which fails the barrier stage; Spark
    retries the whole gang from the interval's input carry, and the run
    ends with the uninterrupted result byte for byte. Its tasks write the
    same checkpoint files with the same bytes: one part a task, the
    lineage and one ``_SUCCESS`` per checkpoint, and no tmp file."""
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
    want = packed.run_packed(graph, spec, P, 100, blk, str(tmp_path / "want"), kernel="pagerank")
    got = packed.run_packed(graph, dataclasses.replace(spec, combine=combine), P, 100, blk,
                            str(tmp_path / "got"), kernel="pagerank")
    assert os.path.exists(flag) and os.path.getsize(calls) > 3
    assert got.supersteps == want.supersteps == 13
    assert [m["delta"] for m in got.metrics] == [m["delta"] for m in want.metrics]
    assert sorted(got.state.collect()) == sorted(want.state.collect())
    assert not os.path.exists(os.path.join(blk, "_bsp"))
    files = _checkpoint_files(tmp_path / "got")
    tasks = min(P, packed.task_slots(graph.spark))
    assert sorted(files) == sorted(
        f"superstep={i:05d}/{name}" for i in (5, 10) for name in
        ["lineage.json", "state/_SUCCESS"] + [f"state/part-{t:05d}.parquet" for t in range(tasks)])
    assert files == _checkpoint_files(tmp_path / "want")


def test_task_failure_mid_interval_replays_the_interval(spark, graph, tmp_path):
    """One bucket a task: the failure hits superstep 3."""
    _replays_failed_interval(graph, tmp_path, part=2)


def test_two_bucket_task_failure_replays_the_interval(spark, graph, tmp_path, monkeypatch):
    """Two slots for the 4 buckets: the failing task owns two buckets and
    fails in the first of them at superstep 2."""
    monkeypatch.setattr(packed, "task_slots", lambda spark: 2)
    _replays_failed_interval(graph, tmp_path, part=1)


def test_combine_ignores_row_order(spark, graph, tmp_path, monkeypatch):
    """A task sorts its carried rows by (bucket, id), applies each
    bucket's messages in ascending src bucket and sums the broadcast
    scalars exactly, so a row-permuted per-vertex carry gives the same
    bytes. The scalars here, one per bucket in bucket order, sum to 2.0
    exactly and to 1.0 left to right."""
    blk = str(tmp_path / "blk")
    n = graph.num_vertices()
    pagerank(graph, tol=0.0, max_supersteps=1, strategy="packed", num_partitions=P,
             block_dir=blk)
    scalars = (1e16, 1.0, -1e16, 1.0)
    assert math.fsum(scalars) != ((1e16 + 1.0) - 1e16) + 1.0
    rows = sorted(graph.vertices().select(bucket_col("id", P), "id").collect())
    bucket, ids = (np.array(c) for c in zip(*rows))
    first = np.r_[True, bucket[1:] != bucket[:-1]]
    assert first.sum() == P
    by_first_id = dict(zip(ids[first].tolist(), scalars))
    real = _packed_spec(n, 0.85, TOL, "float64")
    seen = []

    def combine(prev, msgs, scalar, lay):
        seen.append(scalar)
        return real.combine(prev, msgs, scalar, lay)

    spec = dataclasses.replace(real, combine=combine,
                               scalar=lambda state, lay: by_first_id[int(lay["ids"][0])])
    # one task owns every bucket: it runs in this process and exchanges nothing
    monkeypatch.setattr(TaskContext, "get", lambda: SimpleNamespace(partitionId=lambda: 0))
    fn = packed._interval_fn(blk, P, 1, spec, str(tmp_path / "bsp"), 1, 3, lambda *total: False)
    carry = pa.table({"id": ids, "rank": np.random.default_rng(0).random(len(ids)) / n,
                      "bucket": bucket.astype(np.int32)})

    def interval(table):
        return pa.Table.from_batches(list(fn(table.to_batches(max_chunksize=1000))))

    a = interval(carry)
    assert seen == [2.0] * (3 * P)
    assert a.column("id").to_numpy().tolist() == ids.tolist()
    for seed in range(3):
        perm = np.random.default_rng(seed).permutation(carry.num_rows)
        assert interval(carry.take(perm)).equals(a)


@pytest.mark.parametrize("buckets", [1, P])
def test_result_outlives_the_graph(spark, buckets):
    """A packed result is materialized, not read from the graph's own
    block dir: it keeps its rows after ``graph.unpersist()``."""
    g = Graph.from_edge_list(spark, [(1, 2), (2, 3), (3, 1), (3, 4)], n=4, directed=True)
    res = pagerank(g, tol=1e-10, strategy="packed", num_partitions=buckets)
    g.unpersist()
    assert ranks_df(res).count() == 4


def _graph(spark, edges, vertices):
    return Graph(spark.createDataFrame(edges, "src long, dst long"),
                 vertices=spark.createDataFrame([(v,) for v in sorted(vertices)], "id long"))


@pytest.mark.parametrize("buckets", [1, P])
def test_vertex_set_missing_an_edge_endpoint_fails(spark, tmp_path, buckets):
    """A vertex set that leaves out an edge endpoint is refused, naming
    the block dir: vertex 1's rank once went to vertex 3 in one bucket,
    and was lost in four."""
    g = _graph(spark, [(1, 2)], {1, 3})
    blk = str(tmp_path / "blk")
    with pytest.raises(Exception, match="misses edge") as err:
        pagerank(g, strategy="packed", num_partitions=buckets, block_dir=blk)
    assert blk in str(err.value)
    g.unpersist()


@pytest.mark.parametrize("buckets", [1, P])
def test_resume_from_another_vertex_set_fails(spark, tmp_path, buckets):
    """A checkpoint of another vertex set with the same edges is refused
    on resume, whichever of the two sets wrote it."""
    edges = [(1, 2), (2, 3), (3, 1), (3, 2)]
    kw = dict(tol=0.0, strategy="packed", num_partitions=buckets, checkpoint_every=5)
    for saved, resumed in (({1, 2, 3, 4}, {1, 2, 3, 5}), ({1, 2, 3, 5}, {1, 2, 3, 4})):
        run = str(tmp_path / f"run-{max(saved)}")
        g = _graph(spark, edges, saved)
        pagerank(g, max_supersteps=5, checkpoint_dir=run, block_dir=str(tmp_path / "a"), **kw)
        g.unpersist()
        g = _graph(spark, edges, resumed)
        with pytest.raises(ValueError, match="another vertex set"):
            pagerank(g, max_supersteps=10, checkpoint_dir=run, resume=True,
                     block_dir=str(tmp_path / "b"), **kw)
        g.unpersist()


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
