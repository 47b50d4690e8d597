"""The interval loop of the packed engine (graftpark/packed.py) with more
than one bucket: a checkpoint interval's bucket tasks run as one barrier
stage and swap messages through files in the block dir, so a Spark job
runs every superstep of the interval. Results, supersteps, metrics and
checkpoints stay those of the fused loop, which runs one bucket-keyed
shuffle per superstep."""

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


def _runs(graph, blk: str) -> dict:
    """PageRank to tol, CC and LP on ``P`` buckets: (supersteps, metrics
    deltas, sorted result rows) per kernel."""
    out = {}
    for name, run, rows in (
        ("pagerank", lambda: pagerank(graph, tol=TOL, strategy="packed", num_partitions=P,
                                      block_dir=blk), ranks_df),
        ("cc", lambda: connected_components(graph, strategy="packed", num_partitions=P,
                                            block_dir=blk + "-sym"), components_df),
        ("lp", lambda: label_propagation(graph, strategy="packed", num_partitions=P,
                                         max_supersteps=7, block_dir=blk + "-sym"), labels_df),
    ):
        res = run()
        out[name] = (res.supersteps, [m["delta"] for m in res.metrics], sorted(rows(res).collect()))
    return out


def test_interval_loop_is_byte_identical_to_fused_loop(spark, graph, tmp_path, monkeypatch):
    blk = str(tmp_path / "blk")
    steps = spy_step_descriptions(spark.sparkContext, monkeypatch)
    interval = _runs(graph, blk)
    # one step call per kernel: no checkpoint_dir, so one interval per run
    assert steps == ["pagerank/packed/superstep=100", "connected_components/packed/superstep=50",
                     "label_propagation/packed/superstep=7"]
    monkeypatch.setattr(packed, "task_slots", lambda spark: P - 1)
    fused = _runs(graph, blk)
    assert len(steps) > 3 + interval["pagerank"][0]
    assert interval["pagerank"][0] == 13 and interval["cc"][0] > 1
    assert interval == fused
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


def test_task_failure_mid_interval_replays_the_interval(spark, graph, tmp_path):
    """A bucket task that fails at superstep 3 fails the barrier stage;
    Spark retries the whole gang from the interval's input carry, and the
    run ends with the uninterrupted result byte for byte."""
    n = graph.num_vertices()
    spec = _packed_spec(n, 0.85, TOL, "float64")
    flag, calls = str(tmp_path / "failed"), str(tmp_path / "calls")
    real = spec.combine

    def combine(prev, msgs, scalar, vtx):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == 2:
            with open(calls, "a") as f:
                f.write("x")
            if os.path.getsize(calls) == 3 and not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected failure at superstep 3")
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
    fn = packed._superstep_fn(blk, P, spec.dtype, spec.combine, emit)
    key = (pa.scalar(c, pa.int32()),)
    a = fn(key, mine)
    for seed in range(3):
        perm = np.random.default_rng(seed).permutation(mine.num_rows)
        assert fn(key, mine.take(perm)).equals(a)


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
