"""Durable checkpoints of the DataFrame loops (graftpark/loop.py): the job
that materializes a checkpoint superstep's state also writes its parts
(``Checkpointer.parts``), and the loop commits them after recording the
superstep's metrics. Resumes end as uninterrupted runs do, a driver that
dies between the parts and the metrics leaves no resume point without
its record, and a checkpoint adds no Spark job."""

import math

import pytest

from graftpark.fixtures import barabasi_albert, grid_2d, powerlaw_edges_pdf
from graftpark.graph import Graph
from graftpark.kernels.components import (
    components_df,
    connected_components,
    connected_components_twophase,
)
from graftpark.kernels.labelprop import label_propagation, labels_df
from graftpark.kernels.pagerank import pagerank, ranks_df
from graftpark.loop import Checkpointer

#: PageRank on the powerlaw graph below converges at superstep 11 with this tol
TOL = 2e-3


@pytest.fixture(scope="module")
def powerlaw(spark):
    g = Graph(spark.createDataFrame(powerlaw_edges_pdf(2000, 300, seed=7)))
    yield g
    g.unpersist()


@pytest.fixture(scope="module")
def grid(spark):
    """CC converges at superstep 12 on it, and LP runs to its cap of 20."""
    g = Graph.from_edge_list(spark, grid_2d(4, 9), n=36, directed=False)
    yield g
    g.unpersist()


def _table(df, col: str) -> dict:
    return {r["id"]: r[col] for r in df.collect()}


def _kernel(name: str, powerlaw, grid):
    """``(graph, run(**kw), result table)`` of a kernel on the dataframe path."""
    if name == "pagerank":
        return powerlaw, lambda **kw: pagerank(powerlaw, tol=TOL, **kw), \
            lambda res: _table(ranks_df(res), "rank")
    if name == "cc":
        return grid, lambda **kw: connected_components(grid, **kw), \
            lambda res: _table(components_df(res), "comp")
    return grid, lambda **kw: label_propagation(grid, **kw), \
        lambda res: _table(labels_df(res), "label")


@pytest.mark.parametrize("broadcast_state", [True, False], ids=["broadcast", "copartitioned"])
@pytest.mark.parametrize("name", ["pagerank", "cc", "lp"])
def test_dataframe_resume_matches_uninterrupted(spark, powerlaw, grid, tmp_path, name,
                                                broadcast_state):
    """Stopped at superstep 7 with ``checkpoint_every=5``, a resume from 5
    ends where the uninterrupted run does: CC and LP exactly, PageRank
    within 1e-12, with every superstep's metrics once."""
    graph, run, table = _kernel(name, powerlaw, grid)
    kw = dict(strategy="dataframe", broadcast_state=broadcast_state)
    ckpt = dict(checkpoint_dir=str(tmp_path / "run"), checkpoint_every=5)
    want = run(**kw)
    assert want.supersteps > 7
    run(max_supersteps=7, **ckpt, **kw)
    assert Checkpointer(ckpt["checkpoint_dir"]).latest() == 5
    got = run(resume=True, **ckpt, **kw)
    assert got.supersteps == want.supersteps and got.converged == want.converged
    assert [m["superstep"] for m in got.metrics] == list(range(1, want.supersteps + 1))
    assert Checkpointer(ckpt["checkpoint_dir"]).load_metrics() == got.metrics
    a, b = table(want), table(got)
    if name == "pagerank":
        assert a.keys() == b.keys() and max(abs(a[v] - b[v]) for v in a) < 1e-12
    else:
        assert a == b


def _dies_recording(monkeypatch, superstep: int) -> None:
    """``Checkpointer.record_metrics`` raises once, at ``superstep``."""
    real, died = Checkpointer.record_metrics, []

    def record_metrics(self, rec):
        if rec["superstep"] == superstep and not died:
            died.append(rec)
            raise RuntimeError("driver killed")
        real(self, rec)

    monkeypatch.setattr(Checkpointer, "record_metrics", record_metrics)


def test_pagerank_driver_failure_before_commit_resumes_exactly(spark, powerlaw, tmp_path,
                                                                monkeypatch):
    """The driver dies while it records superstep 5's metrics, after the
    job wrote checkpoint 5's parts. Superstep 5 is not committed, so the
    resume starts over and ends with the uninterrupted ranks, summing to
    1, and metrics 1..8 once each."""
    kw = dict(tol=0.0, max_supersteps=8, strategy="dataframe")
    run = str(tmp_path / "run")
    want = pagerank(powerlaw, **kw)
    _dies_recording(monkeypatch, 5)
    with pytest.raises(RuntimeError, match="driver killed"):
        pagerank(powerlaw, checkpoint_dir=run, checkpoint_every=5, **kw)
    assert Checkpointer(run).latest() is None
    got = pagerank(powerlaw, checkpoint_dir=run, checkpoint_every=5, resume=True, **kw)
    assert got.supersteps == 8
    assert [m["superstep"] for m in got.metrics] == list(range(1, 9))
    assert Checkpointer(run).load_metrics() == got.metrics
    a, b = _table(ranks_df(want), "rank"), _table(ranks_df(got), "rank")
    assert a.keys() == b.keys() and max(abs(a[v] - b[v]) for v in a) < 1e-12
    assert abs(math.fsum(b.values()) - 1.0) < 1e-12


def test_twophase_cc_driver_failure_before_commit_resumes_exactly(spark, powerlaw, tmp_path,
                                                                   monkeypatch):
    """Two-phase CC checkpointed every round: the driver dies recording
    round 2, so the resume starts from round 1 and records 2 again."""
    run = str(tmp_path / "run")
    want = connected_components_twophase(powerlaw)
    assert want.supersteps >= 3
    _dies_recording(monkeypatch, 2)
    with pytest.raises(RuntimeError, match="driver killed"):
        connected_components_twophase(powerlaw, checkpoint_dir=run, checkpoint_every=1)
    assert Checkpointer(run).latest() == 1
    got = connected_components_twophase(powerlaw, checkpoint_dir=run, checkpoint_every=1,
                                        resume=True)
    assert got.supersteps == want.supersteps and got.converged
    assert [m["superstep"] for m in got.metrics] == list(range(1, want.supersteps + 1))
    assert Checkpointer(run).load_metrics() == got.metrics
    assert _table(got.state, "comp") == _table(want.state, "comp")


def _jobs(sc, group: str, run) -> int:
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoints_add_no_spark_job(spark, tmp_path):
    """A checkpoint superstep's parts are written by the job that
    materializes its state: dataframe PageRank checkpointed every 5
    supersteps, and two-phase CC every round, run no more Spark jobs
    than without a ``checkpoint_dir``."""
    g = Graph.from_edge_list(spark, barabasi_albert(3000, 8, seed=42), n=3000, directed=True)
    sc = spark.sparkContext
    runs = {
        # 13 supersteps: checkpoints at 5 and 10
        "pagerank": lambda **kw: pagerank(g, strategy="dataframe", **kw),
        "twophase": lambda **kw: connected_components_twophase(g, **kw),
    }
    for name, run in runs.items():
        run()  # warm: the graph's persisted tables are built once
        plain = _jobs(sc, f"{name}-plain", run)
        ckpt = _jobs(sc, f"{name}-ckpt", lambda: run(
            checkpoint_dir=str(tmp_path / name), checkpoint_every=1 if name == "twophase" else 5))
        assert Checkpointer(str(tmp_path / name)).latest() is not None
        assert ckpt <= plain, (name, ckpt, plain)
    g.unpersist()
