"""The one-bucket packed loop (graftpark/packed.py): with one bucket a
superstep task feeds its own carry back into its combine, so a Spark job
runs every superstep of a checkpoint interval. Supersteps, metrics,
checkpoints and results stay those of one superstep per job."""

import json
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest

from conftest import spy_step_descriptions
from graftpark import packed
from graftpark.blocks import ensure_edge_blocks, partition_perfect_ids
from graftpark.fixtures import powerlaw_edges_pdf
from graftpark.graph import Graph
from graftpark.kernels.components import components_df, connected_components
from graftpark.kernels.labelprop import label_propagation, labels_df
from graftpark.kernels.pagerank import pagerank, ranks_df

#: the powerlaw graph below converges at superstep 13 with this tol
TOL = 3e-4


@pytest.fixture(scope="module")
def graph(spark):
    return Graph(spark.createDataFrame(powerlaw_edges_pdf(20000, 3000, seed=7)))


def _ranks(res):
    return {r["id"]: r["rank"] for r in ranks_df(res).collect()}


def test_auto_takes_one_bucket(spark, graph):
    n = graph.num_vertices()
    assert packed.resolve_strategy(graph, "auto", n, 4, None, None, sym=False) == ("packed", 1)
    # an explicit strategy keeps the caller's bucket count
    assert packed.resolve_strategy(graph, "packed", n, 4, None, None, sym=False) == ("packed", 4)
    assert packed.resolve_strategy(graph, "auto", n, 4, False, None, sym=False) == ("packed", 4)


def test_auto_falls_back_to_dataframe_above_edge_limit(spark, graph, monkeypatch):
    monkeypatch.setattr(packed, "ONE_BUCKET_MAX_EDGES", graph.edge_stats(sym=True)[0] - 1)
    n = graph.num_vertices()
    assert packed.resolve_strategy(graph, "auto", n, 4, None, None, sym=True) == ("dataframe", 4)


def test_one_bucket_blocks_read_back_in_csr_order(spark, graph, tmp_path):
    """One bucket's edges are range-sorted by every task and written as
    files named in range order, so the bucket reads back in (dst, src)
    order and the worker need not sort it; a matching dir is reused."""
    d = str(tmp_path / "blk")
    stats = graph.edge_stats()
    ensure_edge_blocks(graph.edges, 1, d, stats=stats)
    bucket = os.path.join(d, f"src_bucket={partition_perfect_ids(1)[0]}")
    assert len([f for f in os.listdir(bucket) if f.endswith(".parquet")]) > 1
    t = pq.read_table(bucket)
    src, dst = t.column("src").to_numpy(), t.column("dst").to_numpy()
    assert len(dst) == stats[0]
    assert np.all((dst[1:] > dst[:-1]) | ((dst[1:] == dst[:-1]) & (src[1:] > src[:-1])))
    with open(os.path.join(d, "meta.json")) as f:
        token = json.load(f)["token"]
    ensure_edge_blocks(graph.edges, 1, d, stats=stats)
    with open(os.path.join(d, "meta.json")) as f:
        assert json.load(f)["token"] == token


def test_edgeless_graph_keeps_dataframe_path(spark):
    """A graph without edges has no blocks to build: ``auto`` runs it on
    the dataframe path, and every vertex keeps its own component and label."""
    g = Graph.from_edge_list(spark, [], n=3, directed=True)
    assert packed.resolve_strategy(g, "auto", 3, 4, None, None, sym=True) == ("dataframe", 4)
    assert sorted(components_df(connected_components(g)).collect()) == [(1, 1), (2, 2), (3, 3)]
    assert sorted(labels_df(label_propagation(g)).collect()) == [(1, 1), (2, 2), (3, 3)]
    g.unpersist()


def test_one_job_per_checkpoint_interval(spark, graph, tmp_path, monkeypatch):
    """A run converging at superstep 13 with ``checkpoint_every=5`` runs
    three superstep jobs, described by their interval bounds; it records
    13 metrics with their own deltas and checkpoints 5 and 10 only; a
    resume from 10 reproduces its ranks bit for bit."""
    sc = spark.sparkContext
    steps = spy_step_descriptions(sc, monkeypatch)
    run = tmp_path / "run"
    sc.setJobGroup("one-bucket-intervals", "one-bucket-intervals")
    try:
        full = pagerank(graph, tol=TOL, checkpoint_dir=str(run), checkpoint_every=5)
    finally:
        sc.setJobGroup(None, None)
    assert full.converged and full.supersteps == 13
    assert steps == [f"pagerank/packed/superstep={i}" for i in (5, 10, 15)]
    store = sc._jsc.sc().statusStore()
    described = Counter()
    for job in sc.statusTracker().getJobIdsForGroup("one-bucket-intervals"):
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

    ref = pagerank(graph, tol=TOL, strategy="dataframe")
    assert ref.supersteps == 13
    assert [m["delta"] for m in ref.metrics] == pytest.approx(deltas, abs=1e-12)
    a, b = _ranks(ref), _ranks(full)
    assert a.keys() == b.keys() and max(abs(a[v] - b[v]) for v in a) < 1e-12

    resumed = pagerank(graph, tol=TOL, checkpoint_dir=str(run), checkpoint_every=5, resume=True)
    assert resumed.supersteps == 13 and resumed.metrics[:10] == full.metrics[:10]
    assert _ranks(resumed) == b


def test_max_supersteps_inside_an_interval(spark, graph, monkeypatch):
    """Without a ``checkpoint_dir`` nothing needs a durable point: the
    whole run is one step call, which stops at exactly ``max_supersteps``."""
    steps = spy_step_descriptions(spark.sparkContext, monkeypatch)
    res = pagerank(graph, tol=0.0, max_supersteps=7)
    assert steps == ["pagerank/packed/superstep=7"]
    assert res.supersteps == 7 and not res.converged
    assert [m["superstep"] for m in res.metrics] == list(range(1, 8))
    ref = pagerank(graph, tol=0.0, max_supersteps=7, strategy="dataframe")
    a, b = _ranks(ref), _ranks(res)
    assert max(abs(a[v] - b[v]) for v in a) < 1e-12


@pytest.mark.parametrize("strategy", ["auto", "dataframe"])
def test_resume_with_another_checkpoint_interval(spark, graph, tmp_path, strategy):
    """Intervals end on multiples of the current ``checkpoint_every``, so a
    one-bucket run checkpointed at 4 resumes with ``checkpoint_every=3``
    through supersteps 5-6 and 7-9 to the same ranks. The dataframe
    reference resumes through the same checkpoints, its dangling mass
    restored from the metrics record of superstep 4."""
    run = tmp_path / "run"
    full = _ranks(pagerank(graph, tol=0.0, max_supersteps=9, strategy=strategy))
    pagerank(graph, tol=0.0, max_supersteps=4, checkpoint_dir=str(run), checkpoint_every=4,
             strategy=strategy)
    resumed = pagerank(graph, tol=0.0, max_supersteps=9, checkpoint_dir=str(run),
                       checkpoint_every=3, resume=True, strategy=strategy)
    assert resumed.supersteps == 9
    assert [m["superstep"] for m in resumed.metrics] == list(range(1, 10))
    assert sorted(p for p in os.listdir(run) if p.startswith("superstep=")) == [
        "superstep=00004", "superstep=00006", "superstep=00009"]
    got = _ranks(resumed)
    if strategy == "auto":
        assert got == full
    else:
        assert got.keys() == full.keys() and max(abs(got[v] - full[v]) for v in got) < 1e-12


def test_components_and_labels_match_dataframe(spark, graph):
    a = connected_components(graph, strategy="dataframe")
    b = connected_components(graph)
    assert b.supersteps == a.supersteps and b.converged
    assert ({r["id"]: r["comp"] for r in components_df(b).collect()}
            == {r["id"]: r["comp"] for r in components_df(a).collect()})
    a = label_propagation(graph, strategy="dataframe", max_supersteps=7)
    b = label_propagation(graph, max_supersteps=7)
    assert b.supersteps == a.supersteps
    assert [m["active"] for m in b.metrics] == [m["active"] for m in a.metrics]
    assert ({r["id"]: r["label"] for r in labels_df(b).collect()}
            == {r["id"]: r["label"] for r in labels_df(a).collect()})
