"""The packed CSR-block strategy (north_star execution path) matches the
pure-DataFrame reference formulation.

The DataFrame kernels are the semantic spec (SURVEY.md §2.7-2.8); the
packed path (graftpark/packed.py over graftpark/blocks.py) must agree to
float tolerance (sum order differs) / exactly (min and mode semirings).
"""

import pytest

from graftpark.fixtures import G6_TWO_COMP, G30_HUB, powerlaw_edges_pdf
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components
from graftpark.kernels.labelprop import label_propagation
from graftpark.kernels.pagerank import pagerank


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


def _comps(res):
    return {r["id"]: r["comp"] for r in res.state.select("id", "comp").collect()}


@pytest.fixture(scope="module")
def powerlaw_graph(spark):
    pdf = powerlaw_edges_pdf(20000, 3000, seed=7)
    return Graph(spark.createDataFrame(pdf))


@pytest.fixture
def fused(monkeypatch):
    """Run packed kernels on the fused loop, which a session takes only
    when it has fewer task slots than buckets."""
    from graftpark import packed

    monkeypatch.setattr(packed, "task_slots", lambda spark: 0)


def test_pagerank_packed_matches_dataframe_fixture(spark, tmp_path):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    a = _ranks(pagerank(g, strategy="dataframe", max_supersteps=30, tol=1e-4))
    b = _ranks(pagerank(g, strategy="packed", max_supersteps=30, tol=1e-4,
                        block_dir=str(tmp_path / "blk")))
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-9


def test_pagerank_packed_matches_dataframe(spark, powerlaw_graph, tmp_path):
    a = _ranks(pagerank(powerlaw_graph, strategy="dataframe", max_supersteps=25))
    b = _ranks(pagerank(powerlaw_graph, strategy="packed", max_supersteps=25,
                        block_dir=str(tmp_path / "blk")))
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-9
    assert abs(sum(b.values()) - 1.0) < 1e-9


def test_pagerank_packed_fused_steps_match(spark, powerlaw_graph, tmp_path, fused):
    """``steps_per_job=4`` chains four supersteps into one query; the
    finish derives the damping base from the broadcast dangling mass, so
    the fused run equals one job per superstep."""
    blk = str(tmp_path / "blk")
    a = _ranks(pagerank(powerlaw_graph, strategy="packed", max_supersteps=12, tol=0.0,
                        block_dir=blk))
    c = pagerank(powerlaw_graph, strategy="packed", max_supersteps=12, tol=0.0,
                 block_dir=blk, steps_per_job=4)
    assert c.supersteps == 12 and [m["superstep"] for m in c.metrics] == list(range(1, 13))
    c = _ranks(c)
    assert set(a) == set(c)
    assert max(abs(a[k] - c[k]) for k in a) < 1e-12


def test_pagerank_packed_checkpoint_resume(spark, powerlaw_graph, tmp_path):
    run_dir, blk = str(tmp_path / "run"), str(tmp_path / "blk")
    full = pagerank(powerlaw_graph, strategy="packed", max_supersteps=8, tol=0.0,
                    block_dir=blk)
    pagerank(powerlaw_graph, strategy="packed", max_supersteps=4, tol=0.0, block_dir=blk,
             checkpoint_dir=run_dir, checkpoint_every=4)
    resumed = pagerank(powerlaw_graph, strategy="packed", max_supersteps=8, tol=0.0,
                       block_dir=blk, checkpoint_dir=run_dir, checkpoint_every=4,
                       resume=True)
    a, b = _ranks(full), _ranks(resumed)
    assert resumed.supersteps == 8
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_pagerank_packed_checkpoint_resume_replays_metrics(spark, tmp_path):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    run_dir = str(tmp_path / "run")
    blk = str(tmp_path / "blk")
    full = pagerank(g, strategy="packed", max_supersteps=12, tol=0.0, block_dir=blk)
    # partial run to superstep 6 (checkpoint_every=3 → durable at 3 and 6)
    pagerank(g, strategy="packed", max_supersteps=6, tol=0.0, block_dir=blk,
             checkpoint_dir=run_dir, checkpoint_every=3)
    resumed = pagerank(g, strategy="packed", max_supersteps=12, tol=0.0, block_dir=blk,
                       checkpoint_dir=run_dir, checkpoint_every=3, resume=True)
    assert resumed.metrics[0]["superstep"] == 1  # metrics replayed from file
    assert resumed.supersteps == 12
    a, b = _ranks(full), _ranks(resumed)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_pagerank_packed_resume_across_steps_per_job(spark, powerlaw_graph, tmp_path, fused):
    """Checkpoint dirs and metrics records count supersteps, not fused
    jobs, so a ``steps_per_job=4`` run stopped at superstep 8 resumes, with
    either job width, to the ranks of an uninterrupted 12-superstep run."""
    import json
    import os
    import shutil

    blk = str(tmp_path / "blk")
    full = _ranks(pagerank(powerlaw_graph, strategy="packed", max_supersteps=12, tol=0.0,
                           block_dir=blk, steps_per_job=4))
    run_dir = tmp_path / "run"
    pagerank(powerlaw_graph, strategy="packed", max_supersteps=8, tol=0.0, block_dir=blk,
             steps_per_job=4, checkpoint_dir=str(run_dir), checkpoint_every=5)
    dirs = sorted(p for p in os.listdir(run_dir) if p.startswith("superstep="))
    assert dirs == ["superstep=00008"]
    with open(run_dir / "metrics.jsonl") as f:
        assert [json.loads(line)["superstep"] for line in f] == [4, 8]
    for k in (4, 1):
        resume_dir = str(tmp_path / f"resume-k{k}")
        shutil.copytree(run_dir, resume_dir)
        resumed = pagerank(powerlaw_graph, strategy="packed", max_supersteps=12, tol=0.0,
                           block_dir=blk, steps_per_job=k, checkpoint_dir=resume_dir,
                           checkpoint_every=5, resume=True)
        assert resumed.supersteps == 12
        assert [m["superstep"] for m in resumed.metrics] == list(range(1, 13))
        assert _ranks(resumed) == full


def test_packed_superstep_runs_one_python_stage(spark, tmp_path, monkeypatch, fused):
    """Each bucket's finish emits its next gather in the same task, so
    a fused-loop superstep's plan holds one grouped Arrow UDF and no
    map-side one."""
    import re

    from graftpark import packed

    plans = []
    real_iterate = packed.iterate

    def spy(state0, step_fn, *args, **kwargs):
        def step(state, i):
            new = step_fn(state, i)
            plans.append(new._jdf.queryExecution().executedPlan().toString())
            return new
        return real_iterate(state0, step, *args, **kwargs)

    monkeypatch.setattr(packed, "iterate", spy)
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    pagerank(g, strategy="packed", max_supersteps=2, tol=0.0, block_dir=str(tmp_path / "blk"))
    # superstep 2 starts from a local checkpoint, so the plan is the step alone
    udfs = re.findall(r"\b(?:FlatMapGroupsInArrow|MapInArrow)\b", plans[-1])
    assert udfs == ["FlatMapGroupsInArrow"]


def test_pagerank_packed_float32_payloads(spark, powerlaw_graph, tmp_path):
    """float32 payloads (the DRAM-bandwidth lever for high-core scaling)
    agree with the float64 dataframe path to float32 resolution."""
    a = _ranks(pagerank(powerlaw_graph, strategy="dataframe", max_supersteps=20, tol=1e-6))
    b = _ranks(pagerank(powerlaw_graph, strategy="packed", max_supersteps=20, tol=1e-6,
                        block_dir=str(tmp_path / "blk"), payload_dtype="float32"))
    assert set(a) == set(b)
    # ranks are ~1/n ≈ 3e-4; float32 mantissa gives ~1e-7 relative
    assert max(abs(a[k] - b[k]) for k in a) < 5e-7
    assert abs(sum(b.values()) - 1.0) < 1e-4


def test_cc_packed_matches_dataframe(spark, powerlaw_graph, tmp_path):
    """Packed min-semiring CC (static int64 messages) equals the
    dataframe formulation exactly."""
    a = _comps(connected_components(powerlaw_graph, strategy="dataframe"))
    b = _comps(connected_components(powerlaw_graph, strategy="packed",
                                    block_dir=str(tmp_path / "blk")))
    assert a == b


def test_cc_packed_two_components(spark, tmp_path):
    n, directed, edges = G6_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    b = _comps(connected_components(g, strategy="packed", block_dir=str(tmp_path / "blk")))
    assert b == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}


def test_lp_packed_matches_dataframe(spark, powerlaw_graph, tmp_path):
    """Packed mode-semiring LP (variable-length label-count messages)
    equals the dataframe formulation exactly."""
    a = {r["id"]: r["label"]
         for r in label_propagation(powerlaw_graph, strategy="dataframe",
                                    max_supersteps=5).state.collect()}
    b = {r["id"]: r["label"]
         for r in label_propagation(powerlaw_graph, strategy="packed", max_supersteps=5,
                                    block_dir=str(tmp_path / "blk")).state.collect()}
    assert a == b


def test_cc_packed_checkpoint_resume(spark, powerlaw_graph, tmp_path):
    """The at-scale (packed) CC path is durable-checkpointable: kill after
    superstep 2, resume, exact same components as an uninterrupted run."""
    run_dir, blk = str(tmp_path / "run"), str(tmp_path / "blk")
    full = _comps(connected_components(powerlaw_graph, strategy="packed", block_dir=blk))
    connected_components(powerlaw_graph, strategy="packed", block_dir=blk,
                         max_supersteps=2, checkpoint_dir=run_dir, checkpoint_every=2)
    resumed = connected_components(powerlaw_graph, strategy="packed", block_dir=blk,
                                   checkpoint_dir=run_dir, checkpoint_every=2,
                                   resume=True)
    assert resumed.converged
    assert resumed.metrics[0]["superstep"] == 1  # metrics replayed from file
    assert _comps(resumed) == full
    # durable checkpoints are plain per-vertex parquet (north_rule)
    reread = spark.read.parquet(str(tmp_path / "run" / "superstep=00002" / "state"))
    assert set(reread.columns) == {"id", "comp"}


def test_lp_packed_checkpoint_resume(spark, powerlaw_graph, tmp_path):
    """Packed LP resumes from a durable checkpoint to the exact state an
    uninterrupted run reaches (synchronous + deterministic tie-breaks)."""
    run_dir, blk = str(tmp_path / "run"), str(tmp_path / "blk")
    full_res = label_propagation(powerlaw_graph, strategy="packed",
                                 max_supersteps=5, block_dir=blk)
    full = {r["id"]: r["label"] for r in full_res.state.collect()}
    label_propagation(powerlaw_graph, strategy="packed", max_supersteps=2, block_dir=blk,
                      checkpoint_dir=run_dir, checkpoint_every=2)
    resumed = label_propagation(powerlaw_graph, strategy="packed", max_supersteps=5,
                                block_dir=blk, checkpoint_dir=run_dir,
                                checkpoint_every=2, resume=True)
    assert resumed.supersteps == full_res.supersteps
    assert {r["id"]: r["label"] for r in resumed.state.collect()} == full


def test_lp_packed_fixture(spark, tmp_path):
    from graftpark.fixtures import G30_HUB
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    a = {r["id"]: r["label"]
         for r in label_propagation(g, strategy="dataframe", max_supersteps=3).state.collect()}
    b = {r["id"]: r["label"]
         for r in label_propagation(g, strategy="packed", max_supersteps=3,
                                    block_dir=str(tmp_path / "blk")).state.collect()}
    assert a == b


@pytest.mark.parametrize("kernel", [pagerank, connected_components, label_propagation],
                         ids=lambda f: f.__name__)
@pytest.mark.parametrize("strategy", ["csr", "bogus"])
def test_unknown_strategy_raises(spark, kernel, strategy):
    n, directed, edges = G6_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    with pytest.raises(ValueError, match="unknown strategy"):
        kernel(g, strategy=strategy)
