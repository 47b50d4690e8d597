"""Durable checkpoints of the packed loop (graftpark/packed.py): the tasks
of an interval that ends on a checkpoint superstep write its parts and
lineage rows themselves, and the driver commits them after the job
(``Checkpointer.commit``). Checkpoint rows are those of the returned
state, and resumes end as uninterrupted runs do, at one bucket and at
four."""

import dataclasses
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from graftpark import packed
from graftpark.fixtures import powerlaw_edges_pdf
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components
from graftpark.kernels.pagerank import _packed_spec, pagerank, ranks_df
from graftpark.loop import Checkpointer, write_part

#: the powerlaw graph below converges at superstep 13 with this tol
TOL = 3e-4
P = 4


@pytest.fixture(scope="module")
def graph(spark):
    return Graph(spark.createDataFrame(powerlaw_edges_pdf(20000, 3000, seed=7)))


@pytest.fixture(scope="module")
def uninterrupted(graph):
    """``{buckets: run}`` of the run to tol without a ``checkpoint_dir``."""
    runs = {}

    def get(buckets: int):
        if buckets not in runs:
            runs[buckets] = pagerank(graph, tol=TOL, strategy="packed", num_partitions=buckets)
        return runs[buckets]

    return get


def _bits(rows) -> list:
    """``(id, value)`` rows sorted, each value as its int64 bit pattern."""
    rows = sorted((int(i), v) for i, v in rows)
    values = np.array([v for _, v in rows])
    if values.dtype.kind == "f":
        values = values.astype(np.float64).view(np.int64)
    return list(zip((i for i, _ in rows), values.tolist()))


def _rows(table: pa.Table) -> list:
    """``table``'s rows sorted, each float as its int64 bit pattern."""
    cols = [c.to_numpy() for c in table.columns]
    cols = [c.astype(np.float64).view(np.int64) if c.dtype.kind == "f" else c for c in cols]
    return sorted(zip(*(c.tolist() for c in cols)))


def _tasks(spark, buckets: int) -> int:
    return max(1, min(buckets, packed.task_slots(spark)))


@pytest.mark.parametrize("buckets", [1, P])
def test_checkpoint_rows_match_the_state(spark, graph, tmp_path, buckets):
    """The parts the tasks write hold, bit for bit, the rows of the
    state the run returns, under its schema, one part and one lineage
    row a task, for the packed loop and for a DataFrame loop alike."""
    kw = dict(num_partitions=buckets)
    # CC converges at superstep 4 here: it checkpoints at 2
    for name, run_fn, step in (
        ("pagerank", lambda run: pagerank(graph, tol=0.0, max_supersteps=5, checkpoint_dir=run,
                                          checkpoint_every=5, strategy="packed",
                                          block_dir=str(tmp_path / "blk"), **kw), 5),
        ("cc", lambda run: connected_components(graph, max_supersteps=2, checkpoint_dir=run,
                                                checkpoint_every=2, strategy="packed",
                                                block_dir=str(tmp_path / "sym"), **kw), 2),
        ("pagerank-dataframe", lambda run: pagerank(graph, tol=0.0, max_supersteps=5,
                                                    checkpoint_dir=run, checkpoint_every=5,
                                                    strategy="dataframe", **kw), 5),
    ):
        run = tmp_path / name
        res = run_fn(str(run))
        assert res.supersteps == step and Checkpointer(str(run)).latest() == step
        state = str(run / f"superstep={step:05d}" / "state")
        assert spark.read.parquet(state).dtypes == res.state.dtypes
        assert _rows(pq.read_table(state)) == _rows(res.state.toArrow())
        # the tasks of the job that materialized the state wrote the parts
        tasks = res.state.rdd.getNumPartitions()
        if name != "pagerank-dataframe":
            assert tasks == _tasks(spark, buckets)
        assert sorted(os.listdir(state)) == ["_SUCCESS"] + [
            f"part-{t:05d}.parquet" for t in range(tasks)]
        with open(run / f"superstep={step:05d}" / "lineage.json") as f:
            lineage = json.load(f)
        assert [r["partition_id"] for r in lineage] == list(range(tasks))
        assert sum(r["rows"] for r in lineage) == graph.num_vertices()


@pytest.mark.parametrize("buckets", [1, P])
def test_stale_parts_of_more_tasks_are_cleared(spark, graph, tmp_path, uninterrupted, buckets):
    """A checkpoint dir already holds a complete ``superstep=00005`` that
    8 tasks wrote. A new run clears it before its tasks write theirs, so
    no stale part is left, and a resume from it ends with the
    uninterrupted ranks bit for bit."""
    run = str(tmp_path / "run")
    stale = Checkpointer(run)
    schema = pa.schema([("id", pa.int64()), ("rank", pa.float64())])
    for part in range(8):
        batch = pa.RecordBatch.from_arrays([pa.array([10**9 + part]), pa.array([0.5])],
                                           schema=schema)
        list(write_part(stale.state_dir(5), part, [batch], schema))
    stale.commit(5)
    kw = dict(tol=TOL, strategy="packed", num_partitions=buckets, block_dir=str(tmp_path / "blk"),
              checkpoint_dir=run, checkpoint_every=5)
    pagerank(graph, max_supersteps=7, **kw)
    state = stale.state_dir(5)
    assert sorted(f for f in os.listdir(state) if f.startswith("part-")) == [
        f"part-{t:05d}.parquet" for t in range(_tasks(spark, buckets))]
    assert stale.latest() == 5
    resumed = pagerank(graph, resume=True, **kw)
    want = uninterrupted(buckets)
    assert resumed.supersteps == want.supersteps == 13
    assert [m["delta"] for m in resumed.metrics] == [m["delta"] for m in want.metrics]
    assert _bits(ranks_df(resumed).collect()) == _bits(ranks_df(want).collect())


@pytest.mark.parametrize("buckets", [1, P])
def test_interval_failing_for_good_keeps_the_previous_checkpoint(spark, graph, tmp_path, buckets):
    """A task fails in every attempt of the second interval (supersteps
    6-10): the job aborts, no ``_SUCCESS`` marks superstep 10, and
    ``latest()`` stays at 5, from which a resume ends as an
    uninterrupted run does."""
    spec = _packed_spec(graph.num_vertices(), 0.85, TOL, "float64")
    calls, real = str(tmp_path / "calls"), spec.combine

    def combine(prev, msgs, scalar, lay):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == 0:
            with open(calls, "a") as f:
                f.write("x")
            # partition 0 owns one bucket: its 6th combine is superstep 6
            if os.path.getsize(calls) > 6:
                raise RuntimeError("injected failure in every attempt")
        return real(prev, msgs, scalar, lay)

    blk, run = str(tmp_path / "blk"), str(tmp_path / "run")
    with pytest.raises(Exception, match="injected failure"):
        packed.run_packed(graph, dataclasses.replace(spec, combine=combine), buckets, 100, blk,
                          run, kernel="pagerank")
    ckpt = Checkpointer(run)
    assert ckpt.latest() == 5
    assert not os.path.exists(os.path.join(ckpt.state_dir(10), "_SUCCESS"))
    assert [m["superstep"] for m in ckpt.load_metrics()] == [1, 2, 3, 4, 5]
    resumed = packed.run_packed(graph, spec, buckets, 100, blk, run, resume=True,
                                kernel="pagerank")
    want = packed.run_packed(graph, spec, buckets, 100, blk, kernel="pagerank")
    assert resumed.supersteps == want.supersteps == 13
    assert _bits(resumed.state.collect()) == _bits(want.state.collect())


@pytest.mark.parametrize("buckets", [1, P])
def test_driver_failure_before_commit_resumes_exactly(spark, graph, tmp_path, monkeypatch,
                                                      uninterrupted, buckets):
    """The driver dies while it records superstep 8's metrics, after the
    tasks wrote checkpoint 10's parts. The metrics are recorded before
    ``_SUCCESS``, so checkpoint 10 is not committed; the resume replays
    supersteps 6-10 from checkpoint 5, recording 6 and 7 again, and ends
    with the uninterrupted ranks bit for bit and metrics 1..13 once each."""
    real, died = Checkpointer.record_metrics, []

    def record_metrics(self, rec):
        if rec["superstep"] == 8 and not died:
            died.append(rec)
            raise RuntimeError("driver killed")
        real(self, rec)

    monkeypatch.setattr(Checkpointer, "record_metrics", record_metrics)
    run = str(tmp_path / "run")
    kw = dict(tol=TOL, strategy="packed", num_partitions=buckets, block_dir=str(tmp_path / "blk"),
              checkpoint_dir=run, checkpoint_every=5)
    with pytest.raises(RuntimeError, match="driver killed"):
        pagerank(graph, **kw)
    ckpt = Checkpointer(run)
    assert ckpt.latest() == 5 and os.listdir(ckpt.state_dir(10))
    resumed = pagerank(graph, resume=True, **kw)
    want = uninterrupted(buckets)
    assert resumed.supersteps == want.supersteps == 13
    assert [m["superstep"] for m in resumed.metrics] == list(range(1, 14))
    assert [m["delta"] for m in resumed.metrics] == [m["delta"] for m in want.metrics]
    assert ckpt.load_metrics() == resumed.metrics
    assert _bits(ranks_df(resumed).collect()) == _bits(ranks_df(want).collect())
