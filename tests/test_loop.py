"""The superstep loop spine (graftpark/loop.py): superstep numbering and
Spark job descriptions."""

import json
import os

from pyspark.sql import functions as F

from graftpark.loop import Checkpointer, iterate


def _counter(spark):
    return spark.range(4).select(F.col("id").alias("x"))


def test_iterate_counts_supersteps_not_calls(spark, tmp_path):
    """With ``steps_per_call=4`` every call advances four supersteps:
    ``i``, checkpoint dirs and metrics records name the last of them, and
    a durable checkpoint follows each call that reaches a multiple of
    ``every``."""
    calls = []

    def step(state, i):
        calls.append(i)
        return state.select((F.col("x") + 4).alias("x"))

    ckpt = Checkpointer(str(tmp_path), every=5, id_col="x")
    res = iterate(_counter(spark), step, lambda new, prev, i: {}, lambda rec: False,
                  max_supersteps=10, checkpointer=ckpt, steps_per_call=4)
    assert calls == [4, 8, 12]
    assert res.supersteps == 12
    assert sorted(r["x"] for r in res.state.collect()) == [12, 13, 14, 15]
    assert sorted(p for p in os.listdir(tmp_path) if p.startswith("superstep=")) == [
        "superstep=00008", "superstep=00012"]
    with open(tmp_path / "metrics.jsonl") as f:
        assert [json.loads(line)["superstep"] for line in f] == [4, 8, 12]


def test_iterate_describes_superstep_jobs(spark):
    """Each superstep's jobs carry ``{label}/superstep={i}``; the caller's
    description is back in place afterwards."""
    sc = spark.sparkContext
    seen = []

    def step(state, i):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return state.select((F.col("x") + 1).alias("x"))

    sc.setJobDescription("caller")
    try:
        iterate(_counter(spark), step, lambda new, prev, i: {}, lambda rec: False,
                max_supersteps=3, label="pagerank/dataframe")
        assert seen == [f"pagerank/dataframe/superstep={i}" for i in (1, 2, 3)]
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
