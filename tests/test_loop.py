"""The superstep loop spine (graftpark/loop.py): superstep numbering and
Spark job descriptions."""

import pytest
from pyspark.sql import functions as F

from graftpark.loop import iterate


def _counter(spark):
    return spark.range(4).select(F.col("id").alias("x"))


def test_iterate_takes_one_superstep_or_one_interval_per_call(spark):
    """A call advances one superstep or, with ``steps_per_call=None``, one
    checkpoint interval; any other width is refused."""
    with pytest.raises(ValueError, match="steps_per_call"):
        iterate(_counter(spark), lambda state, i: state, lambda new, prev, i: {},
                lambda rec: False, steps_per_call=4)


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
