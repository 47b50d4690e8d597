"""TRUE multi-executor execution of the packed kernels.

``local-cluster[2,4,2048]`` launches two SEPARATE executor JVMs (own
BlockManagers, own Python worker pools, real network shuffle between
them) — the closest a single box gets to the north_rule's
multi-executor cluster. The packed strategy's shared state (CSR block
dir, vertex sidecars, static positions) lives on storage both executor
processes mount (here: one host's disk; on a cluster: HDFS/S3), so this
exercises concurrent multi-process block access, which
test_shared_blocks.py (sequential drivers) cannot.

Runs in a subprocess: the pytest session already owns a local[4]
SparkContext and one JVM cannot host two masters.
"""

import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys
sys.path.insert(0, os.environ["GP_REPO"])
os.environ.setdefault("SPARK_HOME", __import__("pyspark").__path__[0])
from graftpark.fixtures import barabasi_albert
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components
from graftpark.kernels.pagerank import pagerank, ranks_df
from graftpark.session import get_spark

spark = get_spark(
    master="local-cluster[2,4,2048]",
    app_name="gp-local-cluster",
    shuffle_partitions=8,
    extra={
        # executor JVMs spawn their own Python workers; they need the repo
        # on the worker path (driver sys.path does not propagate)
        "spark.executorEnv.PYTHONPATH": os.environ["GP_REPO"],
        "spark.executor.memory": "1500m",
        "spark.driver.memory": "2g",
    },
)
# force a job so both executors register, then verify the topology is
# really multi-executor (driver + 2 executor JVMs)
spark.range(1000).repartition(8).count()
n_members = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
from graftpark.packed import task_slots
slots = task_slots(spark)
g = Graph.from_edge_list(spark, barabasi_albert(1500, 4, seed=11), n=1500, directed=False)
res = pagerank(g, tol=0.0, max_supersteps=6, strategy="packed",
               block_dir=os.environ["GP_BLK_PR"], num_partitions=8)
ranks = {int(r["id"]): float(r["rank"]) for r in ranks_df(res).collect()}
cc = connected_components(g, strategy="packed",
                          block_dir=os.environ["GP_BLK_CC"], num_partitions=8)
comps = {int(r["id"]): int(r["comp"]) for r in cc.state.select("id", "comp").collect()}
print("LC_RESULT " + json.dumps({"executors": n_members, "slots": slots, "ranks": ranks,
                                "comps": comps}))
spark.stop()
"""


def test_packed_kernels_under_local_cluster(spark, tmp_path):
    """Packed PageRank + CC under two real executor JVMs equal the
    single-JVM local results exactly (ranks to 1e-9, comps exact). The
    8 buckets fill the cluster's 8 task slots, one bucket a task, whose
    tasks exchange messages through the block dir across the two JVMs;
    the 4-slot local session runs the same loop in 4 tasks of two
    buckets each."""
    from graftpark.fixtures import barabasi_albert
    from graftpark.graph import Graph
    from graftpark.kernels.components import connected_components
    from graftpark.kernels.pagerank import pagerank, ranks_df

    g = Graph.from_edge_list(spark, barabasi_albert(1500, 4, seed=11), n=1500, directed=False)
    a_pr = {
        int(r["id"]): float(r["rank"])
        for r in ranks_df(
            pagerank(g, tol=0.0, max_supersteps=6, strategy="packed",
                     block_dir=str(tmp_path / "blk_pr_local"), num_partitions=8)
        ).collect()
    }
    a_cc = {
        int(r["id"]): int(r["comp"])
        for r in connected_components(
            g, strategy="packed", block_dir=str(tmp_path / "blk_cc_local"), num_partitions=8
        ).state.select("id", "comp").collect()
    }

    env = dict(
        os.environ,
        GP_REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        GP_BLK_PR=str(tmp_path / "blk_pr_lc"),
        GP_BLK_CC=str(tmp_path / "blk_cc_lc"),
    )
    out = subprocess.run([sys.executable, "-c", _CHILD], env=env,
                         capture_output=True, text=True, timeout=900)
    lines = [l for l in out.stdout.splitlines() if l.startswith("LC_RESULT ")]
    assert lines, f"local-cluster child failed:\n{out.stdout[-3000:]}\n{out.stderr[-3000:]}"
    got = json.loads(lines[0][len("LC_RESULT "):])
    assert got["executors"] >= 3  # driver + 2 executor JVMs
    assert got["slots"] == 8
    b_pr = {int(k): v for k, v in got["ranks"].items()}
    b_cc = {int(k): v for k, v in got["comps"].items()}
    assert set(a_pr) == set(b_pr)
    assert max(abs(a_pr[k] - b_pr[k]) for k in a_pr) < 1e-9
    assert a_cc == b_cc
