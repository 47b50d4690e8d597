"""SparkSession factory with scale-oriented defaults.

AQE on (skew-join splitting + shuffle-partition coalescing), Arrow on
(every UDF in this engine is pandas/Arrow vectorized), shuffle
partitions sized to the local core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on (its
    affinity mask, as ``local[*]`` counts them), not every CPU of the host."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus != "*":
        return int(cpus)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity masks on this platform
        return os.cpu_count() or 8


def get_spark(
    master: str | None = None,
    app_name: str = "graftpark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for iterative graph jobs.

    - ``spark.sql.adaptive.*``: AQE re-plans each superstep's shuffle at
      runtime (partition coalescing + skew-join splitting) — the Spark
      analogue of the reference's explicit thread-count descriptors
      (reference: src/traversals/BFS/bfs_BLAS.jl:42-47).
    - shuffle partitions default to the core count; at cluster scale
      this would be ~2-3x total executor cores, set via spark-submit.
    """
    if master is None:
        master = os.environ.get("GRAFTPARK_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("GRAFTPARK_SHUFFLE_PARTITIONS", "0")) or default_parallelism()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("GRAFTPARK_DRIVER_MEM", "64g"))
        # iterative kernels: shuffled-hash beats sort-merge (no per-superstep
        # sorts of the cached edge table); generous execution-memory fraction
        # keeps high-cardinality partial aggregations from spilling
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.memory.fraction", "0.8")
        # Iterative loops re-plan small DataFrames constantly; keep the
        # broadcast threshold modest so frontier-sized tables broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        # Superstep loops retire one shuffle per iteration; ContextCleaner
        # only releases them after a driver GC, which a large mostly-idle
        # heap never triggers — stale shuffle files then evict the page
        # cache and throughput collapses after ~5-10 supersteps.
        .config("spark.cleaner.periodicGC.interval", "45s")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
