"""Fixed cost of a Python stage: bare superstep walls and the per-task
``importlib.invalidate_caches()`` time inside PySpark's Python workers.

Usage: python tools/python_stage_floor.py [ROUNDS]   (default 12)

Run it from the repository root, so that the Python workers import
graftpark from the checkout.

On ``local[nproc]`` with AQE off and ``nproc`` shuffle partitions, times
ROUNDS bare supersteps (one ``collect`` of nproc trivial rows) of three
shapes and prints their median and min wall:

  map+apply  mapInArrow → shuffle → applyInArrow (two Python stages)
  apply      shuffle → applyInArrow              (one Python stage)
  jvm        shuffle → groupBy count             (no Python stage)

and one in-task shape, the superstep exchange of the packed engine's
interval loop (graftpark/packed.py):

  barrier    per-step wall of nproc tasks of one barrier mapInArrow, each
             writing a 1 MB message file to every peer and its step
             marker, polling for the peers' markers and reading its
             incoming files, ROUNDS × 10 steps; the median over steps
             and tasks

It also prints the median of ``importlib.invalidate_caches()`` timed
inside the workers, once by tasks that have not imported graftpark and
once by tasks that have (graftpark/zipcache.py). The UDFs are defined
here, so they are pickled by value: only the "with graftpark" phase
imports graftpark in the workers, and that phase runs second.
"""
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftpark.session import get_spark  # noqa: E402


def _udf(with_graftpark):
    def identity(batches):
        if with_graftpark:
            import graftpark  # noqa: F401
        yield from batches

    def apply_identity(table):
        if with_graftpark:
            import graftpark  # noqa: F401
        return table

    def invalidate_ms(batches):
        import importlib

        import pyarrow as pa

        if with_graftpark:
            import graftpark  # noqa: F401
        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict({"ms": [(time.perf_counter() - t0) * 1e3]})

    return identity, apply_identity, invalidate_ms


def _barrier_step_ms(spark, nproc: int, steps: int, tile_bytes: int = 1 << 20) -> float:
    """Median per-step wall, in ms, of the file barrier the interval loop
    runs between its bucket tasks, using the loop's own writer and poller."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="graftpark-barrier-")

    def exchange(batches):
        import struct

        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        from graftpark.packed import _MARKER, _await_markers, _put

        for _ in batches:
            pass
        me = TaskContext.get().partitionId()
        peers = [b for b in range(nproc) if b != me]
        tile = np.zeros(tile_bytes, np.uint8)
        walls = []
        for s in range(steps):
            t0 = time.perf_counter()
            step_dir = os.path.join(root, f"step={s}")
            os.makedirs(step_dir, exist_ok=True)
            for b in peers:
                _put(os.path.join(step_dir, f"{b}-{me}"), tile)
            _put(os.path.join(step_dir, f"marker-{me}"),
                 struct.pack(_MARKER, 0.0, 0.0, 0, 0.0, True))
            _await_markers(step_dir, peers)
            for b in peers:
                with open(os.path.join(step_dir, f"{me}-{b}"), "rb") as f:
                    f.read()
            walls.append((time.perf_counter() - t0) * 1e3)
        yield pa.RecordBatch.from_pydict({"ms": walls[1:]})  # the first step waits for start-up

    try:
        ms = [r["ms"] for r in spark.range(0, nproc, 1, nproc)
              .mapInArrow(exchange, "ms double", barrier=True).collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return statistics.median(ms)


def _median_min(fn, rounds):
    fn()  # warm-up: starts the workers
    walls = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e3, min(walls) * 1e3


def main():
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    nproc = os.cpu_count() or 1
    spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc,
                      extra={"spark.sql.adaptive.enabled": "false",
                             "spark.ui.showConsoleProgress": "false"})
    df = spark.range(0, nproc, 1, nproc)
    print(f"local[{nproc}], {rounds} rounds, python {sys.version.split()[0]}")
    for label, with_graftpark in (("without graftpark", False), ("with graftpark", True)):
        identity, apply_identity, invalidate_ms = _udf(with_graftpark)
        probe = df.mapInArrow(invalidate_ms, "ms double")
        ms = [r["ms"] for _ in range(rounds) for r in probe.collect()]
        print(f"{label}: worker invalidate_caches median {statistics.median(ms):.2f} ms "
              f"(max {max(ms):.2f}, {len(ms)} tasks)")
        shapes = {
            "map+apply": lambda: df.mapInArrow(identity, "id long").groupBy("id")
            .applyInArrow(apply_identity, "id long").collect(),
            "apply": lambda: df.groupBy("id").applyInArrow(apply_identity, "id long").collect(),
            "jvm": lambda: df.groupBy("id").count().collect(),
        }
        for name, fn in shapes.items():
            med, lo = _median_min(fn, rounds)
            print(f"{label}: {name:9s} superstep median {med:7.1f} ms, min {lo:7.1f} ms")
    print(f"with graftpark: barrier   step median {_barrier_step_ms(spark, nproc, rounds * 10):7.2f} ms "
          f"({nproc} tasks, 1 MB per message)")
    spark.stop()


if __name__ == "__main__":
    main()
