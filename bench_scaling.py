#!/usr/bin/env python
"""Scaling-efficiency evidence for the north rule.

The target criterion is >=0.8 throughput scaling efficiency between N
and 4N executors. No real cluster exists in this sandbox, so (per the
driver instruction) we run the SAME PageRank job on the SAME seeded
input at two parallelism levels and report throughput (edges/sec per
superstep to convergence, tol 1e-6) at both, plus
efficiency = throughput_4N / (4 * throughput_N).

Methodology (each level = one fresh JVM, honest resource accounting):

- **Core pinning**: ``taskset -c 0..N-1`` pins the WHOLE process tree
  (JVM + Python UDF workers) of level N to exactly N cores. Without
  pinning, "local[8]" on a 32-core box silently uses up to 16 cores
  (task threads + Arrow UDF workers), understating real scalability.
- **Identical work**: both levels use the same input parquet, the same
  bucket count (4N), the same shuffle partitioning — so per-superstep
  work and shuffle volume are identical; only the core budget changes.
- **Warm-up**: a short PageRank run first (same block dir) builds the
  CSR blocks, primes JIT/codegen and the worker pool; excluded from
  measurement. Per-superstep walls come from the kernel's own metrics.

Appends the run to BENCH/scaling_pairs.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["GRAFTPARK_REPO"])
from graftpark.graph import Graph
from graftpark.session import get_spark
from graftpark.kernels.pagerank import pagerank

cpus = int(os.environ["SPARK_GRAFT_CPUS"])
# task-slot count may differ from the pinned core budget: the pinned
# budget carries BOTH the JVM task threads and the Arrow UDF workers, so
# fewer concurrent tasks than cores can reduce the 2x oversubscription
# (each in-flight task = 1 JVM thread + 1 Python worker)
tasks = int(os.environ.get("GRAFTPARK_SCALING_TASKS") or cpus)
buckets = int(os.environ["GRAFTPARK_SCALING_BUCKETS"])
data = os.environ["GRAFTPARK_SCALING_DATA"]
block_dir = os.environ["GRAFTPARK_SCALING_BLOCKS"]
# master template hook: the default measures thread-count scaling in one
# JVM (local[N]); GRAFTPARK_SCALING_MASTER_TEMPLATE="local-cluster[{execs},4,4096]"
# measures EXECUTOR-count scaling (separate executor JVMs + real
# RPC/shuffle layer on one box) with {execs} = tasks/4 — the closest
# sandbox analogue of the north rule's N vs 4N executors
master_tpl = os.environ.get("GRAFTPARK_SCALING_MASTER_TEMPLATE", "local[{tasks}]")
master = master_tpl.format(tasks=tasks, cpus=cpus, execs=max(1, tasks // 4))
spark = get_spark(
    master=master,
    app_name=f"graftpark-scaling-{cpus}",
    shuffle_partitions=buckets,
    extra={
        "spark.ui.showConsoleProgress": "false",
        # throughput-GC for the byte-payload churn of packed supersteps
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        # the 45s periodic-GC default exists to retire E-row shuffle files
        # in long superstep loops; the packed path shuffles only ~P² small
        # rows per superstep, and the full STW System.gc() it forces lands
        # mid-measurement and is the dominant superstep-variance source
        "spark.cleaner.periodicGC.interval": "30min",
        # tmpfs shuffle dirs: the single-box stand-in for per-executor
        # NVMe (aggregate shuffle bandwidth scales with cluster size on a
        # real cluster; one shared disk does not)
        "spark.local.dir": os.environ.get("GRAFTPARK_SCALING_LOCAL_DIR", "/dev/shm/gp-shuffle"),
        # experiment overrides, e.g. shuffle compression: lz4 on float
        # payloads compresses ~nothing but burns JVM CPU inside the pinned
        # budget, and the tmpfs shuffle is a memcpy either way
        **json.loads(os.environ.get("GRAFTPARK_SCALING_EXTRA") or "{}"),
    },
)
g = Graph(spark.read.parquet(data), assume_normalized=True)
# warm-up (builds CSR blocks on first level, primes JIT + worker pool).
# Identical at both levels; warmup walls are recorded in the result so a
# residual transient stays visible.
strategy = os.environ.get("GRAFTPARK_SCALING_STRATEGY", "packed")
wu_steps = int(os.environ.get("GRAFTPARK_SCALING_WARMUP_STEPS", "12"))
wu = pagerank(g, tol=0.0, max_supersteps=wu_steps, strategy=strategy,
              block_dir=block_dir, num_partitions=buckets,
              payload_dtype=os.environ.get("GRAFTPARK_SCALING_DTYPE", "float32"))
wu_walls = [round(m["wall_s"], 2) for m in wu.metrics]
if os.environ.get("GRAFTPARK_SCALING_WARMUP_ONLY") == "1":
    print("SCALING_RESULT " + json.dumps({"warmup_only": True}))
    spark.stop()
    sys.exit(0)
e_dir = g.edges.count()
t0 = time.monotonic()
dtype = os.environ.get("GRAFTPARK_SCALING_DTYPE", "float32")
res = pagerank(g, tol=1e-6, max_supersteps=60, strategy=strategy,
               block_dir=block_dir, num_partitions=buckets, payload_dtype=dtype)
wall = time.monotonic() - t0
walls = [m["wall_s"] for m in res.metrics]
mean_step = sum(walls) / len(walls)
print("SCALING_RESULT " + json.dumps({
    "cpus": cpus, "edges": e_dir, "supersteps": res.supersteps,
    "converged": res.converged, "wall_s": round(wall, 3),
    "mean_superstep_s": round(mean_step, 4),
    "min_superstep_s": round(min(walls), 4),
    "edges_per_sec_per_superstep": round(e_dir / mean_step),
    "walls": [round(w, 2) for w in walls],
    "warmup_walls": wu_walls,
}))
spark.stop()
"""


def prepare_input(n_edges: int, n_vertices: int, seed: int, path: str) -> None:
    """Seeded power-law edge table → parquet, built once, shared by levels."""
    if os.path.exists(os.path.join(path, "_OK")):
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from graftpark.fixtures import powerlaw_edges_pdf

    pdf = powerlaw_edges_pdf(n_edges, n_vertices, seed=seed)
    os.makedirs(path, exist_ok=True)
    # several row groups so the parquet scan parallelizes
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "edges.parquet"), row_group_size=2_000_000)
    open(os.path.join(path, "_OK"), "w").close()


def run_level(cpus: int, buckets: int, data: str, blocks: str, pin: bool,
              warmup_only: bool = False, tasks: int | None = None) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        GRAFTPARK_SCALING_TASKS=str(tasks or cpus),
        GRAFTPARK_SCALING_BUCKETS=str(buckets),
        GRAFTPARK_SCALING_DATA=data,
        GRAFTPARK_SCALING_BLOCKS=blocks,
        GRAFTPARK_SCALING_WARMUP_ONLY="1" if warmup_only else "0",
        GRAFTPARK_REPO=os.path.dirname(os.path.abspath(__file__)),
        GRAFTPARK_DRIVER_MEM=os.environ.get("GRAFTPARK_DRIVER_MEM", "32g"),
    )
    cmd = [sys.executable, "-c", CHILD]
    if pin:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    # 2400s fits every >=2-core level; a pinned 1-core level (JVM task
    # thread + Arrow worker sharing one core) needs more — override via env
    timeout_s = int(os.environ.get("GRAFTPARK_SCALING_TIMEOUT", "2400"))
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=timeout_s)
    for line in out.stdout.splitlines():
        if line.startswith("SCALING_RESULT "):
            return json.loads(line[len("SCALING_RESULT "):])
    raise RuntimeError(f"no result at local[{cpus}]:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    n_low = int(os.environ.get("GRAFTPARK_SCALING_N", "8"))
    n_high = 4 * n_low
    # task-slot policy, applied uniformly at BOTH levels (an executor conf,
    # like spark.executor.cores < physical cores): the pinned budget carries
    # both the JVM task threads and the Arrow UDF workers, so <1.0 slots per
    # core trims the 2x oversubscription that inflates the gather tail
    tasks_ratio = float(os.environ.get("GRAFTPARK_SCALING_TASKS_RATIO", "1.0"))
    n_edges = int(os.environ.get("GRAFTPARK_SCALING_EDGES", "256000000"))
    n_vertices = int(os.environ.get("GRAFTPARK_SCALING_VERTICES", "16000000"))
    buckets = int(os.environ.get("GRAFTPARK_SCALING_BUCKETS", str(n_high)))
    pin = os.environ.get("GRAFTPARK_SCALING_PIN", "1") != "0"

    workdir = os.environ.get(
        "GRAFTPARK_SCALING_WORKDIR",
        f"/tmp/graftpark-scaling-{n_edges}-{n_vertices}-{buckets}",
    )
    data = os.path.join(workdir, "input")
    blocks = os.path.join(workdir, "blocks")
    prepare_input(n_edges, n_vertices, 42, data)

    t0 = time.monotonic()

    def _blocks_current() -> bool:
        # meta.json required too: ensure_edge_blocks rebuilds a dir without
        # it (pre-metadata layout) OR with a stale on-disk layout version,
        # and that rebuild must happen in this unpinned setup phase, not
        # inside a pinned measured level
        if not os.path.exists(os.path.join(blocks, "_SUCCESS")):
            return False
        try:
            with open(os.path.join(blocks, "meta.json")) as f:
                meta = json.load(f)
        except OSError:
            return False
        from graftpark.blocks import _LAYOUT_VERSION

        return meta.get("layout") == _LAYOUT_VERSION

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if not _blocks_current():
        # one-time artifact build (blocks, sidecar, static positions) at
        # full parallelism, unpinned — setup, not part of either level
        run_level(os.cpu_count() or n_high, buckets, data, blocks, pin=False,
                  warmup_only=True)
    # BenchmarkTools-style best-of-R samples (the reference's benchmark
    # framework reports the minimum over samples): each sample is a fresh
    # pinned JVM; a settle delay between samples lets the previous JVM's
    # memory get reclaimed (measured: the level run immediately after
    # another JVM exits is up to 2x slower on this shared VM).
    repeats = int(os.environ.get("GRAFTPARK_SCALING_REPEATS", "1"))

    def best_of(cpus: int) -> dict:
        samples = []
        tasks = max(1, round(cpus * tasks_ratio))
        for _ in range(repeats):
            time.sleep(int(os.environ.get("GRAFTPARK_SCALING_SETTLE_S", "30")))
            samples.append(run_level(cpus, buckets, data, blocks, pin, tasks=tasks))
        best = min(samples, key=lambda r: r["mean_superstep_s"])
        best["samples_mean_superstep_s"] = [r["mean_superstep_s"] for r in samples]
        best["tasks"] = tasks
        return best

    low = best_of(n_low)
    high = best_of(n_high)
    eff = high["edges_per_sec_per_superstep"] / (4.0 * low["edges_per_sec_per_superstep"])
    result = {
        "metric": "scaling_efficiency",
        "value": round(eff, 3),
        "unit": "ratio",
        "low": low,
        "high": high,
        "criterion": ">=0.8 between N and 4N parallelism",
        "pinned_cores": pin,
        "master_template": os.environ.get("GRAFTPARK_SCALING_MASTER_TEMPLATE", "local[{tasks}]"),
        "wall_s": round(time.monotonic() - t0, 1),
    }
    record_pair(n_low, n_high, result)
    print(json.dumps(result))


PAIRS_PATH = "BENCH/scaling_pairs.json"


def record_pair(n_low: int, n_high: int, result: dict) -> None:
    """Append this run, timestamped, to the pair's history in the
    persistent store: a re-run at one pair never erases a prior run, so
    the spread between runs stays visible. Runs at another input size or
    process topology key a history of their own, so the best run of a
    pair (the minimum-over-samples methodology one level up) compares
    like with like."""
    from graftpark.blocks import _LAYOUT_VERSION

    pairs: dict = {}
    if os.path.exists(PAIRS_PATH):
        with open(PAIRS_PATH) as f:
            pairs = json.load(f)
    result = dict(result, measured_at=time.strftime("%Y-%m-%d %H:%M:%S"),
                  block_layout=_LAYOUT_VERSION)
    key = f"{n_low}->{n_high}"
    if "local-cluster" in result.get("master_template", ""):
        # executor-count pairs live under their own key — they measure a
        # different resource (separate JVMs + RPC shuffle) than the
        # thread-count local[N] pairs and must never mix histories
        key += " local-cluster"
    if result["low"]["edges"] != 256_000_000:
        # non-default input sizes (e.g. the 10^9-edge run matching the
        # north-rule metric's named scale) get their own pair history —
        # throughput at different E must never mix into one best-of
        key += f" @{result['low']['edges']}e"
    entry = pairs.get(key) or {"runs": []}
    if "runs" not in entry:  # legacy single-run entry: wrap it
        entry = {"runs": [entry]}
    entry["runs"].append(result)
    pairs[key] = entry
    os.makedirs("BENCH", exist_ok=True)
    with open(PAIRS_PATH, "w") as f:
        json.dump(pairs, f, indent=1)


if __name__ == "__main__":
    main()
