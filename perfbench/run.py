#!/usr/bin/env python3
"""graftpark benchmark: one closed-loop client on ``local[<nproc>]``.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload zipf_packed --seed 1 --seconds 10 --trace 0

Each run generates (or reuses) the seeded input and its oracle answers
under ``.perfbench/inputs/``, sets the workload up ``SETUPS`` times
(session start, input read, graph persist, block build) and reports the
median, then repeats the workload's timed calls until ``--seconds`` have
passed (at least once). Every answer is checked against
``graftpark.oracles``. The last line of standard output is one JSON object:
end-to-end metrics with ``--trace 0``; per-layer metrics with ``--trace 1``,
which adds a second set of rounds on a session that writes an uncompressed
Spark event log and folds it per timed call (see ``eventlog.py``).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
END_TO_END = {
    "setup_s": "s",
    "workload_s": "s",
    "pagerank_s": "s",
    "pagerank_edges_per_s": "edges/s",
}


class RssSampler:
    """Peak resident memory of a process tree, sampled from ``/proc``.

    Sums ``statm`` resident pages of the root process and all of its
    descendants (the JVM and the Python workers); pages shared between
    forked workers are counted once per process.
    """

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        page = os.sysconf("SC_PAGE_SIZE")
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
            todo.extend(children.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def configure_env(run_dir: str, broadcast_v_limit: int) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import graftpark from the checkout being measured
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["GRAFTPARK_BROADCAST_V_LIMIT"] = str(broadcast_v_limit)
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str | None) -> int:
    """Total size of the files under ``path`` (0 when it is None or absent)."""
    total = 0
    for dirpath, _, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Bench:
    def __init__(self, workload: str, seed: int, run_dir: str, inputs: str):
        from graftpark.session import get_spark

        import workloads as W

        self.W = W
        self.get_spark = get_spark
        self.workload = workload
        self.seed = seed
        self.run_dir = run_dir
        self.inputs = inputs
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.calls = W.CALLS[workload]
        self.attempted = 0
        self.failed = 0

    # -- session ------------------------------------------------------------
    def start_session(self, extra: dict | None = None):
        """Stop the current session and build a fresh one; only the master
        and (in the traced run) the event-log confs are overridden."""
        self.stop_session()
        self.spark = self.get_spark(master=f"local[{self.nproc}]", extra=extra)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM the gateway launched, and wait for it."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- set-up -----------------------------------------------------------------
    def set_up(self, tag: str, extra: dict | None = None):
        """One set-up; returns (context, timings)."""
        t0 = time.perf_counter()
        spark = self.start_session(extra)
        timings = {"setup.session.start_s": time.perf_counter() - t0}
        ctx = self.W.Context(spark=spark, inputs=self.inputs, run_dir=self.run_dir,
                             answers=self.answers)
        self.W.setup(self.workload, ctx, tag, timings)
        timings["setup_s"] = time.perf_counter() - t0
        return ctx, timings

    # -- measured rounds ----------------------------------------------------------
    def tracker_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += st.numCompletedTasks
        return {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}

    def one_call(self, ctx, call, group: str) -> dict:
        sc = self.spark.sparkContext
        if call.prepare is not None:
            call.prepare(ctx)
        self.attempted += 1
        rec = {"ok": False, "group": group}
        ckpt_before = dir_bytes(ctx.checkpoint_dir)
        sc.setJobGroup(group, group)
        start = time.time()
        t0 = time.perf_counter()
        try:
            value = call.run(ctx)
            rec["call_s"] = time.perf_counter() - t0
            rec["start"], rec["end"] = start, time.time()
            sc.setJobGroup(group + ".check", "untimed answer check")
            res = value[0]
            converged = res is None or res.converged
            rec["ok"] = converged and call.check(ctx, call.answer(ctx, value))
            if res is not None:
                ran = [m for m in res.metrics if m.get("superstep", 0) > ctx.resumed_from]
                rec["loop"] = {
                    "supersteps": res.supersteps - ctx.resumed_from,
                    "walls_ms": [m["wall_s"] * 1000.0 for m in ran if "wall_s" in m],
                }
        except Exception:
            traceback.print_exc()
            rec.setdefault("call_s", time.perf_counter() - t0)
            rec.setdefault("start", start)
            rec.setdefault("end", time.time())
        rec.update(ctx.layers)
        ctx.layers.clear()
        ctx.resumed_from = 0
        rec.update(self.tracker_counts(group))
        # bytes of durable checkpoints the call wrote
        rec["checkpoint_bytes"] = dir_bytes(ctx.checkpoint_dir) - ckpt_before
        if not rec["ok"]:
            self.failed += 1
            print(f"perfbench: {self.workload} call {call.name} ({group}) FAILED", file=sys.stderr)
        return rec

    def rounds(self, ctx, seconds: float, prefix: str) -> list[dict]:
        out = []
        t_end = time.perf_counter() + seconds
        while True:
            rnd = {}
            for call in self.calls:
                rnd[call.name] = self.one_call(ctx, call, f"{prefix}{len(out)}.{call.name}")
            out.append(rnd)
            if time.perf_counter() >= t_end:
                return out

    # -- the run ------------------------------------------------------------------
    def run(self, seconds: float, trace: bool) -> dict:
        W = self.W
        W.make_inputs(self.workload, self.seed, self.inputs, self.start_session)
        self.answers = W.load_answers(self.inputs)
        setups = []
        for k in range(SETUPS):
            ctx, timings = self.set_up(f"s{k}")
            setups.append(timings)
        self.host = host_facts(self.spark)
        out = {"setups": setups}
        if not trace:
            out["rounds"] = self.rounds(ctx, seconds, "r")
            return out
        log_dir = os.path.join(self.run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            # Spark 4 compresses event logs with zstd by default; the
            # stdlib parser needs them plain
            "spark.eventLog.compress": "false",
        }
        # The traced calls run only on the traced session: PySpark cannot
        # deliver Python accumulator updates to a SparkContext restarted
        # after Python UDFs have run, so no untraced round comes first.
        ctx, out["traced_setup"] = self.set_up("traced", extra)
        out["rounds"] = self.rounds(ctx, seconds, "t")
        out["layer_probes"] = self.layer_probes(ctx)
        out["blocks"] = self.block_stats(ctx)
        self.stop_session()
        from eventlog import event_log_files, parse

        out["eventlog"] = parse(event_log_files(log_dir))
        return out

    def layer_probes(self, ctx) -> dict:
        """Corpus-layer calls timed on their own (traced run only)."""
        if self.workload != "corpus_ingest":
            return {}
        from pyspark.sql import functions as F

        from graftpark.corpus import extract_edges
        from graftpark.graph import densify_ids

        self.spark.sparkContext.setJobGroup("probe.corpus", "corpus layer probes")
        t0 = time.perf_counter()
        n_edges = extract_edges(ctx.corpus).count()
        extract_s = time.perf_counter() - t0
        edges_str = extract_edges(ctx.corpus)
        names = ctx.corpus.select(F.col("repo")).union(edges_str.select(F.col("dst_repo").alias("repo"))).distinct()
        t0 = time.perf_counter()
        vmap = densify_ids(names, "repo")
        densify_s = time.perf_counter() - t0
        vmap.unpersist()
        return {
            "corpus.extract_s": extract_s,
            "corpus.densify_s": densify_s,
            "corpus.files": ctx.corpus.count(),
            "corpus.edges": n_edges,
        }

    def block_stats(self, ctx) -> dict:
        if ctx.block_dir is None:
            return {"blocks.bytes": 0, "blocks.buckets": 0, "blocks.bucket_edges_max_over_p50": 0.0}
        import pyarrow.parquet as pq

        per_bucket = []
        for name in sorted(os.listdir(ctx.block_dir)):
            sub = os.path.join(ctx.block_dir, name)
            if name.startswith("src_bucket=") and os.path.isdir(sub):
                per_bucket.append(sum(pq.ParquetFile(os.path.join(sub, f)).metadata.num_rows
                                      for f in os.listdir(sub) if f.endswith(".parquet")))
        p50 = median(per_bucket)
        return {
            "blocks.bytes": dir_bytes(ctx.block_dir),
            "blocks.buckets": len(per_bucket),
            "blocks.bucket_edges_max_over_p50": max(per_bucket) / p50 if p50 else 0.0,
        }


# -- folding ----------------------------------------------------------------------

def call_times(rounds: list[dict]) -> dict[str, float]:
    names = rounds[0].keys()
    return {name: median([r[name]["call_s"] for r in rounds]) for name in names}


def end_to_end(res: dict, n_edges: int) -> dict:
    rounds = res["rounds"]
    pr = [r["pagerank"] for r in rounds]
    return {
        "setup_s": median([s["setup_s"] for s in res["setups"]]),
        "workload_s": median([sum(c["call_s"] for c in r.values()) for r in rounds]),
        "pagerank_s": median([c["call_s"] for c in pr]),
        "pagerank_edges_per_s": median(
            [n_edges * c.get("loop", {}).get("supersteps", 0) / c["call_s"] for c in pr]
        ),
    }


SPARK_LOG_KEYS = (
    "job_s", "executor_run_ms", "executor_cpu_ms", "deserialize_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


#: calls whose per-layer metrics BENCHMARK.json lists; a workload without a
#: call reports its metrics as 0
LAYER_CALLS = ("pagerank", "ingest", "resume")
LOOP_CALLS = ("pagerank", "resume")


def fold_call(rec: dict | None, log: dict) -> dict:
    """Per-layer metrics of one timed call (all 0 when ``rec`` is None)."""
    rec = rec or {"call_s": 0.0, "group": None}
    walls = rec.get("loop", {}).get("walls_ms", [])
    steps = rec.get("loop", {}).get("supersteps", 0)
    out = {
        "call_s": rec["call_s"],
        "loop.supersteps": steps,
        "loop.superstep_ms_p50": median(walls),
        "loop.superstep_ms_max": max(walls, default=0.0),
        "loop.first_superstep_ms": walls[0] if walls else 0.0,
        "loop.checkpoint_bytes": rec.get("checkpoint_bytes", 0),
    }
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[key] = rec.get(key, 0)
    out["spark.jobs_per_superstep"] = out["spark.jobs"] / steps if steps else 0.0
    folded = log.get(rec["group"], {})
    for key in SPARK_LOG_KEYS:
        out[f"spark.{key}"] = folded.get(key, 0)
    out["spark.driver_other_s"] = out["call_s"] - out["spark.job_s"]
    out["spark.task_ms_max_over_p50"] = folded.get("task_ms_max_over_p50", 0.0)
    return out


def per_layer(bench: Bench, res: dict, floor_ms: float, leaked: int, graph_size: tuple[int, int],
              peak_rss: int) -> dict:
    log = res["eventlog"]
    traced = res["rounds"]
    per_round = []
    for rnd in traced:
        row = {}
        for name in LAYER_CALLS:
            folded = fold_call(rnd.get(name), log)
            if name not in LOOP_CALLS:
                folded = {k: v for k, v in folded.items()
                          if not k.startswith("loop.") and k != "spark.jobs_per_superstep"}
            row.update({f"{name}.{k}": v for k, v in folded.items()})
        pr = row["pagerank.loop.supersteps"]
        engine_ms = row["pagerank.call_s"] * 1000.0 / pr if pr else 0.0
        row["pagerank.kernels.floor_ms_per_superstep"] = floor_ms
        row["pagerank.kernels.engine_over_floor"] = engine_ms / floor_ms if floor_ms else 0.0
        row["graph.persist_s"] = rnd.get("ingest", {}).get("graph.persist_s", 0.0)
        per_round.append(row)
    out = {k: median([r[k] for r in per_round]) for k in per_round[0]}
    setups = res["setups"]
    out["setup.session.start_s"] = median([s["setup.session.start_s"] for s in setups])
    out["blocks.build_s"] = median([s.get("blocks.build_s", 0.0) for s in setups])
    if bench.workload != "corpus_ingest":
        out["graph.persist_s"] = median([s["graph.persist_s"] for s in setups])
    out.update(res["blocks"])
    out["blocks.leaked_dirs"] = leaked
    out["graph.edges"], out["graph.vertices"] = graph_size
    out["process.peak_rss_mb"] = peak_rss / 2**20
    out.update({"corpus.extract_s": 0.0, "corpus.densify_s": 0.0, "corpus.files": 0, "corpus.edges": 0})
    out.update(res["layer_probes"])
    # tracing overhead: the traced set-up against the untraced ones, and the
    # traced workload_s to set against workload_s of an untraced run
    out["trace.setup_overhead_s"] = res["traced_setup"]["setup_s"] - median([s["setup_s"] for s in setups])
    out["trace.workload_s"] = median([sum(c["call_s"] for c in r.values()) for r in traced])
    return out


def spans(bench: Bench, res: dict) -> list[dict]:
    """Run -> timed call -> Spark job spans of the traced rounds (epoch seconds)."""
    calls = [c for rnd in res["rounds"] for c in rnd.values()]
    out = [{"id": "run", "parent": None, "name": f"{bench.workload}/seed={bench.seed}",
            "start": min(c["start"] for c in calls), "end": max(c["end"] for c in calls)}]
    for c in calls:
        folded = res["eventlog"].get(c["group"], {})
        out.append({"id": c["group"], "parent": "run", "name": c["group"], "start": c["start"],
                    "end": c["end"], "self_s": c["call_s"] - folded.get("job_s", 0.0)})
        for i, (s, e) in enumerate(folded.get("job_intervals_ms", [])):
            out.append({"id": f"{c['group']}/job{i}", "parent": c["group"], "name": "spark job",
                        "start": s / 1000.0, "end": e / 1000.0})
    return out


def host_facts(spark) -> dict:
    import numpy
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return "unknown"


def leaked_block_dirs() -> int:
    """Engine-created ``graftpark-blocks-*`` dirs left in this run's TMPDIR."""
    tmp = os.environ["TMPDIR"]
    return sum(1 for n in os.listdir(tmp) if n.startswith("graftpark-blocks-"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import workloads as W

    if args.workload not in W.CALLS:
        ap.error(f"unknown workload {args.workload!r}; choose from {', '.join(W.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs", f"{args.workload}-{args.seed}")
    configure_env(run_dir, W.BROADCAST_V_LIMIT)
    try:
        import graftpark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: graftpark is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    bench = Bench(args.workload, args.seed, run_dir, inputs)
    try:
        with RssSampler(os.getpid()) as rss:
            res = bench.run(args.seconds, bool(args.trace))
        host = bench.host
        leaked = leaked_block_dirs()
        src, dst = W.edge_arrays(inputs, args.workload)
        import numpy as np

        from floor import ms_per_superstep

        vertices = np.concatenate([src, dst])
        n_vertices = int(np.unique(vertices).size)
        provenance = {
            "commit": git_commit(),
            "workload": args.workload,
            "seed": args.seed,
            "edges": int(src.size),
            "vertices": n_vertices,
            "supersteps": {name: c.get("loop", {}).get("supersteps") for name, c in res["rounds"][-1].items()},
            "rounds": len(res["rounds"]),
            "traced": bool(args.trace),
            "setups": SETUPS,
            "client": f"closed loop, 1 client, local[{bench.nproc}]",
        }
        print("host " + json.dumps(host))
        print("run " + json.dumps(provenance))
        e2e = end_to_end(res, int(src.size))
        for name, value in e2e.items():
            print(f"metric {name} {value:.6g} {END_TO_END[name]}")
        print(f"process.peak_rss_mb {rss.peak_bytes / 2**20:.6g} MB")
        for name, value in call_times(res["rounds"]).items():
            print(f"call {name}_s {value:.6g} s")
        print(f"failed_frac {bench.failed / max(bench.attempted, 1):.6g} ({bench.failed}/{bench.attempted})")
        if args.trace:
            metrics = per_layer(bench, res, ms_per_superstep(src, dst, vertices), leaked,
                                (int(src.size), n_vertices), rss.peak_bytes)
            trace_path = os.path.join(work, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"host": host, "run": provenance, "spans": spans(bench, res),
                           "calls": res["rounds"], "eventlog": res["eventlog"]}, f, default=str)
            print(f"trace {trace_path}")
            units = layer_units()
            if metrics.keys() != units.keys():
                raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: {sorted(metrics.keys() ^ units.keys())}")
            for name in units:
                print(f"layer {name} {metrics[name]:.6g} {units[name]}")
            out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
        else:
            out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": out_metrics,
    }), flush=True)
    return 0


def layer_units() -> dict[str, str]:
    """Unit of every per-layer metric, keyed by name (BENCHMARK.json order)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
