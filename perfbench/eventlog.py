"""Per-call Spark metrics from an uncompressed Spark event log (stdlib only).

The benchmark tags every timed call with ``sc.setJobGroup(<call>)``. Jobs
and stages carry that group in their ``Properties``; tasks are attributed
through the stage they ran in. Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json
import os
import statistics

GROUP_KEY = "spark.jobGroup.id"


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_files(log_dir: str) -> list[str]:
    """The event files of the single application logged into ``log_dir``.

    Spark 4 writes a rolling log: a directory ``eventlog_v2_<app>`` holding
    ``events_<n>_<app>`` files. A plain single-file log is accepted too.
    """
    apps = sorted(os.listdir(log_dir))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    events = [n for n in os.listdir(path) if n.startswith("events_")]
    events.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in events]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def parse(paths: list[str]) -> dict[str, dict]:
    """Group id -> folded job, stage and task metrics of that group.

    Per group: ``jobs``, ``stages`` (stages that ran tasks), ``tasks``,
    ``job_s`` (union of job intervals), ``job_intervals_ms``,
    ``executor_run_ms``, ``executor_cpu_ms``, ``deserialize_ms``, ``gc_ms``,
    ``shuffle_write_bytes``, ``shuffle_read_bytes``, ``spill_bytes`` and
    ``task_ms_max_over_p50`` (slowest task over the median task).
    """
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    job_end: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_KEY)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None or "Task Metrics" not in ev:
                continue
            info, m = ev["Task Info"], ev["Task Metrics"]
            rd = m.get("Shuffle Read Metrics", {})
            tasks.setdefault(group, []).append(
                {
                    "stage": ev["Stage ID"],
                    "ms": info["Finish Time"] - info["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "deser_ms": m.get("Executor Deserialize Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shw": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    "shr": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    out: dict[str, dict] = {}
    for group in set(job_group.values()) | set(tasks):
        jobs = [j for j, g in job_group.items() if g == group]
        intervals = [(job_start[j], job_end[j]) for j in jobs if j in job_end]
        ts = tasks.get(group, [])
        ms = [t["ms"] for t in ts]
        p50 = statistics.median(ms) if ms else 0
        out[group] = {
            "jobs": len(jobs),
            "stages": len({t["stage"] for t in ts}),
            "tasks": len(ts),
            "job_s": _union_ms(intervals) / 1000.0,
            "job_intervals_ms": intervals,
            "executor_run_ms": sum(t["run_ms"] for t in ts),
            "executor_cpu_ms": sum(t["cpu_ms"] for t in ts),
            "deserialize_ms": sum(t["deser_ms"] for t in ts),
            "gc_ms": sum(t["gc_ms"] for t in ts),
            "shuffle_write_bytes": sum(t["shw"] for t in ts),
            "shuffle_read_bytes": sum(t["shr"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "task_ms_max_over_p50": (max(ms) / p50) if p50 else 0.0,
        }
    return out
