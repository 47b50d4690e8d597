"""Session defaults sized from the host (graftpark/session.py)."""

import os

from graftpark import session


def test_default_parallelism_counts_usable_cpus(monkeypatch):
    """The default shuffle width counts the CPUs this process may run on,
    not every CPU of the host; without affinity masks it counts them all."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1}, raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 16)
    assert session.default_parallelism() == 2
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    assert session.default_parallelism() == 16
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3
