"""The benchmark's own tests, on the smallest inputs.

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import floor  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
FIXTURE_LOG = os.path.join(HERE, "fixtures", "eventlog")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_have_units():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert [w["name"] for w in b["workloads"]] == list(W.WORKLOADS)
    assert 1 <= len(b["per_layer"]) <= 128


def test_event_log_parser_reads_recorded_fixture():
    folded = eventlog.parse(eventlog.event_log_files(FIXTURE_LOG))
    # the untimed answer check runs in its own group, apart from the calls
    assert set(folded) == {"t0.count", "t0.shuffle", "t0.check"}
    count, shuffle = folded["t0.count"], folded["t0.shuffle"]
    assert count["jobs"] == 1 and count["stages"] == 1 and count["tasks"] == 2
    assert count["shuffle_write_bytes"] == 0
    assert shuffle["stages"] == 2 and shuffle["tasks"] > count["tasks"]
    assert shuffle["shuffle_write_bytes"] > 0 and shuffle["shuffle_read_bytes"] > 0
    for f in folded.values():
        assert 0 < f["job_s"] and f["executor_run_ms"] >= 0 and f["task_ms_max_over_p50"] >= 1.0


def test_union_of_job_intervals():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog._union_ms([]) == 0


def test_floor_agrees_with_oracle_on_fixtures():
    from graftpark import oracles
    from graftpark.fixtures import FIXTURES

    for n, directed, edges in FIXTURES.values():
        pairs = sorted(set(edges) | (set() if directed else {(v, u) for u, v in edges}))
        src = np.array([u for u, _ in pairs])
        dst = np.array([v for _, v in pairs])
        vertices = np.arange(1, n + 1)
        want, want_it = oracles.pagerank(pairs, vertices.tolist())
        ids, rank, it = floor.pagerank(src, dst, vertices)
        assert it == want_it
        assert np.allclose(rank, [want[v] for v in ids.tolist()], rtol=0, atol=1e-12)


@pytest.mark.parametrize("make", [W.zipf_edges, W.ba_edges])
def test_seed_relabels_the_same_graph(make):
    a, b = make(1), make(2)
    assert len(a) == len(b) and not a.equals(b)
    assert sorted(a.src.value_counts()) == sorted(b.src.value_counts())
    assert make(1).equals(a)


@pytest.fixture()
def tiny(monkeypatch, tmp_path):
    """corpus_ingest on a 60-repo corpus."""
    monkeypatch.setattr(W, "BA_N", 60)
    monkeypatch.setattr(W, "BA_M", 3)
    bench = run.Bench("corpus_ingest", 7, str(tmp_path / "run"), str(tmp_path / "inputs"))
    os.makedirs(bench.run_dir)
    yield bench
    bench.stop_session()


def test_tiny_traced_run_is_correct_and_folds_every_call(tiny):
    res = tiny.run(seconds=0, trace=True)
    assert tiny.attempted == 3 and tiny.failed == 0
    groups = [c["group"] for c in res["rounds"][0].values()]
    assert all(res["eventlog"][g]["jobs"] > 0 for g in groups)
    pr = res["rounds"][0]["pagerank"]
    assert pr["spark.jobs"] == res["eventlog"][pr["group"]]["jobs"]


def test_injected_wrong_answer_raises_failed_frac(tiny, monkeypatch):
    def wrong(ctx, pdf):
        pdf = pdf.copy()
        pdf.loc[0, "rank"] += 1e-3
        return pdf

    ingest, pagerank, resume = tiny.calls
    wrong_pagerank = W.Call(pagerank.name, pagerank.run, lambda c, v: wrong(c, v[1]), pagerank.check,
                            prepare=pagerank.prepare)
    monkeypatch.setattr(tiny, "calls", [ingest, wrong_pagerank, resume])
    tiny.run(seconds=0, trace=False)
    assert tiny.attempted == 3 and tiny.failed == 1
