"""Pair-store integrity for the scaling evidence (bench_scaling.py).

The north-rule artifact lives or dies on two properties the round-3/4
verdicts called out: (1) APPEND-ONLY — a re-run must never erase any
prior run's evidence; (2) no history mixing — runs at a different
input size or process topology must key separately, so a best-of
headline always compares like with like. Pure-python: no Spark.
"""
import json
import os

import pytest

import bench_scaling as bs


def _result(edges: int, value: float, master: str = "local[{tasks}]") -> dict:
    level = {
        "edges": edges,
        "supersteps": 16,
        "mean_superstep_s": 1.0,
        "edges_per_sec_per_superstep": edges,
    }
    return {
        "metric": "scaling_efficiency",
        "value": value,
        "unit": "ratio",
        "low": dict(level),
        "high": dict(level),
        "master_template": master,
    }


@pytest.fixture()
def store(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(bs, "PAIRS_PATH", str(tmp_path / "pairs.json"))
    return tmp_path


def _load(store):
    with open(os.path.join(store, "pairs.json")) as f:
        return json.load(f)


def test_default_input_keys_plain_pair(store):
    bs.record_pair(8, 32, _result(256_000_000, 0.5))
    assert set(_load(store)) == {"8->32"}


def test_nondefault_edges_get_own_history(store):
    bs.record_pair(8, 32, _result(256_000_000, 0.5))
    bs.record_pair(8, 32, _result(1_000_000_000, 0.7))
    pairs = _load(store)
    assert set(pairs) == {"8->32", "8->32 @1000000000e"}
    # append-only: the 256M history is untouched by the 1B run
    assert len(pairs["8->32"]["runs"]) == 1
    assert pairs["8->32"]["runs"][0]["low"]["edges"] == 256_000_000


def test_local_cluster_and_edges_suffixes_compose(store):
    bs.record_pair(8, 32, _result(1_000_000_000, 0.6, "local-cluster[{n},4,2048]"))
    assert set(_load(store)) == {"8->32 local-cluster @1000000000e"}


def test_rerun_appends_never_replaces(store):
    bs.record_pair(8, 32, _result(256_000_000, 0.4))
    bs.record_pair(8, 32, _result(256_000_000, 0.6))
    runs = _load(store)["8->32"]["runs"]
    assert [r["value"] for r in runs] == [0.4, 0.6]
