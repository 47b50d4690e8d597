import math

import pytest

from graftpark import oracles
from graftpark.fixtures import FIXTURES
from graftpark.graph import Graph
from graftpark.kernels.pagerank import pagerank, ranks_df


def _graph(spark, name):
    n, directed, edges = FIXTURES[name]
    return Graph.from_edge_list(spark, edges, n=n, directed=directed), n, directed, edges


def _ranks(res):
    return {r["id"]: r["rank"] for r in ranks_df(res).collect()}


def _both(names):
    """Each fixture under ``strategy="auto"`` (id: the fixture) and under
    the dataframe reference (id: ``{fixture}-dataframe``)."""
    return [pytest.param(name, strategy, id=name if strategy == "auto" else f"{name}-{strategy}")
            for name in names for strategy in ("auto", "dataframe")]


def _by_strategy(g, **kwargs):
    """``auto`` and ``dataframe`` runs of one PageRank, asserted to agree:
    ranks within 1e-12 and the same superstep count."""
    runs = {s: pagerank(g, strategy=s, **kwargs) for s in ("auto", "dataframe")}
    a, b = _ranks(runs["auto"]), _ranks(runs["dataframe"])
    assert a.keys() == b.keys() and max(abs(a[v] - b[v]) for v in a) < 1e-12
    assert runs["auto"].supersteps == runs["dataframe"].supersteps
    return runs


@pytest.mark.parametrize("name,strategy", _both(["g4_cycle", "g6_two_comp", "g4_dir", "g14_dir"]))
def test_pagerank_fixed_supersteps_matches_oracle(spark, name, strategy):
    g, n, directed, edges = _graph(spark, name)
    k = 12
    res = pagerank(g, tol=0.0, max_supersteps=k, strategy=strategy)
    assert res.supersteps == k
    got = _ranks(res)
    oracle_edges = edges if directed else edges + [(v, u) for u, v in edges]
    expect, _ = oracles.pagerank(oracle_edges, range(1, n + 1), tol=0.0, max_iter=k)
    assert set(got) == set(expect)
    for v in expect:
        assert got[v] == pytest.approx(expect[v], abs=1e-9)
    g.unpersist()


def test_pagerank_convergence_g30(spark):
    g, n, directed, edges = _graph(spark, "g30_hub")
    oracle_edges = edges + [(v, u) for u, v in edges]
    expect, iters = oracles.pagerank(oracle_edges, range(1, n + 1), tol=1e-6, max_iter=200)
    for res in _by_strategy(g, tol=1e-6, max_supersteps=200).values():
        assert res.converged
        got = _ranks(res)
        for v in expect:
            assert got[v] == pytest.approx(expect[v], abs=1e-6)
        assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)
        # metrics recorded every superstep with delta + active + wall
        assert len(res.metrics) == res.supersteps
        assert all("delta" in m and "wall_s" in m and "active" in m for m in res.metrics)
    g.unpersist()


def test_pagerank_dangling_and_isolated(spark):
    # path digraph 1→2→3 plus isolated vertex 4: vertex 3 dangles
    g = Graph.from_edge_list(spark, [(1, 2), (2, 3)], n=4, directed=True)
    expect, _ = oracles.pagerank([(1, 2), (2, 3)], [1, 2, 3, 4], tol=1e-10, max_iter=300)
    for res in _by_strategy(g, tol=1e-10, max_supersteps=300).values():
        got = _ranks(res)
        for v in expect:
            assert got[v] == pytest.approx(expect[v], abs=1e-8)
        assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)
    g.unpersist()


def test_pagerank_empty_graph(spark):
    g = Graph.from_edge_list(spark, [], directed=True)
    res = pagerank(g)
    assert res.state.count() == 0
