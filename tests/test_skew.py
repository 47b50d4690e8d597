"""Skew handling on hub-dominated graphs (SURVEY §4.3.2 / milestone 7).

The engine's skew strategy is layered, not salt-based:

1. broadcast-state path (default ≤ GRAFTPARK_BROADCAST_V_LIMIT): edges
   stay in BALANCED round-robin partitions and the slim vertex state is
   broadcast to them, so a hub's edges are already spread over all
   tasks — skew-proof by construction.
2. co-partitioned path (broadcast_state=False): V-row state shuffles to
   the edge partitioning; AQE skew-join splitting divides oversized
   partitions at runtime.
3. packed path: a hub's out-edges live in one bucket but the
   per-edge work is a vectorized gather (no per-row overhead), and
   dst-side partials are bucket-balanced by pmod(hash).

These tests pin the REQUIRED property: all paths produce identical
results on the max-skew fixtures (star graph, power-law), so the
balanced-broadcast plan can always be swapped in where a hub would
otherwise dominate a task.
"""

import pytest

from graftpark.fixtures import powerlaw_edges_pdf, star_graph
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components
from graftpark.kernels.pagerank import pagerank


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


def _comps(res):
    return {r["id"]: r["comp"] for r in res.state.select("id", "comp").collect()}


@pytest.fixture(scope="module")
def star(spark):
    # one hub with 9999 spokes — the degenerate-skew fixture
    return Graph.from_edge_list(spark, star_graph(10000), directed=False)


@pytest.fixture(scope="module")
def powerlaw(spark):
    return Graph(spark.createDataFrame(powerlaw_edges_pdf(30000, 4000, seed=3)))


def test_star_pagerank_broadcast_vs_copartitioned(spark, star):
    a = _ranks(pagerank(star, broadcast_state=True, max_supersteps=20, strategy="dataframe"))
    b = _ranks(pagerank(star, broadcast_state=False, max_supersteps=20))
    assert set(a) == set(b)
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12
    hub, spoke = a[1], a[2]
    assert hub > 100 * spoke  # sanity: the hub actually dominates


def test_star_cc_broadcast_vs_copartitioned(spark, star):
    a = _comps(connected_components(star, broadcast_state=True, strategy="dataframe"))
    b = _comps(connected_components(star, broadcast_state=False))
    assert a == b
    assert set(a.values()) == {1}


def test_powerlaw_pagerank_all_paths_agree(spark, powerlaw, tmp_path):
    a = _ranks(pagerank(powerlaw, broadcast_state=True, max_supersteps=15,
                        strategy="dataframe"))
    b = _ranks(pagerank(powerlaw, broadcast_state=False, max_supersteps=15))
    c = _ranks(pagerank(powerlaw, strategy="packed", max_supersteps=15,
                        block_dir=str(tmp_path / "blk")))
    d = _ranks(pagerank(powerlaw, max_supersteps=15))  # one packed bucket
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12
    assert max(abs(a[k] - c[k]) for k in a) < 1e-9
    assert max(abs(a[k] - d[k]) for k in a) < 1e-12


def test_star_cc_packed_path(spark, star, tmp_path):
    a = _comps(connected_components(star, strategy="packed", block_dir=str(tmp_path / "blk")))
    assert set(a.values()) == {1} and len(a) == 10000
