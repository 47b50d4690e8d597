import pytest

from graftpark import oracles
from graftpark.fixtures import FIXTURES
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components, components_df
from graftpark.kernels.labelprop import label_propagation, labels_df


def _sym(edges, directed):
    return edges if directed else edges + [(v, u) for u, v in edges]


def _both(names):
    """Each fixture under ``strategy="auto"`` (id: the fixture) and under
    the dataframe reference (id: ``{fixture}-dataframe``)."""
    return [pytest.param(name, strategy, id=name if strategy == "auto" else f"{name}-{strategy}")
            for name in names for strategy in ("auto", "dataframe")]


@pytest.mark.parametrize(
    "name,strategy", _both(["g4_cycle", "g6_two_comp", "g8_two_comp", "g4_dir", "g14_dir", "g30_hub"]))
def test_connected_components_exact(spark, name, strategy):
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    res = connected_components(g, strategy=strategy)
    assert res.converged
    got = {r["id"]: r["comp"] for r in components_df(res).collect()}
    expect = oracles.connected_components(_sym(edges, directed), range(1, n + 1))
    assert got == expect
    g.unpersist()


def test_components_two_comp_sets(spark):
    n, directed, edges = FIXTURES["g6_two_comp"]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    got = {r["id"]: r["comp"] for r in components_df(connected_components(g)).collect()}
    assert {v for v, c in got.items() if c == 1} == {1, 2, 3}
    assert {v for v, c in got.items() if c == 4} == {4, 5, 6}
    g.unpersist()


def test_components_isolated_vertices(spark):
    g = Graph.from_edge_list(spark, [(1, 2)], n=4, directed=False)
    got = {r["id"]: r["comp"] for r in components_df(connected_components(g)).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}
    g.unpersist()


@pytest.mark.parametrize("name,strategy", _both(["g6_two_comp", "g8_two_comp", "g30_hub", "g15_dense"]))
def test_label_propagation_matches_oracle(spark, name, strategy):
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    res = label_propagation(g, max_supersteps=8, strategy=strategy)
    got = {r["id"]: r["label"] for r in labels_df(res).collect()}
    expect, iters = oracles.label_propagation(_sym(edges, directed), range(1, n + 1), max_iter=8)
    assert got == expect
    # labels partition components: every label's members share a component
    comp = oracles.connected_components(_sym(edges, directed), range(1, n + 1))
    for v, lab in got.items():
        assert comp[v] == comp[lab]
    g.unpersist()


@pytest.mark.parametrize("name", ["g8_two_comp", "g30_hub"])
def test_auto_matches_dataframe(spark, name):
    """Components and labels of ``strategy="auto"`` equal the dataframe
    reference's exactly, in the same number of supersteps."""
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    for kernel, table in ((connected_components, components_df), (label_propagation, labels_df)):
        auto, ref = kernel(g), kernel(g, strategy="dataframe")
        assert auto.supersteps == ref.supersteps and auto.converged == ref.converged
        assert sorted(table(auto).collect()) == sorted(table(ref).collect())
    g.unpersist()


def test_twophase_cc_matches_minlabel(spark):
    from graftpark.fixtures import G8_TWO_COMP, powerlaw_edges_pdf
    from graftpark.kernels.components import connected_components_twophase

    n, directed, edges = G8_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    a = {r["id"]: r["comp"] for r in connected_components(g).state.collect()}
    b = {r["id"]: r["comp"] for r in connected_components_twophase(g).state.collect()}
    assert a == b
    pl = Graph(spark.createDataFrame(powerlaw_edges_pdf(20000, 3000, seed=5)))
    a = {r["id"]: r["comp"] for r in connected_components(pl).state.collect()}
    res = connected_components_twophase(pl)
    assert {r["id"]: r["comp"] for r in res.state.collect()} == a
    assert res.converged


def test_twophase_cc_diameter_independent(spark):
    """On a path graph (diameter n-1) min-label needs ~n supersteps;
    two-phase star contraction needs O(log n) rounds."""
    from graftpark.fixtures import path_digraph
    from graftpark.kernels.components import connected_components_twophase

    g = Graph.from_edge_list(spark, path_digraph(1000), directed=False)
    res = connected_components_twophase(g)
    assert res.converged and res.supersteps <= 15
    comps = {r["comp"] for r in res.state.collect()}
    assert comps == {1}


def test_twophase_cc_checkpoint_resume(spark, tmp_path):
    from graftpark.fixtures import powerlaw_edges_pdf
    from graftpark.kernels.components import connected_components_twophase

    pl = Graph(spark.createDataFrame(powerlaw_edges_pdf(15000, 2500, seed=9)))
    run = str(tmp_path / "run")
    full = {r["id"]: r["comp"]
            for r in connected_components_twophase(pl).state.collect()}
    # partial run: stop after round 2 (checkpoint_every=1 → durable each round)
    connected_components_twophase(pl, max_rounds=2, checkpoint_dir=run, checkpoint_every=1)
    res = connected_components_twophase(pl, checkpoint_dir=run, checkpoint_every=1,
                                        resume=True)
    resumed = {r["id"]: r["comp"] for r in res.state.collect()}
    assert res.metrics[0]["superstep"] == 1  # metrics replayed from file
    assert resumed == full
