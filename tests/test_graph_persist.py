"""Graph.persist_for_iteration: the edge layout is prepared once per
partitioning, whatever the symmetrized-table requests that follow."""

from graftpark.fixtures import G30_HUB
from graftpark.graph import Graph


def test_sym_change_does_not_repartition(spark):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    g.persist_for_iteration(4, sym=True)
    prepared, rdds = g.edges, persistent().size()
    for sym in (False, True):
        g.persist_for_iteration(4, sym=sym)
        assert g.edges is prepared
        assert persistent().size() == rdds
    g.unpersist()


def test_sym_after_directed_adds_only_the_symmetrized_table(spark):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    g.persist_for_iteration(4, sym=False)
    prepared, tables = g.edges, len(g._persisted)
    g.persist_for_iteration(4, sym=True)
    assert g.edges is prepared
    assert g._persisted[tables:] == [g.edges_sym()]
    assert g.edges_sym().count() == 2 * len(edges)
    g.unpersist()
