"""Driver-contract queries over /root/testdata parquet, with DuckDB oracles.

Each function here backs one ``__spark_entry__.queries()`` entry and has
a matching ANSI-SQL oracle in ``ORACLE_SQL`` (FIXTURES.md §3). The graph
queries run over edge tables derived deterministically from the TPC-H-ish
tables:

- bipartite customer→supplier graph: ``src=o_custkey, dst=l_suppkey+1e6``
- dense nation→nation graph (cyclic, triangle-rich) for the kernels that
  need closure oracles (WITH RECURSIVE).

Column names and types are aligned on both sides; floating results are
rounded to 8 dp on both sides (the engines sum in different orders, so
raw doubles differ in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from graftpark.graph import Graph, edges_from_testdata, nation_edges_from_testdata
from graftpark.kernels.bfs import bfs_levels, bfs_parents
from graftpark.kernels.components import connected_components, components_df
from graftpark.kernels.labelprop import label_propagation, labels_df
from graftpark.kernels.pagerank import pagerank
from graftpark.kernels.triangles import triangle_count

ALPHA = 0.85
PR_STEPS = 10
LP_STEPS = 2

# ---------------------------------------------------------------- SQL CTEs

_EDGES_CTE = """
e AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)"""

_NATION_CTE = """
ne AS MATERIALIZED (
  SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS src, CAST(s_nationkey AS BIGINT) AS dst
  FROM orders
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
),
ns AS MATERIALIZED (SELECT src, dst FROM ne UNION SELECT dst, src FROM ne),
nv AS (SELECT DISTINCT src AS id FROM ns)"""

#: parity-filtered nation graph — keep a directed nation pair iff its
#: supporting (order, lineitem) row count is odd. Data-derived, sparser
#: than the (complete at sf>=0.01) nation graph, so MIS rounds select
#: multi-vertex independent sets — the nontrivial coloring fixture.
_NATION_SPARSE_CTE = """
nef AS MATERIALIZED (
  SELECT CAST(c_nationkey AS BIGINT) AS src, CAST(s_nationkey AS BIGINT) AS dst
  FROM orders
  JOIN lineitem ON o_orderkey = l_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey <> s_nationkey
  GROUP BY 1, 2
  HAVING COUNT(*) % 2 = 1
),
nsf AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (SELECT src, dst FROM nef UNION ALL SELECT dst, src FROM nef)
),
nvf AS (SELECT DISTINCT src AS id FROM nsf)"""
# ^ dedup via DISTINCT-over-UNION-ALL, not bare UNION: inside a WITH
# RECURSIVE block (the greedy-coloring oracle) DuckDB 1.0 gives the
# plain UNION of even non-recursive CTEs union-all semantics, silently
# doubling every symmetrized degree.


# ---------------------------------------------------------------- queries

def sparse_nation_edges_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of ``_NATION_SPARSE_CTE`` (parity-filtered nation pairs)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, lineitem.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("c_nationkey").cast("long").alias("src"),
            F.col("s_nationkey").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .count()
        .where(F.col("count") % 2 == 1)
        .select("src", "dst")
    )


def q_edges_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edges_from_testdata(spark, sf_dir)


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Graph(edges_from_testdata(spark, sf_dir)).degrees()


def q_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = Graph(edges_from_testdata(spark, sf_dir)).degrees()
    return deg.orderBy(F.desc("deg"), F.asc("id")).limit(10).select("id", "deg")


def q_symmetrize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Graph(nation_edges_from_testdata(spark, sf_dir)).edges_sym()


def q_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(edges_from_testdata(spark, sf_dir))
    res = pagerank(g, alpha=ALPHA, tol=0.0, max_supersteps=PR_STEPS)
    out = res.state.select("id", F.round("rank", 8).alias("rank"))
    g.unpersist()
    return out


def q_pagerank_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same computation as pagerank_fixed through the PACKED strategy —
    the path strategy='auto' actually selects at scale (binary vector
    messages between bucket tasks); this row puts the at-scale execution
    path in front of the external oracle, not just pytest
    strategy-equality tests."""
    g = Graph(edges_from_testdata(spark, sf_dir))
    res = pagerank(g, alpha=ALPHA, tol=0.0, max_supersteps=PR_STEPS, strategy="packed")
    out = res.state.select("id", F.round("rank", 8).alias("rank"))
    g.unpersist()
    return out


def q_pagerank_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_rule resume contract, in front of the external oracle:
    run packed PageRank for half the supersteps with a durable
    checkpoint, DISCARD that run (the simulated crash), resume from the
    checkpoint to the full PR_STEPS — the final ranks must equal an
    uninterrupted PR_STEPS-step run (oracle = the pagerank_fixed SQL).
    The checkpoint dir is removed on return: the packed result is
    materialized and reads none of it.
    """
    import shutil
    import tempfile

    g = Graph(edges_from_testdata(spark, sf_dir))
    run_dir = tempfile.mkdtemp(prefix="graftpark-pr-resume-")
    half = PR_STEPS // 2
    try:
        pagerank(g, alpha=ALPHA, tol=0.0, max_supersteps=half, strategy="packed",
                 checkpoint_dir=run_dir, checkpoint_every=half)
        res = pagerank(g, alpha=ALPHA, tol=0.0, max_supersteps=PR_STEPS, strategy="packed",
                       checkpoint_dir=run_dir, checkpoint_every=half, resume=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = res.state.select("id", F.round("rank", 8).alias("rank"))
    g.unpersist()
    return out


def q_cc_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cc_bipartite via the packed min-semiring strategy (the at-scale
    CC path — see q_pagerank_packed)."""
    g = Graph(edges_from_testdata(spark, sf_dir))
    res = connected_components(g, strategy="packed")
    out = components_df(res)
    g.unpersist()
    return out


def q_cc_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    res = connected_components(g)
    out = components_df(res)
    g.unpersist()
    return out


def q_cc_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(edges_from_testdata(spark, sf_dir))
    res = connected_components(g)
    out = components_df(res)
    g.unpersist()
    return out


def q_cc_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-star/small-star CC (O(log n) rounds, diameter-independent)
    on the bipartite link graph — same oracle as cc_bipartite."""
    from graftpark.kernels.components import connected_components_twophase

    g = Graph(edges_from_testdata(spark, sf_dir))
    res = connected_components_twophase(g)
    out = components_df(res)
    g.unpersist()
    return out


def q_triangles_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    n = triangle_count(g)
    g.unpersist()
    return spark.createDataFrame([(n,)], "triangles LONG")


def q_triangles_per_vertex_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle membership via the edge-iterator plan
    (kernels/triangles.py) — each triangle credits its three corners."""
    from graftpark.kernels.triangles import triangles_per_vertex

    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    out = triangles_per_vertex(g)
    g.unpersist()
    return out


def q_label_prop_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    res = label_propagation(g, max_supersteps=LP_STEPS)
    out = labels_df(res)
    g.unpersist()
    return out


def q_label_prop_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """label_prop_nation via the packed mode-semiring strategy (the
    at-scale LP path — see q_pagerank_packed)."""
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    res = label_propagation(g, max_supersteps=LP_STEPS, strategy="packed")
    out = labels_df(res)
    g.unpersist()
    return out


def q_mis_coloring_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Luby-style MIS coloring (reference C7,
    BLAS_coloring.jl:8-216) on the dense nation graph. Deterministic by
    construction (static injective priorities w = deg·(n+1) + (n + 1 − r),
    r the id's dense rank),
    so the DuckDB oracle unrolls the exact rounds in SQL."""
    from graftpark.kernels.coloring import mis_coloring

    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    res = mis_coloring(g)
    out = res.state.select("id", "color")
    g.unpersist()
    return out


def q_mis_coloring_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same kernel on the parity-filtered nation graph — sparse enough
    that each outer round's maximal independent set takes 2-3 inner
    rounds to build (the complete nation graph degenerates to one
    vertex per color), exercising the knockout/accumulate dataflow."""
    from graftpark.kernels.coloring import mis_coloring

    g = Graph(sparse_nation_edges_from_testdata(spark, sf_dir))
    res = mis_coloring(g)
    out = res.state.select("id", "color")
    g.unpersist()
    return out


def q_greedy_coloring_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential largest-degree-first greedy coloring (reference C4,
    greedy_coloring_seq.jl:76-79) on the parity-filtered nation graph.
    Loop-carried per-vertex dependence → driver-side oracle kernel; the
    DuckDB oracle replays the same scan as a recursive CTE carrying the
    partial assignment as a STRUCT list."""
    from graftpark.kernels.coloring import greedy_coloring

    g = Graph(sparse_nation_edges_from_testdata(spark, sf_dir))
    df, _ = greedy_coloring(g, order="degree")
    g.unpersist()
    return df.select("id", "color")


def q_bfs_levels_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    source = g.vertices().agg(F.min("id")).collect()[0][0]
    out = bfs_levels(g, source)
    g.unpersist()
    return out


def q_bfs_parents_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = Graph(nation_edges_from_testdata(spark, sf_dir))
    source = g.vertices().agg(F.min("id")).collect()[0][0]
    res = bfs_parents(g, source)
    g.unpersist()
    return res.state


# ---------------------------------------------------------------- oracles

def _pagerank_fixed_sql() -> str:
    """Unrolled power iteration: r0..r{K}, dangling mass redistributed."""
    parts = [
        "WITH " + _EDGES_CTE.strip() + ",",
        "v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),",
        "od AS MATERIALIZED (SELECT src AS id, COUNT(*) AS odeg FROM e GROUP BY src),",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM v),",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM v),",
    ]
    for k in range(1, PR_STEPS + 1):
        p = f"r{k - 1}"
        parts.append(
            f"""r{k} AS MATERIALIZED (
  SELECT v.id,
    (1 - {ALPHA}) / (SELECT n FROM nn)
    + {ALPHA} * (SELECT COALESCE(SUM(r.rank), 0) FROM {p} r LEFT JOIN od ON od.id = r.id
                 WHERE od.id IS NULL) / (SELECT n FROM nn)
    + {ALPHA} * COALESCE(s.contrib, 0) AS rank
  FROM v LEFT JOIN (
    SELECT e.dst AS id, SUM(r.rank / od.odeg) AS contrib
    FROM e JOIN {p} r ON r.id = e.src JOIN od ON od.id = e.src
    GROUP BY e.dst) s ON s.id = v.id
),"""
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, ROUND(rank, 8) AS rank FROM r{PR_STEPS}")
    return "\n".join(parts)


def _label_prop_sql() -> str:
    """K synchronous LP steps: mode of neighbor labels, min tie-break."""
    parts = ["WITH " + _NATION_CTE.strip() + ",", "l0 AS MATERIALIZED (SELECT id, id AS label FROM nv),"]
    for k in range(1, LP_STEPS + 1):
        p = f"l{k - 1}"
        parts.append(
            f"""l{k} AS MATERIALIZED (
  SELECT nv.id, COALESCE(b.lab, nv.id) AS label
  FROM nv LEFT JOIN (
    SELECT id, lab FROM (
      SELECT ns.dst AS id, l.label AS lab, COUNT(*) AS c,
             ROW_NUMBER() OVER (PARTITION BY ns.dst ORDER BY COUNT(*) DESC, l.label ASC) AS rn
      FROM ns JOIN {p} l ON l.id = ns.src
      GROUP BY ns.dst, l.label) t
    WHERE rn = 1) b ON b.id = nv.id
),"""
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, label FROM l{LP_STEPS}")
    return "\n".join(parts)


def _mis_coloring_sql(prefix_cte: str, sym: str, verts: str, n_outer: int, n_inner: int) -> str:
    """Unrolled deterministic Luby-MIS coloring (kernels/coloring.py
    mis_coloring) as pure SQL, mirroring label_prop's unrolled oracle.

    Static injective priorities w(v) = deg(v)·(n+1) + (n + 1 − r(v)), with
    r(v) the dense rank of v's id among the vertices. Outer
    round o: build a maximal IS over the uncolored set in ≤ n_inner
    inner rounds (select local weight maxima among candidates, knock
    out their neighbors), assign color o. Rounds beyond the fixed point
    are no-ops (empty selections), so the bounds only need to EXCEED
    the deterministic round counts (measured at sf0.01: complete nation
    graph 25 outer × 1 inner; sparse 10 outer × ≤3 inner). Every CTE is
    MATERIALIZED — candidate sets are referenced 3× per round and
    DuckDB would otherwise inline them exponentially down the chain.
    """
    parts = [
        "WITH " + prefix_cte.strip() + ",",
        f"deg_m AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM {sym} GROUP BY src),",
        f"nn_m AS MATERIALIZED (SELECT COUNT(*) AS n FROM {verts}),",
        f"""w_m AS MATERIALIZED (
  SELECT v.id,
         COALESCE(d.deg, 0) * ((SELECT n FROM nn_m) + 1)
           + ((SELECT n FROM nn_m) + 1 - DENSE_RANK() OVER (ORDER BY v.id)) AS w
  FROM {verts} v LEFT JOIN deg_m d ON d.id = v.id),""",
        "unc_0 AS MATERIALIZED (SELECT id, w FROM w_m),",
        "col_0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INT) AS color WHERE 1 = 0),",
    ]
    for o in range(1, n_outer + 1):
        parts.append(f"cand_{o}_0 AS MATERIALIZED (SELECT id, w FROM unc_{o - 1}),")
        for i in range(1, n_inner + 1):
            parts.append(
                f"""sel_{o}_{i} AS MATERIALIZED (
  SELECT c.id, c.w FROM cand_{o}_{i - 1} c
  LEFT JOIN (SELECT s.dst AS id, MAX(c2.w) AS mw
             FROM {sym} s JOIN cand_{o}_{i - 1} c2 ON c2.id = s.src
             GROUP BY s.dst) m ON m.id = c.id
  WHERE m.mw IS NULL OR c.w > m.mw),"""
            )
            parts.append(
                f"""cand_{o}_{i} AS MATERIALIZED (
  SELECT c.id, c.w FROM cand_{o}_{i - 1} c
  WHERE c.id NOT IN (SELECT id FROM sel_{o}_{i})
    AND c.id NOT IN (SELECT s.dst FROM {sym} s JOIN sel_{o}_{i} x ON x.id = s.src)),"""
            )
        sel_union = " UNION ".join(f"SELECT id FROM sel_{o}_{i}" for i in range(1, n_inner + 1))
        parts.append(f"is_{o} AS MATERIALIZED ({sel_union}),")
        parts.append(
            f"col_{o} AS MATERIALIZED (SELECT id, color FROM col_{o - 1} "
            f"UNION ALL SELECT id, {o} AS color FROM is_{o}),"
        )
        parts.append(
            f"unc_{o} AS MATERIALIZED (SELECT u.id, u.w FROM unc_{o - 1} u "
            f"WHERE u.id NOT IN (SELECT id FROM is_{o})),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, CAST(color AS INT) AS color FROM col_{n_outer}")
    return "\n".join(parts)


ORACLE_SQL: dict[str, str] = {
    "edges_derive": f"WITH {_EDGES_CTE.strip()} SELECT src, dst FROM e",
    "degrees": f"""
WITH {_EDGES_CTE.strip()},
v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
s AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)
SELECT v.id AS id,
       COALESCE(od.c, 0) AS out_deg,
       COALESCE(idg.c, 0) AS in_deg,
       COALESCE(dg.c, 0) AS deg
FROM v
LEFT JOIN (SELECT src, COUNT(*) AS c FROM e GROUP BY src) od ON od.src = v.id
LEFT JOIN (SELECT dst, COUNT(*) AS c FROM e GROUP BY dst) idg ON idg.dst = v.id
LEFT JOIN (SELECT src, COUNT(*) AS c FROM s GROUP BY src) dg ON dg.src = v.id
""",
    "degree_topk": f"""
WITH {_EDGES_CTE.strip()},
v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
s AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
d AS (SELECT v.id AS id, COALESCE(dg.c, 0) AS deg
      FROM v LEFT JOIN (SELECT src, COUNT(*) AS c FROM s GROUP BY src) dg ON dg.src = v.id)
SELECT id, deg FROM d ORDER BY deg DESC, id ASC LIMIT 10
""",
    "symmetrize": f"WITH {_NATION_CTE.strip()} SELECT src, dst FROM ns",
    "pagerank_fixed": _pagerank_fixed_sql(),
    "cc_nation": f"""
WITH RECURSIVE {_NATION_CTE.strip()},
reach(id, r) AS (
  SELECT id, id FROM nv
  UNION
  SELECT ns.dst, reach.r FROM reach JOIN ns ON ns.src = reach.id
)
SELECT id, MIN(r) AS comp FROM reach GROUP BY id
""",
    "cc_bipartite": f"""
WITH RECURSIVE {_EDGES_CTE.strip()},
s AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
v AS (SELECT DISTINCT src AS id FROM s),
reach(id, r) AS (
  SELECT id, id FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN s ON s.src = reach.id
)
SELECT id, MIN(r) AS comp FROM reach GROUP BY id
""",
    "triangles_nation": f"""
WITH {_NATION_CTE.strip()},
c AS (SELECT src AS u, dst AS v FROM ns WHERE src < dst)
SELECT COUNT(*) AS triangles
FROM c a JOIN c b ON a.v = b.u JOIN c t ON t.u = a.u AND t.v = b.v
""",
    "triangles_per_vertex_nation": f"""
WITH {_NATION_CTE.strip()},
c AS (SELECT src AS u, dst AS v FROM ns WHERE src < dst),
tri AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM c a JOIN c b ON a.v = b.u JOIN c t ON t.u = a.u AND t.v = b.v),
corners AS (
  SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
cnt AS (SELECT id, COUNT(*) AS c FROM corners GROUP BY id)
SELECT nv.id AS id, COALESCE(cnt.c, 0) AS triangles
FROM nv LEFT JOIN cnt ON cnt.id = nv.id
""",
    "label_prop_nation": _label_prop_sql(),
    "bfs_levels_nation": f"""
WITH RECURSIVE {_NATION_CTE.strip()},
src0 AS (SELECT MIN(id) AS id FROM nv),
reach(id, level) AS (
  SELECT id, 0 FROM src0
  UNION
  SELECT ns.dst, reach.level + 1 FROM reach JOIN ns ON ns.src = reach.id
  WHERE reach.level < 50
)
SELECT id, CAST(MIN(level) AS INT) AS level FROM reach GROUP BY id
""",
    "bfs_parents_nation": f"""
WITH RECURSIVE {_NATION_CTE.strip()},
src0 AS (SELECT MIN(id) AS id FROM nv),
reach(id, level) AS (
  SELECT id, 0 FROM src0
  UNION
  SELECT ns.dst, reach.level + 1 FROM reach JOIN ns ON ns.src = reach.id
  WHERE reach.level < 50
),
lvl AS (SELECT id, MIN(level) AS level FROM reach GROUP BY id)
SELECT l.id AS id, MIN(ns.src) AS parent
FROM lvl l JOIN ns ON ns.dst = l.id JOIN lvl p ON p.id = ns.src AND p.level = l.level - 1
WHERE l.level > 0
GROUP BY l.id
UNION ALL
SELECT id, id AS parent FROM src0
""",
}

def _greedy_coloring_sql() -> str:
    """Sequential degree-ordered greedy as ONE recursive CTE: each
    iteration colors the next vertex in (deg DESC, id ASC) order with
    the smallest color absent from its already-colored neighborhood —
    the partial assignment travels through the recursion as a STRUCT
    list (the loop-carried dependence SQL cannot parallelize either)."""
    used = (
        "list_transform(list_filter(r.acc, a -> list_contains(nb.nb, a.id)), a -> a.c)"
    )
    return f"""
WITH RECURSIVE {_NATION_SPARSE_CTE.strip()},
degq AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM nsf GROUP BY src),
ordq AS MATERIALIZED (
  SELECT v.id, ROW_NUMBER() OVER (ORDER BY COALESCE(d.deg, 0) DESC, v.id ASC) AS rn
  FROM nvf v LEFT JOIN degq d ON d.id = v.id),
nbq AS MATERIALIZED (
  SELECT o.rn, list(s.dst) AS nb FROM ordq o LEFT JOIN nsf s ON s.src = o.id GROUP BY o.rn),
rec(rn, acc) AS (
  SELECT 0, []::STRUCT(id BIGINT, c INT)[]
  UNION ALL
  SELECT r.rn + 1,
    r.acc || [{{'id': o.id,
               'c': CAST(list_min(list_filter(
                      generate_series(1, len({used}) + 1),
                      x -> NOT list_contains({used}, x))) AS INT)}}]
  FROM rec r JOIN ordq o ON o.rn = r.rn + 1 JOIN nbq nb ON nb.rn = r.rn + 1
),
fin AS (SELECT acc FROM rec WHERE rn = (SELECT MAX(rn) FROM rec))
SELECT CAST(a.id AS BIGINT) AS id, CAST(a.c AS INT) AS color
FROM (SELECT unnest(acc) AS a FROM fin)
"""


ORACLE_SQL["greedy_coloring_sparse"] = _greedy_coloring_sql()
ORACLE_SQL["mis_coloring_nation"] = _mis_coloring_sql(_NATION_CTE, "ns", "nv", n_outer=27, n_inner=3)
ORACLE_SQL["mis_coloring_sparse"] = _mis_coloring_sql(
    _NATION_SPARSE_CTE, "nsf", "nvf", n_outer=14, n_inner=6
)
ORACLE_SQL["pagerank_packed"] = ORACLE_SQL["pagerank_fixed"]
ORACLE_SQL["pagerank_resume"] = ORACLE_SQL["pagerank_fixed"]
ORACLE_SQL["cc_packed"] = ORACLE_SQL["cc_bipartite"]
ORACLE_SQL["cc_twophase"] = ORACLE_SQL["cc_bipartite"]
ORACLE_SQL["label_prop_packed"] = ORACLE_SQL["label_prop_nation"]

from graftpark.driver_queries_pipeline import PIPELINE_ORACLE_SQL, PIPELINE_QUERIES  # noqa: E402

ORACLE_SQL.update(PIPELINE_ORACLE_SQL)

QUERIES = {
    "edges_derive": q_edges_derive,
    "degrees": q_degrees,
    "degree_topk": q_degree_topk,
    "symmetrize": q_symmetrize,
    "pagerank_fixed": q_pagerank_fixed,
    "pagerank_packed": q_pagerank_packed,
    "pagerank_resume": q_pagerank_resume,
    "cc_nation": q_cc_nation,
    "cc_packed": q_cc_packed,
    "cc_twophase": q_cc_twophase,
    "cc_bipartite": q_cc_bipartite,
    "triangles_nation": q_triangles_nation,
    "triangles_per_vertex_nation": q_triangles_per_vertex_nation,
    "mis_coloring_nation": q_mis_coloring_nation,
    "mis_coloring_sparse": q_mis_coloring_sparse,
    "greedy_coloring_sparse": q_greedy_coloring_sparse,
    "label_prop_nation": q_label_prop_nation,
    "label_prop_packed": q_label_prop_packed,
    "bfs_levels_nation": q_bfs_levels_nation,
    "bfs_parents_nation": q_bfs_parents_nation,
    **PIPELINE_QUERIES,
}
