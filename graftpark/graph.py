"""Graph data model: a canonical directed edge DataFrame + helpers.

The reference's graph abstraction is an in-memory adjacency structure
with dense 1-indexed integer vertices (reference: src/ParallelGraphs.jl:3-16,
test/runtests.jl:33-45). Our Spark-native equivalent is:

- ``edges(src: long, dst: long)`` — directed, deduplicated, self-loops
  dropped. Undirected semantics = the symmetrized view (both
  directions), mirroring the reference's ``dir=:both`` adjacency
  (reference: src/traversals/coloring/BLAS_coloring.jl:26).
- ``vertices(id: long)`` — the vertex set; includes isolated vertices
  when supplied explicitly (dense ``1..n`` for reference-parity
  fixtures).
- ``degrees(id, out_deg, in_deg, deg)`` — `deg` counts distinct
  undirected neighbors (reference `all_neighbors`,
  src/traversals/coloring/greedy_coloring_seq.jl:20).

Scale notes: the edge table is hash-repartitioned on its join key once
and persisted, so every superstep's edges⋈state join reuses the same
exchange (the Spark analogue of materializing Aᵀ once,
reference: src/traversals/BFS/bfs_BLAS.jl:18).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

#: above this vertex count, kernels stop broadcasting vertex state and
#: switch to co-partitioned (key='src') joins + AQE skew splitting —
#: the broadcast hash-relation build is single-threaded, so it becomes
#: the Amdahl serial fraction of every superstep on larger graphs
BROADCAST_V_LIMIT = int(os.environ.get("GRAFTPARK_BROADCAST_V_LIMIT", "1000000"))


def choose_strategy(n_vertices: int, broadcast_state: bool | None = None) -> bool:
    """True → broadcast-state + balanced edges; False → co-partitioned."""
    if broadcast_state is not None:
        return broadcast_state
    return n_vertices <= BROADCAST_V_LIMIT


def maybe_broadcast(df: DataFrame, enabled: bool) -> DataFrame:
    return F.broadcast(df) if enabled else df


def normalize_edges(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """Canonicalize an edge DataFrame: long ids, dedup, no self-loops."""
    out = (
        edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    if drop_self_loops:
        out = out.where(F.col("src") != F.col("dst"))
    return out.distinct()


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: every edge in both directions, deduplicated."""
    return edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def densify_ids(df: DataFrame, col: str, num_partitions: int | None = None) -> DataFrame:
    """Map distinct values of ``col`` to dense 1..n longs, deterministically.

    Scalable alternative to ``row_number() OVER (ORDER BY col)`` (which
    collapses to a single partition): range-partition the distinct
    values, count rows per partition, then rank within each partition
    and add the partition's prefix-sum offset. Each window is
    per-partition, so the sort parallelizes. (SURVEY.md §1.2)

    Returns ``(col, id)`` with id dense 1..n in ``col``'s sort order.
    """
    from pyspark.sql import Window

    distinct = df.select(col).distinct()
    n_part = num_partitions or distinct.sparkSession.conf.get("spark.sql.shuffle.partitions")
    parted = distinct.repartitionByRange(int(n_part), F.col(col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = parted.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {r["_pid"]: r["cnt"] for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    spark = df.sparkSession
    offsets_df = F.broadcast(
        spark.createDataFrame([(pid, off) for pid, off in offsets.items()], "_pid INT, _offset LONG")
    )
    w = Window.partitionBy("_pid").orderBy(col)
    out = (
        parted.join(offsets_df, "_pid")
        .withColumn("id", F.row_number().over(w).cast("long") + F.col("_offset"))
        .select(col, "id")
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    parted.unpersist()
    return out


def id_stats(df: DataFrame) -> tuple[int, int]:
    """``(rows, fingerprint)`` of ``df``'s ``id`` column in one job: the
    fingerprint is the order-independent ``bit_xor(xxhash64(id))``."""
    fp = F.coalesce(F.bit_xor(F.xxhash64("id")), F.lit(0))
    row = df.agg(F.count("*").alias("n"), fp.alias("fp")).collect()[0]
    return int(row["n"]), int(row["fp"])


class Graph:
    """A directed graph held as DataFrames, persisted for iteration."""

    def __init__(
        self, edges: DataFrame, vertices: DataFrame | None = None, assume_normalized: bool = False
    ):
        self.spark: SparkSession = edges.sparkSession
        # assume_normalized: caller guarantees long-typed, deduplicated,
        # self-loop-free edges — skips the E-row distinct() shuffle
        self.edges = edges if assume_normalized else normalize_edges(edges)
        if vertices is not None:
            self._vertices = vertices.select(F.col("id").cast("long").alias("id")).distinct()
        else:
            self._vertices = None
        self._persisted: list[DataFrame] = []
        self._edges_sym: DataFrame | None = None
        self._degrees: DataFrame | None = None
        self._edge_stats: dict[bool, tuple[int, int]] = {}
        self._vertex_stats: tuple[int, int] | None = None
        self._block_dirs: dict[tuple[bool, int], str] = {}

    # -- construction -------------------------------------------------
    @classmethod
    def from_edge_list(cls, spark: SparkSession, pairs, n: int | None = None, directed: bool = False) -> "Graph":
        """Build from python (u, v) pairs; undirected input is symmetrized.

        ``n`` adds the dense vertex set 1..n (isolated vertices included),
        matching the reference's positional arrays (test/runtests.jl:42-45).
        """
        pairs = list(pairs)
        edges = spark.createDataFrame([(int(u), int(v)) for u, v in pairs] or [], "src LONG, dst LONG")
        if len(pairs) > 10_000:
            # sever the local-relation lineage: with Arrow createDataFrame
            # the driver-side rows otherwise travel inside the plan of
            # EVERY downstream stage (measured 10x slowdown on a 1.2M-edge
            # generated graph); a one-time eager localCheckpoint makes the
            # data an executor-resident RDD like any scanned source
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            edges = edges.repartition(n_part).localCheckpoint(eager=True)
        if not directed:
            edges = symmetrize(edges)
        vertices = None
        if n is not None:
            vertices = spark.range(1, n + 1).select(F.col("id"))
        return cls(edges, vertices)

    @classmethod
    def from_csv(cls, spark: SparkSession, path: str, directed: bool = True) -> "Graph":
        """Edge-list CSV `u,v` per line (reference S1, test/runtests.jl:297-305)."""
        edges = spark.read.schema("src LONG, dst LONG").csv(path)
        if not directed:
            edges = symmetrize(edges)
        return cls(edges)

    @classmethod
    def from_gml(cls, spark: SparkSession, path: str, directed: bool | None = None) -> "Graph":
        """Newman-style GML (reference S2, test/runtests.jl:311-313).

        GML is a single sequential text format, so it is parsed on the
        driver (like the reference's loadgraph) and parallelized into an
        edge DataFrame — appropriate for the metadata-sized graphs GML
        ships; at-scale inputs arrive as parquet/CSV edge tables.
        ``directed=None`` honors the file's ``directed`` flag (default 0).
        """
        import re

        node_ids: list[int] = []
        edges: list[tuple[int, int]] = []
        file_directed = False
        section = None
        src = dst = None
        kv = re.compile(r"^\s*(\w+)\s+(\S+)")
        with open(path) as f:
            for line in f:
                m = kv.match(line)
                tok = line.strip()
                if tok == "node":
                    section, src, dst = "node", None, None
                elif tok == "edge":
                    section, src, dst = "edge", None, None
                elif tok == "]":
                    if section == "edge" and src is not None and dst is not None:
                        edges.append((src, dst))
                    section = None
                elif m:
                    k, v = m.group(1), m.group(2)
                    if section == "node" and k == "id":
                        node_ids.append(int(v))
                    elif section == "edge" and k == "source":
                        src = int(v)
                    elif section == "edge" and k == "target":
                        dst = int(v)
                    elif section is None and k == "directed":
                        file_directed = v == "1"
        if directed is None:
            directed = file_directed
        edf = spark.createDataFrame(edges or [], "src LONG, dst LONG")
        if not directed:
            edf = symmetrize(edf)
        vdf = spark.createDataFrame([(int(i),) for i in node_ids] or [], "id LONG") if node_ids else None
        return cls(edf, vertices=vdf)

    def to_gml(self, path: str, directed: bool = False,
               max_collect_edges: int = 5_000_000) -> None:
        """Write Newman-style GML — export symmetry for ``from_gml``
        (the reference round-trips graphs via loadgraph/savegraph,
        test/runtests.jl:297-313). Driver-side writer, same rationale as
        the from_gml parser: GML is a single sequential text format for
        metadata-sized graphs; at-scale interchange is parquet.

        ``directed=False`` writes each undirected edge once as
        (min, max) — from_gml re-symmetrizes on load; ``directed=True``
        writes ``self.edges`` as-is with the GML directed flag set.
        """
        if directed:
            edf = self.edges.select("src", "dst").distinct()
        else:
            edf = (
                self.edges_sym()
                .select(F.least("src", "dst").alias("src"),
                        F.greatest("src", "dst").alias("dst"))
                .distinct()
            )
        n_edges = edf.count()
        if n_edges > max_collect_edges:
            raise ValueError(f"to_gml is a driver-side writer; graph too large ({n_edges} edges)")
        edges = sorted((r["src"], r["dst"]) for r in edf.collect())
        nodes = sorted(r["id"] for r in self.vertices().collect())
        # Newman layout: the node/edge keyword on its own line (what
        # from_gml and the reference's parser key on), bracket next line
        with open(path, "w") as f:
            f.write("graph\n[\n")
            f.write(f"  directed {1 if directed else 0}\n")
            for v in nodes:
                f.write(f"  node\n  [\n    id {v}\n  ]\n")
            for u, v in edges:
                f.write(f"  edge\n  [\n    source {u}\n    target {v}\n  ]\n")
            f.write("]\n")

    # -- derived tables ----------------------------------------------
    def vertices(self) -> DataFrame:
        if self._vertices is None:
            self._vertices = (
                self.edges.select(F.col("src").alias("id"))
                .union(self.edges.select(F.col("dst").alias("id")))
                .distinct()
            )
        return self._vertices

    def num_vertices(self) -> int:
        return self.vertex_stats()[0]

    def vertex_stats(self) -> tuple[int, int]:
        """Cached :func:`id_stats` of the vertex set, which a packed
        resume compares with its checkpoint's to refuse a checkpoint of
        another vertex set."""
        if self._vertex_stats is None:
            self._vertex_stats = id_stats(self.vertices())
        return self._vertex_stats

    def edges_sym(self) -> DataFrame:
        if self._edges_sym is None:
            self._edges_sym = symmetrize(self.edges)
        return self._edges_sym

    def edge_stats(self, sym: bool = False) -> tuple[int, int]:
        """Cached ``(n_edges, content_fingerprint)`` of the directed or
        symmetrized edge table — computed once per Graph, so repeated
        kernel calls sharing a block_dir skip the E-row validation scan
        (`ensure_edge_blocks` consumes this as its ``stats`` hint)."""
        if sym not in self._edge_stats:
            from graftpark.blocks import edge_stats

            df = self.edges_sym() if sym else self.edges
            self._edge_stats[sym] = edge_stats(df)
        return self._edge_stats[sym]

    def block_dir(self, sym: bool, n_part: int) -> str:
        """Engine-owned CSR-block dir for the directed (``sym=False``) or
        symmetrized edges in ``n_part`` buckets: created on first use and
        reused by later packed calls (``ensure_edge_blocks`` revalidates
        it), removed by :meth:`unpersist` or at interpreter exit. Keyed by
        bucket count too, so calls that alternate counts each keep their
        blocks instead of rebuilding them."""
        key = (sym, n_part)
        if key not in self._block_dirs:
            d = tempfile.mkdtemp(prefix="graftpark-blocks-sym-" if sym else "graftpark-blocks-")
            atexit.register(shutil.rmtree, d, ignore_errors=True)
            self._block_dirs[key] = d
        return self._block_dirs[key]

    def degrees(self) -> DataFrame:
        """(id, out_deg, in_deg, deg); deg over the symmetrized view."""
        if self._degrees is None:
            out_deg = self.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
            in_deg = self.edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
            deg = self.edges_sym().groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
            self._degrees = (
                self.vertices()
                .join(out_deg, "id", "left")
                .join(in_deg, "id", "left")
                .join(deg, "id", "left")
                .select(
                    "id",
                    F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
                    F.coalesce("deg", F.lit(0)).alias("deg"),
                )
                # V-row table consumed by multiple downstream branches
                # (orientation joins it twice): persist or every action
                # replays the three degree aggregations
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self._persisted.append(self._degrees)
        return self._degrees

    # -- iteration prep ------------------------------------------------
    def persist_for_iteration(
        self, num_partitions: int | None = None, key: str | None = None, sym: bool = True
    ) -> "Graph":
        """Partition + persist the edge tables once for the superstep loop.

        ``key=None`` (default): **balanced round-robin partitions** — the
        skew-proof layout. Kernels then bring the (slim) vertex state TO
        the edges via a broadcast join, so a power-law hub vertex cannot
        concentrate its out-edges in one task (GraphX-style replicated
        vertex view). Use with broadcastable state (V ≤
        GRAFTPARK_BROADCAST_V_LIMIT).

        ``key='src'``: hash-partition by the gather key — the
        co-partitioned layout for graphs whose vertex state is too big
        to broadcast; the per-superstep state shuffle is V rows, edges
        never reshuffle, and AQE skew-join splitting handles moderate
        hub skew.

        ``sym=True`` also prepares the symmetrized table. A layout with it
        serves a later ``sym=False`` call as is, and a ``sym=True`` call
        after a ``sym=False`` one with the same partitioning only adds it.
        """
        n = num_partitions or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        repart = (lambda df: df.repartition(n, key)) if key else (lambda df: df.repartition(n))
        prepared = getattr(self, "_prepared", None)
        if prepared is None or prepared[:2] != (n, key):
            self._prepared = (n, key, False)
            self.edges = repart(self.edges).persist(StorageLevel.MEMORY_AND_DISK)
            self.edges.count()
            self._persisted.append(self.edges)
            self._vertices = self.vertices().persist(StorageLevel.MEMORY_AND_DISK)
            self._vertices.count()
            self._persisted.append(self._vertices)
        if sym and not self._prepared[2]:
            self._prepared = (n, key, True)
            self._edges_sym = repart(symmetrize(self.edges)).persist(StorageLevel.MEMORY_AND_DISK)
            self._edges_sym.count()
            self._persisted.append(self._edges_sym)
        return self

    def unpersist(self) -> None:
        """Release the persisted tables and remove the engine-owned block
        dirs."""
        for df in self._persisted:
            df.unpersist()
        self._persisted = []
        for d in self._block_dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        self._block_dirs = {}


def edges_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer→supplier link graph derived from the driver's parquet.

    ``src = o_custkey``, ``dst = l_suppkey + 1_000_000`` (offset keeps the
    bipartite id spaces disjoint), distinct. (FIXTURES.md §3)
    """
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("src"), (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"))
        .distinct()
    )


def nation_edges_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense nation→nation graph: customer-nation → supplier-nation links.

    Small (≤25 vertices) but cyclic and triangle-rich — the SQL-oracle
    fixture for triangles / components / label propagation (FIXTURES.md §3).
    """
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
        .distinct()
    )
