"""Block-directory metadata validation: a reused block_dir must match
the requested build (bucket count, directed vs symmetrized edges,
source graph) or be rebuilt — silent mismatched reuse previously
dropped/misrouted edges.
"""

import json
import os

from graftpark.blocks import ensure_edge_blocks
from graftpark.fixtures import G6_TWO_COMP, G30_HUB
from graftpark.graph import Graph
from graftpark.kernels.components import connected_components
from graftpark.kernels.pagerank import pagerank


def _token(block_dir):
    with open(os.path.join(block_dir, "meta.json")) as f:
        return json.load(f)["token"]


def test_ensure_rebuilds_on_bucket_count_change(spark, tmp_path):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    d = str(tmp_path / "blk")
    ensure_edge_blocks(g.edges, 4, d)
    t1 = _token(d)
    ensure_edge_blocks(g.edges, 4, d)
    assert _token(d) == t1  # matching reuse: no rebuild
    ensure_edge_blocks(g.edges, 2, d)
    assert _token(d) != t1  # bucket-count mismatch: rebuilt
    assert len([p for p in os.listdir(d) if p.startswith("src_bucket=")]) == 2


def test_ensure_rebuilds_on_sym_mismatch_and_graph_change(spark, tmp_path):
    n, directed, edges = G6_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    d = str(tmp_path / "blk")
    ensure_edge_blocks(g.edges, 4, d, sym=False)
    t1 = _token(d)
    ensure_edge_blocks(g.edges_sym(), 4, d, sym=True)
    assert _token(d) != t1  # directed dir reused for symmetrized build: rebuilt
    t2 = _token(d)
    g2 = Graph.from_edge_list(spark, edges[:-1], n=n, directed=directed)
    ensure_edge_blocks(g2.edges_sym(), 4, d, sym=True)
    assert _token(d) != t2  # same shape, different edge count: rebuilt


def test_ensure_rebuilds_on_same_count_different_topology(spark, tmp_path):
    """The content fingerprint catches a DIFFERENT graph with the SAME
    edge count silently reusing a stale block_dir (bucket count, sym
    flag and n_edges all match — only bit_xor(xxhash64(src,dst)) can
    tell them apart)."""
    n, directed, edges = G6_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    d = str(tmp_path / "blk")
    ensure_edge_blocks(g.edges, 4, d)
    t1 = _token(d)
    rewired = [(u, (v % n) + 1) for u, v in edges]  # same count, new topology
    rewired = [(u, v if u != v else (v % n) + 1) for u, v in rewired]
    g2 = Graph.from_edge_list(spark, rewired, n=n, directed=directed)
    assert g2.edges.count() == g.edges.count()  # the interesting case
    ensure_edge_blocks(g2.edges, 4, d)
    assert _token(d) != t1  # fingerprint mismatch: rebuilt
    # cached-stats hint path: no rebuild on true reuse
    t2 = _token(d)
    ensure_edge_blocks(g2.edges, 4, d, stats=g2.edge_stats())
    assert _token(d) == t2


def test_graph_edge_stats_cached(spark):
    """Second kernel call on the same graph must reuse the cached
    (count, fingerprint) pair — no extra E-row job."""
    n, directed, edges = G6_TWO_COMP
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    s1 = g.edge_stats(sym=True)
    assert g.edge_stats(sym=True) is s1  # same tuple object: cache hit


def test_ensure_rebuilds_partial_write(spark, tmp_path):
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    d = tmp_path / "blk"
    (d / "src_bucket=0").mkdir(parents=True)  # crashed write: no _SUCCESS
    ensure_edge_blocks(g.edges, 4, str(d))
    assert os.path.exists(d / "_SUCCESS") and os.path.exists(d / "meta.json")


def test_shared_block_dir_across_kernels_is_safe(spark, tmp_path):
    """pagerank(packed) writes DIRECTED blocks; cc(packed) pointed at the
    same dir needs symmetrized ones — the meta check forces a rebuild and
    the result matches the dataframe formulation."""
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    d = str(tmp_path / "blk")
    pagerank(g, strategy="packed", max_supersteps=5, block_dir=d)
    a = {r["id"]: r["comp"] for r in connected_components(g, strategy="packed", block_dir=d).state.collect()}
    b = {r["id"]: r["comp"] for r in connected_components(g, strategy="dataframe").state.collect()}
    assert a == b


# ---- partition-perfect bucket ids (block layout v2) -----------------

def test_partition_perfect_ids_properties():
    """For every bucket count: ids are distinct non-negative int32, and
    Spark's HashPartitioning (signed Murmur3 pmod) places exactly one id
    per shuffle partition when partitions == num_buckets."""
    from graftpark.blocks import _spark_partition_of, partition_perfect_ids

    for b in (2, 4, 8, 32, 64, 200):
        ids = partition_perfect_ids(b)
        assert len(ids) == b and len(set(ids.tolist())) == b
        assert ids.min() >= 0
        placement = sorted(_spark_partition_of(int(v), b) for v in ids)
        assert placement == list(range(b))  # a perfect 1:1 cover


def test_murmur3_matches_spark_hash(spark):
    """_spark_partition_of must track the JVM: F.hash of an int32 equals
    the signed Murmur3 our coupon-collector search uses."""
    import pyspark.sql.functions as F

    from graftpark.blocks import _murmur3_int32

    vals = list(range(64)) + [239, 1000, 2**31 - 1]
    df = spark.createDataFrame([(v,) for v in vals], "v int").select(
        "v", F.hash("v").alias("h")
    )
    got = {r["v"]: r["h"] for r in df.collect()}
    for v in vals:
        h = _murmur3_int32(v)
        signed = h - 0x100000000 if h >= 0x80000000 else h
        assert got[v] == signed, v


def test_bucket_col_emits_partition_perfect_ids(spark):
    """bucket_col's sparse relabel agrees with partition_perfect_ids and
    groupBy('bucket') at shuffle width == bucket count yields one bucket
    per non-empty partition."""
    import pyspark.sql.functions as F

    from graftpark.blocks import bucket_col, partition_perfect_ids

    b = 4
    ids = set(partition_perfect_ids(b).tolist())
    df = spark.range(1000).select(bucket_col("id", b).alias("bucket"))
    seen = {r["bucket"] for r in df.distinct().collect()}
    assert seen <= ids and len(seen) == b
    # the guarantee holds at shuffle width == bucket count with AQE off
    # (exactly the confs _superstep_confs pins inside kernel loops)
    saved_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    saved_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", str(b))
        parts = (
            df.groupBy("bucket").count()
            .withColumn("p", F.spark_partition_id())
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", saved_sp)
    by_part = {}
    for r in parts:
        by_part.setdefault(r["p"], set()).add(r["bucket"])
    assert len(by_part) == b
    assert all(len(s) == 1 for s in by_part.values())


# ---- src-monotone segments (block layout v4) ------------------------


def test_blocks_sort_src_within_dst_segments(spark, tmp_path):
    """Layout v4: within every (dst_bucket, dst) segment of a built
    block, src — and therefore the derived gather positions — is
    ascending. Segment sums are permutation-invariant, but the monotone
    order is the measured concurrency win (BENCH/kernel_lab_r05.md), so pin
    it against regressions in either the Spark-side sortWithinPartitions
    or the _build_npy defensive re-sort."""
    import numpy as np

    from graftpark.blocks import load_block
    from graftpark.fixtures import powerlaw_edges_pdf

    pdf = powerlaw_edges_pdf(20000, 1500, seed=7)
    g = Graph(
        spark.createDataFrame(pdf).selectExpr(
            "cast(src as long) src", "cast(dst as long) dst"
        ),
        assume_normalized=True,
    )
    d = str(tmp_path / "blk")
    ensure_edge_blocks(g.edges, 4, d)
    seen_multi = 0
    for b in range(4):
        blk = load_block(d, b)
        if blk is None or blk["n_edges"] == 0:
            continue
        src = np.asarray(blk["src_by_dst"])
        starts = np.asarray(blk["starts"]).astype(np.int64)
        bounds = np.append(starts, len(src))
        seg_id = np.repeat(np.arange(len(starts)), np.diff(bounds))
        # ascending within segments == no descent except at boundaries
        interior = seg_id[1:] == seg_id[:-1]
        assert not np.any(interior & (src[1:] < src[:-1]))
        seen_multi += int(np.any(interior))
    assert seen_multi  # fixture must actually exercise multi-edge segments


def test_auto_block_dir_reused_then_removed_by_unpersist(spark):
    """block_dir=None: one engine-owned dir per graph orientation and
    bucket count, reused by later calls (same token: no rebuild) and
    removed by unpersist."""
    import glob
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "graftpark-blocks-*")
    before = set(glob.glob(pattern))
    n, directed, edges = G30_HUB
    g = Graph.from_edge_list(spark, edges, n=n, directed=directed)
    runs = []
    for _ in range(2):
        res = pagerank(g, strategy="packed", max_supersteps=3)
        runs.append({r["id"]: r["rank"] for r in res.state.collect()})
    (d,) = g._block_dirs.values()
    assert set(glob.glob(pattern)) - before == {d}
    assert runs[0] == runs[1]
    t = _token(d)
    pagerank(g, strategy="packed", max_supersteps=3).state.collect()
    assert _token(d) == t
    g.unpersist()
    assert not os.path.exists(d) and g._block_dirs == {}
    assert set(glob.glob(pattern)) == before
