"""Per-bucket CSR adjacency blocks: the on-disk layout of the packed path.

The reference materializes the (transposed) adjacency matrix once as a
sparse GraphBLAS matrix and reuses it every superstep
(reference: src/traversals/BFS/bfs_BLAS.jl:18, BLAS_coloring.jl:26).
The Spark-native equivalent kept here:

1. **Build once** (`write_edge_blocks` / `ensure_edge_blocks`): bucket
   every edge by ``src_bucket`` (Spark's hash of src, relabelled with
   partition-perfect ids), precompute ``dst_bucket``, and write one
   parquet directory per bucket plus a validated ``meta.json``. On a
   cluster this directory lives on shared storage (HDFS/S3/Iceberg);
   each executor reads only the buckets it processes, exactly once.

2. **Cache per worker** (`load_block`): the first task that touches
   bucket *b* converts its parquet to flat CSR-of-Aᵀ ``.npy`` arrays
   (edges sorted by ``(dst_bucket, dst, src)``, ``reduceat`` group
   boundaries) and every later task mmaps them. Python worker reuse
   keeps the mapping alive across supersteps, so steady-state supersteps
   move **only vertex state and partial aggregates** — the edge table
   never travels again.

3. **Static layouts** (`_gather_offsets`, `bucket_layout`): per-dst-bucket
   gather offsets of a block, and, over a bucket's sorted vertex ids
   (which the packed task holds in its carry), per-edge gather
   positions, scatter positions and offsets and out-degrees. They
   describe the block topology, not any semiring, and are built once
   and mmap-shared; a layout's dir is named by the digest of the ids it
   was built for, so another vertex set gets its own and none goes
   stale.

`segment_gather_reduce` is the chunked per-destination segment reduce
every packed gather runs over a block. The superstep engine itself
(superstep loop, semirings, driver) is graftpark/packed.py.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

#: worker-process block cache: (block_dir, token, bucket) -> dict of np
#: arrays. Lives in the Python worker across tasks/supersteps (worker
#: reuse); the generation ``token`` (from meta.json) invalidates stale
#: entries when a block_dir is rebuilt in place.
_BLOCK_CACHE: dict = {}
#: per-path meta.json cache: path -> (mtime_ns, meta dict)
_META_CACHE: dict = {}


# Block-dir on-disk layout generation. 2 = partition-perfect bucket ids
# (see partition_perfect_ids); 3 = edges sorted by (dst_bucket, dst) so
# per-dst partials are already dst-bucket-contiguous and the packed
# gather emits message payloads by direct slicing — no full-partial-
# vector rearrangement pass (one DRAM round-trip per bucket per
# superstep deleted); 4 = src ascending WITHIN each dst segment, so the
# per-edge gather positions are monotone inside every reduceat segment
# — measured ~26% faster per-bucket gather at 32-way concurrency on the
# bandwidth-saturated host (BENCH/kernel_lab_r05.md), neutral at 8-way
# (sums are permutation-invariant per segment, so results are
# unchanged). Dirs written by older layouts rebuild on first use.
_LAYOUT_VERSION = 4


def _read_meta(block_dir: str) -> dict | None:
    """Read + cache meta.json, re-reading whenever its mtime changes —
    so a rebuilt block_dir invalidates every worker-side cache keyed on
    the generation token, with one os.stat per task."""
    path = os.path.join(block_dir, "meta.json")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return None
    cached = _META_CACHE.get(block_dir)
    if cached is not None and cached[0] == mtime:
        return cached[1]
    with open(path) as f:
        meta = json.load(f)
    _META_CACHE[block_dir] = (mtime, meta)
    return meta


def _block_token(block_dir: str) -> str | None:
    meta = _read_meta(block_dir)
    return meta["token"] if meta else None

def write_edge_blocks(edges: DataFrame, num_buckets: int, path: str, sym: bool = False) -> str:
    """Bucket the edge table by src and write one parquet dir per bucket.

    Columns written: (src, dst, dst_bucket); directory key = src_bucket.
    Done ONCE per graph; every superstep reads only worker-cached blocks.

    A ``meta.json`` records (num_buckets, n_edges, sym, content
    fingerprint, generation token) so a later call can detect a
    mismatched reuse of the directory (different bucket count, directed
    vs symmetrized edges, changed source graph — including a DIFFERENT
    graph with the same edge count, via the order-independent
    ``bit_xor(xxhash64(src, dst))`` fingerprint) instead of silently
    dropping/misrouting edges.
    """
    import shutil
    import uuid

    # Explicit delete: the overwrite mode only clears parquet partitions,
    # and under partitionOverwriteMode=dynamic would leave stale
    # meta.json/_npy/_derived sidecars (and the root meta.json
    # breaks the validation re-read below). Never depend on the
    # static-overwrite default for sidecar hygiene.
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)

    if num_buckets == 1:
        # every edge is in one bucket: sort dst ranges on every core, not
        # in one task, and write them straight into the bucket's dir,
        # whose files are named in range order. partitionBy's own sort
        # by src_bucket would scramble the (dst, src) order within files.
        bucket = int(partition_perfect_ids(1)[0])
        (
            edges.select("src", "dst", F.lit(bucket).alias("dst_bucket"))
            .repartitionByRange(edges.sparkSession.sparkContext.defaultParallelism, "dst", "src")
            .sortWithinPartitions("dst", "src")
            .write.mode("overwrite").parquet(os.path.join(path, f"src_bucket={bucket}"))
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()
    else:
        b = (
            edges.select(
                "src",
                "dst",
                bucket_col("dst", num_buckets).alias("dst_bucket"),
                bucket_col("src", num_buckets).alias("src_bucket"),
            )
            .repartition(num_buckets, "src_bucket")
            # (dst_bucket, dst, src)-sorted within each bucket: CSR group
            # boundaries are a single flatnonzero at load time (equal dst ⇒
            # equal dst_bucket, so dst boundaries survive the grouping), the
            # per-dst partial vector comes out dst-bucket-contiguous — packed
            # messages are then direct slices of it (layout v3) — and src is
            # ascending within each dst segment so gather positions are
            # monotone per reduceat segment (layout v4)
            .sortWithinPartitions("dst_bucket", "dst", "src")
        )
        b.write.partitionBy("src_bucket").mode("overwrite").parquet(path)
    # one validation scan of the parquet just written: row count + an
    # order-independent content fingerprint (also proves the files read
    # back cleanly before any kernel trusts them). The schema is given, not
    # inferred: an edge-less write leaves no parquet file to infer it from
    row = (
        edges.sparkSession.read.schema(edges.select("src", "dst").schema).parquet(path)
        .agg(F.count("*").alias("n"), _fingerprint_agg().alias("fp"))
        .collect()[0]
    )
    _write_meta(path, {
        "num_buckets": int(num_buckets),
        "n_edges": int(row["n"]),
        "fingerprint": int(row["fp"]),
        "sym": bool(sym),
        "layout": _LAYOUT_VERSION,
        "token": uuid.uuid4().hex,
    })
    return path


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))


def _fingerprint_agg() -> F.Column:
    """Order-independent edge-content fingerprint: XOR of per-edge
    xxhash64(src, dst). Zero for the empty edge set."""
    return F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0))


def edge_stats(edges: DataFrame) -> tuple[int, int]:
    """(n_edges, fingerprint) of an edge DataFrame in ONE job."""
    row = edges.agg(F.count("*").alias("n"), _fingerprint_agg().alias("fp")).collect()[0]
    return int(row["n"]), int(row["fp"])


def ensure_edge_blocks(
    edges: DataFrame,
    num_buckets: int,
    path: str,
    sym: bool = False,
    stats: tuple[int, int] | None = None,
) -> str:
    """Build the block directory unless a COMPLETE, MATCHING one exists.

    Reuse requires: `_SUCCESS` marker (a crashed partial write never
    passes), meta.json present, and (num_buckets, sym, edge count,
    content fingerprint) all matching the requested build — otherwise
    the directory is rebuilt in place with a fresh generation token
    (which invalidates worker caches). The fingerprint catches a
    different graph with the same edge count reusing a stale block_dir
    (same-vertices-different-topology would otherwise pass every check).

    ``stats`` = precomputed ``(n_edges, fingerprint)`` (see
    :func:`edge_stats`); pass it when the caller can cache it — e.g.
    ``Graph.edge_stats()`` — so repeated kernel calls on the same graph
    skip the E-row validation scan entirely.
    """
    meta = _read_meta(path) if os.path.exists(os.path.join(path, "_SUCCESS")) else None
    if (
        meta is not None
        and meta.get("num_buckets") == int(num_buckets)
        and meta.get("sym") == bool(sym)
        and meta.get("layout") == _LAYOUT_VERSION
    ):
        n, fp = stats if stats is not None else edge_stats(edges)
        if meta.get("n_edges") == n and meta.get("fingerprint") == fp:
            return path
    return write_edge_blocks(edges, num_buckets, path, sym=sym)


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (hashInt, seed 42) —
    the hash HashPartitioning applies to a groupBy('bucket') shuffle."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _spark_partition_of(bucket_id: int, num_partitions: int) -> int:
    """Shuffle partition Spark assigns an int32 bucket id (Pmod of the
    SIGNED Murmur3 hash)."""
    h = _murmur3_int32(bucket_id)
    return (h - 0x100000000 if h >= 0x80000000 else h) % num_partitions


_PP_CACHE: dict[int, np.ndarray] = {}


def partition_perfect_ids(num_buckets: int) -> np.ndarray:
    """Bucket ids whose Murmur3 placement is one-per-shuffle-partition.

    Naive ids 0..B-1 are balls-in-bins under HashPartitioning: for B=64
    they land in only 37 of 64 partitions, the worst partition holding
    FOUR buckets that then run serially in one task. At 8 cores the 64
    buckets take many waves and the imbalance averages out; at 32 cores
    (2 nominal waves) the 4-deep partition IS the superstep makespan —
    measured as the packed path's 8→32 scaling gap. These ids make a
    ``num_buckets``-wide hash partitioning on the bucket id place bucket
    ``ids[j]`` exactly in partition j; the block build and the packed
    loop's carry routing both shuffle at an explicit width. Deterministic;
    int32; max id ~B·ln(B) (coupon-collector search), e.g. 239 for B=64."""
    ids = _PP_CACHE.get(num_buckets)
    if ids is None:
        out = np.full(num_buckets, -1, dtype=np.int32)
        remaining = num_buckets
        v = 0
        while remaining:
            p = _spark_partition_of(v, num_buckets)
            if out[p] < 0:
                out[p] = v
                remaining -= 1
            v += 1
        ids = out
        _PP_CACHE[num_buckets] = ids
    return ids


def bucket_ids_sorted(num_buckets: int) -> np.ndarray:
    """Ascending bucket-id universe for ``num_buckets`` (iteration order
    for per-dst-bucket segment layouts)."""
    return np.sort(partition_perfect_ids(num_buckets))


def _id_span(num_buckets: int) -> int:
    """Size of an array indexed directly by bucket id (max id + 1)."""
    return int(partition_perfect_ids(num_buckets).max()) + 1


def bucket_col(col: str, num_buckets: int):
    """The bucket expression shared by edge blocks and vertex state:
    hash-slot the vertex, then relabel the slot with its
    partition-perfect id (see :func:`partition_perfect_ids`)."""
    ids = partition_perfect_ids(num_buckets)
    slot = F.pmod(F.hash(col), F.lit(num_buckets))
    return F.element_at(F.array(*[F.lit(int(i)) for i in ids]), slot + F.lit(1))


_NPY_COLS = ("src_by_dst", "starts", "dst_unique", "dstb_unique")


def _build_npy(part: str, npy_dir: str) -> None:
    """Convert one bucket's (dst-sorted) parquet to flat .npy arrays, once.

    Atomic: built in a tmp dir, renamed into place; concurrent builders
    race harmlessly (same content, first rename wins).
    """
    import tempfile

    import pyarrow.parquet as pq

    t = pq.read_table(part, columns=["src", "dst", "dst_bucket"], use_threads=False)
    src = t.column("src").to_numpy(zero_copy_only=False)
    dst = t.column("dst").to_numpy(zero_copy_only=False)
    dstb = t.column("dst_bucket").to_numpy(zero_copy_only=False)
    if len(dst) and np.any(
        (dstb[1:] < dstb[:-1])
        | ((dstb[1:] == dstb[:-1]) & (dst[1:] < dst[:-1]))
        | ((dstb[1:] == dstb[:-1]) & (dst[1:] == dst[:-1]) & (src[1:] < src[:-1]))
    ):  # layout v4: total (dst_bucket, dst, src) order — src ascending
        # within each dst segment makes gather positions monotone per
        # reduceat segment (sum/min-invariant, faster under concurrency)
        order = np.lexsort((src, dst, dstb))
        src, dst, dstb = src[order], dst[order], dstb[order]
    starts = (
        np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
        if len(dst)
        else np.empty(0, dtype=np.int64)
    )
    # per-bucket edge counts are < 2^31 by construction → int32 indices
    # halve the steady-state mmap traffic of every superstep
    if len(dst) < 2**31:
        starts = starts.astype(np.int32)
    arrays = {
        "src_by_dst": np.ascontiguousarray(src),
        "starts": starts,
        "dst_unique": np.ascontiguousarray(dst[starts]) if len(starts) else dst[:0],
        "dstb_unique": (
            np.ascontiguousarray(dstb[starts]).astype(np.int32) if len(starts) else dstb[:0].astype(np.int32)
        ),
    }
    tmp = tempfile.mkdtemp(dir=os.path.dirname(npy_dir))
    for name, arr in arrays.items():
        np.save(os.path.join(tmp, f"{name}.npy"), arr)
    try:
        os.replace(tmp, npy_dir)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # another builder won the race


def load_block(block_dir: str, bucket: int) -> dict | None:
    """Worker-side: open (mmap) + cache the CSR block for one src bucket.

    Arrays are stored as flat .npy files (built once, by the first task
    that touches the bucket) and opened with ``mmap_mode='r'`` — every
    Python worker on the host shares ONE page-cache copy, so a "load"
    after the first is just an mmap open, not a read+sort.
    """
    key = (block_dir, _block_token(block_dir), bucket)
    if key in _BLOCK_CACHE:
        return _BLOCK_CACHE[key]
    part = os.path.join(block_dir, f"src_bucket={bucket}")
    if not os.path.isdir(part):
        _BLOCK_CACHE[key] = None
        return None
    npy_dir = os.path.join(block_dir, "_npy", f"bucket={bucket}")
    if not os.path.isdir(npy_dir):
        os.makedirs(os.path.join(block_dir, "_npy"), exist_ok=True)
        _build_npy(part, npy_dir)
    arrays = {
        name: np.load(os.path.join(npy_dir, f"{name}.npy"), mmap_mode="r")
        for name in _NPY_COLS
    }
    blk = {"n_edges": int(arrays["src_by_dst"].shape[0]), **arrays}
    _BLOCK_CACHE[key] = blk
    return blk


# 256k edges per chunk: the per-edge gather temp stays ~1 MB
# (float32/int64 ≤ 2 MB) — L2-resident instead of a full-bucket DRAM
# round-trip. Measured 2x per-bucket speedup on the 256M-edge scaling
# input at both 8 and 32 pinned cores (BENCH/kernel_lab_r05.md);
# the gather is the DRAM-bandwidth-bound half of every packed superstep.
_GATHER_CHUNK = 1 << 18


def segment_gather_reduce(vals: np.ndarray, pos: np.ndarray, starts, op: str) -> np.ndarray:
    """Segment-reduce ``vals[pos]`` over CSR ``starts`` boundaries without
    materializing the full per-edge vector.

    Equivalent to ``ufunc.reduceat(vals[pos], starts)`` (ufunc = add or
    minimum) but gathered in `_GATHER_CHUNK`-edge chunks so the temp is
    cache-resident; a segment spanning a chunk boundary is merged with
    the op itself (exact for min; for float sums the merge only regroups
    additions at chunk boundaries — same magnitude of rounding as any
    partial-sum order).

    Precondition (CSR invariants, guaranteed by ``_build_npy``):
    ``starts`` is strictly increasing with ``starts[0] == 0``, and is
    empty iff ``pos`` is empty. Violating them would make the
    cross-chunk continuation merge write ``out[-1]`` via index
    wraparound (a silent merge into the wrong segment), so the cheap
    parts are asserted here.
    """
    starts = np.asarray(starts)
    n = len(pos)
    assert (len(starts) == 0) == (n == 0), "starts empty iff pos empty"
    assert n == 0 or starts[0] == 0, "CSR starts must begin at 0"
    ufunc = np.add if op == "sum" else np.minimum
    if n <= _GATHER_CHUNK:
        return ufunc.reduceat(vals[pos], starts) if n else vals[:0]
    out = np.empty(len(starts), dtype=vals.dtype)
    lo_seg, e0 = 0, 0
    while e0 < n:
        e1 = min(e0 + _GATHER_CHUNK, n)
        hi_seg = int(np.searchsorted(starts, e1, side="left"))
        local = starts[lo_seg:hi_seg].astype(np.int64) - e0
        # first local segment may continue one begun in the previous chunk
        cont = len(local) == 0 or local[0] != 0
        if cont:
            local = np.concatenate([np.zeros(1, np.int64), local])
        part = ufunc.reduceat(vals[pos[e0:e1]], local)
        if cont:
            out[lo_seg - 1] = ufunc(out[lo_seg - 1], part[0])
            out[lo_seg:lo_seg + len(part) - 1] = part[1:]
        else:
            out[lo_seg:lo_seg + len(part)] = part
        lo_seg, e0 = hi_seg, e1
    return out


def _atomic_save_dir(parent: str, name: str, arrays: dict) -> str:
    """Write a dict of arrays into ``parent/name`` atomically; racing
    builders produce identical content, first rename wins."""
    import shutil
    import tempfile

    target = os.path.join(parent, name)
    if not os.path.isdir(target):
        os.makedirs(parent, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=parent)
        for k, v in arrays.items():
            np.save(os.path.join(tmp, f"{k}.npy"), v)
        try:
            os.replace(tmp, target)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return target


def _gather_offsets(block_dir: str, bucket: int, blk: dict, num_buckets: int) -> np.ndarray:
    """Per-dst-bucket segment offsets into block ``bucket``'s per-dst
    partial vector: ``offsets[c]:offsets[c+1]`` slices dst-bucket c's
    contiguous segment. Layout v3 stores edges (and therefore the unique
    dst list) sorted by (dst_bucket, dst), so the partial vector IS
    bucket-grouped — message payloads are direct slices, with no
    rearrangement gather (pre-v3 this was a full partial-vector DRAM
    round-trip per bucket per superstep). Offsets are indexed directly
    by (sparse) bucket id; tiny (~id_span int64), computed per worker
    from the mmap'd dstb_unique and cached."""
    key = ("goff", block_dir, _block_token(block_dir), bucket)
    off = _BLOCK_CACHE.get(key)
    if off is None:
        dstb = np.asarray(blk["dstb_unique"])
        counts = np.bincount(dstb, minlength=_id_span(num_buckets))
        off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        _BLOCK_CACHE[key] = off
    return off


#: the per-bucket layout arrays (see :func:`bucket_layout`)
_LAYOUT = ("gather", "scatter", "offsets", "out_deg")


def bucket_layout(block_dir: str, bucket: int, num_buckets: int, ids: np.ndarray) -> dict:
    """Worker-side: the static layout of bucket ``bucket`` over its
    vertices ``ids`` (ascending), with ``ids`` themselves:

    - ``gather``: per-edge positions in ``ids`` of the bucket's block's
      edge sources;
    - ``scatter``, ``offsets``: ``scatter[offsets[b]:offsets[b+1]]`` are
      the positions in ``ids`` of the values of src bucket b's message,
      offsets indexed directly by (sparse) bucket id like
      :func:`_gather_offsets`;
    - ``out_deg``: each vertex's out-degree in the bucket's block.

    Built once per vertex set, by the first task to touch it, under
    ``_derived/bucket={bucket}/{digest of ids}/`` and mmap-shared: a
    dir is keyed by the ids it was built for, so another vertex set gets
    its own. A ValueError naming the block dir when ``ids`` miss a
    source or destination of the bucket's edges."""
    import hashlib

    digest = hashlib.blake2b(ids.tobytes(), digest_size=16).hexdigest()
    key = ("layout", block_dir, _block_token(block_dir), bucket, digest)
    lay = _BLOCK_CACHE.get(key)
    if lay is None:
        parent = os.path.join(block_dir, "_derived", f"bucket={bucket}")
        target = os.path.join(parent, digest)
        if not os.path.isdir(target):
            _atomic_save_dir(parent, digest, _build_layout(block_dir, bucket, num_buckets, ids))
        lay = {name: np.load(os.path.join(target, f"{name}.npy"), mmap_mode="r")
               for name in _LAYOUT}
        lay["ids"] = ids.copy()
        _BLOCK_CACHE[key] = lay
    return lay


def _build_layout(block_dir: str, bucket: int, num_buckets: int, ids: np.ndarray) -> dict:
    """The arrays of :func:`bucket_layout`."""
    if len(ids) >= 2**31:
        raise ValueError("bucket too large for int32 positions")

    def positions(want: np.ndarray, ends: str) -> np.ndarray:
        p = np.searchsorted(ids, want)
        if len(want) and (len(ids) == 0 or np.any(ids.take(p, mode="clip") != want)):
            raise ValueError(f"the vertex set misses edge {ends} of bucket {bucket} in the block "
                             f"dir {block_dir!r}: every edge endpoint must be a vertex")
        return p.astype(np.int32)

    blk = load_block(block_dir, bucket)
    gather = positions(np.asarray(blk["src_by_dst"]) if blk else ids[:0], "sources")
    # the dsts in this bucket of every src bucket's block, in ascending
    # src bucket: the order its combine takes the messages in
    dsts, lengths = [ids[:0]], np.zeros(_id_span(num_buckets), np.int64)
    for b in bucket_ids_sorted(num_buckets):
        src_blk = load_block(block_dir, int(b))
        if src_blk is None or src_blk["n_edges"] == 0:
            continue
        o = _gather_offsets(block_dir, int(b), src_blk, num_buckets)
        dsts.append(np.asarray(src_blk["dst_unique"])[o[bucket]:o[bucket + 1]])
        lengths[int(b)] = len(dsts[-1])
    return {
        "gather": gather,
        "scatter": positions(np.concatenate(dsts), "destinations"),
        "offsets": np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64),
        "out_deg": np.bincount(gather, minlength=len(ids)),
    }
