"""Spark-free numpy PageRank: the floor the engine's PageRank is measured against.

Same semantics as ``graftpark.oracles.pagerank``: power iteration with the
dangling mass spread uniformly, stopping when the L1 change drops below
``tol``. Edges must already be deduplicated and free of self-loops, which
is what the engine's ``Graph`` holds.
"""

from __future__ import annotations

import time

import numpy as np


def pagerank(src: np.ndarray, dst: np.ndarray, vertices: np.ndarray, alpha: float = 0.85,
             tol: float = 1e-6, max_iter: int = 200) -> tuple[np.ndarray, np.ndarray, int]:
    """(sorted vertex ids, ranks, iterations)."""
    ids = np.unique(vertices)
    n = ids.size
    if n == 0:
        return ids, np.zeros(0), 0
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(outdeg, 1.0))
    rank = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        sums = np.bincount(d, weights=(rank * inv)[s], minlength=n)
        new = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n + alpha * sums
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return ids, rank, it


def ms_per_superstep(src: np.ndarray, dst: np.ndarray, vertices: np.ndarray, repeats: int = 5,
                     tol: float = 1e-6) -> float:
    """Median over ``repeats`` of the floor's wall time per superstep, in ms."""
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        _, _, it = pagerank(src, dst, vertices, tol=tol)
        walls.append((time.perf_counter() - t0) * 1000.0 / max(it, 1))
    return float(np.median(walls))
