#!/usr/bin/env python
"""graftpark benchmark harness.

Runs the headline kernels at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:

    {"metric": "total_bench_sec", "value": N, "unit": "sec",
     "queries": {name: min sec, ...}, "queries_median": {...},
     "samples": {name: [sec, ...]}, "host": {"nproc": ..., "ram_gb": ...},
     "sf": ..., "edges_per_sec_per_superstep": ..., "supersteps": {...}}

The primary throughput figure (BASELINE.json `metric`) is
edges/sec per superstep to PageRank convergence (tol 1e-6) on the
power-law graph — reported as `edges_per_sec_per_superstep`.

Methodology (BenchmarkTools-style, reference benchmark/benchmarks.jl:
43-44,168-198,331): graph materialization is setup, only the kernel is
timed; each query is sampled GRAFTPARK_BENCH_SAMPLES times (default 3),
and its minimum, median and every sample are reported with the host's
core count and RAM; measured-run confs (periodic GC deferred,
throughput GC, tmpfs shuffle) match bench_scaling.py so the headline
numbers carry the same hygiene as the scaling evidence.

Workloads (seeded, deterministic):

- pagerank_sf   : bipartite customer→supplier graph from the sf tables
- pagerank_ba   : seeded Barabási–Albert power-law graph (the skew
                  fixture, reference benchmark/benchmarks.jl:89-94)
- cc_ba / labelprop_ba / bfs_ba / triangles_ba on the same BA graph
- pagerank_packed_pl / cc_packed_pl : seeded Zipf power-law graph
                  (GRAFTPARK_BENCH_PL_EDGES, default 8M edges) through
                  the packed CSR-block strategy — the at-scale path;
                  its PageRank throughput is the headline
                  edges_per_sec_per_superstep
- minhash_near_dups_sf / simhash_near_dups_sf / ann_probe_sf : the
                  LLM-pipeline dedup + ANN family on the sf documents /
                  embeddings tables (probe runs against a durable
                  partition-pruned parquet index)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def make_ba_graph(spark, n_vertices: int, m: int, seed: int = 42):
    import pandas as pd

    from graftpark.fixtures import barabasi_albert
    from graftpark.graph import Graph

    pairs = barabasi_albert(n_vertices, m, seed=seed)
    pdf = pd.DataFrame(pairs, columns=["src", "dst"])
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # localCheckpoint severs the Arrow local-relation lineage — without it
    # the driver-side rows ship with every downstream stage (10x slowdown)
    edges = spark.createDataFrame(pdf).repartition(n).localCheckpoint(eager=True)
    return Graph(edges)


def make_powerlaw_graph(spark, n_edges: int, n_vertices: int, seed: int = 42):
    """Seeded Zipf power-law graph, cached as parquet under /tmp so the
    (setup-only) generation cost is paid once per machine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graftpark.fixtures import powerlaw_edges_pdf
    from graftpark.graph import Graph

    root = f"/tmp/graftpark-bench-pl-{n_edges}-{n_vertices}-{seed}"
    cache = os.path.join(root, "input")  # keep block dirs OUT of the parquet dir
    if not os.path.exists(os.path.join(cache, "_OK")):
        pdf = powerlaw_edges_pdf(n_edges, n_vertices, seed=seed)
        os.makedirs(cache, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(cache, "edges.parquet"), row_group_size=1_000_000)
        open(os.path.join(cache, "_OK"), "w").close()
    return Graph(spark.read.parquet(cache), assume_normalized=True), root


def host_facts() -> dict:
    """Cores this process may run on and physical RAM."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ba_n = int(os.environ.get("GRAFTPARK_BENCH_BA_N", "150000"))
    ba_m = int(os.environ.get("GRAFTPARK_BENCH_BA_M", "8"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from graftpark.graph import Graph, edges_from_testdata
    from graftpark.kernels.bfs import bfs_parents
    from graftpark.kernels.components import connected_components
    from graftpark.kernels.labelprop import label_propagation
    from graftpark.kernels.pagerank import pagerank
    from graftpark.kernels.triangles import triangle_count
    from graftpark.session import get_spark

    # Measured-run confs, identical to bench_scaling.py's (which proved
    # the 45 s periodic-GC default was the dominant variance source —
    # its full STW System.gc() landed mid-measurement; BENCH_r02's three
    # packed-path "regressions" were exactly this noise). The bench run
    # is ~3 min total and its shuffle volume is small (the packed loops
    # shuffle one row per vertex an interval, the dataframe loops <1M
    # rows), so deferring shuffle-file retirement to 30 min is safe; tmpfs
    # shuffle dirs are the single-box stand-in for per-executor NVMe.
    shm = "/dev/shm/gp-bench-shuffle"
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="graftpark-bench",
        shuffle_partitions=cpus,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
            "spark.cleaner.periodicGC.interval": "30min",
            "spark.local.dir": os.environ.get("GRAFTPARK_BENCH_LOCAL_DIR", shm),
        },
    )

    queries: dict[str, float] = {}
    supersteps: dict[str, int] = {}
    converged: dict[str, bool] = {}
    t_all = time.monotonic()
    # BenchmarkTools methodology (reference benchmark/benchmarks.jl:43-44,
    # 331: n samples, report the MINIMUM): run-to-run variance on this
    # shared VM is ±30% for the short packed queries, so each query takes
    # best-of-N with the winning run's metrics kept; the median and every
    # sample are reported beside it.
    n_samples = int(os.environ.get("GRAFTPARK_BENCH_SAMPLES", "3"))
    samples: dict[str, list[float]] = {}

    def timed(name: str, fn):
        best_dt, best_res = None, None
        samples[name] = []
        for _ in range(n_samples):
            t0 = time.monotonic()
            res = fn()
            dt = time.monotonic() - t0
            samples[name].append(round(dt, 3))
            if best_dt is None or dt < best_dt:
                best_dt, best_res = dt, res
        queries[name] = best_dt
        if best_res is not None and hasattr(best_res, "supersteps"):
            supersteps[name] = best_res.supersteps
        return best_res

    # ---- sf-derived bipartite graph --------------------------------
    # NOTE: on this bipartite customer→supplier graph (every supplier
    # dangling) the L1 delta contracts at a measured constant ~0.797 per
    # superstep — pure geometric decay, so tol 1e-6 needs ~70-90
    # supersteps, not the 60 the old cap allowed (BENCH_r01 smell).
    g_sf = Graph(edges_from_testdata(spark, sf_dir)).persist_for_iteration(cpus)
    n_edges_sf = g_sf.edges.count()
    res = timed("pagerank_sf", lambda: pagerank(g_sf, tol=1e-6, max_supersteps=100))
    converged["pagerank_sf"] = res.converged
    g_sf.unpersist()

    # ---- seeded power-law (Barabási–Albert) graph ------------------
    g_ba = make_ba_graph(spark, ba_n, ba_m).persist_for_iteration(cpus)
    n_edges_ba = g_ba.edges.count()  # canonical directed (min,max) pairs
    n_edges_ba_sym = g_ba.edges_sym().count()

    res = timed("pagerank_ba", lambda: pagerank(g_ba, tol=1e-6, max_supersteps=60))
    converged["pagerank_ba"] = res.converged
    pr_superstep_walls = [m["wall_s"] for m in res.metrics]
    eps = n_edges_ba_sym / (sum(pr_superstep_walls) / len(pr_superstep_walls))

    timed("cc_ba", lambda: connected_components(g_ba, max_supersteps=60))
    timed("labelprop_ba", lambda: label_propagation(g_ba, max_supersteps=5))
    timed("bfs_ba", lambda: bfs_parents(g_ba, 1))
    tri = timed("triangles_ba", lambda: triangle_count(g_ba))

    # ---- packed CSR-block strategy on a larger Zipf power-law graph ----
    pl_edges = int(os.environ.get("GRAFTPARK_BENCH_PL_EDGES", "8000000"))
    pl_vertices = int(os.environ.get("GRAFTPARK_BENCH_PL_VERTICES", "1000000"))
    g_pl, pl_cache = make_powerlaw_graph(spark, pl_edges, pl_vertices)
    block_dir = os.path.join(pl_cache, f"blocks-{cpus}")
    n_edges_pl = g_pl.edges.count()
    # warm-up builds blocks/sidecar/positions (setup, untimed)
    pagerank(g_pl, tol=0.0, max_supersteps=4, strategy="packed", block_dir=block_dir)
    res = timed(
        "pagerank_packed_pl",
        lambda: pagerank(g_pl, tol=1e-6, max_supersteps=60, strategy="packed",
                         block_dir=block_dir),
    )
    converged["pagerank_packed_pl"] = res.converged
    pl_walls = [m["wall_s"] for m in res.metrics]
    eps_packed = n_edges_pl / (sum(pl_walls) / len(pl_walls))

    # packed min-semiring CC (static int64 messages) — the at-scale path
    blk_sym = os.path.join(pl_cache, f"blocks-sym-{cpus}")
    connected_components(g_pl, strategy="packed", max_supersteps=1, block_dir=blk_sym)
    timed("cc_packed_pl",
          lambda: connected_components(g_pl, max_supersteps=60, strategy="packed", block_dir=blk_sym))

    # packed mode-semiring label propagation
    timed("lp_packed_pl",
          lambda: label_propagation(g_pl, max_supersteps=5, strategy="packed", block_dir=blk_sym))

    # ---- LLM-pipeline family on the sf documents/embeddings tables ----
    # correctness has driver rows; these record wall-times so dedup/ANN
    # regressions become visible round-over-round (round-4 verdict #6)
    from graftpark.pipeline.dedup import minhash_near_dups, simhash_near_dups
    from graftpark.pipeline.similarity import ann_probe, build_ann_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    timed("minhash_near_dups_sf", lambda: minhash_near_dups(docs).count())
    timed("simhash_near_dups_sf", lambda: simhash_near_dups(docs, max_hamming=8).count())
    # ANN: durable partition-pruned index built once (setup, untimed);
    # the timed path is the multi-probe query against the parquet index
    first = emb.orderBy("vec_id").select("embedding").head()
    qv = [float(x) for x in first[0]]
    ann_dir = f"/tmp/graftpark-bench-ann-sf{sf}"
    idx = build_ann_index(emb, dim=len(qv), path=ann_dir)
    timed("ann_probe_sf", lambda: ann_probe(idx, qv, k=10).count())
    docs.unpersist()
    emb.unpersist()

    total = time.monotonic() - t_all
    out = {
        "metric": "total_bench_sec",
        # sum of per-query BEST-of-N times (the comparable figure across
        # rounds); wall_s_incl_sampling is the raw harness wall clock
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "samples_per_query": n_samples,
        "wall_s_incl_sampling": round(total, 3),
        "queries": {k: round(v, 3) for k, v in queries.items()},
        "queries_median": {k: round(statistics.median(v), 3) for k, v in samples.items()},
        "samples": samples,
        "host": host_facts(),
        "sf": sf,
        "cpus": cpus,
        # headline (BASELINE.json metric): PageRank on the packed
        # CSR-block path over the power-law graph
        "edges_per_sec_per_superstep": round(eps_packed),
        "edges_per_sec_per_superstep_ba_auto": round(eps),
        "pl_graph": {"edges": n_edges_pl, "vertices": pl_vertices},
        "ba_graph": {"n": ba_n, "m": ba_m, "edges": n_edges_ba, "edges_sym": n_edges_ba_sym, "triangles": tri},
        "sf_edges": n_edges_sf,
        "supersteps": supersteps,
        "pagerank_ba_mean_superstep_sec": round(sum(pr_superstep_walls) / len(pr_superstep_walls), 4),
        "converged": converged,
    }
    _write_csv(out)
    print(json.dumps(out))
    spark.stop()


def _write_csv(out: dict) -> None:
    """CSV sink beside the JSON line (reference S5 parity,
    benchmark/benchmarks.jl:322-399 writes CSV+plots to benchmark/out)."""
    import csv

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "bench_queries.csv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["query", "seconds", "supersteps", "converged", "sf", "cpus"])
        for name, sec in out["queries"].items():
            w.writerow([name, sec, out["supersteps"].get(name, ""),
                        out["converged"].get(name, ""), out["sf"], out["cpus"]])
        w.writerow(["_edges_per_sec_per_superstep", out["edges_per_sec_per_superstep"],
                    "", "", out["sf"], out["cpus"]])
    _write_svg(out)


def _write_svg(out: dict) -> None:
    """Dependency-free SVG bar chart of per-query wall time (reference S5
    plot parity without matplotlib)."""
    qs = list(out["queries"].items())
    if not qs:
        return
    w, bar_h, left, top = 640, 22, 180, 30
    h = top + bar_h * len(qs) + 20
    vmax = max(v for _, v in qs) or 1.0
    rows = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}" '
        f'font-family="monospace" font-size="12">',
        f'<text x="8" y="18">graftpark bench sf={out["sf"]} local[{out["cpus"]}] '
        f'(total {out["value"]}s)</text>',
    ]
    for i, (name, sec) in enumerate(qs):
        y = top + i * bar_h
        bw = int((w - left - 80) * sec / vmax)
        rows.append(f'<text x="8" y="{y + 14}">{name}</text>')
        rows.append(f'<rect x="{left}" y="{y + 3}" width="{max(bw, 1)}" height="{bar_h - 8}" fill="#4878a8"/>')
        rows.append(f'<text x="{left + bw + 6}" y="{y + 14}">{sec}s</text>')
    rows.append("</svg>")
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "bench_queries.svg")
    with open(path, "w") as f:
        f.write("\n".join(rows))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
