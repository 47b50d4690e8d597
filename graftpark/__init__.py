"""graftpark — a from-scratch PySpark-native link-graph analytics engine.

Re-creates the query capabilities of the reference graph-kernel library
(ParallelGraphs.jl, see /root/repo/SURVEY.md) as iterative DataFrame
programs over an edge table ``edges(src: long, dst: long)``:

- PageRank (power iteration, damping 0.85)          kernels.pagerank
- Connected components (label-min propagation)      kernels.components
- Label propagation community detection             kernels.labelprop
- BFS parents (reference bfs_BLAS semantics)        kernels.bfs
- Greedy / MIS (Luby-style) vertex coloring         kernels.coloring
- Triangle counting (ordered-wedge join)            kernels.triangles

plus a source-code-corpus front end (corpus.py: synthesize + Arrow-UDF
edge extraction, sha256 row invariant) and training-data pipeline
operators over document/embedding tables (pipeline/).

Design: everything is declarative DataFrame / Spark SQL; the only
Python-side code paths are vectorized pandas/Arrow UDFs (no per-row
Python anywhere). Iteration runs as a driver-side superstep loop with
lineage truncation, parquet checkpoint/resume and per-superstep metrics
(loop.py), mirroring the reference's kernel lifecycle
(reference: src/traversals/BFS/bfs_BLAS.jl:35-77).
"""

from graftpark.session import get_spark  # noqa: F401
from graftpark.graph import Graph  # noqa: F401
from graftpark import zipcache

# workers import graftpark while unpickling any graftpark UDF
zipcache.install()

__version__ = "0.1.0"
