"""webgraph_algo_rs_spark — a PySpark-native link-graph analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference ``MatteoH2O1999/webgraph-algo-rs`` (a single-machine Rust graph
library), re-expressed Spark-first:

* graphs are **edge DataFrames** ``(src_vertex, dst_vertex, weight)``
  derived from multi-turn transcript tables (or any arc list);
* iterative algorithms (PageRank, connected components, label
  propagation, HyperBall) are **driver-loop supersteps** — DataFrame
  joins + partial-aggregated shuffles, with delta frontiers and
  per-iteration checkpointing;
* heavy per-row math (HLL register merges, cosine kernels) runs in
  **vectorized Arrow/pandas UDFs**, never per-row Python.

Reference parity citations use ``file:line`` into ``/root/reference``.
"""

from webgraph_algo_rs_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
