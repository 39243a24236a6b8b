"""Degree tables — the engine's analog of the reference's DCF
(cumulative outdegree function, ``/root/reference/src/main.rs:50``)
used there for arc-balanced work splitting; here the degree table is a
query in itself (hub skew is left to AQE and map-side partial
aggregation, see ``plans/superstep.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.plans.superstep import SRC, DST, W, graph_vertices


def degrees(edges: DataFrame) -> DataFrame:
    """``(vertex, out_degree, in_degree, out_weight, in_weight)``."""
    out = edges.groupBy(F.col(SRC).alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_degree"), F.sum(W).alias("out_weight")
    )
    inn = edges.groupBy(F.col(DST).alias("vertex")).agg(
        F.count(F.lit(1)).alias("in_degree"), F.sum(W).alias("in_weight")
    )
    return (
        graph_vertices(edges)
        .join(out, "vertex", "left")
        .join(inn, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("out_weight", F.lit(0.0)).alias("out_weight"),
            F.coalesce("in_weight", F.lit(0.0)).alias("in_weight"),
        )
    )

