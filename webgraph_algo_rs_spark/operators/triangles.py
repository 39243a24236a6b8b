"""Exact triangle counting, global and per-vertex (north rule №5).

Degree-orientation algorithm: orient each undirected edge from the
endpoint with lower ``(degree, id)`` to the higher. The oriented graph
is a DAG where every vertex's out-degree is O(√m) on any graph, so the
wedge join ``E' ⋈ E'`` — the only quadratic-risk step — is bounded even
on power-law graphs (the hot-vertex mitigation: a celebrity vertex has
huge *in*-degree in the orientation but tiny out-degree, so it never
explodes a join). The closing check is a semi-join back into ``E'``.

Per-vertex counts: every triangle (u,v,w) credits all three corners
(explode + groupBy count).

Size dispatch is ``plans/local_csr.local_dispatch``, recorded as
``stats["tier"]``: ``empty`` (no edge rows: no counts, global 0),
``local-csr`` (at most ``wga.localKernelMaxEdges`` edges, or
``local_mode=True``: the whole count is one vectorized CSR task — the
join plan's two shuffles are pure overhead at that size) or
``distributed-join`` (the plan above; ``local_mode=False`` forces it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.plans.local_csr import (
    local_dispatch,
    run_local_kernel,
    triangles_kernel,
)
from webgraph_algo_rs_spark.plans.superstep import (
    DST,
    SRC,
    graph_vertices,
    materialize,
    undirected_canonical,
)

SCHEMA = "vertex bigint, n_triangles bigint"


def _local_counts(
    edges: DataFrame, local_mode: bool | None, stats: dict | None
) -> DataFrame | None:
    """Per-vertex counts from the empty or local-CSR tier
    (``local_dispatch``), or ``None`` for the distributed join plan;
    ``stats["tier"]`` names the tier."""
    tier, _ = local_dispatch(edges, local_mode)
    if stats is not None:
        stats["tier"] = tier or "distributed-join"
    if tier is None:
        return None
    if tier == "local-csr":
        return run_local_kernel(edges.select(SRC, DST), SCHEMA, triangles_kernel())
    return edges.sparkSession.createDataFrame([], SCHEMA)


def _oriented(edges: DataFrame) -> DataFrame:
    """Undirected (a<b) pairs → degree-oriented DAG edges ``(u, v)``."""
    und = undirected_canonical(edges)
    deg = (
        und.select(F.col("a").alias("v")).unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    j = und.join(da, "a").join(db, "b")
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return materialize(
        j.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )


def _triangles(edges: DataFrame) -> DataFrame:
    """All triangles as rows ``(u, v, w)`` — each triangle exactly once."""
    e = _oriented(edges)
    e1 = e.select(F.col("u"), F.col("v"))
    e2 = e.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = e1.join(e2, F.col("v") == F.col("u2")).select("u", "v", "w")
    closing = e.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    return wedges.join(
        closing, (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")), "left_semi"
    )


def triangle_count_global(
    edges: DataFrame, local_mode: bool | None = None, stats: dict | None = None
) -> DataFrame:
    """One row ``(n_triangles:bigint)``."""
    local = _local_counts(edges, local_mode, stats)
    if local is not None:
        # every triangle credits its three corners, so the corner sum is
        # exactly 3·count (integer-exact); empty edge table → sum NULL → 0
        return local.agg(
            F.expr("coalesce(sum(n_triangles), 0L) div 3").alias("n_triangles")
        )
    return _triangles(edges).agg(F.count(F.lit(1)).alias("n_triangles"))


def triangle_count_per_vertex(
    edges: DataFrame, local_mode: bool | None = None, stats: dict | None = None
) -> DataFrame:
    """``(vertex:bigint, n_triangles:bigint)`` — zero-filled for all vertices."""
    local = _local_counts(edges, local_mode, stats)
    if local is not None:
        return local
    tri = _triangles(edges)
    corners = (
        tri.select(F.col("u").alias("vertex"))
        .unionAll(tri.select(F.col("v").alias("vertex")))
        .unionAll(tri.select(F.col("w").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    verts = graph_vertices(edges.select("src_vertex", "dst_vertex"))
    return verts.join(corners, "vertex", "left").select(
        "vertex", F.coalesce("n", F.lit(0)).cast("long").alias("n_triangles")
    )
