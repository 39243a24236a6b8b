"""Level-synchronous multi-source BFS — the Spark form of the reference's
traversal primitives (T1–T3).

The reference's sequential BFS marks distance by level separators in the
queue (``/root/reference/src/algo/visits/breadth_first/seq.rs:89-219``)
and the parallel variants claim vertices with an atomic bit swap
(``par_fair.rs:178``). Here the frontier is a DataFrame; the "claim" is
a ``left_anti`` join against the visited set; distance is the driver's
loop counter. All sources advance in one superstep — the reference
needs one filtered BFS *per component pivot*
(``exact_sum_sweep/computer.rs:758-809``); we seed the frontier with all
``(source, tag)`` pairs at once.
"""

from __future__ import annotations

from itertools import count

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.plans.local_csr import (
    bfs_kernel,
    local_dispatch,
    probe_edge_count,
    run_local_kernel,
    tagged,
)
from webgraph_algo_rs_spark.plans.superstep import SRC, DST, materialize

# the most sources an auto-dispatched, not per-source-filtered call
# floods inside the one local kernel task
LOCAL_BFS_MAX_SOURCES = 512


def bfs_distances(
    edges: DataFrame,
    sources: list[int] | DataFrame,
    max_depth: int | None = None,
    predecessors: bool = False,
    vertex_filter: DataFrame | None = None,
    local_mode: bool | None = None,
) -> DataFrame:
    """Distances from each source:
    ``(source:bigint, vertex:bigint, distance:bigint[, pred:bigint])``.

    Unreached vertices are absent (the reference's ``Unknown``-only event
    stream — ``breadth_first/mod.rs:23-68``).

    ``max_depth=None`` (default) runs until every frontier empties —
    always terminates (each level claims ≥1 new vertex, so ≤ |V|
    levels). An int caps the flood at that many levels; distances beyond
    it are absent, so a cap silently truncates long floods — never pass
    one from an algorithm whose correctness needs full eccentricities
    (ExactSumSweep learned this the hard way: a 10⁴ default here would
    mis-certify the diameter of a 20k-vertex path graph).

    ``predecessors=True`` adds ``pred`` — the *minimum* predecessor that
    discovered the vertex (``NULL`` for sources). The reference's
    ``ParFairPred`` events carry the pred that won the atomic claim
    (``par_fair.rs:88-98,178``); our deterministic replacement for that
    race is the min aggregate.

    ``vertex_filter`` is the reference's node-filter contract
    (``visits/mod.rs:81-89``), applied at discovery time, sources
    included: either a ``(vertex)`` set restricting every flood, or
    ``(source, vertex)`` pairs allowing a different filter per flood —
    the latter is how SCC's same-color backward sweep reuses this
    function.

    ``local_mode``: ``True`` forces the partition-local CSR kernel
    (``plans/local_csr.bfs_kernel`` — every flood level-synchronous
    inside one task, one Spark job per call instead of one barrier per
    BFS level), ``False`` forbids it, ``None`` picks it by the shared
    size dispatch (``plans/local_csr.local_dispatch``: at most
    ``wga.localKernelMaxEdges`` raw edge rows) and, unless the filter is
    per-source, at most ``LOCAL_BFS_MAX_SOURCES`` sources. An empty edge
    table takes the distributed loop, which then ends after its seeds.
    """
    spark = edges.sparkSession
    if isinstance(sources, list):
        sources = spark.createDataFrame(
            [(int(s),) for s in sources], "source bigint"
        )
    per_source = vertex_filter is not None and "source" in vertex_filter.columns
    tier, _ = local_dispatch(edges, local_mode)
    if (
        tier == "local-csr"
        and local_mode is None
        and not per_source
        and probe_edge_count(sources, LOCAL_BFS_MAX_SOURCES) > LOCAL_BFS_MAX_SOURCES
    ):
        # unfiltered (or globally filtered) floods emit up to
        # |sources|·|reached| rows from the ONE kernel task — cap the
        # source count so a mass flood (the ESS endgame seeds every open
        # vertex) keeps the partitioned distributed path. A per-source
        # filter bounds output by the filter's row count, so the per-SCC
        # flood pattern stays local at any SCC count.
        tier = None
    if tier == "local-csr":
        # the result is pinned like the distributed path's: callers
        # re-join the visited set (ESS uses each flood several times).
        # Measured negative result: a repartition(shuffle.partitions) of
        # it to parallelize downstream exchanges made cnr-2000 ESS rounds
        # ~60% SLOWER (the serial reshuffle of a ~12M-row flood costs
        # more than the single-partition exchange maps it replaces) —
        # keep the output single-partition.
        vf = None
        if vertex_filter is not None:
            vf = (vertex_filter, "source" if per_source else "vertex", "vertex")
        return run_local_kernel(
            tagged(edges, (sources, "source", "source"), vf),
            "source bigint, vertex bigint, distance bigint"
            + (", pred bigint" if predecessors else ""),
            bfs_kernel(max_depth, predecessors, vertex_filter is not None, per_source),
        )
    e = edges.select(SRC, DST).distinct()
    seeds = sources.select("source", F.col("source").alias("vertex"))
    fcols = None
    if vertex_filter is not None:
        fcols = (
            ["source", "vertex"]
            if "source" in vertex_filter.columns
            else ["vertex"]
        )
        seeds = seeds.join(vertex_filter, fcols, "left_semi")
    frontier = materialize(seeds)
    pred_cols = (
        [F.lit(None).cast("bigint").alias("pred")] if predecessors else []
    )
    # The visited set carries the distance, so it doubles as the result
    # accumulator: it is materialized every level anyway (the claim
    # anti-join needs it), which keeps the final plan O(1) deep instead
    # of one union child per level — a 10^4-diameter chain would
    # otherwise blow up Catalyst analysis before any data moves.
    visited = materialize(
        frontier.select(
            "source", "vertex", F.lit(0).cast("long").alias("distance"), *pred_cols
        )
    )
    depths = count(1) if max_depth is None else range(1, max_depth + 1)
    for depth in depths:
        disc = frontier.join(e, frontier["vertex"] == e[SRC]).select(
            "source", e[DST].alias("vertex"), frontier["vertex"].alias("pv")
        )
        # min-predecessor claim (one row per discovered vertex) — same
        # shuffle as the old distinct(), but deterministic pred for free
        nxt = disc.groupBy("source", "vertex").agg(F.min("pv").alias("pred"))
        if vertex_filter is not None:
            nxt = nxt.join(vertex_filter, fcols, "left_semi")
        frontier = materialize(nxt.join(visited, ["source", "vertex"], "left_anti"))
        if frontier.isEmpty():
            break
        visited = materialize(
            visited.unionByName(
                frontier.select(
                    "source",
                    "vertex",
                    F.lit(depth).cast("long").alias("distance"),
                    *(["pred"] if predecessors else []),
                )
            )
        )
    return visited
