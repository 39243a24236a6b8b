"""Connected components via hash-min label exchange (north rule №3).

Semantics match the reference's symmetric-graph CC
(``/root/reference/src/algo/sccs/symm_seq.rs:9-44``,
``symm_par.rs:21-69``): components of the symmetrized graph. Labels
start as the vertex id; every superstep each vertex takes the min of its
own and its neighbors' labels; fixpoint when nothing changes. The
emitted ``component`` is the min vertex id in the component — a
canonical, engine-independent id the DuckDB recursive-CTE oracle
reproduces exactly.

Delta frontier (systolic analog,
``/root/reference/src/algo/hyperball/hyperball_impl.rs:784-799``): only
vertices whose label changed last round scatter. Correct for min
propagation: an unchanged neighbor's message is identical to one already
absorbed via ``least(old_label, …)``.

``renumber_by_size`` mirrors ``sort_by_size``
(``/root/reference/src/algo/sccs/mod.rs:68-80``): components renumbered
``0..C-1`` by decreasing size, ties by min original id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.plans.fixpoint import Fixpoint
from webgraph_algo_rs_spark.plans.local_csr import cc_kernel
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    graph_vertices,
    symmetrize,
)


class _Components(Fixpoint):
    algo = "cc"
    schema = "vertex bigint, component bigint"
    output = "component"
    carried = ("label", "changed")
    metric = "changed"
    with_weight = False

    def kernel(self, max_iter):
        return cc_kernel(max_iter)

    def prepare(self, edges, n_edges):
        # the pin probe counts the raw scan, not the symmetrize plan:
        # limit() cannot short-circuit through symmetrize's groupBy, and
        # the ≤2× raw undercount only shifts a near-threshold pick onto
        # the spill-safe cached store
        self.edges = self.pin(symmetrize(edges).select(SRC, DST), probe_df=edges)
        return graph_vertices(self.edges).select(
            "vertex", F.col("vertex").alias("label"), F.lit(True).alias("changed")
        )

    def step(self, cur, j, prev):
        label, changed = F.col(f"label{j - 1}"), F.col(f"changed{j - 1}")
        msgs = (  # delta frontier: only last round's changed vertices scatter
            cur.filter(changed)
            .select(F.col("vertex").alias("__v"), label.alias("__l"))
            .join(self.edges, F.col("__v") == F.col(SRC))
            .groupBy(DST)
            .agg(F.min("__l").alias("__nl"))
        )
        nl = F.coalesce(F.col("__nl"), label)
        return cur.join(msgs, F.col("vertex") == F.col(DST), "left").select(
            *cur.columns,
            F.least(label, nl).alias(f"label{j}"),
            (nl < label).alias(f"changed{j}"),
        )

    def aggregates(self, j):
        return {"changed": F.sum(F.col(f"changed{j}").cast("long"))}

    def converged(self, metrics):
        return metrics["changed"] == 0


def connected_components(
    edges: DataFrame,
    max_iter: int = 10_000,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
    bucketize_edges: bool = False,
    block_size: int | None = None,
    local_mode: bool | None = None,
    edge_store: str = "auto",
) -> DataFrame:
    """Returns ``(vertex:bigint, component:bigint)`` on the symmetrized graph.

    Tiers, ``bucketize_edges``, ``block_size`` (hash-min supersteps
    chained per Spark action; the delta frontier rides along as the
    ``changed`` columns), ``local_mode``, ``checkpoint`` and ``stats``
    are the fixpoint driver's (``plans/fixpoint.py``); the stop rule is
    the first superstep with zero label changes. ``stats`` also records
    ``bucketized`` (the persist-chain tier ran). ``edge_store`` selects
    the pinned edge store on the persist-chain tier (``pin_edges``).
    Exact: min-label exchange is ordering-insensitive integer math.
    """
    fp = _Components(edge_store)
    out = fp.run(
        edges, max_iter, checkpoint, stats, bucketize_edges, block_size, local_mode
    )
    if stats is not None:
        stats["bucketized"] = fp.tier == "persist-chain"
    return out


def renumber_by_size(components: DataFrame) -> DataFrame:
    """``(vertex, component)`` → ``(vertex, component)`` with dense ids
    ``0..C-1`` ordered by decreasing component size (ties: min old id).

    At scale the number of *components* is far smaller than vertices, so
    the ranking window runs on the aggregated histogram, not the
    vertices; the join back is broadcast-able.
    """
    sizes = components.groupBy("component").count()
    w = Window.orderBy(F.desc("count"), F.asc("component"))
    mapping = sizes.select(
        "component", (F.row_number().over(w) - 1).cast("long").alias("new_component")
    )
    return (
        components.join(F.broadcast(mapping), "component")
        .select("vertex", F.col("new_component").alias("component"))
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """Histogram of component sizes (``/root/reference/src/algo/sccs/mod.rs:55-61``)."""
    return components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
