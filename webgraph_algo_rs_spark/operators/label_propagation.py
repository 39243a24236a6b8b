"""Synchronous weighted label propagation (north rule №4).

Each superstep every vertex adopts the label with the maximum incoming
weight sum among its (symmetrized) neighbors, ties broken by the *min*
label; stops at fixpoint or ``max_iter`` (synchronous LPA can oscillate
on bipartite structure, hence the iteration cap — the reference's
analogous cap is HyperBall's relative-increment stop,
``/root/reference/src/algo/hyperball/hyperball_impl.rs:565-570``).

The tally is a two-stage aggregation — ``groupBy(dst, label).sum(w)``
then ``groupBy(dst).max_by(label, (w, -label))`` — both with map-side
partial aggregation, so a hot vertex's fan-in is pre-combined per map
partition before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.plans.fixpoint import Fixpoint
from webgraph_algo_rs_spark.plans.local_csr import lpa_kernel
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    W,
    graph_vertices,
    symmetrize,
)


class _LabelPropagation(Fixpoint):
    algo = "lpa"
    schema = "vertex bigint, label bigint"
    output = "label"
    carried = ("label",)
    metric = "changed"

    def kernel(self, max_iter):
        return lpa_kernel(max_iter)

    def prepare(self, edges, n_edges):
        # probe the raw scan (see components.py)
        self.edges = self.pin(symmetrize(edges), probe_df=edges)
        return graph_vertices(self.edges).select(
            "vertex", F.col("vertex").alias("label")
        )

    def step(self, cur, j, prev):
        # no delta frontier: the vote needs every neighbor's current label
        label = F.col(f"label{j - 1}")
        tally = (
            cur.select(F.col("vertex").alias("__v"), label.alias("__l"))
            .join(self.edges, F.col("__v") == F.col(SRC))
            .groupBy(DST, "__l")
            .agg(F.sum(W).alias("__wsum"))
        )
        best = tally.groupBy(DST).agg(
            F.max_by(
                "__l", F.struct(F.col("__wsum"), (-F.col("__l")).alias("neg"))
            ).alias("__nl")
        )
        nl = F.coalesce(F.col("__nl"), label)
        return cur.join(best, F.col("vertex") == F.col(DST), "left").select(
            *cur.columns, nl.alias(f"label{j}"), (nl != label).alias(f"changed{j}")
        )

    def aggregates(self, j):
        return {"changed": F.sum(F.col(f"changed{j}").cast("long"))}

    def converged(self, metrics):
        return metrics["changed"] == 0


def label_propagation(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
    bucketize_edges: bool = False,
    block_size: int | None = None,
    local_mode: bool | None = None,
    edge_store: str = "auto",
) -> DataFrame:
    """Returns ``(vertex:bigint, label:bigint)``.

    Tiers, ``bucketize_edges``, ``block_size`` (majority-vote supersteps
    chained per Spark action), ``local_mode``, ``checkpoint`` and
    ``stats`` are the fixpoint driver's (``plans/fixpoint.py``); the
    stop rule is the first superstep with zero label changes, or
    ``max_iter``. ``edge_store`` selects the pinned edge store on the
    persist-chain tier (``pin_edges``). Integer-weight tallies are
    bit-exact vs the local kernel.
    """
    return _LabelPropagation(edge_store).run(
        edges, max_iter, checkpoint, stats, bucketize_edges, block_size, local_mode
    )
