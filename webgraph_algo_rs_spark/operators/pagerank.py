"""Weighted PageRank with dangling-mass redistribution (north rule №2).

Superstep = skew-aware sparse gather-scatter: each vertex scatters
``rank · weight / out_weight`` along its out-edges; contributions are
partially aggregated map-side (Catalyst HashAggregate partial→final —
the combiner the north rule asks for), shuffled on ``dst``, and folded
into the damping formula. Dangling vertices' mass is redistributed
uniformly each iteration.

Convergence mirrors the reference's per-iteration modified-counter stop
rule (``/root/reference/src/algo/hyperball/hyperball_impl.rs:552-570``):
we track the L1 residual ``Σ|r_{t+1} − r_t|`` and stop at ``tol``.

Tiers, checkpoints and stats are the shared fixpoint driver's
(``plans/fixpoint.py``). A step's dangling mass is the previous step's
stop aggregate; the first superstep of a fresh run has none and
cross-joins a 1-row aggregate into its plan (Catalyst's exchange reuse
shares its prefix with the message aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.plans.fixpoint import Fixpoint
from webgraph_algo_rs_spark.plans.local_csr import pagerank_kernel
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    W,
    graph_vertices,
    materialize,
)


def _dangling_mass(rank):
    return F.coalesce(F.sum(F.when(F.col("dangling"), rank)), F.lit(0.0))


class _PageRank(Fixpoint):
    algo = "pagerank"
    schema = "vertex bigint, rank double"
    output = "rank"
    keys = ("vertex", "dangling")
    carried = ("rank",)
    metric = "residual"
    metric_type = "double"
    unset = float("inf")

    def __init__(self, damping: float, tol: float):
        self.damping, self.tol = damping, tol
        self.n = None

    def kernel(self, max_iter):
        return pagerank_kernel(self.damping, self.tol, max_iter)

    def prepare(self, edges, n_edges):
        vertices = materialize(graph_vertices(edges))
        n = self.n = vertices.count()
        out_w = edges.groupBy(SRC).agg(F.sum(W).alias("out_w"))
        norm_plan = edges.join(out_w, SRC).select(
            SRC, DST, (F.col(W) / F.col("out_w")).alias("nw")
        )
        base = vertices.join(out_w, vertices.vertex == out_w[SRC], "left").select(
            "vertex",
            F.col("out_w").isNull().alias("dangling"),
            F.lit(1.0 / n).alias("rank"),
        )
        if self.tier == "persist-chain":
            self.edges = self.pin(norm_plan)
            return base
        # small-graph partition sizing: checkpointed frames pin their
        # map-side partition count, and 32 tasks per stage on a 40k-edge
        # graph is pure scheduling latency (measured ~2× on the sf0.1
        # bench). Size the edge frame by edge count (a dense 10k-vertex /
        # 10M-edge graph must not collapse its scan to one task) — the
        # probe is exact on this tier and the normalize join preserves rows.
        p = min(self.n_buckets, max(n, n_edges) // 20_000 + 1)
        self.edges = self.pin(norm_plan.coalesce(p))
        return base.coalesce(min(self.n_buckets, n // 20_000 + 1))

    def step(self, cur, prev):
        r = F.col("rank0")
        msgs = (
            cur.select(F.col("vertex").alias("__v"), r.alias("__r"))
            .join(self.edges, F.col("__v") == F.col(SRC))
            .groupBy(DST)
            .agg(F.sum(F.col("__r") * F.col("nw")).alias("__c"))
        )
        stepped = cur.join(msgs, F.col("vertex") == F.col(DST), "left")
        if prev is None:
            stepped = stepped.crossJoin(cur.agg(_dangling_mass(r).alias("__dm")))
            dm = F.col("__dm")
        else:
            dm = F.lit(prev["dangling_mass"])
        n = float(self.n)
        return stepped.select(
            *cur.columns,
            (
                F.lit((1.0 - self.damping) / n)
                + F.lit(self.damping)
                * (F.coalesce(F.col("__c"), F.lit(0.0)) + dm / F.lit(n))
            ).alias("rank1"),
        )

    def aggregates(self):
        r = F.col("rank1")
        return {
            "residual": F.sum(F.abs(r - F.col("rank0"))),
            "dangling_mass": _dangling_mass(r),
        }

    def converged(self, metrics):
        return metrics["residual"] < self.tol


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    checkpoint: CheckpointManager | None = None,
    stats: dict | None = None,
    local_mode: bool | None = None,
) -> DataFrame:
    """Returns ``(vertex:bigint, rank:double)``; ranks sum to 1.

    ``checkpoint``: durable per-iteration snapshots + resume (a fresh
    call with the same manager continues where a killed run committed).
    ``stats``: optional dict populated with tier/iterations/residual/
    wall_sec and ``n_vertices``.
    ``local_mode``: ``True`` forces the partition-local CSR kernel,
    ``False`` forbids it, ``None`` auto-picks it under
    ``wga.localKernelMaxEdges`` edges. Above ``wga.bucketizeMinEdges``
    edges the run takes the persist-chain big-graph tier
    (``plans/fixpoint.py``).
    """
    fp = _PageRank(damping, tol)
    edges = edges.select(SRC, DST, W)
    out = fp.run(edges, max_iter, checkpoint, stats, local_mode)
    if stats is not None:
        stats["n_vertices"] = fp.n if fp.n is not None else out.count()
    return out
