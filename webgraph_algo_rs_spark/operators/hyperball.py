"""HyperBall — HLL-sketch neighbourhood function + geometric centralities
(SURVEY §2.3 O7–O13).

Re-expression of the reference's HyperBall
(`/root/reference/src/algo/hyperball/hyperball_impl.rs`): each vertex
carries an HLL counter approximating its out-ball; superstep *t* unions
every vertex's counter with its successors' counters, so after *t*
supersteps counter(v) ≈ |{w : d(v,w) ≤ t}|. Per-vertex centrality
accumulators follow the reference's delta rules exactly:

* sum of distances  ``sum_d += Δ · t``            (`:1065-1068`)
* harmonic          ``sum_inv_d += Δ / t``         (`:1069-1072`)
* closeness ``1/sum_d`` (0 if isolated)            (`:667-679`)
* Lin ``count²/sum_d`` (1 if isolated)             (`:684-705`)
* Nieminen ``count² − sum_d``                      (`:708-725`)
* reachable-set size = final estimate              (`:732-750`)

Spark-first physical plan (never per-row Python):

* tiers, stats and the superstep loop are the shared fixpoint driver's
  (``plans/fixpoint.py``): ``empty``, ``local-csr``
  (``plans/local_csr.hyperball_kernel``), ``blocked`` and, above
  ``wga.bucketizeMinEdges`` edges, ``persist-chain``. The step joins
  the state with messages built from the state's own frontier, so the
  driver's stats firewall runs every 8 supersteps;
* sketches are an ``m``-byte ``binary`` column; merges are
  ``np.maximum`` over Arrow batches (K3, see ``functions.hll``);
* the gather is a shuffle keyed on the *predecessor*: messages flow
  ``successor → predecessor`` over the transposed arc table (pinned on
  the successor) — the reference's transpose-driven systolic update
  (`:1095-1116`);
* map-side combining: ``_group_merge`` hash-partitions messages by key
  and folds each Arrow batch with a vectorized sort + ``reduceat`` —
  the analog of the arc-balanced worker span (`:991-1006`);
* systolic delta frontier: only vertices whose sketch changed last
  superstep send messages (mode switch `:784-799`; correct for max-merge
  for the same reason it is for hash-min CC);
* the neighbourhood function is clamped monotonically (`:905-916`) and
  the stop rule is the reference's: no counter modified, or (after 3
  supersteps) relative NF increment below threshold (`:552-570`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType

from webgraph_algo_rs_spark.functions.hll import HllParams
from webgraph_algo_rs_spark.plans.fixpoint import Fixpoint
from webgraph_algo_rs_spark.plans.local_csr import (
    hyperball_kernel,
    local_kernel_threshold,
    tagged,
)
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    graph_vertices,
    materialize,
)

# Frontier-local switch (the reference's pre-local/local systolic modes,
# hyperball_impl.rs:795-799,819-835): once the previous superstep
# changed at most LOCAL_FRONTIER_FRAC·n vertices, the frontier and the
# merged messages are broadcast into their joins, so neither the arc
# table nor the full sketch state shuffles in the (long) saturated tail
# — supersteps 20–81 of the cnr-2000 golden run touch <1k of 325k
# vertices. The relative gate alone would broadcast multi-GB sketch
# frontiers on 1e8+-vertex graphs (n/32 rows × m-byte registers), so the
# switch also needs at most LOCAL_FRONTIER_MAX changed rows — the same
# ceiling the merged-message broadcast uses.
LOCAL_FRONTIER_FRAC = 1 / 32
LOCAL_FRONTIER_MAX = 200_000


def _group_merge_factory(params: HllParams):
    """Returns ``merge(df, group_cols) -> df`` aggregating sketches by
    register-wise max — one row per group, vectorized per Arrow batch."""

    def merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
        schema = ", ".join(
            [f"`{c}` {dict(df.dtypes)[c]}" for c in group_cols] + ["sketch binary"]
        )

        def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc: dict[tuple, np.ndarray] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keys = [pdf[c].to_numpy() for c in group_cols]
                regs = params.from_bytes(list(pdf["sketch"]))
                order = np.lexsort(keys[::-1])
                keys = [k[order] for k in keys]
                regs = regs[order]
                same = np.ones(len(regs), dtype=bool)
                same[0] = False
                for k in keys:
                    same[1:] &= k[1:] == k[:-1]
                bounds = np.flatnonzero(~same)
                gmax = np.maximum.reduceat(regs, bounds, axis=0)
                for i, b in enumerate(bounds):
                    key = tuple(k[b] for k in keys)
                    prev = acc.get(key)
                    acc[key] = gmax[i] if prev is None else np.maximum(prev, gmax[i])
            if acc:
                ks = list(acc.keys())
                out = {c: [k[i] for k in ks] for i, c in enumerate(group_cols)}
                out["sketch"] = [v.tobytes() for v in acc.values()]
                yield pd.DataFrame(out)

        n_part = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        return df.repartition(int(n_part), *group_cols).mapInPandas(fold, schema)

    return merge


class _HyperBall(Fixpoint):
    algo = "hyperball"
    carried = ("sketch", "est", "sum_d", "sum_inv_d", "sum_disc", "changed")
    metric = "neighbourhood_function"
    metric_type = "array<double>"
    # the step joins the state with messages built from its own
    # frontier: without the firewall, on a 30-cycle the checkpoint size
    # estimate had >4,300 digits by superstep 8 and the driver stalled
    # near superstep 20
    stats_reset_every = 8

    def __init__(self, params, rel_threshold, discount, node_weights):
        self.params, self.rel_threshold = params, rel_threshold
        self.discount, self.node_weights = discount, node_weights
        self.schema = (
            "vertex bigint, reachable double, sum_distances double,"
            " closeness double, harmonic double, lin double, nieminen double"
            + (", discounted double" if discount is not None else "")
        )
        self.n = None  # vertex count, read on the first superstep
        self.nf = []  # clamped neighbourhood function up to the last step
        self.local_steps = 0

    def local_cap(self, spark):
        # a superstep moves E·m register BYTES (not E rows like
        # BFS/PageRank), and the dense early supersteps touch every edge
        # — measured on a cnr-2000-shaped graph the single-core kernel
        # costs ~20 s/superstep while 32 distributed cores do it in
        # ~1.5 s. Scale the edge cap down by m so the local path only
        # claims graphs whose whole run is genuinely cheaper than the
        # per-superstep driver barriers it saves.
        return local_kernel_threshold(spark) // self.params.m

    def kernel_input(self, edges):
        w = self.node_weights
        return tagged(edges, None if w is None else (w, "vertex", "weight"))

    def kernel(self, max_iter):
        return hyperball_kernel(
            self.params,
            max_iter,
            self.rel_threshold,
            self.discount,
            self.node_weights is not None,
        )

    def prepare(self, edges, n_edges):
        params = self.params
        self.merge = _group_merge_factory(params)

        @F.pandas_udf(BinaryType())
        def init_sketch(v: pd.Series) -> pd.Series:
            regs = params.singletons(v.to_numpy(dtype=np.int64))
            return pd.Series(HllParams.to_bytes(regs))

        @F.pandas_udf(BinaryType())
        def init_weighted(v: pd.Series, w: pd.Series) -> pd.Series:
            ww = np.maximum(w.to_numpy(dtype=np.int64), 0)
            regs = params.weighted(v.to_numpy(dtype=np.int64), ww)
            return pd.Series(HllParams.to_bytes(regs))

        @F.pandas_udf(DoubleType())
        def est_udf(sk: pd.Series) -> pd.Series:
            regs = params.from_bytes(list(sk))
            return pd.Series(params.estimate(regs))

        @F.pandas_udf(BinaryType())
        def merge2_udf(a: pd.Series, b: pd.Series) -> pd.Series:
            # Whole-batch register max — this only ever sees vertices that
            # actually received a message (inner join in step), so both
            # sides are non-null and the kernel is a single np.maximum per
            # Arrow batch (the reference's word-parallel merge,
            # hyper_log_log_logic.rs:461-568, re-expressed over Arrow).
            ra = params.from_bytes(list(a))
            rb = params.from_bytes(list(b))
            return pd.Series(HllParams.to_bytes(np.maximum(ra, rb)))

        self.est_udf, self.merge2_udf = est_udf, merge2_udf
        # transposed, self-loop-free distinct arcs: a message travels
        # successor (SRC here, the pinned key) → predecessor (DST here);
        # pinned once, as the distinct() is a full shuffle of the edges
        self.arcs = self.pin(
            edges.filter(F.col(SRC) != F.col(DST))
            .select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
            .distinct()
        )
        # vertex set from the raw edges: a vertex with only self-loops
        # still has a ball {v} (reference counts it)
        verts = graph_vertices(edges)
        if self.node_weights is not None:
            verts = verts.join(
                self.node_weights.select(
                    "vertex", F.col("weight").cast("long").alias("_w")
                ),
                "vertex",
                "left",
            ).select("vertex", F.coalesce("_w", F.lit(1)).alias("_w"))
            seeded = verts.withColumn("sketch", init_weighted("vertex", "_w"))
        else:
            seeded = verts.withColumn("sketch", init_sketch("vertex"))
        return seeded.withColumn("est", est_udf("sketch")).select(
            "vertex",
            "sketch",
            "est",
            F.lit(0.0).alias("sum_d"),
            F.lit(0.0).alias("sum_inv_d"),
            F.lit(0.0).alias("sum_disc"),
            F.lit(True).alias("changed"),
        )

    def step(self, cur, prev):
        if prev is None:
            row = cur.agg(F.count(F.lit(1)), F.sum("est0")).first()
            self.n, self.nf = row[0], [float(row[1] or 0.0)]
            changed = self.n  # superstep 1 scatters everyone
        else:
            changed, self.nf = prev["changed"], prev["neighbourhood_function"]
        t = len(self.nf)  # this superstep's number
        # local mode (reference pre-local/local, hyperball_impl.rs:795-835):
        # a collapsed frontier is cheaper to ship to every executor than
        # the arcs/state tables are to shuffle
        local = changed <= self.n * LOCAL_FRONTIER_FRAC and changed <= LOCAL_FRONTIER_MAX
        self.local_steps += local
        frontier = cur.filter("changed0").select(
            F.col("vertex").alias("f_vertex"), F.col("sketch0").alias("f_sketch")
        )
        if local:
            frontier = F.broadcast(frontier)
        msgs = self.arcs.join(frontier, F.col(SRC) == F.col("f_vertex")).select(
            F.col(DST).alias("mk"), F.col("f_sketch").alias("sketch")
        )
        merged = self.merge(msgs, ["mk"]).withColumnRenamed("sketch", "in_sketch")
        if local:
            # materialize once (both state joins below consume it — in
            # local mode that also skips recomputing the Arrow merge),
            # then broadcast if genuinely small: it makes BOTH state
            # joins (touched inner, untouched anti) broadcast-hash, so
            # the full sketch state never shuffles in the saturated
            # tail. The frontier's in-neighborhood can exceed the
            # frontier (a hub's predecessors), hence the explicit count
            # gate rather than trusting `changed` alone.
            merged = materialize(merged)
            if merged.count() <= LOCAL_FRONTIER_MAX:
                merged = F.broadcast(merged)
        disc = float(self.discount(t)) if self.discount is not None else 0.0
        # join-then-union: only vertices with an incoming message pay the
        # Arrow round trip (merge2 + estimate); untouched rows pass
        # through JVM-side with changed=false. Near saturation the
        # frontier — and so the touched set — collapses, making late
        # supersteps O(|frontier|), not O(|V|), in Python-kernel work.
        on = cur.vertex == merged.mk
        touched = (
            cur.join(merged, on)
            .withColumn("new_sketch", self.merge2_udf("sketch0", "in_sketch"))
            .withColumn("new_est", self.est_udf("new_sketch"))
            .withColumn(
                "delta", F.greatest(F.col("new_est") - F.col("est0"), F.lit(0.0))
            )
            .select(
                "vertex",
                F.col("new_sketch").alias("sketch1"),
                F.col("new_est").alias("est1"),
                (F.col("sum_d0") + F.col("delta") * F.lit(float(t))).alias("sum_d1"),
                (F.col("sum_inv_d0") + F.col("delta") / F.lit(float(t))).alias(
                    "sum_inv_d1"
                ),
                (F.col("sum_disc0") + F.col("delta") * F.lit(disc)).alias("sum_disc1"),
                (F.col("new_sketch") != F.col("sketch0")).alias("changed1"),
            )
        )
        untouched = cur.join(merged, on, "left_anti").select(
            "vertex",
            *[F.col(f"{c}0").alias(f"{c}1") for c in self.carried[:-1]],
            F.lit(False).alias("changed1"),
        )
        return touched.unionByName(untouched)

    def aggregates(self):
        # the whole clamped trajectory is the metric: N(t) ≥ N(t-1)
        # (monotone clamp, hyperball_impl.rs:905-916)
        n_t = F.greatest(F.coalesce(F.sum("est1"), F.lit(0.0)), F.lit(self.nf[-1]))
        return {
            "changed": F.sum(F.col("changed1").cast("long")),
            "neighbourhood_function": F.array(*map(F.lit, self.nf), n_t),
        }

    def converged(self, metrics):
        nf, rel = metrics["neighbourhood_function"], self.rel_threshold
        return metrics["changed"] == 0 or (
            rel is not None
            and len(nf) > 4  # after superstep 3
            and nf[-2] > 0
            and nf[-1] / nf[-2] < 1.0 + rel
        )

    def result(self, state):
        count2 = F.col("est") * F.col("est")
        cols = [
            F.col("vertex"),
            F.col("est").alias("reachable"),
            F.col("sum_d").alias("sum_distances"),
            F.when(F.col("sum_d") == 0.0, 0.0)
            .otherwise(1.0 / F.col("sum_d"))
            .alias("closeness"),
            F.col("sum_inv_d").alias("harmonic"),
            F.when(F.col("sum_d") == 0.0, 1.0)
            .otherwise(count2 / F.col("sum_d"))
            .alias("lin"),
            (count2 - F.col("sum_d")).alias("nieminen"),
        ]
        if self.discount is not None:
            cols.append(F.col("sum_disc").alias("discounted"))
        return state.select(*cols)


def hyperball(
    edges: DataFrame,
    log2m: int = 8,
    seed: int = 42,
    max_iter: int = 200,
    rel_threshold: float | None = None,
    discount=None,
    stats: dict | None = None,
    hasher: str = "splitmix64",
    n_upper: int | None = None,
    node_weights: DataFrame | None = None,
    local_mode: bool | None = None,
) -> DataFrame:
    """Run HyperBall on the out-direction of ``edges``.

    Returns ``(vertex, reachable, sum_distances, closeness, harmonic,
    lin, nieminen[, discounted])``.

    ``rel_threshold``: reference's relative-increment stop
    (`hyperball_impl.rs:565-570`); ``None`` runs to full stabilization.
    ``discount``: optional ``t -> weight`` callable — the reference's
    user-defined discounted centrality ``sum += Δ · f(t)``
    (`hyperball_impl.rs:284-296,1073-1080`); evaluated driver-side per
    superstep (t is a plan constant), accumulated in a ``discounted``
    column.
    ``hasher``/``n_upper``: see :class:`HllParams` — ``("jenkins",
    num_nodes)`` reproduces the reference's Java-golden-array setup.
    ``node_weights``: optional ``(vertex, weight:int)`` — the
    reference's weighted mode (`hyperball_impl.rs:41-42,1150-1159`)
    seeds counter *i* with ``weight_i`` distinct elements instead of
    one (the reference draws them randomly; we derive them
    deterministically from ``(vertex, k)`` for reproducibility — same
    statistics). Missing vertices default to weight 1.
    ``local_mode``: ``True`` forces the partition-local CSR kernel
    (``plans/local_csr.hyperball_kernel`` — the whole systolic loop in
    one task, bit-identical outputs and iteration count), ``False``
    forbids it, ``None`` picks it by the fixpoint driver's size dispatch
    with the edge cap ``wga.localKernelMaxEdges // m``.

    ``stats`` (optional dict) receives the fixpoint driver's ``tier``
    (``empty``: no edge rows, no superstep; ``local-csr``; ``blocked``;
    ``persist-chain``), ``iterations`` and ``wall_sec``, plus
    ``neighbourhood_function`` (list, monotone-clamped; ``[0.0]`` on an
    empty graph) and ``local_supersteps`` (supersteps that ran
    frontier-local — every one on the ``local-csr`` tier).
    """
    params = HllParams(log2m=log2m, seed=seed, hasher=hasher, n_upper=n_upper)
    fp = _HyperBall(params, rel_threshold, discount, node_weights)
    out = fp.run(edges, max_iter, stats=stats, local_mode=local_mode)
    if stats is not None:
        if stats["iterations"] == 0 and fp.tier != "local-csr":
            # no superstep read N(0): the sum of the initial estimates
            n0 = out.agg(F.sum("reachable")).first()[0]
            stats["neighbourhood_function"] = [float(n0 or 0.0)]
        stats["local_supersteps"] = (
            stats["iterations"] if fp.tier == "local-csr" else fp.local_steps
        )
    return out


def neighbourhood_function(
    edges: DataFrame,
    log2m: int = 8,
    seed: int = 42,
    max_iter: int = 200,
    rel_threshold: float | None = None,
) -> list[float]:
    """Global neighbourhood function N(t) = Σ_v |ball_t(v)| (O8;
    accumulate `hyperball_impl.rs:1047-1051,1137`, getter `:626-629`)."""
    stats: dict = {}
    hyperball(
        edges,
        log2m=log2m,
        seed=seed,
        max_iter=max_iter,
        rel_threshold=rel_threshold,
        stats=stats,
    ).count()
    return stats["neighbourhood_function"]
