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

* sketches are an ``m``-byte ``binary`` column; merges are
  ``np.maximum`` over Arrow batches (K3, see ``functions.hll``);
* the gather is a shuffle keyed on the *predecessor*: messages flow
  ``successor → predecessor`` over the edge table — the reference's
  transpose-driven systolic update (`:1095-1116`) without needing a
  second dataset;
* map-side combining: ``_group_merge`` hash-partitions messages by key
  and folds each Arrow batch with a vectorized sort + ``reduceat`` —
  the analog of the arc-balanced worker span (`:991-1006`); two-level
  salting for hot vertices via ``plans.superstep.salted_agg``;
* systolic delta frontier: only vertices whose sketch changed last
  superstep send messages (mode switch `:784-799`; correct for max-merge
  for the same reason it is for hash-min CC);
* the driver clamps the neighbourhood function monotonically
  (`:905-916`) and applies the reference's stop rule: no counter
  modified, or (after 3 supersteps) relative NF increment below
  threshold (`:552-570`).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType

from webgraph_algo_rs_spark.functions.hll import HllParams
from webgraph_algo_rs_spark.plans.local_csr import (
    hyperball_kernel,
    local_dispatch,
    local_kernel_threshold,
    run_local_kernel,
    tagged,
)
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    StatsResetter,
    graph_vertices,
    materialize,
    salted_agg,
)


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


def hyperball(
    edges: DataFrame,
    log2m: int = 8,
    seed: int = 42,
    max_iter: int = 200,
    rel_threshold: float | None = None,
    n_salt: int = 0,
    discount=None,
    stats: dict | None = None,
    hasher: str = "splitmix64",
    n_upper: int | None = None,
    node_weights: DataFrame | None = None,
    local_frontier_frac: float = 1 / 32,
    local_frontier_max: int = 200_000,
    local_mode: bool | None = None,
) -> DataFrame:
    """Run HyperBall on the out-direction of ``edges``.

    Returns ``(vertex, reachable, sum_distances, closeness, harmonic,
    lin, nieminen[, discounted])``. ``stats`` (optional dict) receives
    ``neighbourhood_function`` (list, monotone-clamped), ``iterations``.

    ``rel_threshold``: reference's relative-increment stop
    (`hyperball_impl.rs:565-570`); ``None`` runs to full stabilization.
    ``n_salt > 0`` enables two-level salted merging for hot vertices.
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
    ``local_frontier_frac``: local-mode switch (the reference's
    pre-local/local systolic modes, `hyperball_impl.rs:795-799,
    819-835`): once the previous superstep changed fewer than
    ``frac·n`` vertices, the frontier and the merged messages are
    broadcast into their joins, so neither the 3.2M-arc table nor the
    full sketch state shuffles in the (long) saturated tail —
    supersteps 20–81 of the cnr-2000 golden run touch <1k of 325k
    vertices. Set to 0 to disable. ``local_frontier_max`` bounds the
    switch absolutely: a relative gate alone would broadcast multi-GB
    sketch frontiers on 1e8+-vertex graphs (n/32 rows × m-byte
    registers), so local mode also requires ``changed`` rows ≤ this cap
    — the same ceiling the merged-message broadcast uses.
    ``local_mode``: ``True`` forces the partition-local CSR kernel
    (``plans/local_csr.hyperball_kernel`` — the whole systolic loop in
    one task, bit-identical outputs and iteration count), ``False``
    forbids it, ``None`` picks it by the shared size dispatch
    (``plans/local_csr.local_dispatch``) when no explicit physical
    strategy (``n_salt``) was requested, with the edge cap
    ``wga.localKernelMaxEdges // m``.

    ``stats`` also receive ``tier``: ``empty`` (no edge rows: no
    superstep, ``neighbourhood_function == [0.0]``), ``local-csr`` or
    ``supersteps`` (the distributed loop), plus ``wall_sec`` and
    ``local_supersteps`` (supersteps that ran frontier-local — every
    one on the ``local-csr`` tier).
    """
    params = HllParams(log2m=log2m, seed=seed, hasher=hasher, n_upper=n_upper)
    spark = edges.sparkSession
    schema = (
        "vertex bigint, reachable double, sum_distances double, closeness double,"
        " harmonic double, lin double, nieminen double"
        + (", discounted double" if discount is not None else "")
    )
    # a HyperBall superstep moves E·m register BYTES (not E rows like
    # BFS/PageRank), and the dense early supersteps touch every edge —
    # measured on a cnr-2000-shaped graph the single-core kernel costs
    # ~20 s/superstep while 32 distributed cores do it in ~1.5 s. Scale
    # the edge cap down by m so the local path only claims graphs whose
    # whole run is genuinely cheaper than the per-superstep driver
    # barriers it saves.
    tier, _ = local_dispatch(
        edges,
        local_mode,
        cap=local_kernel_threshold(spark) // params.m,
        auto=n_salt == 0,
    )
    t0 = time.time()

    def record(name, iterations, nf, local_steps):
        if stats is not None:
            stats.update(
                tier=name,
                iterations=int(iterations),
                neighbourhood_function=list(nf),
                wall_sec=time.time() - t0,
                local_supersteps=int(local_steps),
            )

    if tier == "empty":
        record("empty", 0, [0.0], 0)
        return spark.createDataFrame([], schema)
    if tier == "local-csr":
        out = run_local_kernel(
            tagged(edges, None if node_weights is None else (node_weights, "vertex", "weight")),
            schema + ", iterations int, nf array<double>",
            hyperball_kernel(
                params, max_iter, rel_threshold, discount, node_weights is not None
            ),
        )
        if stats is not None:
            head = out.select("iterations", "nf").filter(F.col("nf").isNotNull()).first()
            record("local-csr", head["iterations"], head["nf"], head["iterations"])
        return out.drop("iterations", "nf")
    merge = _group_merge_factory(params)

    @F.pandas_udf(BinaryType())
    def init_sketch(v: pd.Series) -> pd.Series:
        regs = params.singletons(v.to_numpy(dtype=np.int64))
        return pd.Series(HllParams.to_bytes(regs))

    @F.pandas_udf(BinaryType())
    def init_weighted(v: pd.Series, w: pd.Series) -> pd.Series:
        vv = v.to_numpy(dtype=np.int64)
        ww = np.maximum(w.to_numpy(dtype=np.int64), 0)
        regs = params.empty(len(vv))
        rows = np.repeat(np.arange(len(vv)), ww)
        # weight_i distinct synthetic elements per node: (vertex << 24) + k
        # (vertex ids < 2^39, weights < 2^24)
        base = np.repeat(vv, ww) * np.int64(1 << 24)
        csum = np.concatenate(([0], np.cumsum(ww)[:-1]))
        k = np.arange(rows.size, dtype=np.int64) - np.repeat(csum, ww)
        params.add_multi(regs, rows, base + k)
        return pd.Series(HllParams.to_bytes(regs))

    @F.pandas_udf(DoubleType())
    def est_udf(sk: pd.Series) -> pd.Series:
        regs = params.from_bytes(list(sk))
        return pd.Series(params.estimate(regs))

    @F.pandas_udf(BinaryType())
    def merge2_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        # Whole-batch register max — this only ever sees vertices that
        # actually received a message (inner join below), so both sides
        # are non-null and the kernel is a single np.maximum per Arrow
        # batch (the reference's word-parallel merge,
        # hyper_log_log_logic.rs:461-568, re-expressed over Arrow).
        ra = params.from_bytes(list(a))
        rb = params.from_bytes(list(b))
        return pd.Series(HllParams.to_bytes(np.maximum(ra, rb)))

    # materialized once: the distinct() is a full shuffle of the edge
    # set — recomputing it per superstep action would dominate the loop
    arcs = materialize(
        edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST)).distinct()
    )
    verts = graph_vertices(edges)  # vertex set from the raw edges: a vertex
    # with only self-loops still has a ball {v} (reference counts it)
    if node_weights is not None:
        verts = verts.join(
            node_weights.select("vertex", F.col("weight").cast("long").alias("_w")),
            "vertex",
            "left",
        ).select("vertex", F.coalesce("_w", F.lit(1)).alias("_w"))
        seeded = verts.withColumn("sketch", init_weighted("vertex", "_w")).drop("_w")
    else:
        seeded = verts.withColumn("sketch", init_sketch("vertex"))
    state = materialize(
        seeded
        .withColumn("est", est_udf("sketch"))
        .select(
            "vertex",
            "sketch",
            "est",
            F.lit(0.0).alias("sum_d"),
            F.lit(0.0).alias("sum_inv_d"),
            F.lit(0.0).alias("sum_disc"),
            F.lit(True).alias("changed"),
        )
    )
    nf = [float(state.agg(F.sum("est")).first()[0] or 0.0)]
    resetter = StatsResetter(edges.sparkSession, label="hyperball")

    n_vertices = state.count()
    changed = n_vertices  # superstep 1 scatters everyone
    local_steps = 0
    it = 0
    for it in range(1, max_iter + 1):
        # local mode (reference pre-local/local, hyperball_impl.rs:795-835):
        # a collapsed frontier is cheaper to ship to every executor than
        # the arcs/state tables are to shuffle
        # the relative gate alone is not enough: at 3e8 vertices, n/32
        # changed rows × ~m-byte sketches is gigabytes — more than the
        # driver can collect or Spark will broadcast. Cap absolutely at
        # the same size the merged-message side uses below.
        local = (
            local_frontier_frac > 0
            and changed <= n_vertices * local_frontier_frac
            and changed <= local_frontier_max
        )
        if local:
            local_steps += 1
        frontier = state.filter("changed").select(
            F.col("vertex").alias("f_vertex"), F.col("sketch").alias("f_sketch")
        )
        if local:
            frontier = F.broadcast(frontier)
        # successor → predecessor messages (transpose-free gather)
        msgs = arcs.join(
            frontier, arcs[DST] == F.col("f_vertex")
        ).select(F.col(SRC).alias("mk"), F.col("f_sketch").alias("sketch"))
        if n_salt > 0:
            merged = salted_agg(msgs, "mk", merge, n_salt=n_salt)
        else:
            merged = merge(msgs, ["mk"])
        merged = merged.withColumnRenamed("sketch", "in_sketch")
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
            if merged.count() <= local_frontier_max:
                merged = F.broadcast(merged)
        t = float(it)
        # join-then-union: only vertices with an incoming message pay the
        # Arrow round trip (merge2 + estimate); untouched rows pass
        # through JVM-side with changed=false. Near saturation the
        # frontier — and so the touched set — collapses, making late
        # supersteps O(|frontier|), not O(|V|), in Python-kernel work.
        touched = (
            state.join(merged, state.vertex == merged.mk)
            .withColumn("new_sketch", merge2_udf("sketch", F.col("in_sketch")))
            .withColumn("new_est", est_udf("new_sketch"))
            .withColumn(
                "delta", F.greatest(F.col("new_est") - F.col("est"), F.lit(0.0))
            )
            .select(
                "vertex",
                F.col("new_sketch").alias("sketch"),
                F.col("new_est").alias("est"),
                (F.col("sum_d") + F.col("delta") * F.lit(t)).alias("sum_d"),
                (F.col("sum_inv_d") + F.col("delta") / F.lit(t)).alias("sum_inv_d"),
                (
                    F.col("sum_disc")
                    + F.col("delta")
                    * F.lit(float(discount(it)) if discount is not None else 0.0)
                ).alias("sum_disc"),
                (F.col("new_sketch") != state["sketch"]).alias("changed"),
            )
        )
        untouched = state.join(
            merged, state.vertex == merged.mk, "left_anti"
        ).select(
            "vertex",
            "sketch",
            "est",
            "sum_d",
            "sum_inv_d",
            "sum_disc",
            F.lit(False).alias("changed"),
        )
        stepped = materialize(touched.unionByName(untouched))
        if it % 8 == 0:
            # stats firewall — see StatsResetter: the self-referential
            # join above ~squares the originStats estimate per superstep
            stepped = resetter.reset(stepped)
        agg = stepped.agg(
            F.sum(F.when(F.col("changed"), 1).otherwise(0)).alias("nc"),
            F.sum("est").alias("nf"),
        ).first()
        state = stepped
        changed = int(agg["nc"] or 0)
        nf.append(max(float(agg["nf"] or 0.0), nf[-1]))  # monotone clamp :905-916
        if changed == 0:
            break
        if (
            rel_threshold is not None
            and it > 3
            and nf[-2] > 0
            and nf[-1] / nf[-2] < 1.0 + rel_threshold
        ):
            break

    record("supersteps", it, nf, local_steps)

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
    if discount is not None:
        cols.append(F.col("sum_disc").alias("discounted"))
    return state.select(*cols)


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
