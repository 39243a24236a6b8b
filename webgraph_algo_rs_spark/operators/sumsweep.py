"""Exact eccentricities / radius / diameter via SumSweep-style bound
tightening (SURVEY §2.3 O14/O15/O17/O18, undirected semantics).

The reference's ExactSumSweep
(`/root/reference/src/algo/exact_sum_sweep/computer.rs:307-417`) keeps
per-vertex lower/upper eccentricity bounds, repeatedly runs a BFS from
an adaptively chosen pivot, and stops when no vertex's bounds are open.
Undirected variant (`output_level.rs:290-451`,
`tests/test_undir_sum_sweep.rs`). Our re-expression keeps the exact
semantics with two Spark-first changes:

* **one multi-source BFS per round, all components at once** — the
  reference runs a *filtered* per-SCC visit per thread
  (`computer.rs:758-809`); we seed every component's pivot into a
  single frontier tagged with the pivot id; an undirected BFS never
  leaves its component, so no filter column is needed;
* **pivot selection per component** is a single
  ``groupBy(component).agg(max_by(...))`` — the reference's
  ``find_best_pivot`` scan (`computer.rs:424-479`);
* bound updates are pure column ops: after a BFS from pivot *p* with
  eccentricity ``ecc_p``, every reached vertex gets
  ``low = greatest(low, d)``, ``high = least(high, d + ecc_p)``
  (the textbook SumSweep bounds the reference tightens in
  `computer.rs:566-713,818-936`).

Rounds alternate the selection rule between "largest open upper bound"
(tightens the diameter side) and "smallest open lower bound" (radius
side) — a two-rule simplification of the reference's five-way
utility-driven chooser (`computer.rs:340-414`): same fixpoint, fewer
moving parts; termination is identical (no open vertex).

Both loops (:func:`_undirected_ess_state`, :func:`_directed_ess_state`)
end each non-endgame round with one upper-bound relaxation,
:func:`_relax`, over one arc table (undirected) or two (directed:
arcs and transpose). Every scalar entry point — radius and/or
diameter, directed or undirected, at every output level including
``All`` — runs its loop and hands the final bound state to one lazy
result builder, :func:`_ess_row`.

Semantics on disconnected graphs: eccentricity within each connected
component; ``diameter = max``, ``radius = min`` over all vertices.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.operators.components import connected_components
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    DST,
    materialize,
    symmetrize,
)

_INF = (1 << 62)


def _progress(line: str) -> None:
    """Round line of a long ESS run, printed when ``WGA_PROGRESS=1``
    (set by ``tools/ess_cnr2000_probe.py``)."""
    if os.environ.get("WGA_PROGRESS") == "1":
        print(line, flush=True)


def _radial_set(
    edges: DataFrame, radial: DataFrame | None, comps: DataFrame
) -> DataFrame:
    """The directed radius's ``vertex`` set: the caller's override —
    ``(vertex, is_radial)`` or bare ``vertex``, the reference's
    ``Some(radial_vertices)`` argument — or, by default, the vertices
    reaching the largest SCC of the ``(vertex, component)`` frame
    ``comps`` (`computer.rs:488-534`)."""
    from webgraph_algo_rs_spark.operators.scc import radial_vertices

    if radial is None:
        radial = radial_vertices(edges, components=comps)
    if "is_radial" in radial.columns:
        radial = radial.filter("is_radial")
    return radial.select("vertex")


def _tagged_bfs(sym: DataFrame, seeds: DataFrame) -> DataFrame:
    """BFS from every seed at once over symmetric arcs ``sym``, each
    flood tagged by its seed (the reference's per-thread pivot visits,
    `computer.rs:758-809`, collapsed into one superstep sequence).

    ``seeds``: ``(vertex, pivot)`` with ``vertex == pivot``. Returns
    ``(vertex, pivot, dist)`` for every (vertex, pivot-flood) pair
    reached. State is |pivots|/component × component size — bounded by
    the per-round pivot budget, not the graph.

    Delegates to :func:`~webgraph_algo_rs_spark.operators.bfs.bfs_distances`
    so the size-dispatched local-CSR kernel applies here too; the
    distributed fallback is the same level-synchronous anti-join loop
    this function used to inline.
    """
    from webgraph_algo_rs_spark.operators.bfs import bfs_distances

    out = bfs_distances(sym, seeds.select(F.col("pivot").alias("source")))
    return out.select(
        "vertex", F.col("source").alias("pivot"), F.col("distance").alias("dist")
    )


def eccentricities(
    edges: DataFrame,
    max_rounds: int = 10_000,
    pivots_per_rule: int = 4,
    stats: dict | None = None,
    endgame_budget: int = 50_000_000,
) -> DataFrame:
    """Exact per-vertex undirected eccentricities:
    ``(vertex, component, ecc)`` (reference output level ``All``).

    Per round, each component contributes up to ``2·pivots_per_rule``
    pivots — the top open vertices under the diameter rule (largest
    upper bound) and radius rule (smallest lower bound) — all flooded in
    one tagged multi-source BFS. Batching pivots trades a slightly
    larger BFS state for far fewer rounds (each superstep loop has fixed
    driver latency, the per-round killer on high-round graphs).
    """
    state = _undirected_ess_state(
        edges,
        output_level="all",
        max_rounds=max_rounds,
        pivots_per_rule=pivots_per_rule,
        stats=stats,
        endgame_budget=endgame_budget,
    )
    return state.select("vertex", "component", F.col("low").alias("ecc"))


def _relax(
    state: DataFrame, sides: list[tuple[DataFrame, str]], iters: int
) -> DataFrame:
    """Per-vertex upper-bound relaxation (round-5 step, closing the
    in-2004-scale plateau of `bench_logs/rmat_in2004_rd_anchor_r5b.log`:
    100k open periphery vertices, sweeps closing only their own pivots).

    ``sides`` lists ``(arc table, bound column)`` pairs — ``[(sym,
    "high")]`` undirected, ``[(arcs, "high_f"), (transpose, "high_b")]``
    directed. For ANY vertex ``w`` and any target ``x``, the first hop
    of a shortest ``w → x`` path lands on some successor ``v`` with
    ``d(w,x) = 1 + d(v,x) ≤ 1 + ecc_f(v)``, so

        ``ecc_f(w) ≤ 1 + max_{v ∈ succ(w)} high_f(v)``

    (``= 0`` when ``w`` has no successors — it reaches nothing), and
    dually ``ecc_b(w) ≤ 1 + max over predecessors' high_b``. Iterating
    propagates certified eccentricities from the closed core outward
    one hop per pass — the per-VERTEX generalization of the per-SCC
    AllCC DAG DP (`computer.rs:424-479`), sound on cycles (the min()
    keeps bounds monotone non-increasing and never below the truth).
    This is what mass-certifies small/singleton-SCC periphery vertices
    whose bounds neither the same-SCC triangle rules (wrong SCC) nor
    the condensation DP (bound telescopes too loosely down a deep DAG)
    can close. Undirected triangle bounds already generalize
    component-wide, but each pass still spreads fresh exact
    eccentricities one hop. Each pass is one join of the edge table
    with the n-row state per side and one materialize — a superstep,
    not a flood."""
    bounds = [col for _, col in sides]
    for _ in range(iters):
        relaxed = state
        for arcs, col in sides:
            nb = (
                arcs.join(state.select(F.col("vertex").alias(DST), col), DST)
                .groupBy(SRC)
                .agg(F.max(col).alias(f"m_{col}"))
                .select(F.col(SRC).alias("vertex"), f"m_{col}")
            )
            relaxed = relaxed.join(nb, "vertex", "left")
        state = materialize(
            relaxed.select(
                *(
                    F.least(c, F.coalesce(F.col(f"m_{c}") + 1, F.lit(0))).alias(c)
                    if c in bounds
                    else c
                    for c in state.columns
                )
            )
        )
    return state


def _undirected_ess_state(
    edges: DataFrame,
    output_level: str = "all",
    max_rounds: int = 10_000,
    pivots_per_rule: int = 4,
    stats: dict | None = None,
    endgame_budget: int = 50_000_000,
) -> DataFrame:
    """Undirected SumSweep bound-tightening loop; returns the final
    ``(vertex, component, low, high)`` state.

    ``output_level="all"`` iterates until every vertex's bounds close
    (reference output level ``All``). ``"radius_diameter"`` stops as
    soon as both scalars are bound-certified (reference
    ``RadiusDiameter``, `output_level.rs:290-451`): with
    ``D_L = max(low)`` and ``R_U = min(high)``, the open set shrinks to
    the *missing* vertices ``{high > D_L} ∪ {low < R_U}`` — once empty,
    ``diameter = D_L`` (no upper bound exceeds it) and
    ``radius = R_U`` (no lower bound undercuts it). ``"diameter"`` /
    ``"radius"`` certify a single scalar (reference
    ``Diameter``/``Radius`` levels): the open set keeps only that
    side's vertices, so the loop stops even earlier.
    """
    from pyspark.sql import Window

    sym = materialize(symmetrize(edges).select(SRC, DST))
    comps = connected_components(edges)
    state = materialize(
        comps.select(
            "vertex",
            "component",
            F.lit(0).cast("long").alias("low"),
            F.lit(_INF).cast("long").alias("high"),
        )
    )
    rounds = 0
    n_bfs = 0
    t0 = time.time()
    w_dia = Window.partitionBy("component").orderBy(
        F.desc("high"), F.asc("vertex")
    )
    w_rad = Window.partitionBy("component").orderBy(
        F.asc("low"), F.asc("vertex")
    )
    n_vertices = state.count()
    for rounds in range(1, max_rounds + 1):
        open_v = state.filter(F.col("low") < F.col("high"))
        if output_level in ("radius_diameter", "diameter", "radius"):
            # missing set under bound certification: a vertex keeps the
            # radius/diameter open only if its upper bound could raise
            # the diameter or its lower bound could lower the radius;
            # the single-scalar levels (reference Diameter/Radius,
            # `output_level.rs:290-451`) keep only their own side
            scal = state.agg(
                F.max("low").alias("dl"), F.min("high").alias("ru")
            ).first()
            dl, ru = scal["dl"] or 0, scal["ru"] or 0
            cond_d = F.col("high") > F.lit(dl)
            cond_r = F.col("low") < F.lit(ru)
            if output_level == "diameter":
                open_v = open_v.filter(cond_d)
            elif output_level == "radius":
                open_v = open_v.filter(cond_r)
            else:
                open_v = open_v.filter(cond_d | cond_r)
        n_open = open_v.count()
        _progress(f"uess round {rounds} open {n_open} elapsed {time.time() - t0:.1f}s")
        if n_open == 0:
            break
        if n_open * n_vertices <= endgame_budget:
            # endgame: flooding every open vertex keeps the tagged-BFS
            # state bounded and closes them all (each pivot's flood
            # yields its exact eccentricity) — one round instead of a
            # per-pivot-budget tail (same batching rationale as the
            # directed mode)
            pivots = open_v.select("vertex", F.col("vertex").alias("pivot"))
        else:
            pivots = (
                open_v.withColumn("rd", F.row_number().over(w_dia))
                .withColumn("rr", F.row_number().over(w_rad))
                .filter(
                    (F.col("rd") <= pivots_per_rule)
                    | (F.col("rr") <= pivots_per_rule)
                )
                .select("vertex", F.col("vertex").alias("pivot"))
            )
        dist = _tagged_bfs(sym, pivots)
        n_bfs += 1
        ecc_p = dist.groupBy("pivot").agg(F.max("dist").alias("ecc_p"))
        # fold all pivots' evidence per vertex before touching state:
        # ecc(v) ≥ d(p,v), ecc(v) ≥ ecc(p) − d(p,v) (triangle inequality,
        # closing p itself at d=0); ecc(v) ≤ d(p,v) + ecc(p)
        upd = (
            dist.join(ecc_p, "pivot")
            .groupBy("vertex")
            .agg(
                F.max(
                    F.greatest(F.col("dist"), F.col("ecc_p") - F.col("dist"))
                ).alias("lo"),
                F.min(F.col("dist") + F.col("ecc_p")).alias("hi"),
            )
        )
        state = materialize(
            state.join(upd, "vertex", "left")
            .select(
                "vertex",
                "component",
                F.greatest("low", F.coalesce("lo", F.lit(0))).alias("low"),
                F.least("high", F.coalesce("hi", F.lit(_INF))).alias("high"),
            )
        )
        state = _relax(state, [(sym, "high")], iters=2)
    if stats is not None:
        stats.update(
            rounds=rounds,
            bfs_runs=n_bfs,
            wall_sec=time.time() - t0,
            output_level=output_level,
        )
    return state


def directed_eccentricities(
    edges: DataFrame,
    max_rounds: int = 10_000,
    pivots_per_rule: int = 4,
    stats: dict | None = None,
    endgame_budget: int = 50_000_000,
    dag_collect_limit: int = 5_000_000,
) -> DataFrame:
    """Exact *directed* forward/backward eccentricities
    ``(vertex, component, ecc_f, ecc_b)`` — the reference's
    ``All::compute_directed``
    (`/root/reference/src/algo/exact_sum_sweep/computer.rs:307-417`,
    `output_level.rs:40-56`). ``ecc_f(v) = max_w d(v, w)`` over vertices
    reachable from ``v`` (0 if none); ``ecc_b`` symmetric on the
    transpose. ``component`` is the vertex's SCC id.

    Round structure (two alternating steps until no vertex has an open
    forward or backward bound — the reference's ``find_missing_nodes``
    termination, `computer.rs:943-1014`):

    * **global sweeps** (the SumSweepHeuristic + bound-targeted BFS
      steps, `computer.rs:263-300,346-390`): batched pivots chosen by
      three rules (largest open ``high_f`` — diameter side; smallest
      open ``low_f`` — radius side; largest open ``high_b``), each
      flooded forward *and* backward in one tagged multi-source BFS.
      A forward flood from *p* yields exact ``ecc_f(p)`` and, per
      reached ``w``: ``low_b(w) ≥ d(p,w)`` and
      ``low_f(w) ≥ ecc_f(p) − d(p,w)``; the backward flood is
      symmetric. (Directed *upper* bounds cannot come from sweeps —
      the triangle inequality fails across SCC borders.)
    * **AllCCUpperBound** (`computer.rs:818-936`): per-SCC pivots
      (min open-bounds score, the ``find_best_pivot`` rule
      `computer.rs:424-479`), two *component-filtered* tagged BFS
      (``bfs_distances`` with the per-flood vertex filter — the
      reference's per-thread filtered visits `computer.rs:758-809`),
      then the pivot-eccentricity DP over the SCC condensation:
      sink-first for forward bounds, source-first for backward, each
      DAG edge contributing ``d_F(pivot_c, s) + 1 + d_B(e, pivot_d) +
      ecc(pivot_d)`` through its stored bridge arc ``(s, e)``
      (`scc_graph.rs:109-221`). The DP runs on the driver over
      component-sized data — the reference likewise runs it serially
      (`computer.rs:838-877`); the condensation is orders of magnitude
      smaller than the graph. Refinement back in Spark:
      ``high_f(v) ≤ d_B(v, pivot) + ecc_f_ub(pivot)``,
      ``high_b(v) ≤ d_F(pivot, v) + ecc_b_ub(pivot)``.
    """
    state, _ = _directed_ess_state(
        edges,
        output_level="all",
        radial=None,
        max_rounds=max_rounds,
        pivots_per_rule=pivots_per_rule,
        stats=stats,
        endgame_budget=endgame_budget,
        dag_collect_limit=dag_collect_limit,
    )
    return state.select(
        "vertex",
        "component",
        F.col("low_f").alias("ecc_f"),
        F.col("low_b").alias("ecc_b"),
    )


def _directed_ess_state(
    edges: DataFrame,
    output_level: str = "all",
    radial: DataFrame | None = None,
    max_rounds: int = 10_000,
    pivots_per_rule: int = 4,
    stats: dict | None = None,
    endgame_budget: int = 50_000_000,
    dag_collect_limit: int = 5_000_000,
) -> tuple[DataFrame, DataFrame | None]:
    """Shared directed-ESS bound loop; returns ``(state, radial_set)``.

    ``output_level`` mirrors the reference's ``OutputLevel``
    (`/root/reference/src/algo/exact_sum_sweep/output_level.rs:66-451`,
    ``find_missing_nodes`` `computer.rs:943-1014`): the *missing set* —
    the vertices a round still has to target — depends on what the
    caller asked for, and the loop stops as soon as it is empty:

    * ``"all"``: every vertex with an open forward or backward bound;
    * ``"all_forward"``: only open *forward* bounds (the reference's
      ``AllForward`` level, `output_level.rs:24-38` — backward
      eccentricities are never certified, which skips the whole
      backward half of the tail);
    * ``"radius_diameter"``: only vertices that can still move the two
      scalars — ``high_f(v) > D_L`` (``D_L = max low_f``, the certified
      diameter lower bound: v could still push the diameter up) or
      radial ``v`` with ``low_f(v) < R_U`` (``R_U = min high_f`` over
      the radial set: v could still pull the radius down). Closing
      every vertex is the dominant cost on large graphs when only two
      scalars are wanted — this is the reference's biggest directed-ESS
      optimization;
    * ``"diameter"`` / ``"radius"``: one scalar's open set only (the
      reference's ``Diameter``/``Radius`` levels,
      `output_level.rs:66-243`); ``"diameter"`` never computes the
      radial set at all.
    """
    from webgraph_algo_rs_spark.operators.bfs import bfs_distances
    from webgraph_algo_rs_spark.operators.scc import (
        scc_condensation,
        strongly_connected_components,
    )

    spark = edges.sparkSession
    arcs = materialize(
        edges.select(SRC, DST).filter(F.col(SRC) != F.col(DST)).distinct()
    )
    transpose = arcs.select(F.col(DST).alias(SRC), F.col(SRC).alias(DST))
    comps = materialize(strongly_connected_components(edges))
    cond = materialize(scc_condensation(edges, comps))
    rad = None
    if output_level in ("radius_diameter", "radius"):
        # reuse the SCC frame materialized above — radial_vertices
        # recomputes the full SCC otherwise (~100 s of the cnr-2000
        # profile, round 5)
        rad = materialize(_radial_set(edges, radial, comps))
    state = materialize(
        comps.select(
            "vertex",
            "component",
            F.lit(0).cast("long").alias("low_f"),
            F.lit(_INF).cast("long").alias("high_f"),
            F.lit(0).cast("long").alias("low_b"),
            F.lit(_INF).cast("long").alias("high_b"),
        )
    )
    if state.isEmpty():
        if stats is not None:
            stats.update(rounds=0, output_level=output_level)
        return state, rad

    t_loop = time.time()
    n_vertices = state.count()
    rounds = 0
    # utility-driven step choice (the reference's points array,
    # `computer.rs:330-417`): each step type is credited with the number
    # of missing vertices its last run closed; the idle step drifts
    # upward so it is retried eventually. inf = "never tried".
    points = {"allcc": float("inf"), "sweep": float("inf")}
    prev_step: str | None = None
    prev_open = 0
    # AllCC pivot rotation (the reference re-runs find_best_pivot every
    # AllCCUpperBound and its score shifts as bounds close,
    # `computer.rs:424-479`): each used pivot is use-count-penalized so
    # the next round picks a FRESH pivot per SCC — every new pivot adds
    # an independent min() constraint on high_f/high_b, which is what
    # breaks the 112k-open plateau of a static pivot
    # (bench_logs/ess_cnr2000_profile_r3.log).
    pivot_hist: DataFrame | None = None
    for rounds in range(1, max_rounds + 1):
        if output_level == "all":
            open_v = state.filter(
                (F.col("low_f") < F.col("high_f"))
                | (F.col("low_b") < F.col("high_b"))
            )
            info = {}
        elif output_level == "all_forward":
            open_v = state.filter(F.col("low_f") < F.col("high_f"))
            info = {}
        else:
            open_v, info = _missing_radius_diameter(state, rad, output_level)
        n_open = open_v.count()
        if prev_step is not None:
            points[prev_step] = prev_open - n_open
            other = "sweep" if prev_step == "allcc" else "allcc"
            if points[other] != float("inf"):
                points[other] += 2.0 / rounds
        prev_open = n_open
        if n_open == 0:
            break
        endgame = n_open * n_vertices <= endgame_budget
        if endgame:
            step = "endgame"
        elif rounds == 1:
            step = "sweep"  # the reference's sum_sweep_heuristic opener
        else:
            step = "allcc" if points["allcc"] >= points["sweep"] else "sweep"
        detail = " ".join(f"{k} {v}" for k, v in info.items())
        _progress(
            f"ess round {rounds} open {n_open} next {step} {detail} "
            f"points {points} elapsed {time.time() - t_loop:.1f}s"
        )
        # Endgame: once the open set is small enough that flooding every
        # open vertex keeps the tagged-BFS state bounded (open·n rows),
        # sweep them all — each sweep pivot closes exactly, so this
        # finishes in one round. The reference pays microseconds per
        # native BFS and can afford one per step (computer.rs:340-414);
        # our per-superstep driver latency makes batching the tail the
        # right physical strategy for the same semantics.
        if endgame:
            state = _directed_sweep(
                arcs, transpose, state, open_v, comps, pivots_per_rule,
                all_open=True,
            )
            prev_step = None  # endgame rounds don't score the chooser
        elif step == "sweep":
            # adaptive batch: after the opening rounds, spend the same
            # state budget the endgame is allowed on sweep pivots —
            # per-round driver latency is the tail's dominant cost, so
            # larger batches close the open set in far fewer rounds
            k_eff = pivots_per_rule if rounds <= 2 else max(
                pivots_per_rule,
                min(64, endgame_budget // max(n_vertices, 1) // 6),
            )
            state = _directed_sweep(
                arcs, transpose, state, open_v, comps, k_eff,
                radial=rad,
            )
            prev_step = "sweep"
        else:
            state, used = _all_cc_upper_bound(
                spark, arcs, transpose, state, comps, cond, bfs_distances,
                dag_collect_limit=dag_collect_limit,
                pivot_hist=pivot_hist,
            )
            new_uses = used.select(
                F.col("pivot").alias("vertex"), F.lit(1).cast("long").alias("uses")
            )
            pivot_hist = materialize(
                (
                    pivot_hist.unionByName(new_uses)
                    if pivot_hist is not None
                    else new_uses
                )
                .groupBy("vertex")
                .agg(F.sum("uses").alias("uses"))
            )
            prev_step = "allcc"
        if not endgame:
            # epilogue after every round, not a competing chooser step
            # (tried as a step it scores ~0 early — nothing certified to
            # propagate yet — and the drift starves it for ~100 rounds
            # right at the plateau it exists to break): 4 supersteps
            # spread the round's fresh exact eccentricities up to 4 hops
            # into the open periphery at edge-table-join cost.
            state = _relax(
                state, [(arcs, "high_f"), (transpose, "high_b")], iters=4
            )
    if stats is not None:
        stats.update(rounds=rounds, output_level=output_level)
    return state, rad


def _missing_radius_diameter(
    state: DataFrame, rad: DataFrame | None, level: str = "radius_diameter"
) -> tuple[DataFrame, dict]:
    """Vertices that can still change radius or diameter
    (``find_missing_nodes`` at the scalar output levels,
    `computer.rs:943-1014`). ``level`` selects which scalar(s) must be
    certified — ``"radius_diameter"`` (both), ``"diameter"``
    (diameter-side open set only; the radial set is not even computed),
    ``"radius"`` (radial-side only) — mirroring the reference's
    ``Diameter``/``Radius`` levels (`output_level.rs:66-243`), which
    count only ``missing_d`` / ``missing_r`` respectively.

    The diameter can be certified from EITHER side — ``diameter =
    max ecc_f = max ecc_b`` — so the reference takes
    ``min(missing_df, missing_db)`` (`computer.rs:1008-1012`); we target
    whichever side's open set is smaller. ``D_L = max(max low_f,
    max low_b)`` subsumes the reference's incomplete-node filter: a
    closed vertex has ``low == ecc``, so ``D_L >= ecc`` and its
    ``high == ecc`` can never exceed ``D_L``. Three scalar aggs per
    round — negligible next to the round's BFS."""
    info: dict = {}
    parts = []
    if level in ("radius_diameter", "diameter"):
        row = state.agg(
            F.max("low_f").alias("dlf"), F.max("low_b").alias("dlb")
        ).first()
        d_l = max(row["dlf"] or 0, row["dlb"] or 0)
        cnt = state.agg(
            F.sum((F.col("high_f") > F.lit(d_l)).cast("long")).alias("nf"),
            F.sum((F.col("high_b") > F.lit(d_l)).cast("long")).alias("nb"),
        ).first()
        n_f, n_b = cnt["nf"] or 0, cnt["nb"] or 0
        diam_side = "high_b" if n_b < n_f else "high_f"
        parts.append(state.filter(F.col(diam_side) > F.lit(d_l)))
        info.update(d_l=d_l, diam_open_f=n_f, diam_open_b=n_b)
    if level in ("radius_diameter", "radius"):
        ru_row = (
            state.join(rad, "vertex", "left_semi")
            .agg(F.min("high_f").alias("ru"))
            .first()
        )
        r_u = ru_row["ru"] if ru_row["ru"] is not None else 0
        parts.append(
            state.join(rad, "vertex", "left_semi").filter(
                F.col("low_f") < F.lit(r_u)
            )
        )
        info["r_u"] = r_u
    if not parts:
        raise ValueError(
            f"unknown output_level {level!r}: expected one of "
            "'radius_diameter', 'diameter', 'radius'"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates(["vertex"]), info


def _directed_sweep(
    arcs, transpose, state, open_v, comps, k, all_open=False, radial=None
):
    """Batched forward+backward lower-bound sweeps; exact ecc for pivots.

    Top-k pivot picks are three ``orderBy().limit(k)`` queries —
    Spark plans TakeOrderedAndProject (parallel partial top-k merged on
    the driver), never a single-partition global sort. ``all_open``
    floods every open vertex (the bounded-state endgame)."""
    from webgraph_algo_rs_spark.operators.bfs import bfs_distances

    if all_open:
        pivots = materialize(open_v.select(F.col("vertex").alias("source")))
    else:
        # radius-candidate rule (reference utility chooser): the radial
        # open vertex with the smallest certified upper bound is the
        # best bet for attaining the radius — its exact closure drives
        # R_U down to ecc(v), and every radial vertex whose low_f
        # already exceeds the new R_U closes wholesale.
        radius_cands = (
            open_v.join(radial, "vertex", "left_semi")
            .orderBy(F.asc("high_f"), F.asc("vertex"))
            .limit(k)
            .select("vertex")
            if radial is not None
            else open_v.limit(0).select("vertex")
        )
        pivots = materialize(
            radius_cands
            .unionByName(
                open_v.orderBy(F.desc("high_f"), F.asc("vertex")).limit(k).select("vertex")
            )
            .unionByName(
                open_v.orderBy(F.asc("low_f"), F.asc("vertex")).limit(k).select("vertex")
            )
            .unionByName(
                open_v.orderBy(F.desc("high_b"), F.asc("vertex")).limit(k).select("vertex")
            )
            .unionByName(
                # diameter-raising rule (cnr-2000 plateau,
                # bench_logs/ess_cnr2000_profile_r3.log): vertices whose
                # *lower* forward bound is already largest are the
                # proven-long-ecc candidates — closing them exactly lifts
                # D_L toward the true diameter, which is what deflates
                # the RadiusDiameter missing set {high_f > D_L}. The
                # reference's utility chooser favors exactly these
                # (computer.rs sweep-choice rules).
                open_v.orderBy(F.desc("low_f"), F.asc("vertex")).limit(k).select("vertex")
            )
            .unionByName(
                # backward twin of the diameter-raising rule: D_L is
                # max(max low_f, max low_b) under dual-side
                # certification (computer.rs:1008-1012), so closing the
                # largest-low_b vertex lifts D_L from the transpose side
                open_v.orderBy(F.desc("low_b"), F.asc("vertex")).limit(k).select("vertex")
            )
            .distinct()
            .select(F.col("vertex").alias("source"))
        )
    fwd = bfs_distances(arcs, pivots)
    bwd = bfs_distances(transpose, pivots)
    ecc_f = fwd.groupBy("source").agg(F.max("distance").alias("pecc_f"))
    ecc_b = bwd.groupBy("source").agg(F.max("distance").alias("pecc_b"))
    # Per-pivot metadata is tiny (≤ a few hundred rows): component +
    # both exact eccentricities, broadcast onto the flood frames so
    # each direction needs exactly ONE grouped scan. Round 5 fused the
    # old six groupBy scans + five sequential state joins into two
    # grouped scans + one outer join — the sweep's p·n-row flood
    # frames (the directed-ESS profile's dominant cost,
    # bench_logs/ess_cnr2000_r4.log rounds 5-6) are now each read once.
    pcomp = comps.select(F.col("vertex").alias("source"), F.col("component").alias("pc"))
    piv_meta = F.broadcast(
        materialize(
            pcomp.join(F.broadcast(pivots.select("source")), "source", "left_semi")
            .join(ecc_f, "source", "left")
            .join(ecc_b, "source", "left")
        )
    )
    vcomp = comps.select("vertex", "component")
    same = F.col("pc") == F.col("component")
    # Directed sweeps raise opposite-side lower bounds everywhere:
    # ecc_f(w) ≥ d(w, p) (w reaches p), ecc_b(w) ≥ d(p, w). The triangle
    # rules ecc_f(w) ≥ ecc_f(p) − d(p, w) / ecc_b(w) ≥ ecc_b(p) − d(w, p)
    # additionally need w and p in one SCC, and the same-SCC triangle
    # UPPER bounds (the reference's strongly-connected sweep updates,
    # computer.rs:566-713) — ecc_f(w) ≤ d(w,p) + ecc_f(p),
    # ecc_b(w) ≤ ecc_b(p) + d(p,w) — are what certify a giant SCC from
    # a handful of pivots instead of |SCC| exact closures (the cnr-2000
    # 112k plateau, bench_logs/ess_cnr2000_profile_r3.log).
    fwd_agg = (
        fwd.join(piv_meta, "source")
        .join(vcomp, "vertex")
        .groupBy("vertex")
        .agg(
            F.max("distance").alias("lb1"),
            F.max(F.when(same, F.col("pecc_f") - F.col("distance"))).alias("lf2"),
            F.min(F.when(same, F.col("distance") + F.col("pecc_b"))).alias("hb2"),
        )
    )
    bwd_agg = (
        bwd.join(piv_meta, "source")
        .join(vcomp, "vertex")
        .groupBy("vertex")
        .agg(
            F.max("distance").alias("lf1"),
            F.max(F.when(same, F.col("pecc_b") - F.col("distance"))).alias("lb2"),
            F.min(F.when(same, F.col("distance") + F.col("pecc_f"))).alias("hf2"),
        )
    )
    upd = fwd_agg.join(bwd_agg, "vertex", "outer").select(
        "vertex",
        F.greatest(
            F.coalesce("lf1", F.lit(0)), F.coalesce("lf2", F.lit(0))
        ).alias("lf"),
        F.greatest(
            F.coalesce("lb1", F.lit(0)), F.coalesce("lb2", F.lit(0))
        ).alias("lb"),
        F.col("hf2"),
        F.col("hb2"),
    )
    # pivots close exactly: their flood's max distance IS their
    # eccentricity, so both bounds collapse onto it
    exact = F.broadcast(
        ecc_f.join(ecc_b, "source")
        .select(F.col("source").alias("vertex"), "pecc_f", "pecc_b")
    )
    return materialize(
        state.join(upd, "vertex", "left")
        .join(exact, "vertex", "left")
        .select(
            "vertex",
            "component",
            F.greatest(
                "low_f", F.coalesce("lf", F.lit(0)), F.coalesce("pecc_f", F.lit(0))
            ).alias("low_f"),
            F.least(
                "high_f",
                F.coalesce("pecc_f", F.lit(_INF)),
                F.coalesce("hf2", F.lit(_INF)),
            ).alias("high_f"),
            F.greatest(
                "low_b", F.coalesce("lb", F.lit(0)), F.coalesce("pecc_b", F.lit(0))
            ).alias("low_b"),
            F.least(
                "high_b",
                F.coalesce("pecc_b", F.lit(_INF)),
                F.coalesce("hb2", F.lit(_INF)),
            ).alias("high_b"),
        )
    )


def _all_cc_upper_bound(
    spark,
    arcs,
    transpose,
    state,
    comps,
    cond,
    bfs_distances,
    dag_collect_limit: int = 5_000_000,
    pivot_hist: DataFrame | None = None,
):
    """The reference's AllCCUpperBound step (`computer.rs:818-936`).
    Returns ``(new_state, pivots)`` so the caller can rotate pivots
    across rounds.

    The pivot-eccentricity DP over the SCC condensation runs on the
    driver while the DAG fits ``dag_collect_limit`` rows (the reference
    runs it serially too, `computer.rs:838-877`, and the condensation is
    usually orders of magnitude smaller than the graph — cnr-2000's
    3.2M arcs condense to ~113K). Beyond the limit (uk-2005-class DAGs
    with tens of millions of bridge arcs would need O(|DAG|) driver
    memory) the same DP runs distributed, layer by Kahn layer, in
    :func:`_dag_dp_spark` — no driver-side collection at any size."""
    # find_best_pivot (`computer.rs:424-479`): per SCC, minimize
    # low_f + low_b + n·closed_f + n·closed_b (prefer open vertices),
    # tie-break min vertex id. Previously-used pivots carry a 2n-per-use
    # penalty (rotation — the reference's score shifts organically as
    # bounds close; with batched rounds the explicit penalty guarantees
    # each AllCC round contributes a FRESH min() constraint per SCC).
    n = state.count()
    scored = state
    if pivot_hist is not None:
        scored = state.join(pivot_hist, "vertex", "left").withColumn(
            "uses", F.coalesce("uses", F.lit(0))
        )
    else:
        scored = state.withColumn("uses", F.lit(0).cast("long"))
    score = (
        F.col("low_f")
        + F.col("low_b")
        + F.when(F.col("low_f") >= F.col("high_f"), F.lit(n)).otherwise(0)
        + F.when(F.col("low_b") >= F.col("high_b"), F.lit(n)).otherwise(0)
        + F.col("uses") * F.lit(2 * n)
    )
    pivots = materialize(
        scored.groupBy("component").agg(
            F.min_by("vertex", F.struct(score.alias("s"), F.col("vertex"))).alias(
                "pivot"
            )
        )
    )
    seeds = pivots.select(F.col("pivot").alias("source"))
    members = pivots.join(
        comps.select("vertex", "component"), "component"
    ).select(F.col("pivot").alias("source"), "vertex")
    pf = materialize(bfs_distances(arcs, seeds, vertex_filter=members))
    pb = materialize(bfs_distances(transpose, seeds, vertex_filter=members))
    p2c = pivots.select(F.col("pivot").alias("source"), "component")
    # per-component DP inputs: pivot eccentricity inside its SCC and the
    # pivot's current upper bounds (the DP's clamp)
    nodes = materialize(
        pf.join(p2c, "source")
        .groupBy("component")
        .agg(F.max("distance").alias("ecc0_f"))
        .join(
            pb.join(p2c, "source")
            .groupBy("component")
            .agg(F.max("distance").alias("ecc0_b")),
            "component",
        )
        .join(
            pivots.join(
                state.select(F.col("vertex").alias("pivot"), "high_f", "high_b"),
                "pivot",
            ).select("component", "high_f", "high_b"),
            "component",
        )
    )
    # DAG edges with bridge-arc weights d_F(pivot_c, s) + 1 + d_B(e, pivot_d)
    dag_plan = (
        cond.join(
            pf.select(F.col("vertex").alias("bridge_src"), F.col("distance").alias("df")),
            "bridge_src",
        )
        .join(
            pb.select(F.col("vertex").alias("bridge_dst"), F.col("distance").alias("db")),
            "bridge_dst",
        )
        .select("c_src", "c_dst", (F.col("df") + 1 + F.col("db")).alias("w"))
    )
    dag_df = materialize(dag_plan)
    n_dag = dag_df.count()
    if n_dag > dag_collect_limit or nodes.count() > dag_collect_limit:
        ub_df = _dag_dp_spark(nodes, dag_df)
    else:
        ub_df = _dag_dp_driver(spark, nodes, dag_df)
    # refine: high_f(v) ≤ d_B(v→pivot) + ub_f;  high_b(v) ≤ d_F(pivot→v) + ub_b
    db = pb.select("vertex", F.col("distance").alias("dbv"))
    df_ = pf.select("vertex", F.col("distance").alias("dfv"))
    new_state = materialize(
        state.join(ub_df, "component", "left")
        .join(db, "vertex", "left")
        .join(df_, "vertex", "left")
        .select(
            "vertex",
            "component",
            "low_f",
            F.least(
                "high_f", F.coalesce(F.col("dbv") + F.col("ub_f"), F.lit(_INF))
            ).alias("high_f"),
            "low_b",
            F.least(
                "high_b", F.coalesce(F.col("dfv") + F.col("ub_b"), F.lit(_INF))
            ).alias("high_b"),
        )
    )
    return new_state, pivots


def _dag_dp_driver(spark, nodes: DataFrame, dag_df: DataFrame) -> DataFrame:
    """Serial pivot-eccentricity DP (`computer.rs:838-877`) — collects
    the condensation; callers gate on its size. Returns a broadcast
    ``(component, ub_f, ub_b)`` frame."""
    node_rows = nodes.collect()
    ecc0_f = {r["component"]: r["ecc0_f"] for r in node_rows}
    ecc0_b = {r["component"]: r["ecc0_b"] for r in node_rows}
    pivot_high = {r["component"]: (r["high_f"], r["high_b"]) for r in node_rows}
    dag = dag_df.collect()
    out_edges: dict[int, list[tuple[int, int]]] = {}
    in_edges: dict[int, list[tuple[int, int]]] = {}
    outdeg: dict[int, int] = {c: 0 for c in ecc0_f}
    for r in dag:
        c, d, w = r["c_src"], r["c_dst"], r["w"]
        out_edges.setdefault(c, []).append((d, w))
        in_edges.setdefault(d, []).append((c, w))
        outdeg[c] = outdeg.get(c, 0) + 1
    # sink-first order (reverse topological)
    from collections import deque

    q = deque(c for c, dcount in outdeg.items() if dcount == 0)
    sink_first: list[int] = []
    seen_deg = dict(outdeg)
    while q:
        c = q.popleft()
        sink_first.append(c)
        for b, _w in in_edges.get(c, []):
            seen_deg[b] -= 1
            if seen_deg[b] == 0:
                q.append(b)
    ub_f: dict[int, int] = {}
    for c in sink_first:  # children final before parent (forward DP)
        v = ecc0_f[c]
        for d, w in out_edges.get(c, []):
            v = max(v, w + ub_f[d])
        ub_f[c] = min(v, pivot_high[c][0])
    ub_b: dict[int, int] = {}
    for c in reversed(sink_first):  # parents final before child (backward DP)
        v = ecc0_b[c]
        for b, w in in_edges.get(c, []):
            v = max(v, w + ub_b[b])
        ub_b[c] = min(v, pivot_high[c][1])
    return F.broadcast(
        spark.createDataFrame(
            [(int(c), int(ub_f[c]), int(ub_b[c])) for c in ub_f],
            "component long, ub_f long, ub_b long",
        )
    )


def _dag_dp_spark(nodes: DataFrame, dag_df: DataFrame) -> DataFrame:
    """Distributed twin of :func:`_dag_dp_driver` for condensations too
    big to collect: Kahn out-degree peel assigns every component a
    sink-first layer, then each DP direction processes one layer per
    Spark job (a layer-k node's out-edges all land in layers < k, so the
    children's values are final when the parent folds them). Cost is
    O(DAG depth) jobs — the price of never holding the DAG on the
    driver. Returns ``(component, ub_f, ub_b)``."""
    from webgraph_algo_rs_spark.plans.superstep import UnionAccumulator

    def kahn_layers(src: str, dst: str) -> list[DataFrame]:
        """Longest-path-to-``dst``-sink layering via out-degree
        countdown: a node finalizes at layer ``1 + max(child layers)``
        once every ``src→dst`` edge's child is final. Identical layers
        to an anti-join peel, but per round only the shrinking counts
        frame and the (small) newly-final frontier materialize — the
        full edge frame is never rewritten (it is scanned, filtered to
        the frontier, once per round)."""
        deg = dag_df.groupBy(src).agg(F.count("*").alias("cnt"))
        counts = materialize(
            nodes.select("component")
            .join(
                deg.select(F.col(src).alias("component"), "cnt"),
                "component",
                "left",
            )
            .select(
                "component",
                F.coalesce("cnt", F.lit(0)).alias("cnt"),
                F.lit(0).cast("long").alias("maxl"),
            )
        )
        out: list[DataFrame] = []
        while True:
            newly = materialize(
                counts.filter("cnt = 0").select(
                    "component", F.col("maxl").alias("layer")
                )
            )
            if newly.isEmpty():
                break
            out.append(newly.select("component"))
            dec = (
                dag_df.join(
                    newly.select(F.col("component").alias(dst), "layer"), dst
                )
                .groupBy(src)
                .agg(
                    F.count("*").alias("dec"),
                    F.max(F.col("layer") + 1).alias("cand"),
                )
                .select(F.col(src).alias("component"), "dec", "cand")
            )
            counts = materialize(
                counts.filter("cnt > 0")
                .join(dec, "component", "left")
                .select(
                    "component",
                    (F.col("cnt") - F.coalesce("dec", F.lit(0))).alias("cnt"),
                    F.greatest(
                        "maxl", F.coalesce("cand", F.lit(0))
                    ).alias("maxl"),
                )
            )
        return out

    layers = kahn_layers("c_src", "c_dst")

    def direction(
        dp_layers: list[DataFrame], ecc0_col: str, high_col: str, src: str, dst: str
    ) -> DataFrame:
        """Fold one DP direction layer-by-layer; edges read ``src→dst``
        with the ``dst`` side final before the ``src`` side folds."""
        acc = UnionAccumulator()
        done: DataFrame | None = None
        for layer in dp_layers:
            base = layer.join(nodes, "component")
            if done is None:
                cand = None
            else:
                cand = (
                    dag_df.join(
                        layer.select(F.col("component").alias(src)), src
                    )
                    .join(
                        done.select(
                            F.col("component").alias(dst), F.col("ub").alias("ub_d")
                        ),
                        dst,
                    )
                    .groupBy(src)
                    .agg(F.max(F.col("w") + F.col("ub_d")).alias("cand"))
                    .select(F.col(src).alias("component"), "cand")
                )
            stepped = base.join(cand, "component", "left") if cand is not None else (
                base.withColumn("cand", F.lit(None).cast("long"))
            )
            # materialize per layer: each layer's plan references the
            # whole accumulated union, so lazy nesting would grow the
            # plan multiplicatively within a fold window
            ub = materialize(
                stepped.select(
                    "component",
                    F.least(
                        F.col(high_col),
                        F.greatest(F.col(ecc0_col), F.coalesce("cand", F.lit(0))),
                    ).alias("ub"),
                )
            )
            acc.add(ub)
            done = acc.result()
        out = acc.result()
        return out if out is not None else nodes.select(
            "component", F.lit(0).cast("long").alias("ub")
        ).limit(0)

    # forward DP: sink-first (layer order), edges c_src→c_dst
    fwd = direction(layers, "ecc0_f", "high_f", "c_src", "c_dst")
    # backward DP: source-first — the same countdown layering with the
    # edge roles reversed (in-degree peel on the original = out-degree
    # peel on the transpose)
    bwd = direction(kahn_layers("c_dst", "c_src"), "ecc0_b", "high_b", "c_dst", "c_src")
    return materialize(
        fwd.withColumnRenamed("ub", "ub_f").join(
            bwd.withColumnRenamed("ub", "ub_b"), "component"
        )
    )


def _ess_row(
    state: DataFrame,
    high: str | None = None,
    lows: tuple[str, ...] = (),
    radial: DataFrame | None = None,
) -> DataFrame:
    """Lazy one-row radius/diameter frame over a final ESS ``state`` —
    the result path of every scalar entry point, at every output level.

    ``high`` names the radius's upper-bound column: ``radius = min(high)``
    (over ``radial`` when given) with witness ``min_by(vertex, (high,
    vertex))``; once no lower bound in the set undercuts it, the argmin
    vertex attains it. ``lows`` names the diameter's lower-bound
    column(s): ``diameter = max(low)`` with witness ``max_by(vertex,
    (low, -vertex))``. With ``("low_f", "low_b")`` the diameter is
    certified from either side (``diameter = max ecc_f = max ecc_b``,
    `computer.rs:1008-1012`) and the witness attains it in the forward
    sense if ``low_f`` won, the backward sense otherwise (the
    reference's diameter_vertex is likewise the attaining sweep's start
    on either side, `computer.rs:641-644,703-706`); ties go forward. At
    ``output_level="all"`` every bound is closed at the eccentricity, so
    these are the min-id witnesses among all attaining vertices.

    Columns: ``radius``, ``diameter``, ``radius_vertex``,
    ``diameter_vertex`` (those requested, in that order). An empty
    graph gives the sentinel row — ``0`` values, ``-1`` witnesses."""
    parts = []
    if high is not None:
        rows = state if radial is None else state.join(radial, "vertex", "left_semi")
        parts.append(
            rows.agg(
                F.coalesce(F.min(high), F.lit(0)).alias("radius"),
                F.coalesce(
                    F.min_by("vertex", F.struct(F.col(high), F.col("vertex"))),
                    F.lit(-1),
                ).alias("radius_vertex"),
            )
        )
    if lows:
        dia = [F.max(low) for low in lows]
        wit = [
            F.max_by("vertex", F.struct(F.col(low), (-F.col("vertex")).alias("t")))
            for low in lows
        ]
        diameter, witness = dia[0], wit[0]
        if len(lows) == 2:
            diameter = F.greatest(*dia)
            witness = F.when(dia[0] >= dia[1], wit[0]).otherwise(wit[1])
        parts.append(
            state.agg(
                F.coalesce(diameter, F.lit(0)).alias("diameter"),
                F.coalesce(witness, F.lit(-1)).alias("diameter_vertex"),
            )
        )
    out = parts[0] if len(parts) == 1 else parts[0].crossJoin(parts[1])
    order = ("radius", "diameter", "radius_vertex", "diameter_vertex")
    return out.select(*(c for c in order if c in out.columns))


def radius_diameter_directed(
    edges: DataFrame,
    radial: DataFrame | None = None,
    stats: dict | None = None,
    output_level: str = "radius_diameter",
    max_rounds: int = 10_000,
    pivots_per_rule: int = 4,
    endgame_budget: int = 50_000_000,
) -> DataFrame:
    """One-row ``(radius, diameter, radius_vertex, diameter_vertex)``
    for the *directed* graph (reference
    ``RadiusDiameter::compute_directed``, `output_level.rs:247-287`):
    ``diameter = max ecc_f`` over all vertices; ``radius = min ecc_f``
    over the **radial** set (default: vertices that reach the largest
    SCC, `computer.rs:488-534` — pass ``radial`` (vertex[, is_radial])
    to override, the reference's ``Some(radial_vertices)`` argument).

    ``output_level="radius_diameter"`` (default, the reference's actual
    RadiusDiameter level) stops as soon as both scalars are *bound*-
    certified — no vertex's ``high_f`` exceeds the certified diameter
    and no radial vertex's ``low_f`` undercuts the certified radius —
    without closing every vertex. The returned witnesses are vertices
    that provably attain the value (their bounds are closed at it), but
    when several vertices attain it the choice follows the bound
    evidence, not a global min-id rule. ``output_level="all"`` closes
    every vertex first and returns the min-id witness among all
    attaining vertices — deterministic, at All's full cost; its radial
    set is computed after the loop from the loop's own SCC frame, so
    the sweeps' pivot choice is that of :func:`directed_eccentricities`.
    """
    level = "radius_diameter" if output_level == "radius_diameter" else "all"
    state, rad = _directed_ess_state(
        edges,
        output_level=level,
        radial=radial,
        max_rounds=max_rounds,
        pivots_per_rule=pivots_per_rule,
        stats=stats,
        endgame_budget=endgame_budget,
    )
    if rad is None:
        rad = _radial_set(edges, radial, state.select("vertex", "component"))
    return _ess_row(state, "high_f", ("low_f", "low_b"), rad)


def radius_diameter(
    edges: DataFrame,
    stats: dict | None = None,
    output_level: str = "all",
    **kwargs,
) -> DataFrame:
    """One-row ``(radius, diameter, radius_vertex, diameter_vertex)``
    for the undirected graph.

    ``output_level="all"`` (default) closes every vertex first and
    breaks witness ties by min vertex id — deterministic, at All's full
    cost. ``"radius_diameter"`` is the reference's actual RadiusDiameter
    level (`output_level.rs:290-451`): it stops as soon as both scalars
    are bound-certified (diameter = max low once no high exceeds it;
    radius = min high once no low undercuts it); witnesses provably
    attain the values but tie choice follows the bound evidence.
    """
    level = "radius_diameter" if output_level == "radius_diameter" else "all"
    state = _undirected_ess_state(edges, output_level=level, stats=stats, **kwargs)
    return _ess_row(state, "high", ("low",))


def forward_eccentricities(
    edges: DataFrame, stats: dict | None = None, **kwargs
) -> DataFrame:
    """Exact *forward* eccentricities ``(vertex, component, ecc_f)`` —
    the reference's ``AllForward`` level
    (`/root/reference/src/algo/exact_sum_sweep/output_level.rs:24-38`):
    only forward bounds must close, so the backward half of the closing
    tail is skipped entirely. Backward floods still *run* while useful —
    they are what raises ``low_f`` — but no round is spent certifying
    ``ecc_b``."""
    state, _ = _directed_ess_state(
        edges, output_level="all_forward", stats=stats, **kwargs
    )
    return state.select(
        "vertex", "component", F.col("low_f").alias("ecc_f")
    )


def diameter_directed(
    edges: DataFrame, stats: dict | None = None, **kwargs
) -> DataFrame:
    """One-row ``(diameter, diameter_vertex)`` for the directed graph —
    the reference's ``Diameter::compute_directed``
    (`output_level.rs:66-150`). Stops as soon as no upper bound on
    either side exceeds ``D_L = max(max low_f, max low_b)`` (diameter =
    max ecc_f = max ecc_b); the radial set is never computed. The
    witness provably attains the value."""
    state, _ = _directed_ess_state(
        edges, output_level="diameter", stats=stats, **kwargs
    )
    return _ess_row(state, lows=("low_f", "low_b"))


def radius_directed(
    edges: DataFrame,
    radial: DataFrame | None = None,
    stats: dict | None = None,
    **kwargs,
) -> DataFrame:
    """One-row ``(radius, radius_vertex)`` for the directed graph — the
    reference's ``Radius::compute_directed`` (`output_level.rs:152-243`):
    radius = min ``ecc_f`` over the radial set (vertices reaching the
    largest SCC by default; pass ``radial`` to override). Stops as soon
    as no radial lower bound undercuts ``R_U = min high_f`` — the
    diameter side is never targeted."""
    state, rad = _directed_ess_state(
        edges, output_level="radius", radial=radial, stats=stats, **kwargs
    )
    return _ess_row(state, "high_f", radial=rad)


def diameter_undirected(
    edges: DataFrame, stats: dict | None = None, **kwargs
) -> DataFrame:
    """One-row ``(diameter, diameter_vertex)`` for the undirected graph
    (reference ``Diameter::compute_undirected``,
    `output_level.rs:290-360`): stops when no upper bound exceeds
    ``D_L = max(low)``."""
    state = _undirected_ess_state(
        edges, output_level="diameter", stats=stats, **kwargs
    )
    return _ess_row(state, lows=("low",))


def radius_undirected(
    edges: DataFrame, stats: dict | None = None, **kwargs
) -> DataFrame:
    """One-row ``(radius, radius_vertex)`` for the undirected graph
    (reference ``Radius::compute_undirected``,
    `output_level.rs:362-451`): stops when no lower bound undercuts
    ``R_U = min(high)``.

    DECLARED DIVERGENCE (also in the module docstring): the min is over
    ALL vertices, while the reference restricts the radius to radial
    vertices of the biggest component (`computer.rs:488-534`). On a
    connected graph — every gate/test graph here — the two agree; on a
    disconnected one this returns the smaller all-vertices value. The
    ``radius_events`` DuckDB oracle encodes these same semantics."""
    state = _undirected_ess_state(
        edges, output_level="radius", stats=stats, **kwargs
    )
    return _ess_row(state, "high")
