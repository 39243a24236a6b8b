"""One fixpoint driver for the iterative vertex-state operators
(PageRank, connected components, label propagation).

North rule: the iterative operators run as checkpointed, resumable
supersteps over one edge table. Each operator subclasses
:class:`Fixpoint` and supplies only its edge prep, initial state, step
plan, stop aggregates/test and local-CSR kernel; this module owns the rest.

**Size dispatch** (:func:`dispatch`) picks one physical tier per call,
recorded as ``stats["tier"]``:

* ``empty`` — the edge table has no rows; nothing runs.
* ``local-csr`` — at most ``wga.localKernelMaxEdges`` edges and no other
  strategy requested: the whole loop runs inside one Arrow-batched task
  (``plans/local_csr.py``). ``local_mode=True`` forces it.
* ``blocked`` — supersteps as DataFrame joins, ``k`` chained per Spark
  action (below).
* ``persist-chain`` — above ``wga.bucketizeMinEdges`` edges (or with
  ``bucketize_edges``): the edge side is pinned on ``src`` once
  (``pin_edges``) and states rotate through a :class:`PersistChain`, so
  exactly two state copies are ever live. The blocked tier's
  ``localCheckpoint`` copies wait for the ContextCleaner's GC, a race it
  loses at 10⁸ edges (measured OOM at 157M edges / 28g heap). Only
  ``local_mode=True`` keeps a graph of that size off this tier.

One capped ``probe_edge_count`` decides: it never scans more than
``max(wga.localKernelMaxEdges, wga.bucketizeMinEdges) + 1`` rows (one row
when ``bucketize_edges`` already fixes the tier).

**Superstep blocking.** The state frame carries each carried column
suffixed by step: ``rank0`` is the state entering the block, and the
operator's step plan appends ``rank{j}`` from ``rank{j-1}``. ``k`` steps
are chained into one lazy plan, cut between steps with
``localCheckpoint(eager=False)`` (a step references its predecessor two
or three times — gather, apply, PageRank's dangling-mass aggregate — so
an un-cut chain grows exponentially), and one aggregate evaluates every
chained step's stop metrics. The stop rule then *selects* the first step
that met it, so values and stop iteration are bit-identical to a
per-step loop with k× fewer global barriers. ``k=1`` is the per-step
loop, which checkpointed runs (a durable snapshot per superstep) and the
persist-chain tier use.

**Checkpoints.** With a :class:`~webgraph_algo_rs_spark.checkpoint.CheckpointManager`
every superstep commits the operator's state columns plus its metrics
and history. A new call with the same manager resumes from the last
commit and replays the stop rule first: a snapshot that already met it,
or reached ``max_iter``, is returned as is, with no superstep run and no
new snapshot written.

**Stats.** Every call writes ``tier``, ``iterations`` (supersteps run by
this call), ``wall_sec`` (the superstep loop, or the local kernel) and
the operator's stop metric; each superstep's history entry is
``{"algo", "iteration", <metrics>, "wall_ms"}``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.plans.local_csr import (
    bucketize_min_edges,
    local_kernel_threshold,
    probe_edge_count,
    run_local_kernel,
)
from webgraph_algo_rs_spark.plans.superstep import (
    SRC,
    PersistChain,
    materialize,
    pin_edges,
)


def dispatch(
    edges: DataFrame,
    checkpoint: CheckpointManager | None,
    bucketize_edges: bool,
    block_size: int | None,
    local_mode: bool | None,
) -> tuple[str, int]:
    """``(tier, probed edge count)`` for one call (module docstring); the
    count is exact on the ``blocked`` tier. ``local_mode``: ``True``
    forces the local kernel, ``False`` forbids it, ``None`` picks it by
    size when no checkpoint or ``block_size`` was requested."""
    if local_mode and (checkpoint is not None or bucketize_edges):
        # an explicit force must not be silently overridden: the local
        # kernel runs the whole loop inside one task, so per-superstep
        # durable checkpoints / pinned edge buckets cannot apply to it
        raise ValueError(
            "local_mode=True cannot be combined with "
            + ("checkpoint" if checkpoint is not None else "bucketize_edges")
        )
    spark = edges.sparkSession
    thr, big_thr = local_kernel_threshold(spark), bucketize_min_edges(spark)
    n_edges = probe_edge_count(edges, 0 if bucketize_edges else max(thr, big_thr))
    if n_edges == 0:
        return "empty", 0
    if local_mode:
        return "local-csr", n_edges
    if bucketize_edges or n_edges > big_thr:
        return "persist-chain", n_edges
    auto = local_mode is None and checkpoint is None and block_size is None
    if auto and n_edges <= thr:
        return "local-csr", n_edges
    return "blocked", n_edges


class Fixpoint:
    """A vertex-state fixpoint; :meth:`run` is the driver.

    Subclasses set the class attributes and implement:

    * ``prepare(edges, n_edges)`` → the lazy initial state (``keys`` +
      ``carried`` columns); sets up the step's edge side with :meth:`pin`;
    * ``step(cur, j, prev)`` → ``cur`` plus the step-``j`` columns
      (each ``carried`` column suffixed ``j``) computed from the
      step-``j-1`` ones. ``prev`` is step ``j-1``'s metrics when an
      earlier action computed them (first step of a later block or of a
      resumed run), else ``None``;
    * ``aggregates(j)`` → ``{metric: aggregate Column}`` over step ``j``;
    * ``converged(metrics)`` → the stop test on one step's metrics;
    * ``kernel(max_iter)`` → the local-CSR kernel.
    """

    algo = ""  # history / snapshot tag
    schema = ""  # result schema, "vertex bigint, <output> <type>"
    output = ""  # result value column
    keys: tuple[str, ...] = ("vertex",)  # state columns no step changes
    carried: tuple[str, ...] = ()  # state columns each step rewrites
    metric = ""  # stop metric recorded in stats
    metric_type = "bigint"
    unset: float = -1  # the stop metric before any superstep ran
    with_weight = True  # the local kernel reads the weight column

    def __init__(self, edge_store: str = "auto"):
        self.edge_store = edge_store
        self.tier = ""
        self.n_buckets = 0
        self._release = None

    def pin(self, plan: DataFrame, probe_df: DataFrame) -> DataFrame:
        """The step's constant edge side: pinned on ``src`` on the
        persist-chain tier (``pin_edges``; ``probe_df`` is the raw scan
        its store probe counts), materialized otherwise."""
        if self.tier != "persist-chain":
            return materialize(plan)
        pinned, self._release = pin_edges(
            plan,
            SRC,
            n_buckets=self.n_buckets,
            table_name=f"wga_{self.algo}_edges",
            store=self.edge_store,
            probe_df=probe_df,
        )
        return pinned

    def run(
        self,
        edges: DataFrame,
        max_iter: int,
        checkpoint: CheckpointManager | None = None,
        stats: dict | None = None,
        bucketize_edges: bool = False,
        block_size: int | None = None,
        local_mode: bool | None = None,
    ) -> DataFrame:
        """``(vertex, output)`` at the fixpoint or after ``max_iter``
        supersteps (module docstring)."""
        spark = edges.sparkSession
        self.tier, n_edges = dispatch(
            edges, checkpoint, bucketize_edges, block_size, local_mode
        )
        t0 = time.time()
        if self.tier == "empty":
            self._record(stats, 0, 0, 0.0)
            return spark.createDataFrame([], self.schema)
        if self.tier == "local-csr":
            out = run_local_kernel(
                edges,
                f"{self.schema}, iterations int, {self.metric} {self.metric_type}",
                self.kernel(max_iter),
                with_weight=self.with_weight,
            )
            if stats is not None:
                head = out.select("iterations", self.metric).first()
                self._record(stats, head[0], head[1], time.time() - t0)
            return out.select("vertex", self.output)

        self.n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        initial = self.prepare(edges, n_edges)
        start, history, last = 0, [], None
        resumed = checkpoint.latest(spark) if checkpoint is not None else None
        if resumed is None:
            state = materialize(initial)
        else:
            snap_df, snap = resumed
            state = materialize(snap_df.select(*self.keys, *self.carried))
            start, history, last = snap.iteration + 1, list(snap.history), snap.metrics
        chain = None
        if self.tier == "persist-chain":
            chain = PersistChain("vertex", self.n_buckets)
            state = chain.seed(state)
        k = block_size or 4
        if checkpoint is not None or chain is not None:
            k = 1  # a durable snapshot / a persisted handle per superstep
        cur = self._select(state, "", 0)
        t_loop = time.time()
        it = start
        while it < max_iter and not (last is not None and self.converged(last)):
            steps = min(k, max_iter - it)
            t_block = time.time()
            for j in range(1, steps + 1):
                cur = self.step(cur, j, last if j == 1 else None)
                if j < steps:
                    # lazy lineage cut: the plan becomes an RDD scan now,
                    # computed only inside the block's single action
                    cur = cur.localCheckpoint(eager=False)
            if chain is None:
                cur = materialize(cur)
            else:
                cur = chain.stage(cur, it - start)
            aggs = [self.aggregates(j) for j in range(1, steps + 1)]
            named = [
                x.alias(f"{m}{j}") for j, a in enumerate(aggs, 1) for m, x in a.items()
            ]
            row = cur.agg(*named).first()
            if chain is not None:
                chain.advance(cur)
            wall_ms = max(int((time.time() - t_block) * 1000), 0) // steps
            for j in range(1, steps + 1):
                last = {"algo": self.algo, "iteration": it}
                last.update({m: row[f"{m}{j}"] for m in aggs[j - 1]})
                last["wall_ms"] = wall_ms
                history.append(last)
                it += 1
                if self.converged(last):
                    break
            cur = self._select(cur, j, 0)
            if checkpoint is not None and checkpoint.should_save(it - 1):
                checkpoint.save(self._select(cur, 0, ""), it - 1, last, history)

        result = cur.select("vertex", F.col(f"{self.carried[0]}0").alias(self.output))
        if chain is not None:
            # pins the result off the chain and off the pinned edge
            # table, which a later run may overwrite
            result = chain.finish(result)
        if self._release is not None:
            self._release()
        self._record(
            stats,
            it - start,
            last[self.metric] if last is not None else self.unset,
            time.time() - t_loop,
        )
        return result

    def _select(self, cur: DataFrame, src, dst) -> DataFrame:
        """``keys`` plus the carried columns suffixed ``src``, renamed to
        suffix ``dst`` (``""``: the bare state column names)."""
        return cur.select(
            *self.keys,
            *[F.col(f"{c}{src}").alias(f"{c}{dst}") for c in self.carried],
        )

    def _record(self, stats, iterations, stop_value, wall_sec) -> None:
        if stats is not None:
            stats.update(
                tier=self.tier,
                iterations=int(iterations),
                wall_sec=wall_sec,
                **{self.metric: stop_value},
            )
