"""One fixpoint driver for the iterative vertex-state operators
(PageRank, connected components, label propagation, HyperBall).

North rule: the iterative operators run as checkpointed, resumable
supersteps over one edge table. Each operator subclasses
:class:`Fixpoint` and supplies only its edge prep, initial state, step
plan, stop aggregates/test and local-CSR kernel; this module owns the rest.

**Size dispatch** (:meth:`Fixpoint.dispatch`) picks one physical tier per call,
recorded as ``stats["tier"]``. The ``empty`` / ``local-csr`` choice is
``plans/local_csr.local_dispatch``, shared with every operator that has
a local kernel; this module adds the two superstep tiers:

* ``empty`` — the edge table has no rows; nothing runs.
* ``local-csr`` — at most ``min(local edge cap,
  wga.bucketizeMinEdges)`` edges and no checkpoint requested: the whole
  loop runs inside one Arrow-batched task. ``local_mode=True`` forces
  it. The local edge cap is ``wga.localKernelMaxEdges``; an operator
  whose superstep moves more than one row's worth of bytes per edge
  scales it down (:meth:`Fixpoint.local_cap`).
* ``blocked`` — supersteps as DataFrame joins, each staged by
  ``materialize`` (an eager ``localCheckpoint``).
* ``persist-chain`` — above ``wga.bucketizeMinEdges`` edges: the edge
  side is hash-partitioned on ``src`` and persisted once
  (:meth:`Fixpoint.pin`) and states rotate through a
  :class:`PersistChain`, so exactly two state copies are ever live. The
  blocked tier's ``localCheckpoint`` copies wait for the
  ContextCleaner's GC, a race it loses at 10⁸ edges (measured OOM at
  157M edges / 28g heap). Only ``local_mode=True`` keeps a graph of that
  size off this tier.

The edge count alone picks the tier: one capped ``probe_edge_count``
decides all four and never scans more than ``wga.bucketizeMinEdges + 1``
rows (one row when ``local_mode=True``). The pinned edges, the chain's
last state handle and the stats-firewall spill are released when the
run ends, also when a superstep raises.

**Supersteps.** Both superstep tiers run one superstep per Spark action:
the state frame holds the key columns and each carried column suffixed
``0``; the operator's step plan appends the same columns suffixed ``1``,
the tier stages the frame, and one aggregate ``first()`` reads the
step's stop metrics. The ``1`` columns then become the next step's
``0`` columns. Steps are not chained behind lazy ``localCheckpoint``
cuts: under AQE such a chain still runs several Spark jobs per step,
and it measured no faster on R-MAT PageRank.

**Stats firewall.** ``localCheckpoint`` copies the child plan's
estimated ``sizeInBytes`` into the checkpoint (see
``superstep.materialize``). A step that joins the state with a frame
derived from the state (HyperBall: state ⋈ messages built from its own
frontier) then about squares the estimate every superstep, until stats
arithmetic stalls the driver. An operator with such a step sets
``stats_reset_every``: every that many supersteps the step plan is
written to parquet and read back (:class:`StatsResetter`) before it is
staged, so the staged frame's stats are real file sizes. Every staged
frame is a copy taken after the reset, so the result never reads the
spill, which is deleted when the run ends. The other operators leave it
at 0 (off).

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
from pyspark.storagelevel import StorageLevel

from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.plans.local_csr import (
    local_dispatch,
    local_kernel_threshold,
    persist_chain_min_edges,
    run_local_kernel,
)
from webgraph_algo_rs_spark.plans.superstep import (
    DST,
    SRC,
    W,
    PersistChain,
    StatsResetter,
    materialize,
)


class Fixpoint:
    """A vertex-state fixpoint; :meth:`run` is the driver.

    Subclasses set the class attributes and implement:

    * ``prepare(edges, n_edges)`` → the lazy initial state (``keys`` +
      ``carried`` columns); sets up the step's edge side with :meth:`pin`;
    * ``step(cur, prev)`` → the next state: ``keys`` plus each
      ``carried`` column suffixed ``1``, computed from the current one
      (suffixed ``0``; ``cur`` may keep further columns for the
      aggregates). ``prev`` is the previous superstep's metrics,
      ``None`` only on the first superstep of a fresh run;
    * ``aggregates()`` → ``{metric: aggregate Column}`` over the step;
    * ``converged(metrics)`` → the stop test on one step's metrics;
    * ``kernel(max_iter)`` → the local-CSR kernel, which returns the
      result schema plus ``iterations`` and the stop metric (non-null
      on at least one row).

    and may override :meth:`local_cap`, :meth:`kernel_input` and
    :meth:`result`.
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
    stats_reset_every = 0  # stats firewall cadence in supersteps; 0 = off
    tier = ""  # set per call by dispatch
    n_buckets = 0  # spark.sql.shuffle.partitions on the superstep tiers
    _pinned: DataFrame | None = None  # the persisted edge side

    def local_cap(self, spark) -> int:
        """The auto local-CSR edge cap: ``wga.localKernelMaxEdges``."""
        return local_kernel_threshold(spark)

    def kernel_input(self, edges: DataFrame) -> DataFrame:
        """The frame the local kernel reads."""
        return edges.select(SRC, DST, *([W] if self.with_weight else []))

    def result(self, state: DataFrame) -> DataFrame:
        """The result frame from the final state (bare column names)."""
        return state.select("vertex", F.col(self.carried[0]).alias(self.output))

    def dispatch(
        self,
        edges: DataFrame,
        checkpoint: CheckpointManager | None,
        local_mode: bool | None,
    ) -> tuple[str, int]:
        """``(tier, probed edge count)`` for one call (module docstring);
        the count is exact on the ``blocked`` tier. ``local_dispatch``
        makes the ``empty`` / ``local-csr`` choice (auto only without a
        checkpoint, and never above ``wga.bucketizeMinEdges``); the same
        probe, scanned up to ``wga.bucketizeMinEdges``, picks ``blocked``
        or ``persist-chain``."""
        if local_mode and checkpoint is not None:
            # an explicit force must not be silently overridden: the local
            # kernel runs the whole loop inside one task, so per-superstep
            # durable checkpoints cannot apply to it
            raise ValueError("local_mode=True cannot be combined with checkpoint")
        spark = edges.sparkSession
        big_thr = persist_chain_min_edges(spark)
        tier, n_edges = local_dispatch(
            edges,
            local_mode,
            cap=min(self.local_cap(spark), big_thr),
            auto=checkpoint is None,
            probe_to=big_thr,
        )
        if tier is not None:
            return tier, n_edges
        return ("persist-chain" if n_edges > big_thr else "blocked"), n_edges

    def pin(self, plan: DataFrame) -> DataFrame:
        """The step's constant edge side: on the persist-chain tier
        hash-partitioned on ``src`` and persisted (``MEMORY_AND_DISK``,
        one ``count``), so each superstep's scatter join shuffles only
        the state and scans the edges from the block manager; the run
        releases it when it ends. Materialized otherwise."""
        if self.tier != "persist-chain":
            return materialize(plan)
        self._pinned = plan.repartition(self.n_buckets, SRC).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._pinned.count()
        return self._pinned

    def run(
        self,
        edges: DataFrame,
        max_iter: int,
        checkpoint: CheckpointManager | None = None,
        stats: dict | None = None,
        local_mode: bool | None = None,
    ) -> DataFrame:
        """The result frame at the fixpoint or after ``max_iter``
        supersteps (module docstring)."""
        spark = edges.sparkSession
        self.tier, n_edges = self.dispatch(edges, checkpoint, local_mode)
        t0 = time.time()
        if self.tier == "empty":
            self._record(stats, 0, 0, 0.0)
            return spark.createDataFrame([], self.schema)
        if self.tier == "local-csr":
            out = run_local_kernel(
                self.kernel_input(edges),
                f"{self.schema}, iterations int, {self.metric} {self.metric_type}",
                self.kernel(max_iter),
            )
            if stats is not None:
                head = out.filter(F.col(self.metric).isNotNull()).first()
                self._record(stats, head["iterations"], head[self.metric], time.time() - t0)
            return out.drop("iterations", self.metric)

        self.n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        chain = None
        if self.tier == "persist-chain":
            chain = PersistChain("vertex", self.n_buckets)
        spill = StatsResetter(self.algo)
        try:
            initial = self.prepare(edges, n_edges)
            start, history, last = 0, [], None
            resumed = checkpoint.latest(spark) if checkpoint is not None else None
            if resumed is None:
                state = materialize(initial)
            else:
                snap_df, snap = resumed
                state = materialize(snap_df.select(*self.keys, *self.carried))
                start, history, last = snap.iteration + 1, list(snap.history), snap.metrics
            if chain is not None:
                state = chain.seed(state)
            cur = self._select(state, "", 0)
            t_loop = time.time()
            it = start
            while it < max_iter and not (last is not None and self.converged(last)):
                t_step = time.time()
                cur = self.step(cur, last)
                if self.stats_reset_every and (it + 1) % self.stats_reset_every == 0:
                    cur = spill.reset(cur)
                if chain is None:
                    cur = materialize(cur)
                else:
                    cur = chain.stage(cur, it - start)
                row = cur.agg(*[x.alias(m) for m, x in self.aggregates().items()]).first()
                if chain is not None:
                    chain.advance(cur)
                last = {"algo": self.algo, "iteration": it, **row.asDict()}
                last["wall_ms"] = int((time.time() - t_step) * 1000)
                history.append(last)
                cur = self._select(cur, 1, 0)
                if checkpoint is not None and checkpoint.should_save(it):
                    checkpoint.save(self._select(cur, 0, ""), it, last, history)
                it += 1

            result = self.result(self._select(cur, 0, ""))
            if chain is not None:
                # pins the result off the chain and off the pinned edges
                result = chain.finish(result)
        finally:
            spill.close()
            if chain is not None:
                chain.release()
            if self._pinned is not None:
                self._pinned.unpersist()
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
