"""Superstep kernel library — the engine's physical-execution core.

The reference's per-iteration machinery is hand-rolled: double-buffered
state swapped each iteration
(``/root/reference/src/algo/hyperball/hyperball_impl.rs:898-899``),
arc-balanced work spans from a shared cursor (``:991-1006``), systolic
delta-iteration (``:784-799``). Our Spark analogs, in order:

* **double buffer** → a new state DataFrame per superstep, with
  ``materialize()`` (eager localCheckpoint) cutting the lineage so the
  plan does not grow per iteration (hard part №1 in SURVEY.md §7);
* **arc-balanced splitting** → hash shuffle on ``dst`` with Catalyst's
  partial (map-side) aggregation as the combiner and AQE skew-join for
  hot build sides. Merges with *no* native partial aggregate (HyperBall's
  sketch unions in pandas UDFs) fold each Arrow batch map-side instead.
  Two-level salting of their hot keys measured no faster on a 73k-arc
  R-MAT graph, so there is no salting layer;
* **systolic / delta iteration** → algorithms keep a ``changed`` flag
  and scatter only from the delta frontier.
* **constant edge side** → on the big-graph tier the edge table is
  hash-partitioned on ``src`` and kept in the block manager once per
  call (``Fixpoint.pin`` in ``plans/fixpoint.py``), so each superstep's
  scatter join shuffles only the state; the states rotate through
  :class:`PersistChain`.

Everything here is DataFrame-only; no RDDs, no per-row Python.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRC, DST, W = "src_vertex", "dst_vertex", "weight"

def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and pin the current state (eager localCheckpoint).

    On a production cluster with an Iceberg catalog this is a snapshot
    commit to the checkpoint table (see ``checkpoint.CheckpointManager``
    for the durable variant); ``localCheckpoint`` is the fast in-cluster
    path used between durable commits.

    CAVEAT (measured): ``localCheckpoint`` copies the child plan's
    *estimated* ``sizeInBytes`` into the resulting ``LogicalRDD``
    (originStats). A loop whose superstep joins state with a frame
    derived from state therefore ~squares the estimate every iteration
    — double-exponential BigInteger growth that first makes every stats
    call slow and then throws ``BigInteger would overflow supported
    range`` around iteration 25. Loops with self-referential joins must
    periodically reset stats with :class:`StatsResetter` (a parquet
    spill-and-reread, whose scan stats are honest file sizes).
    """
    return df.localCheckpoint(eager=True)


class StatsResetter:
    """Parquet spill that resets the stats of a long self-join loop.

    ``reset(df)`` writes ``df`` to a scratch parquet dir and reads it
    back: the parquet scan is a fresh lineage root whose Catalyst stats
    come from real file sizes, killing the originStats growth described
    in :func:`materialize`. The dir is made on the first reset;
    generations older than the previous one are deleted eagerly (safe
    once a later eager materialization exists), the rest by ``close()``.
    The fixpoint driver (``plans/fixpoint.py``) owns the one instance of
    a run and closes it when the run ends. On a production cluster this
    is the durable checkpoint commit (Iceberg snapshot); locally it
    doubles as the stats firewall.
    """

    def __init__(self, label: str = "loop"):
        self.label = label
        self._dir = None
        self._gen = 0

    def reset(self, df: DataFrame) -> DataFrame:
        if self._dir is None:
            self._dir = tempfile.mkdtemp(prefix=f"wga_spill_{self.label}_")
        self._gen += 1
        path = os.path.join(self._dir, f"gen_{self._gen}")
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        shutil.rmtree(os.path.join(self._dir, f"gen_{self._gen - 2}"), ignore_errors=True)
        return out

    def close(self) -> None:
        if self._dir is not None:
            shutil.rmtree(self._dir, ignore_errors=True)
            self._dir = None


class UnionAccumulator:
    """Accumulate per-round result frames with bounded plan depth.

    Deep driver loops (Kahn layers, SCC rounds, BFS levels) that fold
    ``unionByName`` once per round build a plan with one child per round
    — Catalyst analysis cost grows linearly (10⁴-round graphs time out
    before any data moves). This helper folds the pending frames into a
    single *materialized* frame every ``fold_every`` appends, so plan
    depth is O(fold_every) and the extra rewrite cost is
    O(total_rows · rounds / fold_every).
    """

    def __init__(self, fold_every: int = 64):
        self.fold_every = fold_every
        self._acc: DataFrame | None = None
        self._pending: list[DataFrame] = []

    def add(self, df: DataFrame) -> None:
        self._pending.append(df)
        if len(self._pending) >= self.fold_every:
            self._acc = materialize(self._union())
            self._pending = []

    def _union(self) -> DataFrame:
        frames = ([self._acc] if self._acc is not None else []) + self._pending
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def result(self) -> DataFrame | None:
        """Final union (≤ fold_every + 1 children); None if nothing added."""
        if self._acc is None and not self._pending:
            return None
        return self._union()


def graph_vertices(edges: DataFrame) -> DataFrame:
    """Distinct vertex set of an edge table → one ``vertex`` column."""
    return (
        edges.select(F.col(SRC).alias("vertex"))
        .unionByName(edges.select(F.col(DST).alias("vertex")))
        .distinct()
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Directed → symmetric edge table, weights summed per direction pair.

    The reference needs a *precomputed* transposed BvGraph on disk
    (``/root/reference/src/main.rs:39,51``); for us the transpose is a
    column swap — no second dataset.
    """
    rev = edges.select(
        F.col(DST).alias(SRC), F.col(SRC).alias(DST), F.col(W)
    )
    return (
        edges.unionByName(rev)
        .groupBy(SRC, DST)
        .agg(F.sum(W).alias(W))
    )


def undirected_canonical(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as ``(a < b)`` pairs, self-loops dropped."""
    return (
        edges.filter(F.col(SRC) != F.col(DST))
        .select(
            F.least(SRC, DST).alias("a"),
            F.greatest(SRC, DST).alias("b"),
        )
        .distinct()
    )


class PersistChain:
    """Explicit persisted-handle rotation for big-graph fixpoint loops —
    the persist-chain tier of ``plans/fixpoint.py``. ``materialize``
    (eager ``localCheckpoint``) per superstep leaks one full state copy
    per iteration until the ContextCleaner's weak-reference GC catches up; on a 157M-edge run the cleaner itself
    OOMed before it could (measured, round 4). This helper persists each
    superstep's state, lets the caller's action materialize it, then
    *explicitly* releases the previous handle, so exactly two state
    copies are ever live. Every ``cut_every`` steps the lineage is
    truncated (``materialize`` + repartition on the loop key) to keep
    Catalyst analysis bounded — a superstep references its predecessor
    twice (scatter + apply), so an un-cut plan doubles per iteration.

    Usage::

        chain = PersistChain("vertex", n_buckets)
        try:
            state = chain.seed(state)
            for it in ...:
                stepped = chain.stage(stepped_plan, it)
                changed = stepped.filter("changed").count()   # caller action
                chain.advance(stepped)
                state = stepped
            return chain.finish(state.select(...))
        finally:
            chain.release()
    """

    def __init__(self, key: str, n_buckets: int, cut_every: int = 4):
        self.key = key
        self.n_buckets = n_buckets
        self.cut_every = cut_every
        self._prev = None

    def seed(self, state: DataFrame) -> DataFrame:
        """Persist the initial state, partitioned on the loop key so the
        first scatter join reuses the exchange."""
        seeded = state.repartition(self.n_buckets, self.key).persist()
        self._prev = seeded
        return seeded

    def stage(self, plan: DataFrame, step: int) -> DataFrame:
        """Persist this superstep's state plan (materialized by the
        caller's next action); periodically cut lineage."""
        staged = plan.persist()
        if step % self.cut_every == self.cut_every - 1:
            cut = (
                materialize(staged)
                .repartition(self.n_buckets, self.key)
                .persist()
            )
            staged.unpersist()
            staged = cut
        return staged

    def advance(self, staged: DataFrame) -> None:
        """Release the previous superstep's handle. Call only AFTER an
        action has materialized ``staged`` — unpersisting the projection
        instead of the handle is a silent no-op (CacheManager uncaches
        only plans that ``sameResult`` the cached one)."""
        if self._prev is not None:
            self._prev.unpersist()
        self._prev = staged

    def finish(self, result: DataFrame) -> DataFrame:
        """Pin ``result`` off the chain (and off the pinned edges, which
        the caller releases next), then release the last handle."""
        out = materialize(result)
        self.release()
        return out

    def release(self) -> None:
        """Release the last handle; a no-op after :meth:`finish`. A loop
        that raises calls this (in a ``finally``) instead of ``finish``."""
        if self._prev is not None:
            self._prev.unpersist()
            self._prev = None
