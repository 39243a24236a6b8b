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
  partial (map-side) aggregation as the combiner, AQE skew-join for hot
  build sides, plus explicit two-level salting (``salted_agg``) for
  merges that have *no* native partial aggregate (sketch unions in
  pandas UDFs);
* **systolic / delta iteration** → algorithms keep a ``changed`` flag
  and scatter only from the delta frontier.

Everything here is DataFrame-only; no RDDs, no per-row Python.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SRC, DST, W = "src_vertex", "dst_vertex", "weight"

# per-process sequence for bucketized-table names: two runs in one
# session (or two processes sharing a warehouse dir) must never clobber
# each other's bucketed edge tables mid-algorithm
_BUCKET_SEQ = itertools.count()


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
    """Periodic parquet spill for long self-join loops.

    ``reset(df)`` writes ``df`` to a scratch parquet dir and reads it
    back: the parquet scan is a fresh lineage root whose Catalyst stats
    come from real file sizes, killing the originStats growth described
    in :func:`materialize`. Generations older than the previous one are
    deleted eagerly (safe once a later eager materialization exists);
    the final two generations are removed by ``close()`` or process
    exit. On a production cluster this is the durable checkpoint commit
    (Iceberg snapshot); locally it doubles as the stats firewall.
    """

    def __init__(self, spark, label: str = "loop"):
        import atexit
        import shutil
        import tempfile

        self._dir = tempfile.mkdtemp(prefix=f"wga_spill_{label}_")
        self._gen = 0
        self._shutil = shutil
        atexit.register(shutil.rmtree, self._dir, ignore_errors=True)

    def reset(self, df: DataFrame) -> DataFrame:
        self._gen += 1
        path = os.path.join(self._dir, f"gen_{self._gen}")
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        old = os.path.join(self._dir, f"gen_{self._gen - 2}")
        self._shutil.rmtree(old, ignore_errors=True)
        return out

    def close(self) -> None:
        self._shutil.rmtree(self._dir, ignore_errors=True)


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


def _warehouse_path(spark) -> str | None:
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if not wh:
        return None
    from urllib.parse import urlparse

    return urlparse(wh).path or wh


def _sweep_stale_buckets(spark, base: str) -> None:
    """Remove orphan bucketed-table dirs left by *dead* processes.

    Each bucketized run embeds its pid in the table name; a crashed run
    can't drop its own table, so every new run garbage-collects peers
    whose pid no longer exists. Live processes are never touched."""
    loc = _warehouse_path(spark)
    if not loc:
        return
    import re
    import shutil

    pat = re.compile(re.escape(base) + r"_(\d+)_\d+$")
    try:
        entries = os.listdir(loc)
    except OSError:
        return
    for name in entries:
        m = pat.match(name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(loc.rstrip("/"), name), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it


def bucketize(
    df: DataFrame,
    key: str,
    n_buckets: int = 64,
    table_name: str = "wga_bucketed_edges",
) -> tuple[DataFrame, Callable[[], None]]:
    """Persist ``df`` as a bucketed+sorted table on ``key`` and read it
    back, so iterative joins shuffle only the *state* side.

    The hot loop of every fixpoint algorithm joins a small, changing
    state table against a huge, constant edge table. Without bucketing,
    Catalyst re-shuffles (or worse, re-broadcasts) the edge table every
    superstep; with a bucketed scan its output partitioning is known, so
    each superstep moves only the state rows — the dominant cost at
    10^12-edge scale drops from O(edges) to O(vertices) bytes shuffled
    per iteration. On a production cluster this is the Iceberg
    bucket-partitioned edge table; ``saveAsTable`` is the local-mode
    equivalent. Write cost is paid once and amortized over all
    iterations.

    Returns ``(table_df, drop)``: call ``drop()`` once the algorithm has
    materialized its result off the table's lineage — the scratch table
    is per-run state, not an output, and a 157M-edge run otherwise leaks
    a full normalized edge copy in the warehouse dir per invocation.
    """
    spark = df.sparkSession
    base = table_name
    _sweep_stale_buckets(spark, base)
    # unique physical name per call: pid guards cross-process warehouse
    # sharing, the counter guards interleaved runs in one session
    table_name = f"{base}_{os.getpid()}_{next(_BUCKET_SEQ)}"
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # the in-memory catalog forgets tables across sessions but their
    # files survive in the warehouse dir; remove orphan locations or the
    # write fails with LOCATION_ALREADY_EXISTS
    loc = _warehouse_path(spark)
    if loc:
        import shutil

        shutil.rmtree(f"{loc.rstrip('/')}/{table_name}", ignore_errors=True)
    df.write.bucketBy(n_buckets, key).sortBy(key).mode("overwrite").saveAsTable(
        table_name
    )

    def drop() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        if loc:
            import shutil

            shutil.rmtree(f"{loc.rstrip('/')}/{table_name}", ignore_errors=True)

    return spark.table(table_name), drop


def pin_edges(
    df: DataFrame,
    key: str,
    n_buckets: int = 64,
    table_name: str = "wga_bucketed_edges",
    store: str = "auto",
    probe_df: DataFrame | None = None,
) -> tuple[DataFrame, Callable[[], None]]:
    """Pin the constant edge side of a fixpoint loop on ``key`` so each
    superstep shuffles only the state. Two physical stores:

    * ``"cached"`` — ``repartition(n_buckets, key)`` + block-manager
      persist (``MEMORY_AND_DISK``). The scatter join is still
      exchange-free on the edge side, and every superstep scans the
      edges from executor memory instead of re-reading + re-decoding
      parquet. The join becomes a per-superstep sort (SMJ) or hash
      build (SHJ) of in-memory rows — measured faster than the bucketed
      scan whenever the edges actually fit (probe:
      ``tools/pr_superstep_probe.py``).
    * ``"table"`` — bucketed+sorted table via :func:`bucketize`: the
      10^12-edge path, where no cluster holds the edges in RAM and the
      pre-sorted buckets let every superstep's SMJ skip the edge-side
      sort entirely.
    * ``"auto"`` — ``cached`` when the edge count probes at or under
      ``wga.cachedEdgesMaxEdges`` (default 1e9 — ~50 GB of (long, long,
      double) rows across a cluster's block managers; far below any
      100 TB corpus, far above every single-node benchmark), else
      ``table``. The probe is a ``limit(thr+1).count()`` — over
      ``probe_df`` when given (callers pass the raw scan when ``df``
      itself is a row-preserving join plan) — so the decision never
      scans more than the threshold.

    Returns ``(edges_df, release)``; call ``release()`` after the
    result is materialized off the edge table's lineage.
    """
    if store == "auto":
        try:
            thr = int(
                df.sparkSession.conf.get("wga.cachedEdgesMaxEdges", "1000000000")
            )
        except (TypeError, ValueError):
            thr = 1_000_000_000
        store = (
            "cached"
            if (probe_df if probe_df is not None else df).limit(thr + 1).count()
            <= thr
            else "table"
        )
    if store == "table":
        return bucketize(df, key, n_buckets, table_name)
    if store != "cached":
        raise ValueError(f"unknown edge store {store!r}")
    from pyspark.storagelevel import StorageLevel

    pinned = df.repartition(n_buckets, key).persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    return pinned, lambda: pinned.unpersist()


def salted_agg(
    msgs: DataFrame,
    key_col: str,
    merge: Callable[[DataFrame, list[str]], DataFrame],
    n_salt: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-level salted aggregation for non-combinable merges.

    ``sum``/``min``/``max`` messages don't need this — Catalyst plans
    partial→final HashAggregate, so each shuffle key receives at most one
    pre-combined row per map partition. But a pandas-UDF merge
    (HLL register max over binary sketches) has no partial aggregate:
    a hot ``dst`` (ubiquitous tool vertex) would funnel its entire
    message fan-in through one reducer. We split each key into
    ``n_salt`` sub-keys, merge per ``(key, salt)``, then merge the
    ≤ ``n_salt`` partials per key — the reference's arc-balanced cursor
    (``hyperball_impl.rs:991-1006``) re-expressed as shuffle topology.

    The salt defaults to a hash over **all message columns**, which is
    deterministic under task retry / stage recompute (a requirement for
    any associative-but-non-idempotent merge; ``monotonically_increasing_id``
    would re-deal rows to different salts on recompute). Pass ``salt_on``
    to salt on a specific origin column instead.

    ``merge(df, group_cols) -> DataFrame`` must aggregate ``df`` to one
    row per group and be associative.
    """
    salt_cols = [F.col(salt_on)] if salt_on else [F.col(c) for c in msgs.columns]
    salted = msgs.withColumn("_salt", F.pmod(F.hash(*salt_cols), F.lit(n_salt)))
    partial = merge(salted, [key_col, "_salt"])
    return merge(partial, [key_col]).drop("_salt")


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
        state = chain.seed(state)
        for it in ...:
            stepped = chain.stage(stepped_plan, it)
            changed = stepped.filter("changed").count()   # caller action
            chain.advance(stepped)
            state = stepped
        return chain.finish(state.select(...))
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
        """Pin ``result`` off the chain (and off any scratch edge table
        a later run may overwrite), then release the last handle."""
        out = materialize(result)
        if self._prev is not None:
            self._prev.unpersist()
            self._prev = None
        return out
