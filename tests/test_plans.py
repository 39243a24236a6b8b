"""Physical-plan quality assertions (SURVEY §4: what Catalyst must give
us for free — and what must never appear in a superstep plan).

The reference gets its performance from hand-coded physical strategies;
ours comes from Catalyst — but only if the declarative plan actually
triggers them. These tests pin the load-bearing plan properties so a
refactor that silently de-optimizes (drops pushdown, broadcasts an edge
table, falls back to per-row Python) fails CI, not the benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from tests.conftest import NINE, edge_df

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    """events_user_edges needs 3 of the events columns — the parquet
    scan must read exactly those (Catalyst column pruning)."""
    from webgraph_algo_rs_spark.sources.tables import events_user_edges

    plan = plan_of(events_user_edges(spark, SF, pin=False))
    scan_lines = [l for l in plan.splitlines() if "FileScan" in l]
    assert scan_lines, plan
    scan = scan_lines[0]
    assert "event_id" in scan and "ts" in scan and "user_id" in scan
    for unneeded in ("payload", "event_type", "session_id"):
        assert unneeded not in scan, scan


def test_filter_pushdown_to_scan(spark):
    """A selective filter over documents must reach the parquet scan as
    a PushedFilters entry, not a post-scan Filter only."""
    from webgraph_algo_rs_spark.sources.tables import load_table

    df = load_table(spark, SF, "documents").filter(F.col("doc_id") < 10).select(
        "doc_id", "text"
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10)" in plan, plan


def test_renumber_mapping_is_broadcast(spark):
    """The component→dense-id mapping join must be a broadcast join
    (mapping ≪ vertices; SURVEY O6)."""
    from webgraph_algo_rs_spark.operators import connected_components
    from webgraph_algo_rs_spark.operators.components import renumber_by_size

    comps = connected_components(edge_df(spark, NINE))
    plan = plan_of(renumber_by_size(comps))
    assert "BroadcastHashJoin" in plan, plan


def test_superstep_join_never_broadcasts_edges(spark):
    """One PageRank scatter superstep against a >10MB-estimated edge
    table must not plan a broadcast of the edge side (the serial
    driver-side HashedRelation build that killed scaling)."""
    from webgraph_algo_rs_spark.plans.superstep import SRC, DST

    # both sides big (range gives Catalyst exact size estimates):
    # a correct superstep plan shuffles, never broadcasts either side
    edges = (
        spark.range(0, 8_000_000)
        .select(
            (F.col("id") % 2_000_000).alias(SRC),
            ((F.col("id") * 7 + 1) % 2_000_000).alias(DST),
            F.lit(1.0).alias("nw"),
        )
    )
    state = spark.range(0, 2_000_000).select(
        F.col("id").alias("vertex"), F.lit(1.0).alias("rank")
    )
    msgs = (
        state.join(edges, state.vertex == edges[SRC])
        .groupBy(DST)
        .agg(F.sum(F.col("rank") * F.col("nw")).alias("contrib"))
    )
    plan = plan_of(msgs)
    # the edge side must arrive via shuffle/scan, never BroadcastExchange
    assert "BroadcastExchange" not in plan, plan


def test_events_edges_no_single_partition_sort(spark):
    """The global-order lag in events_user_edges must be computed by a
    range-partitioned parallel window + boundary stitch — never a
    single-partition Exchange feeding one giant Sort (the VERDICT r1
    scale-killer)."""
    from webgraph_algo_rs_spark.sources.tables import events_user_edges

    plan = plan_of(events_user_edges(spark, SF, pin=False))
    assert "SinglePartition" not in plan, plan
    # the parallel form partitions the window on the range-bucket id
    assert "_bkt" in plan, plan


def test_wholestage_codegen_in_agg_path(spark):
    """Degree aggregation must run inside WholeStageCodegen (JVM-side,
    not a Python fallback)."""
    from webgraph_algo_rs_spark.operators import degrees
    from webgraph_algo_rs_spark.sources.tables import events_user_edges

    df = degrees(events_user_edges(spark, SF))
    df.collect()  # AQE: codegen markers only appear in the final plan
    plan = plan_of(df)
    # codegen'd operators print with a "*(n)" stage prefix
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_dedup_pipeline_stays_jvm_side(spark):
    """MinHash signatures are pure column expressions — no Python eval
    operators anywhere in the plan."""
    from webgraph_algo_rs_spark.functions import minhash_signatures
    from webgraph_algo_rs_spark.sources.tables import load_table

    plan = plan_of(minhash_signatures(load_table(spark, SF, "documents")))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_persist_chain_bounds_live_copies(spark):
    """PersistChain's whole contract is memory discipline: at any point
    in a fixpoint loop at most TWO state copies are persisted (previous
    + staged), and ``finish`` releases the last handle. The blocked
    localCheckpoint loop it replaces above ``wga.bucketizeMinEdges``
    retains one copy per superstep until the ContextCleaner's weak-ref
    GC frees it — the race it loses at 10⁸ edges (157M-edge OOM, r4)."""
    from webgraph_algo_rs_spark.plans.superstep import PersistChain

    jsc = spark.sparkContext._jsc.sc()

    def n_persisted() -> int:
        return jsc.getPersistentRDDs().size()

    spark.sparkContext._jvm.System.gc()
    base = n_persisted()
    cut_every = 3
    chain = PersistChain("vertex", 4, cut_every=cut_every)
    state = chain.seed(
        spark.range(100).select(F.col("id").alias("vertex"), F.lit(0).alias("x"))
    )
    assert n_persisted() <= base + 1
    for it in range(8):
        stepped = chain.stage(
            state.select("vertex", (F.col("x") + 1).alias("x")), it
        )
        stepped.count()  # the caller's action materializes the stage
        chain.advance(stepped)
        state = stepped
        # the previous step's persist handle is released synchronously,
        # so explicit handles never exceed two (prev + staged); the only
        # GC-timed residue is ONE localCheckpoint RDD per lineage cut
        # (every cut_every steps — the same amortized cost the proven
        # 157M-edge PageRank path pays). The blocked loop this replaces
        # leaks one copy PER STEP — the bound below would be 2 + it.
        cuts_so_far = (it + 1 + cut_every - 1) // cut_every
        assert n_persisted() <= base + 2 + cuts_so_far, (it, n_persisted())
    final = chain.finish(state)
    # after finish: the pinned result plus at most the GC-pending cut
    # checkpoints — every explicit persist handle is gone
    assert n_persisted() <= base + 1 + (8 + cut_every - 1) // cut_every
    assert final.agg(F.max("x")).collect()[0][0] == 8


def test_failing_superstep_releases_pinned_state(spark, monkeypatch):
    """A superstep that raises on the persist-chain tier must not leave
    the pinned edge copy or the chain's last state handle cached for
    the rest of the session."""
    import webgraph_algo_rs_spark.plans.fixpoint as fixpoint
    from webgraph_algo_rs_spark.operators.components import _Components
    from webgraph_algo_rs_spark.plans.superstep import PersistChain

    staged = []

    class RecordingChain(PersistChain):
        def stage(self, plan, step):
            staged.append(super().stage(plan, step))
            return staged[-1]

    class FailingComponents(_Components):
        steps = 0

        def step(self, cur, prev):
            self.steps += 1
            if self.steps == 2:
                raise RuntimeError("superstep 2 failed")
            return super().step(cur, prev)

    monkeypatch.setattr(fixpoint, "PersistChain", RecordingChain)
    fp = FailingComponents()
    spark.conf.set("wga.bucketizeMinEdges", "1")
    try:
        with pytest.raises(RuntimeError, match="superstep 2"):
            fp.run(edge_df(spark, NINE), max_iter=10)
    finally:
        spark.conf.unset("wga.bucketizeMinEdges")
    assert fp.tier == "persist-chain" and fp.steps == 2
    assert fp.edges.storageLevel == StorageLevel.NONE
    assert len(staged) == 1 and staged[0].storageLevel == StorageLevel.NONE
