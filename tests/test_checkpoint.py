"""Checkpoint/resume: a killed run resumed from its last committed
snapshot converges to the same result as an uninterrupted run (north
rule resumability; reference stop-rule replay concern
/root/reference/src/algo/hyperball/hyperball_impl.rs:565-570)."""

import json
import os

import numpy as np
import pytest

from tests.conftest import edge_df, er_graph
from webgraph_algo_rs_spark.checkpoint import CheckpointManager
from webgraph_algo_rs_spark.operators import connected_components, pagerank

ARCS = er_graph(40, 0.08, seed=3)


def _ranks(df):
    return {r["vertex"]: r["rank"] for r in df.collect()}


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    edges = edge_df(spark, ARCS)
    full = _ranks(pagerank(edges, tol=1e-9, max_iter=300))

    cp = CheckpointManager(str(tmp_path), "pagerank")
    # "killed" run: only 4 iterations happen before death
    pagerank(edges, tol=1e-9, max_iter=4, checkpoint=cp)
    latest = cp.latest(spark)
    assert latest is not None and latest[1].iteration == 3

    # resumed run continues from iteration 4, not from scratch
    stats = {}
    resumed = _ranks(pagerank(edges, tol=1e-9, max_iter=300, checkpoint=cp, stats=stats))
    assert set(resumed) == set(full)
    a = np.array([resumed[k] for k in sorted(resumed)])
    b = np.array([full[k] for k in sorted(full)])
    np.testing.assert_allclose(a, b, rtol=1e-9, atol=1e-12)

    # and it actually resumed: fewer iterations than the full run
    final = cp.latest(spark)
    assert final[1].iteration > 3
    assert stats["iterations"] + 4 >= final[1].iteration + 1


def test_manifest_lineage_and_metrics(spark, tmp_path):
    edges = edge_df(spark, ARCS)
    cp = CheckpointManager(str(tmp_path), "pagerank", every=2)
    pagerank(edges, tol=1e-9, max_iter=5, checkpoint=cp)
    # every=2 → iterations 0, 2, 4 committed
    committed = sorted(os.listdir(cp.base))
    assert committed == ["iter=00000", "iter=00002", "iter=00004"]
    with open(os.path.join(cp.base, "iter=00004", "manifest.json")) as f:
        m = json.load(f)
    assert m["parent"] == 2
    assert m["metrics"]["algo"] == "pagerank"
    assert m["metrics"]["residual"] > 0
    assert m["metrics"]["wall_ms"] >= 0
    assert len(m["partitions"]) >= 1
    assert [h["iteration"] for h in m["history"]] == [0, 1, 2, 3, 4]


def test_uncommitted_iteration_ignored(spark, tmp_path):
    edges = edge_df(spark, ARCS)
    cp = CheckpointManager(str(tmp_path), "cc")
    connected_components(edges, checkpoint=cp)
    last = cp.latest(spark)[1].iteration
    # simulate a kill mid-write: data dir exists, no manifest
    broken = os.path.join(cp.base, f"iter={last + 1:05d}", "data")
    os.makedirs(broken)
    assert cp.latest(spark)[1].iteration == last


def test_cc_resume(spark, tmp_path):
    edges = edge_df(spark, ARCS)
    full = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    cp = CheckpointManager(str(tmp_path), "cc")
    connected_components(edges, max_iter=2, checkpoint=cp)
    resumed = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, checkpoint=cp).collect()
    }
    assert resumed == full


def test_cc_resume_on_chain_path(spark, tmp_path):
    """Resume must compose with the upper dispatch tier: above
    ``wga.bucketizeMinEdges`` the loop runs on the persist-chain path,
    and a checkpoint written there must resume (on the same path) to
    the uninterrupted answer. Guards the chain.seed-after-resume
    ordering in components.py."""
    edges = edge_df(spark, ARCS)
    full = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    spark.conf.set("wga.bucketizeMinEdges", "1")
    try:
        cp = CheckpointManager(str(tmp_path), "cc_chain")
        st1: dict = {}
        connected_components(edges, max_iter=2, checkpoint=cp, stats=st1)
        st2: dict = {}
        resumed = {
            r["vertex"]: r["component"]
            for r in connected_components(edges, checkpoint=cp, stats=st2).collect()
        }
    finally:
        spark.conf.unset("wga.bucketizeMinEdges")
    # the size dispatch must route BOTH checkpointed runs onto the
    # persist-chain path (a checkpoint must not demote a huge graph to
    # the per-step materialize loop) — not vacuously pass on the
    # ordinary loop
    assert st1["bucketized"] and st2["bucketized"]
    assert resumed == full


@pytest.mark.parametrize("op", ["pagerank", "cc"])
def test_resume_after_convergence_runs_no_superstep(spark, tmp_path, op):
    """A resumed run replays the recorded stop rule before stepping: once
    the last snapshot has converged, a new call with the same manager
    returns that result, runs no superstep and commits no snapshot."""
    edges = edge_df(spark, ARCS)
    if op == "pagerank":
        def run(**kw):
            return _ranks(pagerank(edges, tol=1e-9, max_iter=300, **kw))
        metric = "residual"
    else:
        def run(**kw):
            return {
                r["vertex"]: r["component"]
                for r in connected_components(edges, **kw).collect()
            }
        metric = "changed"
    cp = CheckpointManager(str(tmp_path), op)
    st1: dict = {}
    first = run(checkpoint=cp, stats=st1)
    committed = sorted(os.listdir(cp.base))
    last = cp.latest(spark)[1]
    assert st1["iterations"] == last.iteration + 1

    st2: dict = {}
    again = run(checkpoint=cp, stats=st2)
    assert again == first
    assert st2["iterations"] == 0
    assert st2[metric] == last.metrics[metric]
    assert sorted(os.listdir(cp.base)) == committed


def test_resume_at_max_iter_reports_snapshot_metric(spark, tmp_path):
    """A resume whose snapshot already reached ``max_iter`` runs nothing
    and reports the snapshot's residual, not an unset one."""
    edges = edge_df(spark, ARCS)
    cp = CheckpointManager(str(tmp_path), "pagerank")
    pagerank(edges, tol=1e-9, max_iter=3, checkpoint=cp)
    stats: dict = {}
    pagerank(edges, tol=1e-9, max_iter=3, checkpoint=cp, stats=stats)
    assert stats["iterations"] == 0
    assert stats["residual"] == cp.latest(spark)[1].metrics["residual"]
    assert cp.latest(spark)[1].iteration == 2
