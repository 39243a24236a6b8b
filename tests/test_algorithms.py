"""North-rule algorithms vs oracles on the reference's fixture graphs
(FIXTURES.md §3) and seeded ER graphs (cross-check strategy,
/root/reference/tests/test_sccs.rs:222-266)."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import (
    COMPLETE5,
    CYCLE4,
    DAG4,
    DIAMOND,
    NINE,
    TREE7,
    edge_df,
    er_graph,
)
from tests.oracles import (
    bfs_oracle,
    cc_oracle,
    lpa_oracle,
    pagerank_oracle,
    triangles_oracle,
)
from webgraph_algo_rs_spark.operators import (
    bfs_distances,
    connected_components,
    degrees,
    is_acyclic,
    kahn_layers,
    label_propagation,
    pagerank,
    renumber_by_size,
    triangle_count_global,
    triangle_count_per_vertex,
)
from webgraph_algo_rs_spark.operators.components import component_sizes


def _w(arcs):
    """Deterministic non-uniform weights to exercise the weighted paths."""
    return [1.0 + ((u * 7 + v * 3) % 5) for u, v in arcs]


GRAPHS = {
    "diamond": DIAMOND,
    "nine": NINE,
    "cycle4": CYCLE4,
    "complete5": COMPLETE5,
    "tree7": TREE7,
    "er30": er_graph(30, 0.1, seed=0),
    "er50": er_graph(50, 0.05, seed=1),
}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_pagerank_matches_oracle(spark, name):
    arcs = GRAPHS[name]
    w = _w(arcs)
    df = edge_df(spark, arcs, w)
    got = {r["vertex"]: r["rank"] for r in pagerank(df, tol=1e-9, max_iter=500).collect()}
    want = pagerank_oracle(
        [(u, v, x) for (u, v), x in zip(arcs, w)], tol=1e-9, max_iter=500
    )
    assert set(got) == set(want)
    gv = np.array([got[k] for k in sorted(got)])
    wv = np.array([want[k] for k in sorted(want)])
    np.testing.assert_allclose(gv, wv, rtol=1e-6, atol=1e-12)
    assert abs(gv.sum() - 1.0) < 1e-9  # probability mass conserved


@pytest.mark.parametrize("name", list(GRAPHS))
def test_cc_matches_oracle(spark, name):
    arcs = GRAPHS[name]
    df = edge_df(spark, arcs)
    got = {r["vertex"]: r["component"] for r in connected_components(df).collect()}
    want = cc_oracle([(u, v, 1.0) for u, v in arcs])
    assert got == want


def test_cc_two_components_and_renumber(spark):
    arcs = [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)]  # sizes 3 and 4
    df = edge_df(spark, arcs)
    comp = connected_components(df)
    ren = {r["vertex"]: r["component"] for r in renumber_by_size(comp).collect()}
    # larger component (10..13) gets id 0, smaller (0..2) id 1
    assert ren == {10: 0, 11: 0, 12: 0, 13: 0, 0: 1, 1: 1, 2: 1}
    sizes = {r["component"]: r["size"] for r in component_sizes(comp).collect()}
    assert sizes == {0: 3, 10: 4}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_lpa_matches_oracle(spark, name):
    arcs = GRAPHS[name]
    w = _w(arcs)
    df = edge_df(spark, arcs, w)
    got = {r["vertex"]: r["label"] for r in label_propagation(df, max_iter=8).collect()}
    want = lpa_oracle([(u, v, x) for (u, v), x in zip(arcs, w)], max_iter=8)
    assert got == want


@pytest.mark.parametrize("name", list(GRAPHS))
def test_triangles_match_oracle(spark, name):
    arcs = GRAPHS[name]
    df = edge_df(spark, arcs)
    per_want, total_want = triangles_oracle([(u, v, 1.0) for u, v in arcs])
    total_got = triangle_count_global(df).first()["n_triangles"]
    assert total_got == total_want
    per_got = {
        r["vertex"]: r["n_triangles"] for r in triangle_count_per_vertex(df).collect()
    }
    assert per_got == per_want


def test_triangles_complete5_exact(spark):
    df = edge_df(spark, COMPLETE5)
    assert triangle_count_global(df).first()["n_triangles"] == 10  # C(5,3)
    per = {r["vertex"]: r["n_triangles"] for r in triangle_count_per_vertex(df).collect()}
    assert per == {v: 6 for v in range(5)}  # C(4,2) each


def test_triangles_hot_vertex_star_bounded(spark):
    """Skew stress: a 10^5-leaf star (one celebrity vertex) plus one
    leaf-leaf closing edge. Degree orientation must send every edge
    leaf→center, so the center's *out*-degree is 0 and the wedge
    self-join stays O(Σ outdeg²) = O(n), never the quadratic
    center-fan-out join a naive formulation would plan."""
    from webgraph_algo_rs_spark.operators.triangles import _oriented
    from webgraph_algo_rs_spark.plans.superstep import SRC, DST

    n = 100_000
    star = spark.range(1, n + 1).select(
        F.col("id").alias(SRC), F.lit(0).alias(DST), F.lit(1.0).alias("weight")
    )
    closing = spark.createDataFrame([(1, 2, 1.0)], f"{SRC} long, {DST} long, weight double")
    edges = star.unionByName(closing)

    oriented = _oriented(edges)
    max_outdeg = oriented.groupBy("u").count().agg(F.max("count")).first()[0]
    assert max_outdeg <= 2  # leaves carry ≤2 out-edges; the center carries 0

    assert triangle_count_global(edges).first()["n_triangles"] == 1
    per = triangle_count_per_vertex(edges)
    assert per.filter(F.col("n_triangles") > 0).count() == 3  # the one triangle's corners
    assert per.filter("vertex in (0, 1, 2)").agg(F.sum("n_triangles")).first()[0] == 3


def test_bfs_fixtures(spark):
    # both physical paths (local-CSR kernel and distributed anti-join
    # loop) must satisfy the same oracle
    for lm in (True, False):
        # diamond from 0: dists [0,1,2,2] (reference breadth_first/seq.rs:36-52)
        df = edge_df(spark, DIAMOND)
        got = {
            r["vertex"]: r["distance"]
            for r in bfs_distances(df, [0], local_mode=lm).collect()
        }
        assert got == {0: 0, 1: 1, 2: 2, 3: 2}, lm
        # nine graph vs brute-force oracle from every vertex (test_bfv.rs)
        nine = edge_df(spark, NINE)
        multi = bfs_distances(nine, list(range(9)), local_mode=lm)
        rows = multi.collect()
        for s in range(9):
            want = bfs_oracle([(u, v, 1.0) for u, v in NINE], s)
            got = {r["vertex"]: r["distance"] for r in rows if r["source"] == s}
            assert got == want, (lm, s)


def test_bfs_unbounded_depth_beyond_legacy_cap(spark):
    """BFS must run until the frontier empties, not to a hidden level
    cap: an earlier default of max_depth=10_000 silently truncated a
    >10k-eccentricity flood, which would make ExactSumSweep certify a
    wrong diameter on a long path graph. An explicit cap must still
    truncate (it is the documented opt-in)."""
    n = 12_001  # path 0-1-...-12000: ecc(0) = 12000 > the old cap
    arcs = [(i, i + 1) for i in range(n - 1)]
    df = edge_df(spark, arcs)
    got = bfs_distances(df, [0], local_mode=True)
    assert got.count() == n
    far = got.orderBy(F.desc("distance")).first()
    assert (far["vertex"], far["distance"]) == (n - 1, n - 1 - 0)
    capped = bfs_distances(df, [0], max_depth=100, local_mode=True)
    assert capped.count() == 101


def test_topsort_and_acyclicity(spark):
    dag = edge_df(spark, DAG4)
    layers = {r["vertex"]: r["layer"] for r in kahn_layers(dag).collect()}
    assert layers == {0: 0, 1: 1, 2: 1, 3: 2}
    assert is_acyclic(dag)
    assert is_acyclic(edge_df(spark, TREE7))
    assert not is_acyclic(edge_df(spark, CYCLE4))
    assert not is_acyclic(edge_df(spark, [(0, 0)]))  # self-loop = cycle


def test_degrees(spark):
    df = edge_df(spark, DIAMOND, [2.0, 1.0, 1.0, 3.0])
    got = {r["vertex"]: r for r in degrees(df).collect()}
    assert got[1]["out_degree"] == 2 and got[1]["in_degree"] == 1
    assert got[1]["out_weight"] == 4.0 and got[1]["in_weight"] == 2.0
    assert got[3]["out_degree"] == 0 and got[3]["in_degree"] == 1


@pytest.mark.parametrize("key", ["wga.localKernelMaxEdges", "wga.bucketizeMinEdges"])
def test_malformed_size_conf_raises(spark, key):
    """A size-dispatch conf that is not an integer literal raises a
    ``ValueError`` naming the key and the value; it never silently
    falls back to the default (``1e6`` used to mean 32M edges)."""
    from tests.conftest import DIAMOND, edge_df
    from webgraph_algo_rs_spark.operators import pagerank

    spark.conf.set(key, "1e6")
    try:
        with pytest.raises(ValueError, match=re.escape(key) + ".*'1e6'"):
            pagerank(edge_df(spark, DIAMOND))
    finally:
        spark.conf.unset(key)


def test_auto_bucketize_above_threshold(spark):
    """Size dispatch, upper end: above ``wga.bucketizeMinEdges`` a
    defaulted call must auto-route to the persist-chain big-graph path
    (the blocked localCheckpoint loop OOMed a 157M-edge CC run — its
    state copies outlive the ContextCleaner's GC race) and stay
    value-identical. Forbidding the local kernel (``local_mode=False``)
    must not keep a big graph off that tier either; only an explicit
    ``local_mode=True`` wins."""
    import pytest as _pytest

    from tests.conftest import NINE, edge_df
    from webgraph_algo_rs_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
    )

    edges = edge_df(spark, NINE)
    calls = {
        "cc": (connected_components, "component"),
        "lpa": (label_propagation, "label"),
        "pr": (pagerank, "rank"),
    }
    variants = ({}, {"local_mode": False})
    got = {}
    spark.conf.set("wga.bucketizeMinEdges", "1")
    try:
        for name, (fn, col) in calls.items():
            for i, kw in enumerate(variants):
                st: dict = {}
                rows = fn(edges, stats=st, **kw).collect()
                got[name, i] = {r.vertex: r[col] for r in rows}
                assert st["tier"] == "persist-chain", (name, kw)
        forced_local = {
            r.vertex: r.component
            for r in connected_components(edges, local_mode=True).collect()
        }
    finally:
        spark.conf.unset("wga.bucketizeMinEdges")
    want_cc = {r.vertex: r.component for r in connected_components(edges).collect()}
    want_lp = {r.vertex: r.label for r in label_propagation(edges).collect()}
    want_pr = {r.vertex: r.rank for r in pagerank(edges).collect()}
    assert forced_local == want_cc
    for i in range(len(variants)):
        assert got["cc", i] == want_cc
        assert got["lpa", i] == want_lp
        pr = got["pr", i]
        assert set(pr) == set(want_pr)
        for v in pr:
            assert pr[v] == _pytest.approx(want_pr[v], abs=1e-12)


def test_deep_chain_bounded_plans(spark):
    """Deep-loop operators must not build one union child per level:
    on a long chain (depth ≫ UnionAccumulator.fold_every) the returned
    plan must stay shallow — BFS's accumulator is the per-level
    checkpointed visited set (plan depth 1), Kahn folds every 64 layers.
    Regression for the VERDICT-r1 Catalyst-analysis blow-up."""
    from webgraph_algo_rs_spark.operators import bfs_distances, kahn_layers

    n = 150
    chain = edge_df(spark, [(i, i + 1) for i in range(n)])

    bfs = bfs_distances(chain, [0], local_mode=False)
    got = {r.vertex: r.distance for r in bfs.collect()}
    assert got == {i: i for i in range(n + 1)}
    # checkpointed accumulator → the result plan is a bare RDD scan
    assert "Union" not in bfs._jdf.queryExecution().executedPlan().toString()

    layers = kahn_layers(chain)
    got = {r.vertex: r.layer for r in layers.collect()}
    assert got == {i: i for i in range(n + 1)}
    plan = layers._jdf.queryExecution().executedPlan().toString()
    # 151 layers folded every 64 → far fewer union children than layers
    assert plan.count("Scan ExistingRDD") <= 70, plan.count("Scan ExistingRDD")


def test_bfs_predecessors_and_filter(spark):
    """Pred output (reference ParFairPred events) and the node-filter
    contract (visits/mod.rs:81-89): every non-source pred is a valid
    tree parent (distance +1 along an existing arc), and a filtered
    visit equals BFS over the induced subgraph."""
    from webgraph_algo_rs_spark.operators import bfs_distances

    edges = edge_df(spark, NINE)
    for lm in (True, False):
        rows = bfs_distances(edges, [1], predecessors=True, local_mode=lm).collect()
        dist = {r.vertex: r.distance for r in rows}
        arcs = {(u, v) for u, v in NINE}
        for r in rows:
            if r.vertex == 1:
                assert r.pred is None and r.distance == 0
            else:
                assert (r.pred, r.vertex) in arcs, (r.pred, r.vertex)
                assert dist[r.pred] == r.distance - 1, r
                # min-claim determinism: pred is the smallest valid parent
                valid = {
                    u
                    for (u, v) in arcs
                    if v == r.vertex and dist.get(u) == r.distance - 1
                }
                assert r.pred == min(valid)

        # global vertex filter: visit only {1, 2, 3, 4} → distances equal
        # BFS over the induced subgraph
        allowed = spark.createDataFrame(
            [(v,) for v in (1, 2, 3, 4)], "vertex bigint"
        )
        got = {
            r.vertex: r.distance
            for r in bfs_distances(
                edges, [1], vertex_filter=allowed, local_mode=lm
            ).collect()
        }
        induced = [
            (u, v) for u, v in NINE if u in (1, 2, 3, 4) and v in (1, 2, 3, 4)
        ]
        want = {
            r.vertex: r.distance
            for r in bfs_distances(
                edge_df(spark, induced), [1], local_mode=lm
            ).collect()
        }
        assert got == want and set(got) <= {1, 2, 3, 4}, lm

        # a source excluded by the filter is not visited at all
        assert (
            bfs_distances(
                edges, [5], vertex_filter=allowed, local_mode=lm
            ).count()
            == 0
        ), lm

    # per-source (source, vertex) filter — the SCC same-color sweep
    # shape: local kernel must agree with the distributed loop exactly,
    # including a flood whose seed is outside its own filter (6)
    psf = spark.createDataFrame(
        [(1, v) for v in (1, 2, 3, 4)] + [(5, 5), (5, 6), (6, 0)],
        "source bigint, vertex bigint",
    )
    out = {}
    for lm in (True, False):
        out[lm] = {
            (r.source, r.vertex, r.distance)
            for r in bfs_distances(
                edges, [1, 5, 6], vertex_filter=psf, local_mode=lm
            ).collect()
        }
    assert out[True] == out[False]
    assert not any(s == 6 for (s, _, _) in out[True])


def test_pagerank_blocked_deep_iteration_stats_safe(spark):
    """Catalyst copies estimated sizeInBytes into localCheckpoint'd
    LogicalRDDs (see plans/superstep.materialize docstring): loops whose
    superstep self-joins state can compound the estimate until stats
    arithmetic overflows (~iteration 25 in HyperBall before its
    StatsResetter fix). Each superstep of the blocked tier self-joins
    the previous materialized state — pin that 160 supersteps survive."""
    df = edge_df(spark, CYCLE4, [1.0] * len(CYCLE4))
    s: dict = {}
    out = pagerank(df, tol=0.0, max_iter=160, stats=s, local_mode=False).collect()
    assert s["iterations"] == 160
    assert abs(sum(r["rank"] for r in out) - 1.0) < 1e-9


def test_local_csr_matches_distributed(spark):
    """The partition-local CSR kernels (plans/local_csr.py — the north
    star's "vectorized Arrow/pandas UDFs over partition-local CSR
    blocks") must agree with the distributed superstep loops on every
    fixture graph: CC/LPA exactly (integer min exchange / integer-weight
    majority votes), PageRank to summation-order noise, and the
    iteration counters must match so the stop rules are proven
    identical, not just the fixpoints."""
    for name, arcs in GRAPHS.items():
        w = _w(arcs)
        df = edge_df(spark, arcs, w)

        s_loc, s_dist = {}, {}
        loc = {
            r["vertex"]: r["rank"]
            for r in pagerank(
                df, tol=1e-8, max_iter=300, stats=s_loc, local_mode=True
            ).collect()
        }
        dist = {
            r["vertex"]: r["rank"]
            for r in pagerank(
                df, tol=1e-8, max_iter=300, stats=s_dist, local_mode=False
            ).collect()
        }
        assert s_loc["iterations"] == s_dist["iterations"], name
        lv = np.array([loc[k] for k in sorted(loc)])
        dv = np.array([dist[k] for k in sorted(dist)])
        np.testing.assert_allclose(lv, dv, rtol=1e-12, atol=1e-15)

        s_loc, s_dist = {}, {}
        loc = {
            r["vertex"]: r["component"]
            for r in connected_components(df, stats=s_loc, local_mode=True).collect()
        }
        dist = {
            r["vertex"]: r["component"]
            for r in connected_components(df, stats=s_dist, local_mode=False).collect()
        }
        assert loc == dist, name
        assert s_loc["iterations"] == s_dist["iterations"], name

        for cap in (8, 3):  # fixpoint, then an oscillation cap
            s_loc, s_dist = {}, {}
            loc = {
                r["vertex"]: r["label"]
                for r in label_propagation(
                    df, max_iter=cap, stats=s_loc, local_mode=True
                ).collect()
            }
            dist = {
                r["vertex"]: r["label"]
                for r in label_propagation(
                    df, max_iter=cap, stats=s_dist, local_mode=False
                ).collect()
            }
            assert loc == dist, (name, cap)
            assert s_loc["iterations"] == s_dist["iterations"], (name, cap)

        tri_loc = {
            r["vertex"]: r["n_triangles"]
            for r in triangle_count_per_vertex(df, local_mode=True).collect()
        }
        tri_dist = {
            r["vertex"]: r["n_triangles"]
            for r in triangle_count_per_vertex(df, local_mode=False).collect()
        }
        assert tri_loc == tri_dist, name
        assert (
            triangle_count_global(df, local_mode=True).first()[0]
            == triangle_count_global(df, local_mode=False).first()[0]
        ), name


def test_triangles_kernel_wedge_chunking_exact(spark):
    """The wedge expansion chunks on a cumulative-out-degree budget;
    a budget of 1 forces one chunk per edge (every boundary case) and
    must still produce the exact counts."""
    import pandas as pd

    from webgraph_algo_rs_spark.plans.local_csr import triangles_kernel

    arcs = GRAPHS["complete5"]
    per_want, total_want = triangles_oracle([(u, v, 1.0) for u, v in arcs])
    pdf = pd.DataFrame(
        {"src_vertex": [a for a, _ in arcs], "dst_vertex": [b for _, b in arcs]}
    )
    out = triangles_kernel(max_wedge_chunk=1)(pdf)
    got = dict(zip(out["vertex"], out["n_triangles"]))
    assert {v: got.get(v, 0) for v in per_want} == per_want
    assert sum(got.values()) == 3 * total_want


def test_local_csr_auto_dispatch_threshold(spark):
    """Auto mode takes the local kernel only under the size threshold:
    flooring ``wga.localKernelMaxEdges`` to 0 must route the same call
    to the distributed loop, with identical results and stop iteration
    (both paths end materialized, so dispatch is observable through the
    stats counters and value agreement, not the final plan string)."""
    df = edge_df(spark, NINE)
    from webgraph_algo_rs_spark.plans.local_csr import LOCAL_KERNEL_MAX_EDGES_CONF

    s_auto, s_dist = {}, {}
    ranks_auto = pagerank(df, stats=s_auto)
    spark.conf.set(LOCAL_KERNEL_MAX_EDGES_CONF, "0")
    try:
        ranks_dist = pagerank(df, stats=s_dist)
    finally:
        spark.conf.unset(LOCAL_KERNEL_MAX_EDGES_CONF)
    assert s_auto["iterations"] == s_dist["iterations"]
    a = {r.vertex: r.rank for r in ranks_auto.collect()}
    b = {r.vertex: r.rank for r in ranks_dist.collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)
