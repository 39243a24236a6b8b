"""Degenerate-input contracts on the empty graph, a self-loops-only graph
and one 50-vertex cycle.

* The fixpoint operators (PageRank, CC, LPA) on each physical tier: every
  tier must return the same schema and values (PageRank to 1e-12) and
  write the shared stats keys.
* Every ExactSumSweep export: schema, the sentinel row (or no rows) on
  the empty graph, eccentricity 0 everywhere on self-loops, the cycle's
  eccentricities (25 undirected, 49 forward and backward), and witnesses
  that attain their value — vertex 0, the min id, at output level All.
* The structural operators (``degrees``, ``is_symmetric``,
  ``is_transpose_of``, ``renumber_by_size``): schema, row count and
  values; they have no tiers.
* The other operators with a local kernel (both triangle counts, BFS,
  DFS, HyperBall) with ``local_mode`` True and False, and None on the
  empty graph: schema, row count, the same rows on every tier and the
  recorded tier. On a non-empty graph this small, None runs the True
  leg's kernel on the same input; what None decides is checked by
  every operator leaving the local-CSR tier at the same
  ``wga.localKernelMaxEdges`` (HyperBall at m times it).
"""

import pytest

import webgraph_algo_rs_spark.operators.bfs as bfs_module
from tests.conftest import DIAMOND, edge_df
from webgraph_algo_rs_spark.operators import (
    bfs_distances,
    connected_components,
    diameter_directed,
    degrees,
    dfs_forest,
    diameter_undirected,
    directed_eccentricities,
    eccentricities,
    forward_eccentricities,
    hyperball,
    is_symmetric,
    is_transpose_of,
    label_propagation,
    pagerank,
    radius_diameter,
    radius_diameter_directed,
    radius_directed,
    radius_undirected,
    renumber_by_size,
    triangle_count_global,
    triangle_count_per_vertex,
)
from webgraph_algo_rs_spark.plans.local_csr import run_local_kernel

GRAPHS = {
    "empty": [],
    "self_loops": [(0, 0), (1, 1), (2, 2)],
    "cycle50": [(i, (i + 1) % 50) for i in range(50)],
}

# tier -> (call options, session conf) that select it: the edge count
# alone picks persist-chain, so its leg lowers the size threshold
TIERS = {
    "local-csr": ({"local_mode": True}, {}),
    "blocked": ({"local_mode": False}, {}),
    "persist-chain": ({}, {"wga.bucketizeMinEdges": "1"}),
}

OPS = {
    "pagerank": (pagerank, "rank", "double", "residual", {"n_vertices"}),
    "cc": (connected_components, "component", "bigint", "changed", {"bucketized"}),
    "lpa": (label_propagation, "label", "bigint", "changed", set()),
}


@pytest.mark.parametrize("graph", list(GRAPHS))
@pytest.mark.parametrize("op", list(OPS))
def test_fixpoint_degenerate_inputs_agree_across_tiers(spark, op, graph):
    fn, col, typ, metric, extra = OPS[op]
    arcs = GRAPHS[graph]
    edges = edge_df(spark, arcs)
    vertices = {v for arc in arcs for v in arc}
    results = {}
    for tier, (opts, conf) in TIERS.items():
        stats: dict = {}
        for key, value in conf.items():
            spark.conf.set(key, value)
        try:
            df = fn(edges, stats=stats, **opts)
            rows = df.collect()
        finally:
            for key in conf:
                spark.conf.unset(key)
        assert df.schema.simpleString() == f"struct<vertex:bigint,{col}:{typ}>"
        results[tier] = {r["vertex"]: r[col] for r in rows}
        assert set(results[tier]) == vertices, tier
        assert {"tier", "iterations", "wall_sec", metric} | extra <= set(stats), tier
        assert stats["tier"] == ("empty" if not arcs else tier)
        if not arcs:
            assert stats["iterations"] == 0 and stats[metric] == 0
        if op == "cc":
            assert stats["bucketized"] == (stats["tier"] == "persist-chain")
        if op == "pagerank":
            assert stats["n_vertices"] == len(vertices)

    want = results["local-csr"]
    for tier, got in results.items():
        if op == "pagerank":
            for v in want:
                assert got[v] == pytest.approx(want[v], abs=1e-12), (tier, v)
        else:
            assert got == want, tier
    if graph == "self_loops":
        # no vertex has a neighbour: ranks stay uniform, labels stay put
        if op == "pagerank":
            assert all(r == pytest.approx(1 / 3, abs=1e-12) for r in want.values())
        else:
            assert want == {v: v for v in vertices}
    if graph == "cycle50" and op == "cc":
        assert set(want.values()) == {0}


def _transpose(arcs):
    return [(v, u) for u, v in arcs]


@pytest.mark.parametrize("graph", list(GRAPHS))
def test_structural_ops_degenerate_inputs(spark, graph):
    arcs = GRAPHS[graph]
    edges = edge_df(spark, arcs)
    vertices = sorted({v for arc in arcs for v in arc})

    deg = degrees(edges)
    assert deg.schema.simpleString() == (
        "struct<vertex:bigint,out_degree:bigint,in_degree:bigint,"
        "out_weight:double,in_weight:double>"
    )
    # every vertex here has exactly one out-arc and one in-arc
    assert sorted(tuple(r) for r in deg.collect()) == [
        (v, 1, 1, 1.0, 1.0) for v in vertices
    ]

    # the empty graph and the self-loops are their own transpose
    symmetric = graph != "cycle50"
    assert is_symmetric(edges) is symmetric
    assert is_transpose_of(edges, edge_df(spark, _transpose(arcs))) is True
    assert is_transpose_of(edges, edges) is symmetric

    ranked = renumber_by_size(connected_components(edges))
    assert ranked.schema.simpleString() == "struct<vertex:bigint,component:bigint>"
    got = {r["vertex"]: r["component"] for r in ranked.collect()}
    # one component per self-loop vertex, ranked by min id on the size
    # tie; the cycle is one component
    assert got == {v: (0 if graph == "cycle50" else v) for v in vertices}


ECC_OPS = {
    "eccentricities": (eccentricities, ("ecc",), 25),
    "directed_eccentricities": (directed_eccentricities, ("ecc_f", "ecc_b"), 49),
    "forward_eccentricities": (forward_eccentricities, ("ecc_f",), 49),
}

RD = ("radius", "diameter", "radius_vertex", "diameter_vertex")
# name -> (call, result columns, cycle value, output level All?)
SCALAR_OPS = {
    "radius_diameter[all]": (radius_diameter, RD, 25, True),
    "radius_diameter[radius_diameter]": (
        lambda e: radius_diameter(e, output_level="radius_diameter"), RD, 25, False
    ),
    "radius_diameter_directed[all]": (
        lambda e: radius_diameter_directed(e, output_level="all"), RD, 49, True
    ),
    "radius_diameter_directed[radius_diameter]": (
        radius_diameter_directed, RD, 49, False
    ),
    "diameter_directed": (diameter_directed, ("diameter", "diameter_vertex"), 49, False),
    "radius_directed": (radius_directed, ("radius", "radius_vertex"), 49, False),
    "diameter_undirected": (
        diameter_undirected, ("diameter", "diameter_vertex"), 25, False
    ),
    "radius_undirected": (radius_undirected, ("radius", "radius_vertex"), 25, False),
}


def _struct(cols):
    return "struct<" + ",".join(f"{c}:bigint" for c in cols) + ">"


@pytest.mark.parametrize("graph", list(GRAPHS))
def test_ess_degenerate_inputs(spark, graph):
    arcs = GRAPHS[graph]
    edges = edge_df(spark, arcs)
    vertices = {v for arc in arcs for v in arc}
    for name, (fn, cols, cycle_ecc) in ECC_OPS.items():
        df = fn(edges)
        assert df.schema.simpleString() == _struct(("vertex", "component") + cols)
        rows = df.collect()
        assert {r["vertex"] for r in rows} == vertices, name
        value = 0 if graph == "self_loops" else cycle_ecc  # no rows if empty
        assert all(r[c] == value for r in rows for c in cols), name
    for name, (fn, cols, cycle_ecc, all_level) in SCALAR_OPS.items():
        df = fn(edges)
        assert df.schema.simpleString() == _struct(cols), name
        [row] = df.collect()
        values = [row[c] for c in cols if not c.endswith("_vertex")]
        witnesses = [row[c] for c in cols if c.endswith("_vertex")]
        if not arcs:
            assert values == [0] * len(values) and witnesses == [-1] * len(witnesses)
            continue
        value = 0 if graph == "self_loops" else cycle_ecc
        assert values == [value] * len(values), name
        # every vertex of these graphs has the same eccentricity, so a
        # witness attains its value exactly when it is a vertex
        assert set(witnesses) <= vertices, name
        if all_level:
            assert witnesses == [0] * len(witnesses), name


HB = (
    "vertex:bigint,reachable:double,sum_distances:double,closeness:double,"
    "harmonic:double,lin:double,nieminen:double"
)


def _rows(*counts):
    return dict(zip(GRAPHS, counts))


DFS = "vertex:bigint,root:bigint,parent:bigint,depth:bigint,pre:bigint,post:bigint"
# name -> (call, schema, row count per graph, tier per local_mode when
# the op records stats else None). BFS and HyperBall stop after 2
# levels / supersteps: on the cycle their distributed loops would
# otherwise run 50 barriers per call.
LOCAL_OPS = {
    "triangle_count_global": (
        triangle_count_global, "n_triangles:bigint", _rows(1, 1, 1),
        {True: "local-csr", False: "distributed-join"},
    ),
    "triangle_count_per_vertex": (
        triangle_count_per_vertex, "vertex:bigint,n_triangles:bigint", _rows(0, 3, 50),
        {True: "local-csr", False: "distributed-join"},
    ),
    "bfs_distances": (
        lambda e, **kw: bfs_distances(e, [0, 1], max_depth=2, predecessors=True, **kw),
        "source:bigint,vertex:bigint,distance:bigint,pred:bigint", _rows(2, 2, 6), None,
    ),
    "dfs_forest": (dfs_forest, DFS, _rows(0, 3, 50), None),
    "hyperball": (
        lambda e, **kw: hyperball(e, log2m=6, max_iter=2, **kw), HB, _rows(0, 3, 50),
        {True: "local-csr", False: "blocked"},
    ),
}


@pytest.mark.parametrize("graph", list(GRAPHS))
@pytest.mark.parametrize("op", list(LOCAL_OPS))
def test_local_kernel_ops_degenerate_inputs_agree_across_tiers(spark, op, graph):
    fn, schema, n_rows, tiers = LOCAL_OPS[op]
    arcs = GRAPHS[graph]
    edges = edge_df(spark, arcs)
    results, all_stats = {}, {}
    for mode in (True, False, None):
        if mode is None and arcs:
            continue  # the True leg's kernel; the switch test covers None
        stats: dict = {}
        kwargs = {"local_mode": mode} | ({} if tiers is None else {"stats": stats})
        if op == "dfs_forest" and mode is False:
            with pytest.raises(ValueError):
                fn(edges, **kwargs)
            continue
        df = fn(edges, **kwargs)
        assert df.schema.simpleString() == f"struct<{schema}>", mode
        rows = sorted(tuple(r) for r in df.collect())
        assert len(rows) == n_rows[graph], mode
        results[mode], all_stats[mode] = rows, stats
        if tiers is not None:
            assert stats["tier"] == ("empty" if not arcs else tiers[mode]), mode
    want = results[True]
    assert all(got == want for got in results.values())

    if op == "hyperball":
        for stats in all_stats.values():
            assert stats["iterations"] == all_stats[True]["iterations"]
            assert stats["neighbourhood_function"] == pytest.approx(
                all_stats[True]["neighbourhood_function"], rel=1e-12
            )
            if not arcs:
                assert stats["iterations"] == stats["local_supersteps"] == 0
                assert stats["neighbourhood_function"] == [0.0]
    if op.startswith("triangle"):
        assert all(r[-1] == 0 for r in want)  # no graph here has a triangle
    if op == "bfs_distances" and graph == "cycle50":
        dist = {(s, v): d for s, v, d, _ in want}
        assert dist == {(s, s + d): d for s in (0, 1) for d in range(3)}
    if op == "dfs_forest" and graph == "cycle50":
        # one tree rooted at 0 walking the cycle: depth = pre = v
        assert want == [
            (v, 0, None if v == 0 else v - 1, v, v, 49 - v) for v in range(50)
        ]


def _bfs_tier(edges, monkeypatch):
    calls = []
    monkeypatch.setattr(
        bfs_module,
        "run_local_kernel",
        lambda *args: calls.append(args) or run_local_kernel(*args),
    )
    bfs_distances(edges, [0], max_depth=1).collect()
    return "local-csr" if calls else "supersteps"


def _dfs_tier(edges, monkeypatch):
    try:
        dfs_forest(edges).collect()
    except ValueError:
        return "raises"
    return "local-csr"


def _stats_tier(fn, **kwargs):
    def tier(edges, monkeypatch):
        stats: dict = {}
        fn(edges, stats=stats, **kwargs).collect()
        return stats["tier"]

    return tier


# op -> (tier probe, tier of a graph over the cap); HyperBall's cap is
# the edge cap // m
SWITCH_OPS = {
    "pagerank": (_stats_tier(pagerank, max_iter=1), "blocked"),
    "cc": (_stats_tier(connected_components, max_iter=1), "blocked"),
    "lpa": (_stats_tier(label_propagation, max_iter=1), "blocked"),
    "triangles": (_stats_tier(triangle_count_per_vertex), "distributed-join"),
    "bfs": (_bfs_tier, "supersteps"),
    "dfs": (_dfs_tier, "raises"),
    "hyperball": (_stats_tier(hyperball, log2m=4, max_iter=1), "blocked"),
}


@pytest.mark.parametrize("op", list(SWITCH_OPS))
def test_every_local_kernel_op_switches_at_the_same_edge_count(spark, op, monkeypatch):
    tier_of, over_cap = SWITCH_OPS[op]
    edges = edge_df(spark, DIAMOND)
    n = len(DIAMOND) * (16 if op == "hyperball" else 1)
    try:
        got = []
        for cap in (n - 1, n):
            spark.conf.set("wga.localKernelMaxEdges", str(cap))
            got.append(tier_of(edges, monkeypatch))
    finally:
        spark.conf.unset("wga.localKernelMaxEdges")
    assert got == [over_cap, "local-csr"]
