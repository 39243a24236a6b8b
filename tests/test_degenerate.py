"""Degenerate-input contracts on the empty graph, a self-loops-only graph
and one 50-vertex cycle.

* The fixpoint operators (PageRank, CC, LPA) on each physical tier: every
  tier must return the same schema and values (PageRank to 1e-12) and
  write the shared stats keys.
* Every ExactSumSweep export: schema, the sentinel row (or no rows) on
  the empty graph, eccentricity 0 everywhere on self-loops, the cycle's
  eccentricities (25 undirected, 49 forward and backward), and witnesses
  that attain their value — vertex 0, the min id, at output level All.
"""

import pytest

from tests.conftest import edge_df
from webgraph_algo_rs_spark.operators import (
    connected_components,
    diameter_directed,
    diameter_undirected,
    directed_eccentricities,
    eccentricities,
    forward_eccentricities,
    label_propagation,
    pagerank,
    radius_diameter,
    radius_diameter_directed,
    radius_directed,
    radius_undirected,
)

GRAPHS = {
    "empty": [],
    "self_loops": [(0, 0), (1, 1), (2, 2)],
    "cycle50": [(i, (i + 1) % 50) for i in range(50)],
}

# tier -> the call options that select it
TIERS = {
    "local-csr": {"local_mode": True},
    "blocked": {"local_mode": False},
    "persist-chain": {"bucketize_edges": True},
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
    for tier, opts in TIERS.items():
        stats: dict = {}
        df = fn(edges, stats=stats, **opts)
        assert df.schema.simpleString() == f"struct<vertex:bigint,{col}:{typ}>"
        results[tier] = {r["vertex"]: r[col] for r in df.collect()}
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
