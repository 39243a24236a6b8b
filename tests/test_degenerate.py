"""Degenerate-input contracts of the fixpoint operators: PageRank, CC and
LPA on the empty graph, a self-loops-only graph and one 50-vertex cycle,
on each physical tier. Every tier must return the same schema and values
(PageRank to 1e-12) and write the shared stats keys."""

import pytest

from tests.conftest import edge_df
from webgraph_algo_rs_spark.operators import (
    connected_components,
    label_propagation,
    pagerank,
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
