"""SumSweep eccentricity tests — the reference's hand-made fixtures
(`/root/reference/tests/test_undir_sum_sweep.rs:14-89`,
`tests/test_exact_sum_sweep.rs:16-150`: path / star / lozenge cases)
plus random cross-checks vs the brute-force all-BFS oracle."""

from __future__ import annotations

import pytest

from tests.conftest import CYCLE4, edge_df, er_graph
from tests.oracles import eccentricity_oracle

from webgraph_algo_rs_spark.operators.sumsweep import eccentricities, radius_diameter

PATH5 = [(0, 1), (1, 2), (2, 3), (3, 4)]
STAR6 = [(0, i) for i in range(1, 6)]
LOZENGE = [(0, 1), (0, 2), (1, 3), (2, 3)]


def ecc_map(spark, arcs):
    return {
        r.vertex: r.ecc for r in eccentricities(edge_df(spark, arcs)).collect()
    }


def test_path_eccentricities(spark):
    assert ecc_map(spark, PATH5) == {0: 4, 1: 3, 2: 2, 3: 3, 4: 4}


def test_star_radius_diameter(spark):
    row = radius_diameter(edge_df(spark, STAR6)).first()
    assert (row.radius, row.diameter) == (1, 2)
    assert row.radius_vertex == 0  # center
    assert row.diameter_vertex == 1  # min-id leaf


def test_lozenge_and_cycle(spark):
    assert set(ecc_map(spark, LOZENGE).values()) == {2}
    assert set(ecc_map(spark, CYCLE4).values()) == {2}


def test_disconnected_components(spark):
    arcs = PATH5 + [(10, 11), (11, 12)]  # path of 5 + path of 3
    got = ecc_map(spark, arcs)
    assert got[10] == 2 and got[11] == 1 and got[12] == 2
    row = radius_diameter(edge_df(spark, arcs)).first()
    assert (row.radius, row.diameter) == (1, 4)
    assert row.radius_vertex == 11


@pytest.mark.parametrize("n,p,seed", [(20, 0.1, 5), (30, 0.08, 9)])
def test_random_cross_check(spark, n, p, seed):
    arcs = er_graph(n, p, seed)
    if not arcs:
        pytest.skip("empty graph")
    stats: dict = {}
    got = {
        r.vertex: r.ecc
        for r in eccentricities(edge_df(spark, arcs), stats=stats).collect()
    }
    want = eccentricity_oracle([(u, v, 1.0) for u, v in arcs])
    assert got == want
    # bound tightening must beat one-BFS-per-vertex
    assert stats["bfs_runs"] < len(want)


# ---------------------------------------------------------------- directed


def directed_ecc_oracle(arcs, n_vertices=None):
    """Brute-force directed forward/backward eccentricities (reachable-
    set semantics) via floyd-ish BFS per vertex."""
    import collections

    verts = sorted({v for a in arcs for v in a} | set(range(n_vertices or 0)))
    adj = collections.defaultdict(list)
    radj = collections.defaultdict(list)
    for u, v in arcs:
        if u != v:
            adj[u].append(v)
            radj[v].append(u)

    def ecc(v, nbrs):
        seen = {v: 0}
        q = collections.deque([v])
        while q:
            x = q.popleft()
            for y in nbrs[x]:
                if y not in seen:
                    seen[y] = seen[x] + 1
                    q.append(y)
        return max(seen.values())

    return {v: (ecc(v, adj), ecc(v, radj)) for v in verts}


def test_directed_path_fixture(spark):
    """Reference test_path (tests/test_exact_sum_sweep.rs:16-45)."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    arcs = [(0, 1), (1, 2), (2, 1), (1, 0)]
    ecc = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(edge_df(spark, arcs)).collect()
    }
    assert ecc[0] == (2, 2) and ecc[1] == (1, 1) and ecc[2] == (2, 2)
    row = radius_diameter_directed(edge_df(spark, arcs)).first()
    assert (row.radius, row.diameter, row.radius_vertex) == (1, 2, 1)
    assert row.diameter_vertex in (0, 2)


def test_directed_many_scc_fixture(spark):
    """Reference test_many_scc (tests/test_exact_sum_sweep.rs:47-78)."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed

    arcs = [(0, 1), (1, 0), (1, 2), (2, 1), (6, 2), (2, 6), (3, 4), (4, 3),
            (4, 5), (5, 4), (0, 3), (0, 4), (1, 5), (1, 4), (2, 5)]
    row = radius_diameter_directed(edge_df(spark, arcs)).first()
    assert (row.radius, row.radius_vertex) == (2, 1)


def test_directed_lozenge_and_radial_override(spark):
    """Reference test_lozenge + test_many_dir_path radial-set override
    (tests/test_exact_sum_sweep.rs:80-155)."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed

    loz = [(0, 1), (1, 0), (0, 2), (1, 3), (2, 3)]
    row = radius_diameter_directed(edge_df(spark, loz)).first()
    assert row.radius == 2 and row.radius_vertex in (0, 1)

    paths = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 8), (8, 9),
             (9, 10), (10, 18), (11, 12), (13, 14), (14, 15), (15, 16), (16, 17)]
    radial = spark.createDataFrame([(16,), (8,)], "vertex bigint")
    row = radius_diameter_directed(edge_df(spark, paths), radial=radial).first()
    assert (row.diameter, row.radius, row.radius_vertex) == (6, 1, 16)
    assert row.diameter_vertex in (5, 18)


def test_directed_cycles(spark):
    """Reference test_cycle (tests/test_exact_sum_sweep.rs:157-186)."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed

    for size in (3, 5, 7):
        arcs = [(i, (i + 1) % size) for i in range(size)]
        row = radius_diameter_directed(edge_df(spark, arcs)).first()
        assert (row.radius, row.diameter) == (size - 1, size - 1)


@pytest.mark.parametrize("n,p,seed", [(18, 0.1, 3), (25, 0.08, 11)])
def test_directed_random_cross_check(spark, n, p, seed):
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    arcs = er_graph(n, p, seed)
    if not arcs:
        pytest.skip("empty graph")
    got = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(edge_df(spark, arcs)).collect()
    }
    want = directed_ecc_oracle(arcs)
    want = {v: e for v, e in want.items() if v in got}  # edge-derived vertex set
    assert got == want


def test_directed_clique(spark):
    """Reference test_clique (tests/test_exact_sum_sweep.rs:187-229):
    every vertex of a K_n clique has forward eccentricity 1, and with a
    restricted radial set the radius vertex comes from that set."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    size = 12
    arcs = [(i, j) for i in range(size) for j in range(size) if i != j]
    df = edge_df(spark, arcs)
    ecc = {r.vertex: r.ecc_f for r in directed_eccentricities(df).collect()}
    assert ecc == {v: 1 for v in range(size)}
    radial = spark.createDataFrame([(3,), (7,), (9,)], "vertex bigint")
    row = radius_diameter_directed(df, radial=radial).first()
    assert (row.radius, row.diameter) == (1, 1)
    assert row.radius_vertex in (3, 7, 9)


def test_directed_sparse_and_empty_radial(spark):
    """Reference test_sparse (radius 1 at the 2-cycle {10,65} — the
    largest SCC) and test_no_radial_vertices (empty radial set: the
    reference returns a usize::MAX sentinel; our contract is radius 0
    with radius_vertex -1) — tests/test_exact_sum_sweep.rs:249-303."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed

    sparse = [(10, 32), (10, 65), (65, 10), (21, 44)]
    row = radius_diameter_directed(edge_df(spark, sparse)).first()
    assert (row.radius, row.radius_vertex) == (1, 10)

    empty_radial = spark.createDataFrame([], "vertex bigint")
    row = radius_diameter_directed(
        edge_df(spark, [(0, 1)]), radial=empty_radial
    ).first()
    assert (row.radius, row.radius_vertex) == (0, -1)
    # output level All agrees on the empty-radial sentinel
    row = radius_diameter_directed(
        edge_df(spark, [(0, 1)]), radial=empty_radial, output_level="all"
    ).first()
    assert (row.radius, row.radius_vertex) == (0, -1)


def test_radius_diameter_output_level_early_stop(spark):
    """Output level RadiusDiameter (reference output_level.rs:247-287)
    must certify the two scalars in FEWER rounds than All closes every
    vertex (find_missing_nodes counts differ per level,
    computer.rs:943-1014), while agreeing on the values. endgame_budget=0
    keeps the adaptive loop honest at fixture scale."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    paths = [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 8), (8, 9),
             (9, 10), (10, 18), (11, 12), (13, 14), (14, 15), (15, 16), (16, 17)]
    df = edge_df(spark, paths)
    s_all: dict = {}
    s_rd: dict = {}
    directed_eccentricities(df, endgame_budget=0, stats=s_all).count()
    row = radius_diameter_directed(df, endgame_budget=0, stats=s_rd).first()
    assert (row.radius, row.diameter) == (4, 6)
    assert s_rd["output_level"] == "radius_diameter"
    # RadiusDiameter's missing set is a subset of All's, so it can never
    # need MORE rounds; on a 19-vertex fixture both may hit the floor
    # (the utility-driven chooser converges All in minimal rounds too),
    # so assert <= here — the strict separation is a scale property,
    # evidenced by the cnr-2000 slow test (test_bvgraph.py).
    assert s_rd["rounds"] <= s_all["rounds"]
    # the early-stop witnesses provably attain the certified values
    ecc = {
        r.vertex: r.ecc_f
        for r in directed_eccentricities(df).collect()
    }
    assert ecc[row.diameter_vertex] == row.diameter
    assert ecc[row.radius_vertex] == row.radius


def test_dag_dp_spark_matches_driver(spark):
    """The distributed layered condensation DP (dag_collect_limit
    exceeded → _dag_dp_spark) must agree with the serial driver DP it
    guards — the scale fallback for uk-2005-class DAGs that cannot be
    collect()ed."""
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    arcs = er_graph(22, 0.09, 7)
    df = edge_df(spark, arcs)
    base = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(df, endgame_budget=0).collect()
    }
    distributed = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(
            df, endgame_budget=0, dag_collect_limit=0
        ).collect()
    }
    assert base == distributed


def test_pivot_path_matches_endgame(spark):
    """The adaptive pivot-rule path (endgame disabled) and the all-open
    endgame flood must agree — keeps the bound-tightening machinery
    exercised at test scale where the endgame would otherwise always
    trigger."""
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    arcs = er_graph(20, 0.1, 5)
    df = edge_df(spark, arcs)
    stats_piv: dict = {}
    via_pivots = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(
            df, endgame_budget=0, stats=stats_piv
        ).collect()
    }
    via_endgame = {
        r.vertex: (r.ecc_f, r.ecc_b)
        for r in directed_eccentricities(df).collect()
    }
    assert via_pivots == via_endgame
    assert stats_piv["rounds"] > 1  # the adaptive loop actually iterated

    und = {
        r.vertex: r.ecc
        for r in eccentricities(df, endgame_budget=0).collect()
    }
    und_end = {r.vertex: r.ecc for r in eccentricities(df).collect()}
    assert und == und_end


@pytest.mark.parametrize(
    "arcs_name", ["PATH5", "STAR6", "LOZENGE", "random", "disconnected"]
)
def test_undirected_radius_diameter_fast_level(spark, arcs_name):
    """Undirected output level RadiusDiameter (the reference's early-stop
    level, `output_level.rs:290-451`) certifies the same two scalars as
    the All level, in no more bound-tightening rounds, and its witnesses
    attain the certified values."""
    arcs = {
        "PATH5": PATH5,
        "STAR6": STAR6,
        "LOZENGE": LOZENGE,
        "random": er_graph(30, 0.08, 9),
        "disconnected": PATH5 + [(10, 11), (11, 12)],
    }[arcs_name]
    df = edge_df(spark, arcs)
    s_all: dict = {}
    s_fast: dict = {}
    want = radius_diameter(df, stats=s_all).first()
    got = radius_diameter(df, stats=s_fast, output_level="radius_diameter").first()
    assert (got.radius, got.diameter) == (want.radius, want.diameter)
    assert s_fast["output_level"] == "radius_diameter"
    assert s_fast["rounds"] <= s_all["rounds"]
    ecc = {r.vertex: r.ecc for r in eccentricities(df).collect()}
    assert ecc[got.radius_vertex] == got.radius
    assert ecc[got.diameter_vertex] == got.diameter


# ------------------------------------------------ single-scalar levels


def test_scalar_levels_fixtures(spark):
    """Diameter/Radius/AllForward output levels on the reference's
    hand-made fixtures (`output_level.rs:66-243,290-451`): each level
    must certify the same scalar the All level computes, at no more
    rounds."""
    from webgraph_algo_rs_spark.operators import (
        diameter_directed,
        diameter_undirected,
        forward_eccentricities,
        radius_directed,
        radius_undirected,
    )

    # undirected path / star
    for arcs, want_r, want_d in [(PATH5, 2, 4), (STAR6, 1, 2)]:
        edges = edge_df(spark, arcs)
        assert diameter_undirected(edges).first().diameter == want_d
        assert radius_undirected(edges).first().radius == want_r
    # directed cycle: radius == diameter == size-1
    arcs = [(i, (i + 1) % 5) for i in range(5)]
    edges = edge_df(spark, arcs)
    assert diameter_directed(edges).first().diameter == 4
    assert radius_directed(edges).first().radius == 4
    fe = {
        r.vertex: r.ecc_f for r in forward_eccentricities(edges).collect()
    }
    assert fe == {i: 4 for i in range(5)}


@pytest.mark.parametrize("n,p,seed", [(18, 0.1, 3), (22, 0.12, 7)])
def test_scalar_levels_random_cross_check(spark, n, p, seed):
    """The single-scalar and AllForward levels must agree with the
    closed-everything All level on seeded ER digraphs, and their
    witnesses must attain the certified value."""
    from webgraph_algo_rs_spark.operators import (
        diameter_directed,
        diameter_undirected,
        forward_eccentricities,
        radius_directed,
        radius_diameter,
        radius_diameter_directed,
        radius_undirected,
    )
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    arcs = er_graph(n, p, seed)
    if not arcs:
        pytest.skip("empty graph")
    edges = edge_df(spark, arcs)
    full = radius_diameter_directed(edges, output_level="all").first()
    d = diameter_directed(edges).first()
    r = radius_directed(edges).first()
    assert d.diameter == full.diameter
    assert r.radius == full.radius
    ecc_rows = directed_eccentricities(edges).collect()
    eccf = {row.vertex: row.ecc_f for row in ecc_rows}
    eccb = {row.vertex: row.ecc_b for row in ecc_rows}
    # the diameter witness attains the value in the forward or the
    # backward sense (diameter = max ecc_f = max ecc_b; the certifying
    # side picks the witness, computer.rs:641-644,703-706)
    assert d.diameter in (
        eccf.get(d.diameter_vertex), eccb.get(d.diameter_vertex)
    )
    assert eccf[r.radius_vertex] == r.radius
    fe = {
        row.vertex: row.ecc_f
        for row in forward_eccentricities(edges).collect()
    }
    assert fe == eccf
    ufull = radius_diameter(edges).first()
    assert diameter_undirected(edges).first().diameter == ufull.diameter
    assert radius_undirected(edges).first().radius == ufull.radius


def test_directed_all_level_forwards_loop_arguments(spark):
    """radius_diameter_directed at output level All runs the same loop
    as directed_eccentricities with the caller's arguments: with the
    endgame disabled both take the same number of rounds, and the
    result row is the one the default budget gives."""
    from webgraph_algo_rs_spark.operators import radius_diameter_directed
    from webgraph_algo_rs_spark.operators.sumsweep import directed_eccentricities

    df = edge_df(spark, er_graph(20, 0.1, 5))
    s1: dict = {}
    s2: dict = {}
    row = radius_diameter_directed(
        df, output_level="all", endgame_budget=0, stats=s1
    ).first()
    directed_eccentricities(df, endgame_budget=0, stats=s2).count()
    assert s2["rounds"] > 1
    assert s1["rounds"] == s2["rounds"]
    assert row == radius_diameter_directed(df, output_level="all").first()
