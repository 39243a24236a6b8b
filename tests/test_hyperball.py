"""HyperBall + HLL kernel tests, mirroring the reference's strategy:

* statistical accuracy trials for the HLL kernel — ≥90% of seeded
  trials within 2·RSD (`/root/reference/tests/test_hyperloglog_counter.rs:10-52`);
* exact-oracle comparison on hand-made fixtures — with m ≫ n the HLL
  linear-counting regime is near-exact, so HyperBall's per-vertex
  reachable/sum-of-distance/harmonic values must match the brute-force
  all-pairs BFS oracle tightly (reference golden-file analog,
  `tests/test_hyperball.rs:167-262`);
* lockstep across physical plans — the frontier-local switch, the
  local-CSR kernel and the distributed tiers give identical outputs
  (the reference's parallel-vs-sequential lockstep,
  `src/algo/hyperball/hyperball_impl.rs:1215-1307`).
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import DIAMOND, NINE, edge_df, er_graph
from tests.oracles import hyperball_oracle

from webgraph_algo_rs_spark.functions.hll import HllParams, log2m_for_rsd, rsd
from webgraph_algo_rs_spark.operators.hyperball import (
    hyperball,
    neighbourhood_function,
)


# ------------------------------------------------------------- HLL kernel


def test_hll_param_math():
    assert log2m_for_rsd(rsd(8)) == 8
    assert rsd(6) > rsd(8) > rsd(10)
    p = HllParams(log2m=6)
    assert p.m == 64 and abs(p.alpha - 0.709) < 1e-12


@pytest.mark.parametrize("log2m", [6, 8])
@pytest.mark.parametrize("n", [100, 1000])
def test_hll_accuracy_trials(log2m, n):
    """≥90% of trials within 2·RSD (reference test_hyperloglog_counter.rs)."""
    p = HllParams(log2m=log2m)
    trials, ok = 40, 0
    rng = np.random.default_rng(42)
    for t in range(trials):
        elements = rng.integers(0, 2**62, size=n)
        regs = p.empty(1)
        for chunk in np.array_split(elements, max(1, n // 256)):
            tmp = p.empty(len(chunk))
            p.add(tmp, chunk)
            regs[0] = np.maximum.reduce(np.vstack([regs, tmp]))
        est = p.estimate(regs)[0]
        if abs(est - n) <= 2 * p.rsd * n:
            ok += 1
    assert ok >= 0.9 * trials


def test_hll_merge_is_union():
    p = HllParams(log2m=8)
    a_el = np.arange(0, 500)
    b_el = np.arange(300, 900)
    ra, rb, rab = p.empty(1), p.empty(1), p.empty(1)
    for el, r in ((a_el, ra), (b_el, rb), (np.arange(0, 900), rab)):
        tmp = p.empty(len(el))
        p.add(tmp, el)
        r[0] = np.maximum.reduce(tmp)
    merged = HllParams.merge(ra, rb)
    assert np.array_equal(merged, rab)


def test_hll_small_range_near_exact():
    """n ≪ m → linear counting: relative error well under 1 RSD."""
    p = HllParams(log2m=10)
    for n in (1, 5, 20, 50):
        tmp = p.empty(n)
        p.add(tmp, np.arange(n))
        regs = np.maximum.reduce(tmp)[None, :]
        assert abs(p.estimate(regs)[0] - n) <= max(1.0, 0.05 * n)


# -------------------------------------------------------------- HyperBall


@pytest.mark.parametrize("arcs", [DIAMOND, NINE], ids=["diamond", "nine"])
def test_hyperball_matches_exact_oracle(spark, arcs):
    edges = edge_df(spark, arcs)
    oracle = hyperball_oracle([(u, v, 1.0) for u, v in arcs])
    stats: dict = {}
    rows = hyperball(edges, log2m=10, stats=stats).collect()
    assert len(rows) == len(oracle)
    for r in rows:
        reach, sum_d, harm = oracle[r.vertex]
        assert r.reachable == pytest.approx(reach, rel=0.05, abs=0.6)
        assert r.sum_distances == pytest.approx(sum_d, rel=0.08, abs=1.0)
        assert r.harmonic == pytest.approx(harm, rel=0.08, abs=0.6)
        # closed-form identities (reference getters :667-725)
        if r.sum_distances > 0:
            assert r.closeness == pytest.approx(1.0 / r.sum_distances)
            assert r.lin == pytest.approx(r.reachable**2 / r.sum_distances)
        assert r.nieminen == pytest.approx(r.reachable**2 - r.sum_distances)
    # iterations = graph's directed eccentricity bound
    assert 1 <= stats["iterations"] <= len(oracle)


def test_neighbourhood_function_monotone_and_converged(spark):
    edges = edge_df(spark, NINE)
    nf = neighbourhood_function(edges, log2m=10)
    assert all(b >= a for a, b in zip(nf, nf[1:]))
    # N(0) = n exactly in linear-counting regime (9 nodes, m=1024)
    assert nf[0] == pytest.approx(9.0, abs=0.5)
    # final value = total reachable pairs (incl. self)
    exact_total = sum(v[0] for v in hyperball_oracle(
        [(u, v, 1.0) for u, v in NINE]).values())
    assert nf[-1] == pytest.approx(exact_total, rel=0.05)


def test_hyperball_relative_threshold_stops_early(spark):
    arcs = er_graph(40, 0.08, seed=11)
    edges = edge_df(spark, arcs)
    full: dict = {}
    hyperball(edges, log2m=6, stats=full).count()
    early: dict = {}
    hyperball(edges, log2m=6, rel_threshold=0.5, stats=early).count()
    assert early["iterations"] <= full["iterations"]


def test_hyperball_discounted_centrality(spark):
    """discount f(t) = 1/t must reproduce the harmonic column exactly
    (reference discount registration hyperball_impl.rs:284-296)."""
    edges = edge_df(spark, DIAMOND)
    rows = hyperball(edges, log2m=10, discount=lambda t: 1.0 / t).collect()
    for r in rows:
        assert r.discounted == pytest.approx(r.harmonic)


def test_jenkins_hash_and_weighted_init(spark):
    """Jenkins hasher kernel sanity (distinct, well-spread, seed-
    sensitive) and the reference's weighted mode
    (hyperball_impl.rs:41-42,1150-1159): counter i seeded with weight_i
    distinct elements, so a weight-w node's initial reachable estimate
    is ~w."""
    import numpy as np
    from tests.conftest import edge_df
    from webgraph_algo_rs_spark.functions.hll import HllParams, jenkins64
    from webgraph_algo_rs_spark.operators import hyperball

    x = np.arange(100_000, dtype=np.int64)
    h42 = jenkins64(x, 42)
    assert len(np.unique(h42)) == len(x)  # injective on this range
    assert not np.array_equal(h42, jenkins64(x, 43))  # seed-sensitive
    # HLL accuracy holds under the jenkins hasher + reference sentinel
    p = HllParams(log2m=8, hasher="jenkins", n_upper=1_000_000)
    regs = p.empty(1)
    p.add_multi(regs, np.zeros(50_000, dtype=np.int64), x[:50_000])
    assert abs(float(p.estimate(regs)[0]) / 50_000 - 1) < 3 * p.rsd

    # weighted init: isolated-ish pair, weights 1000 and 1
    edges = edge_df(spark, [(0, 1)])
    w = spark.createDataFrame([(0, 1000), (1, 1)], "vertex bigint, weight int")
    got = {
        r["vertex"]: r["reachable"]
        for r in hyperball(edges, log2m=10, node_weights=w).collect()
    }
    # ball(0) after convergence = {0-elements} ∪ {1-elements} ≈ 1001
    assert abs(got[0] / 1001 - 1) < 0.15
    assert abs(got[1] / 1 - 1) < 0.35


def test_hyperball_local_mode_lockstep(spark, monkeypatch):
    """Local mode (collapsed-frontier broadcast, the reference's
    pre-local/local switch hyperball_impl.rs:795-835) must be a pure
    physical-plan change: forcing it from superstep 1
    (LOCAL_FRONTIER_FRAC=1.0) yields bit-identical centralities to the
    shuffled path (frac=0), and the stats record the local supersteps."""
    import importlib

    from tests.conftest import edge_df, er_graph
    from webgraph_algo_rs_spark.operators import hyperball

    # the package's `hyperball` function shadows the module attribute
    hb_module = importlib.import_module("webgraph_algo_rs_spark.operators.hyperball")

    arcs = er_graph(40, 0.08, seed=3)
    df = edge_df(spark, arcs)
    s_local, s_off = {}, {}
    monkeypatch.setattr(hb_module, "LOCAL_FRONTIER_FRAC", 1.0)
    local = {
        r["vertex"]: (r["reachable"], r["sum_distances"], r["harmonic"])
        for r in hyperball(df, log2m=6, stats=s_local, local_mode=False).collect()
    }
    monkeypatch.setattr(hb_module, "LOCAL_FRONTIER_FRAC", 0.0)
    off = {
        r["vertex"]: (r["reachable"], r["sum_distances"], r["harmonic"])
        for r in hyperball(df, log2m=6, stats=s_off, local_mode=False).collect()
    }
    assert local == off
    assert s_local["local_supersteps"] == s_local["iterations"]
    assert s_off["local_supersteps"] == 0

    # the absolute cap overrides the relative gate: even with every
    # superstep's frontier under frac=1.0, LOCAL_FRONTIER_MAX=0 must
    # keep the loop on the shuffled path (the 1e8-vertex guard — n/32
    # rows of m-byte sketches is not broadcastable) with identical
    # output
    s_cap: dict = {}
    monkeypatch.setattr(hb_module, "LOCAL_FRONTIER_FRAC", 1.0)
    monkeypatch.setattr(hb_module, "LOCAL_FRONTIER_MAX", 0)
    capped = {
        r["vertex"]: (r["reachable"], r["sum_distances"], r["harmonic"])
        for r in hyperball(df, log2m=6, stats=s_cap, local_mode=False).collect()
    }
    assert capped == off
    assert s_cap["local_supersteps"] == 0


def test_hyperball_local_matches_distributed(spark):
    """The partition-local CSR HyperBall kernel must be bit-identical
    to the distributed loop — registers are order-independent integer
    maxima and the delta accumulators replay the same scalar float ops
    in the same per-superstep order — including the iteration count and
    the weighted + discounted variants."""
    from tests.conftest import edge_df, er_graph
    from webgraph_algo_rs_spark.operators import hyperball

    arcs = er_graph(60, 0.06, seed=7)
    df = edge_df(spark, arcs)
    w = df.sparkSession.createDataFrame(
        [(v, 1 + (v % 4)) for v in range(60)], "vertex bigint, weight int"
    )
    # the {} case also runs the persist-chain tier: bucketizeMinEdges=1
    # sends the distributed call there
    for kwargs, conf in (
        ({}, {}),
        ({}, {"wga.bucketizeMinEdges": "1"}),
        ({"node_weights": w}, {}),
        ({"discount": lambda t: 1.0 / (t * t)}, {}),
        ({"rel_threshold": 0.2}, {}),
    ):
        s_loc, s_dist = {}, {}
        loc = {
            r["vertex"]: tuple(r)
            for r in hyperball(
                df, log2m=6, stats=s_loc, local_mode=True, **kwargs
            ).collect()
        }
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            dist = {
                r["vertex"]: tuple(r)
                for r in hyperball(
                    df, log2m=6, stats=s_dist, local_mode=False, **kwargs
                ).collect()
            }
        finally:
            for k in conf:
                spark.conf.unset(k)
        assert s_dist["tier"] == ("persist-chain" if conf else "blocked"), kwargs
        assert loc == dist, kwargs
        assert s_loc["iterations"] == s_dist["iterations"], kwargs
        nf_l = s_loc["neighbourhood_function"]
        nf_d = s_dist["neighbourhood_function"]
        assert len(nf_l) == len(nf_d)
        for x, y in zip(nf_l, nf_d):
            assert x == pytest.approx(y, rel=1e-12)


def test_hyperball_long_distributed_run_leaves_no_spill(spark, monkeypatch):
    """A distributed run of 24+ supersteps crosses the fixpoint driver's
    stats firewall (a parquet spill every 8 supersteps) three times:
    without it the size estimate of the self-joining state grows past
    any BigInteger and the driver stalls. The values must match the
    local kernel, and the run must delete its spill directories."""
    import os

    from tests.conftest import edge_df
    from webgraph_algo_rs_spark.operators import hyperball
    from webgraph_algo_rs_spark.plans.superstep import StatsResetter

    spills = []
    reset = StatsResetter.reset

    def spy(self, df):
        out = reset(self, df)
        spills.append(self._dir)
        return out

    monkeypatch.setattr(StatsResetter, "reset", spy)
    df = edge_df(spark, [(i, (i + 1) % 24) for i in range(24)])
    s_loc, s_dist = {}, {}
    loc, dist = (
        sorted(tuple(r) for r in hyperball(df, log2m=4, stats=s, local_mode=m).collect())
        for s, m in ((s_loc, True), (s_dist, False))
    )
    assert s_dist["tier"] == "blocked"
    assert s_dist["iterations"] == s_loc["iterations"] >= 24
    assert dist == loc
    assert len(spills) == s_dist["iterations"] // 8
    assert not any(os.path.exists(d) for d in spills)
