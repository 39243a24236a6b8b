"""Partition-local CSR kernels for small graphs / subgraphs.

The north star prescribes "iterative PageRank … as DataFrame joins plus
vectorized Arrow/pandas UDFs over partition-local CSR blocks — never
per-row Python". The distributed superstep paths (``operators/*.py``)
are the DataFrame-join half; this module is the CSR half: when a graph
(or an extracted subgraph) fits one executor's memory, the whole
iterative algorithm runs inside ONE ``mapInPandas`` task over the edge
list — numpy ``bincount`` / ``minimum.at`` gather-scatter per
superstep, zero shuffles, zero per-superstep driver barriers.

This mirrors the classic engine dichotomy (broadcast-hash vs
shuffle-hash join): the *logical* operator is identical, the planner
picks the physical strategy by size. This module owns both halves of
that boundary for every operator with a local kernel (PageRank, CC,
LPA, triangles, BFS, HyperBall, DFS): :func:`local_dispatch` is the
one size decision and :func:`run_local_kernel` the one single-task
hand-off. The threshold is deliberately conservative (default 8M edges ≈ 128 MB of int64 arrays — far below
one executor's memory, and ~2 orders of magnitude under what a 4 GiB
worker could actually hold) so that anything near cluster scale takes
the distributed path; at 100 TB the local path is only ever reached by
per-component / per-SCC sub-problems, where it converts thousands of
driver-coordinated supersteps into one task.

Value parity with the distributed paths:

* CC / LPA are exact — min-label exchange and weight-majority votes
  are integer/comparison arithmetic with no ordering sensitivity
  (integer-weight tallies accumulate in int64, matching Spark's
  ``sum(long)`` exactness).
* PageRank agrees to ~1e-15 relative: the same double-precision
  formula evaluated in a different summation order (numpy ``bincount``
  vs Catalyst hash-aggregate) — far inside the driver gate's 9-sig-fig
  rounding and the test suite's 1e-12 tolerances.

Reference analog: the whole reference engine is this local mode
(single-node arrays, `/root/reference/src/algo/*`); our contribution is
choosing it *per subgraph* under a distributed planner.
"""

from __future__ import annotations

from functools import reduce
from itertools import count
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_algo_rs_spark.plans.superstep import SRC, DST, W, materialize

LOCAL_KERNEL_MAX_EDGES_CONF = "wga.localKernelMaxEdges"
LOCAL_KERNEL_MAX_EDGES_DEFAULT = 8_000_000
PERSIST_CHAIN_MIN_EDGES_CONF = "wga.bucketizeMinEdges"
PERSIST_CHAIN_MIN_EDGES_DEFAULT = 32_000_000


def _int_conf(spark, key: str, default: int) -> int:
    """Session conf ``key`` as an int (``default`` when unset); a value
    that is not an integer literal raises ``ValueError`` naming both."""
    value = spark.conf.get(key, None)
    if value is None:
        return default
    try:
        return int(value)
    except ValueError:
        raise ValueError(f"conf {key} must be an integer, got {value!r}") from None


def local_kernel_threshold(spark) -> int:
    """Max edge count eligible for the local-CSR path (session conf
    ``wga.localKernelMaxEdges``; set 0 to disable auto-dispatch)."""
    return _int_conf(spark, LOCAL_KERNEL_MAX_EDGES_CONF, LOCAL_KERNEL_MAX_EDGES_DEFAULT)


def persist_chain_min_edges(spark) -> int:
    """Edge count above which auto-dispatch upgrades an iterative
    operator to its big-graph persist-chain tier (session conf
    ``wga.bucketizeMinEdges``): the mid-size blocked-localCheckpoint
    loop retains state copies until the ContextCleaner's weak-ref GC
    frees them, which loses the race on 10⁸-edge graphs (measured OOM at
    157M edges / 28g heap, round 4). The size dispatch is local-CSR ≤
    ``wga.localKernelMaxEdges`` < blocked supersteps ≤ this <
    persist-chain (edges pinned in the block manager)."""
    return _int_conf(
        spark, PERSIST_CHAIN_MIN_EDGES_CONF, PERSIST_CHAIN_MIN_EDGES_DEFAULT
    )


def probe_edge_count(edges: DataFrame, threshold: int) -> int:
    """Edge count capped at ``threshold + 1``: deciding "is this graph
    local-kernel small?" must never cost a full pass over a 100 TB edge
    table, so the probe scans only until ``threshold + 1`` rows exist
    (``limit`` short-circuits the scan). Returns the true count when it
    is ≤ threshold, else some value > threshold."""
    return edges.limit(threshold + 1).count()


def local_dispatch(
    edges: DataFrame,
    local_mode: bool | None,
    cap: int | None = None,
    auto: bool = True,
    probe_to: int = 0,
) -> tuple[str | None, int]:
    """The local-vs-not decision of every operator with a local kernel:
    ``(tier, n)`` with tier ``"empty"`` (no edge rows), ``"local-csr"``
    (run the kernel through :func:`run_local_kernel`) or ``None`` (the
    operator's distributed plan).

    ``local_mode=True`` forces the kernel and ``False`` forbids it;
    ``None`` picks it when ``auto`` holds, ``0 < cap`` and the edge count
    is ≤ ``cap`` (default ``wga.localKernelMaxEdges``). One capped
    :func:`probe_edge_count` decides: ``n`` is exact up to ``max(cap,
    probe_to)`` when auto applies, else up to ``probe_to`` (the caller's
    own next size threshold); with ``local_mode=True`` it only tells
    empty from not."""
    if cap is None:
        cap = local_kernel_threshold(edges.sparkSession)
    auto = local_mode is None and auto and cap > 0
    n = probe_edge_count(edges, 0 if local_mode else max(cap if auto else 0, probe_to))
    if n == 0:
        return "empty", 0
    if local_mode or (auto and n <= cap):
        return "local-csr", n
    return None, n


def tagged(edges: DataFrame, *inputs: tuple[DataFrame, str, str] | None) -> DataFrame:
    """One ``(role, a, b)`` frame for a kernel with more inputs than the
    edges: role 0 is an edge ``(src, dst)``; role ``i`` is a row of the
    ``i``-th extra input ``(frame, a column, b column)`` (``None`` keeps
    its role number and adds no rows). The union lets
    :func:`run_local_kernel` hand everything to the one task without a
    driver collect."""
    specs = [(edges, SRC, DST), *inputs]
    parts = [
        spec[0].select(
            F.lit(role).cast("tinyint").alias("role"),
            F.col(spec[1]).cast("long").alias("a"),
            F.col(spec[2]).cast("long").alias("b"),
        )
        for role, spec in enumerate(specs)
        if spec is not None
    ]
    return reduce(DataFrame.unionByName, parts)


def run_local_kernel(
    frame: DataFrame,
    schema: str,
    kernel: Callable[[pd.DataFrame], pd.DataFrame | Iterator[pd.DataFrame]],
) -> DataFrame:
    """Run ``kernel`` over the WHOLE ``frame`` inside one executor task.

    ``coalesce(1)`` merges partitions without a shuffle; ``mapInPandas``
    streams them Arrow-batched into a single python worker, which
    concatenates the non-empty batches and calls the kernel once (never
    on empty input). The kernel returns one frame or yields several. The
    result is eagerly materialized (one Spark job), so callers can
    harvest stats columns with a free ``first()`` and re-read it without
    re-running the kernel.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        out = kernel(pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0])
        if isinstance(out, pd.DataFrame):
            yield out
        else:
            yield from out

    return materialize(frame.coalesce(1).mapInPandas(gen, schema=schema))


def _vertex_index(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``(vertices_sorted, src_idx, dst_idx)`` — dense 0..nv-1 ids."""
    verts = np.unique(np.concatenate([src, dst]))
    return verts, np.searchsorted(verts, src), np.searchsorted(verts, dst)


def _csr(src_i: np.ndarray, dst_i: np.ndarray, nv: int) -> tuple[np.ndarray, np.ndarray]:
    """``(indptr, indices)`` adjacency over dense ids 0..nv-1."""
    order = np.argsort(src_i, kind="stable")
    indices = dst_i[order]
    indptr = np.zeros(nv + 1, dtype=np.int64)
    np.cumsum(np.bincount(src_i, minlength=nv), out=indptr[1:])
    return indptr, indices


def _gather(
    indptr: np.ndarray, indices: np.ndarray, frontier: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """All out-neighbors of ``frontier``: ``(neigh_idx, rep_pos)`` where
    ``rep_pos[i]`` is the position in ``frontier`` that discovered
    ``neigh_idx[i]`` (vectorized CSR range expansion, no Python loop)."""
    starts = indptr[frontier]
    cnts = indptr[frontier + 1] - starts
    tot = int(cnts.sum())
    if tot == 0:
        e = np.empty(0, dtype=np.int64)
        return e, e
    rep_pos = np.repeat(np.arange(len(frontier), dtype=np.int64), cnts)
    offs = np.arange(tot, dtype=np.int64) - np.repeat(np.cumsum(cnts) - cnts, cnts)
    neigh = indices[np.repeat(starts, cnts) + offs]
    return neigh, rep_pos


def pagerank_kernel(
    damping: float, tol: float, max_iter: int
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """CSR PageRank: the exact formula of ``operators/pagerank.py``
    (teleport + d·(contrib + dangling_mass/n), L1-residual stop) with
    ``bincount`` as the scatter/gather-combine."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[SRC].to_numpy(np.int64)
        dst = pdf[DST].to_numpy(np.int64)
        w = pdf[W].to_numpy(np.float64)
        verts, src_i, dst_i = _vertex_index(src, dst)
        nv = len(verts)
        out_w = np.bincount(src_i, weights=w, minlength=nv)
        nw = w / out_w[src_i]
        dangling = out_w == 0.0
        n = float(nv)
        rank = np.full(nv, 1.0 / n)
        residual, iters = float("inf"), 0
        for it in range(max_iter):
            dm = float(rank[dangling].sum())
            contrib = np.bincount(dst_i, weights=rank[src_i] * nw, minlength=nv)
            new = (1.0 - damping) / n + damping * (contrib + dm / n)
            residual = float(np.abs(new - rank).sum())
            rank = new
            iters = it + 1
            if residual < tol:
                break
        return pd.DataFrame(
            {
                "vertex": verts,
                "rank": rank,
                "iterations": np.int32(iters),
                "residual": np.float64(residual),
            }
        )

    return kernel


def cc_kernel(max_iter: int) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """CSR hash-min connected components on the symmetrized edge list
    (exact: integer min exchange, same fixpoint count as the
    distributed loop — the final zero-change superstep is counted)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[SRC].to_numpy(np.int64)
        dst = pdf[DST].to_numpy(np.int64)
        verts, src_i, dst_i = _vertex_index(src, dst)
        s = np.concatenate([src_i, dst_i])
        d = np.concatenate([dst_i, src_i])
        labels = verts.copy()
        iters, changed = 0, -1
        for it in range(max_iter):
            new = labels.copy()
            np.minimum.at(new, d, labels[s])
            changed = int((new < labels).sum())
            labels = new
            iters = it + 1
            if changed == 0:
                break
        return pd.DataFrame(
            {
                "vertex": verts,
                "component": labels,
                "iterations": np.int32(iters),
                "changed": np.int64(changed),
            }
        )

    return kernel


_EMIT_ROWS = 500_000  # buffered kernel output rows per Arrow batch


def bfs_kernel(
    max_depth: int | None, predecessors: bool, has_filter: bool, per_source: bool
) -> Callable[[pd.DataFrame], Iterator[pd.DataFrame]]:
    """Local-CSR form of ``operators.bfs.bfs_distances``: every flood
    runs level-synchronously inside the one kernel task — one Spark job
    per call instead of one join+agg+localCheckpoint barrier *per BFS
    level* (the directed-ESS profile: ~90-level floods × ~0.5 s/level ×
    dozens of sweep rounds). Yields buffered row batches.

    Input: the :func:`tagged` frame — role 0 an edge ``(a=src, b=dst)``,
    role 1 a source ``(a=s)``, role 2 a filter row, per-flood ``(a=source,
    b=vertex)`` or global ``(b=vertex)``. Semantics mirror the
    distributed loop exactly: filter applied at discovery time
    *including sources*, unreached vertices absent, ``pred`` = minimum
    discovering predecessor. ``max_depth=None`` = until the frontier
    empties (a finite cap silently truncates)."""

    def _depths():
        return count(1) if max_depth is None else range(1, max_depth + 1)

    def kernel(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        role = pdf["role"].to_numpy(np.int8)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        em = role == 0
        e_src, e_dst = a[em], b[em]
        srcs = np.unique(a[role == 1])
        fm = role == 2
        fa, fv = a[fm], b[fm]

        domain = [e_src, e_dst, srcs]
        if has_filter:
            domain.append(fv)
        verts = np.unique(np.concatenate(domain)) if domain else np.empty(0, np.int64)
        nv = len(verts)
        indptr, indices = _csr(
            np.searchsorted(verts, e_src), np.searchsorted(verts, e_dst), nv
        )

        allowed = None
        if has_filter and not per_source:
            allowed = np.zeros(nv, dtype=bool)
            allowed[np.searchsorted(verts, np.unique(fv))] = True
        if per_source:
            fo = np.argsort(fa, kind="stable")
            fa_s, fv_s = fa[fo], fv[fo]

        buf: list[pd.DataFrame] = []
        buffered = 0

        def emit(source_id, ids, dists, preds):
            nonlocal buffered
            cols = {
                "source": np.full(len(ids), source_id, dtype=np.int64),
                "vertex": ids,
                "distance": dists,
            }
            out = pd.DataFrame(cols)
            if predecessors:
                pc = pd.array(preds, dtype="Int64")
                pc[preds < 0] = pd.NA
                out["pred"] = pc
            buf.append(out)
            buffered += len(ids)

        def flush():
            nonlocal buf, buffered
            if buf:
                merged = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
                buf, buffered = [], 0
                return merged
            return None

        for s in srcs:
            if per_source:
                lo = np.searchsorted(fa_s, s, "left")
                hi = np.searchsorted(fa_s, s, "right")
                members = np.unique(fv_s[lo:hi])
                nm = len(members)
                p = int(np.searchsorted(members, s))
                if p >= nm or members[p] != s:
                    continue  # seed outside its own filter → dropped
                mi = np.searchsorted(verts, members)  # local → global idx
                dist = np.full(nm, -1, dtype=np.int64)
                pred = np.full(nm, -1, dtype=np.int64)
                dist[p] = 0
                frontier = np.array([p], dtype=np.int64)
                for depth in _depths():
                    neigh, rep = _gather(indptr, indices, mi[frontier])
                    if neigh.size == 0:
                        break
                    nid = verts[neigh]
                    pos = np.minimum(np.searchsorted(members, nid), nm - 1)
                    m = (members[pos] == nid) & (dist[pos] < 0)
                    cand, repv = pos[m], frontier[rep[m]]
                    if cand.size == 0:
                        break
                    # min-predecessor claim: members sorted ascending ⇒
                    # min local idx ≡ min original id (the distributed
                    # F.min("pv") rule)
                    o = np.lexsort((repv, cand))
                    cs, rs = cand[o], repv[o]
                    newv, fi = np.unique(cs, return_index=True)
                    dist[newv] = depth
                    pred[newv] = rs[fi]
                    frontier = newv
                reached = dist >= 0
                pr = pred[reached]
                emit(
                    s,
                    members[reached],
                    dist[reached],
                    np.where(pr >= 0, members[np.maximum(pr, 0)], -1),
                )
            else:
                si = int(np.searchsorted(verts, s))
                if allowed is not None and not allowed[si]:
                    continue
                dist = np.full(nv, -1, dtype=np.int64)
                pred = np.full(nv, -1, dtype=np.int64)
                dist[si] = 0
                frontier = np.array([si], dtype=np.int64)
                for depth in _depths():
                    neigh, rep = _gather(indptr, indices, frontier)
                    if neigh.size == 0:
                        break
                    m = dist[neigh] < 0
                    if allowed is not None:
                        m &= allowed[neigh]
                    cand, repv = neigh[m], frontier[rep[m]]
                    if cand.size == 0:
                        break
                    o = np.lexsort((repv, cand))
                    cs, rs = cand[o], repv[o]
                    newv, fi = np.unique(cs, return_index=True)
                    dist[newv] = depth
                    pred[newv] = rs[fi]
                    frontier = newv
                reached = dist >= 0
                pr = pred[reached]
                emit(
                    s,
                    verts[reached],
                    dist[reached],
                    np.where(pr >= 0, verts[np.maximum(pr, 0)], -1),
                )
            if buffered >= _EMIT_ROWS:
                out = flush()
                if out is not None:
                    yield out
        out = flush()
        if out is not None:
            yield out

    return kernel


def hyperball_kernel(
    params, max_iter: int, rel_threshold: float | None, discount, weighted: bool
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Local-CSR HyperBall (see ``operators/hyperball.py`` for the
    distributed plan and the reference contract): the whole systolic
    max-merge loop runs inside the one kernel task over a ``(nv, m)``
    uint8 register matrix — grouped ``np.maximum.reduceat`` per superstep
    on the delta-frontier edge subset, zero shuffles.

    Bit-parity with the distributed loop: register content after
    max-merges is order-independent integers, estimates and the
    per-vertex delta accumulators are the same scalar float ops in the
    same per-superstep order, and the stop rules (no register changed /
    relative NF increment) read the same integer/ratio signals — so
    iteration counts and all output columns agree exactly (pinned by
    ``tests/test_hyperball.py::test_hyperball_local_matches_distributed``).

    Input: the :func:`tagged` frame — role 0 an edge, role 1 a node
    weight ``(a=vertex, b=weight)``; ``weighted`` says a weight frame was
    given (missing vertices weigh 1). Returns the centrality frame plus
    bookkeeping columns ``iterations`` (every row) and
    ``neighbourhood_function`` (non-null on one row only — the
    monotone-clamped neighbourhood function).
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        role = pdf["role"].to_numpy(np.int8)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        em = role == 0
        e_src_raw, e_dst_raw = a[em], b[em]
        # vertex set from the RAW edges (a self-loop-only vertex still
        # has ball {v}); the message edges drop self-loops (no-op for
        # max-merge) — same as the distributed arcs distinct+filter
        verts = np.unique(np.concatenate([e_src_raw, e_dst_raw]))
        nv = len(verts)
        keep = e_src_raw != e_dst_raw
        src_i = np.searchsorted(verts, e_src_raw[keep])
        dst_i = np.searchsorted(verts, e_dst_raw[keep])

        m = params.m
        if weighted:
            wmap = np.ones(nv, dtype=np.int64)
            wv = np.searchsorted(verts, a[role == 1])
            inb = (wv < nv) & (verts[np.minimum(wv, nv - 1)] == a[role == 1])
            wmap[wv[inb]] = np.maximum(b[role == 1][inb], 0)
            regs = params.weighted(verts, wmap)
        else:
            regs = params.singletons(verts)
        est = params.estimate(regs)
        sum_d = np.zeros(nv)
        sum_inv_d = np.zeros(nv)
        sum_disc = np.zeros(nv)
        changed_mask = np.ones(nv, dtype=bool)
        nf = [float(est.sum())]
        it = 0
        # group chunk: bounds the (edges-in-chunk, m) gather to roughly
        # GCH average-degree rows of m bytes
        GCH = 65_536
        for it in range(1, max_iter + 1):
            sel = changed_mask[dst_i]
            s, d = src_i[sel], dst_i[sel]
            if s.size == 0:
                touched = np.empty(0, dtype=np.int64)
            else:
                o = np.argsort(s, kind="stable")
                s, d = s[o], d[o]
                heads = np.flatnonzero(
                    np.concatenate(([True], s[1:] != s[:-1]))
                )
                touched = s[heads]
                msg = np.empty((len(heads), m), dtype=np.uint8)
                for gi in range(0, len(heads), GCH):
                    lo = heads[gi]
                    hi = heads[gi + GCH] if gi + GCH < len(heads) else len(s)
                    msg[gi : gi + GCH] = np.maximum.reduceat(
                        regs[d[lo:hi]], heads[gi : gi + GCH] - lo, axis=0
                    )
            t = float(it)
            if touched.size:
                old = regs[touched]
                new = np.maximum(old, msg)
                diff = (new != old).any(axis=1)
                est_t = params.estimate(new)
                delta = np.maximum(est_t - est[touched], 0.0)
                sum_d[touched] += delta * t
                sum_inv_d[touched] += delta / t
                if discount is not None:
                    sum_disc[touched] += delta * float(discount(it))
                regs[touched] = new
                est[touched] = est_t
                changed_mask = np.zeros(nv, dtype=bool)
                changed_mask[touched[diff]] = True
                n_changed = int(diff.sum())
            else:
                changed_mask = np.zeros(nv, dtype=bool)
                n_changed = 0
            nf.append(max(float(est.sum()), nf[-1]))
            if n_changed == 0:
                break
            if (
                rel_threshold is not None
                and it > 3
                and nf[-2] > 0
                and nf[-1] / nf[-2] < 1.0 + rel_threshold
            ):
                break
        count2 = est * est
        out = {
            "vertex": verts,
            "reachable": est,
            "sum_distances": sum_d,
            "closeness": np.where(sum_d == 0.0, 0.0, 1.0 / np.where(sum_d == 0.0, 1.0, sum_d)),
            "harmonic": sum_inv_d,
            "lin": np.where(sum_d == 0.0, 1.0, count2 / np.where(sum_d == 0.0, 1.0, sum_d)),
            "nieminen": count2 - sum_d,
        }
        if discount is not None:
            out["discounted"] = sum_disc
        pdf_out = pd.DataFrame(out)
        pdf_out["iterations"] = np.int32(it)
        nf_col = [None] * nv
        nf_col[0] = nf
        pdf_out["neighbourhood_function"] = nf_col
        return pdf_out

    return kernel


def lpa_kernel(max_iter: int) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """CSR synchronous weight-majority label propagation (min-label
    tie-break) on the symmetrized edge list. Integer weights tally in
    int64 — bit-exact vs Spark's ``sum(long)``; float weights tally in
    float64 like Catalyst's double sum."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[SRC].to_numpy(np.int64)
        dst = pdf[DST].to_numpy(np.int64)
        w_raw = pdf[W].to_numpy()
        exact = np.issubdtype(w_raw.dtype, np.integer)
        w1 = w_raw.astype(np.int64 if exact else np.float64)
        verts, src_i, dst_i = _vertex_index(src, dst)
        nv = np.int64(len(verts))
        s = np.concatenate([src_i, dst_i])
        d = np.concatenate([dst_i, src_i])
        w = np.concatenate([w1, w1])
        labels = np.arange(nv, dtype=np.int64)  # dense label = vertex index
        iters, changed = 0, -1
        for it in range(max_iter):
            # per-(dst, label) weight tally: one flat key, one bincount
            keys = d * nv + labels[s]
            uk, inv = np.unique(keys, return_inverse=True)
            sums = np.zeros(len(uk), dtype=w.dtype)
            np.add.at(sums, inv, w)
            kd, kl = uk // nv, uk % nv
            # per-dst argmax by (weight desc, label asc): lexsort is
            # stable and keyed last-to-first, so order within each dst
            # is exactly the majority rule's preference order
            order = np.lexsort((kl, -sums, kd))
            kd_sorted = kd[order]
            first = np.unique(kd_sorted, return_index=True)[1]
            new = labels.copy()
            new[kd_sorted[first]] = kl[order][first]
            changed = int((new != labels).sum())
            labels = new
            iters = it + 1
            if changed == 0:
                break
        return pd.DataFrame(
            {
                "vertex": verts,
                "label": verts[labels],
                "iterations": np.int32(iters),
                "changed": np.int64(changed),
            }
        )

    return kernel


def triangles_kernel(
    max_wedge_chunk: int = 32_000_000,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """CSR exact per-vertex triangle counts — the exact semantics of
    ``operators/triangles.py`` (canonical ``a<b`` dedupe, self-loops
    dropped, orient by ``(degree, id)``, zero-filled over every vertex
    of the raw edge table; reference parity `src/main.rs` E5 consumers).

    The wedge expansion — the only super-linear step — is processed in
    chunks of ≤ ``max_wedge_chunk`` wedges (boundaries found on the
    cumulative out-degree sum), so peak memory stays bounded no matter
    how skewed the wedge distribution is; counts accumulate via
    ``bincount`` per chunk. Integer-exact, so bit-identical to the
    distributed join plan by construction.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[SRC].to_numpy(np.int64)
        dst = pdf[DST].to_numpy(np.int64)
        verts, src_i, dst_i = _vertex_index(src, dst)
        nv = len(verts)
        counts = np.zeros(nv, dtype=np.int64)
        mask = src_i != dst_i
        if mask.any():
            a0 = np.minimum(src_i[mask], dst_i[mask])
            b0 = np.maximum(src_i[mask], dst_i[mask])
            keys = np.unique(a0 * np.int64(nv) + b0)
            a, b = keys // nv, keys % nv
            deg = np.bincount(a, minlength=nv) + np.bincount(b, minlength=nv)
            # a < b always holds, so the (deg, id) tie-break reduces to
            # "a first on equal degrees" — same rule as _oriented()
            lower_first = deg[a] <= deg[b]
            u = np.where(lower_first, a, b)
            v = np.where(lower_first, b, a)
            indptr, indices = _csr(u, v, nv)
            ekeys = np.sort(u * np.int64(nv) + v)
            # chunk boundaries on the wedge budget: edge i contributes
            # out_deg(v_i) wedges
            wedge_cum = np.cumsum(indptr[v + 1] - indptr[v])
            s = 0
            while s < len(u):
                budget = (wedge_cum[s - 1] if s else 0) + max_wedge_chunk
                e = max(int(np.searchsorted(wedge_cum, budget, side="right")), s + 1)
                uu, vv = u[s:e], v[s:e]
                w_, rep = _gather(indptr, indices, vv)
                cu = uu[rep]
                wk = cu * np.int64(nv) + w_
                pos = np.searchsorted(ekeys, wk)
                pos_c = np.minimum(pos, len(ekeys) - 1)
                closed = (pos < len(ekeys)) & (ekeys[pos_c] == wk)
                counts += np.bincount(cu[closed], minlength=nv)
                counts += np.bincount(vv[rep][closed], minlength=nv)
                counts += np.bincount(w_[closed], minlength=nv)
                s = e
        return pd.DataFrame({"vertex": verts, "n_triangles": counts})

    return kernel
