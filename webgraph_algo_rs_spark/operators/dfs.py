"""Sequential depth-first visit (SURVEY §2 T4) — the reference's
``SeqPred`` DFS (`/root/reference/src/algo/visits/depth_first/seq.rs:121-514`,
recurse loop `:319-382`) re-expressed as a *local-kernel-only* operator.

DFS is the one traversal with no scalable data-parallel form: the visit
order at every step depends on the entire visited-set history, which is
why SURVEY §7 excluded it and re-expressed its consumers (Tarjan →
trim+coloring SCC, top-sort → Kahn peel, acyclicity → peel emptiness).
Those re-expressions remain the scale path. What the engine was still
missing is the *visit itself* — pre/post timestamps and the DFS forest,
which users of the reference consume directly. That is genuinely
per-partition imperative logic, exactly what the size-dispatched
local-CSR strategy (`plans/local_csr.py`) exists for: the whole visit
runs inside ONE ``mapInPandas`` task over the edge list and the
sources, like the reference runs it on one core. The shared size
dispatch (``local_dispatch``) decides: an empty edge table or one of at
most ``wga.localKernelMaxEdges`` rows runs (``local_mode=True``: any
size); a larger graph raises rather than pretend to scale (the
distributed consumers above are the answer there).

Semantics mirrored from the reference:

* successors are enumerated in ascending id order (BV adjacency order);
* ``visit_all`` (``sources=None``) starts a new tree at every
  still-unvisited vertex in ascending id order (`seq.rs` visit_all);
* ``pre``/``post`` are global counters across the whole forest (Tarjan's
  timestamps); ``depth`` is the visit-path length from the root;
* with explicit ``sources``, trees are rooted in the given order and
  only reached vertices appear (the interrupted-visit contract).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from webgraph_algo_rs_spark.plans.local_csr import (
    local_dispatch,
    local_kernel_threshold,
    run_local_kernel,
    tagged,
)


def dfs_forest(
    edges: DataFrame,
    sources: list[int] | None = None,
    local_mode: bool | None = None,
) -> DataFrame:
    """Depth-first forest: ``(vertex, root, parent, depth, pre, post)``.

    ``parent`` is NULL for roots. ``sources=None`` visits every vertex
    (ascending); an explicit list roots trees in list order and returns
    only reached vertices. ``local_mode=True`` runs any size; ``False``
    raises (there is deliberately no distributed DFS — see module
    docstring).
    """
    if local_mode is False:
        raise ValueError(
            "dfs_forest has no distributed form (inherently sequential, "
            "SURVEY §7); use the re-expressed consumers (scc/topsort/"
            "components) at scale, or local_mode=True/None for graphs "
            "under wga.localKernelMaxEdges"
        )
    spark = edges.sparkSession
    tier, _ = local_dispatch(edges, local_mode)
    if tier is None:
        raise ValueError(
            "graph exceeds wga.localKernelMaxEdges "
            f"({local_kernel_threshold(spark)}); sequential DFS is single-node "
            "by nature — raise the threshold (or pass local_mode=True) only "
            "if one executor can hold the edge list"
        )
    roots = None
    if sources is not None:
        roots = spark.createDataFrame(
            [(int(s), i) for i, s in enumerate(sources)], "source bigint, pos bigint"
        )
    return run_local_kernel(
        tagged(edges, None if roots is None else (roots, "source", "pos")),
        "vertex bigint, root bigint, parent bigint, depth bigint, pre bigint, post bigint",
        _dfs_kernel(visit_all=sources is None),
    )


def _dfs_kernel(visit_all: bool):
    """The visit over the ``tagged`` frame: role 0 an edge, role 1 a
    source ``(a=source, b=list position)``."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        role = pdf["role"].to_numpy(np.int8)
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        e_src, e_dst = a[role == 0], b[role == 0]
        src_list = a[role == 1][np.argsort(b[role == 1], kind="stable")]
        verts = np.unique(np.concatenate([e_src, e_dst, src_list]))
        nv = len(verts)
        src_i = np.searchsorted(verts, e_src)
        dst_i = np.searchsorted(verts, e_dst)
        # CSR with successors ascending (np.unique-based ids are
        # order-isomorphic to the original ids, so ascending index ≡
        # ascending id — the reference's adjacency order)
        order = np.lexsort((dst_i, src_i))
        indices = dst_i[order]
        indptr = np.zeros(nv + 1, dtype=np.int64)
        np.cumsum(np.bincount(src_i, minlength=nv), out=indptr[1:])

        roots = range(nv) if visit_all else np.searchsorted(verts, src_list)
        visited = np.zeros(nv, dtype=bool)
        pre = np.full(nv, -1, dtype=np.int64)
        post = np.full(nv, -1, dtype=np.int64)
        parent = np.full(nv, -1, dtype=np.int64)
        depth = np.zeros(nv, dtype=np.int64)
        root_of = np.full(nv, -1, dtype=np.int64)
        pre_c = 0
        post_c = 0
        ind = indices  # local alias for the hot loop
        for r in roots:
            if visited[r]:
                continue
            visited[r] = True
            pre[r] = pre_c
            pre_c += 1
            root_of[r] = r
            depth[r] = 0
            stack_v = [r]
            stack_p = [int(indptr[r])]
            while stack_v:
                v = stack_v[-1]
                p = stack_p[-1]
                end = indptr[v + 1]
                pushed = False
                while p < end:
                    w = int(ind[p])
                    p += 1
                    if not visited[w]:
                        stack_p[-1] = p
                        visited[w] = True
                        pre[w] = pre_c
                        pre_c += 1
                        parent[w] = v
                        root_of[w] = root_of[v]
                        depth[w] = len(stack_v)
                        stack_v.append(w)
                        stack_p.append(int(indptr[w]))
                        pushed = True
                        break
                if not pushed:
                    post[v] = post_c
                    post_c += 1
                    stack_v.pop()
                    stack_p.pop()
        reached = visited
        pr = parent[reached]
        out = pd.DataFrame(
            {
                "vertex": verts[reached],
                "root": verts[root_of[reached]],
                "depth": depth[reached],
                "pre": pre[reached],
                "post": post[reached],
            }
        )
        pc = pd.array(verts[np.maximum(pr, 0)], dtype="Int64")
        pc[pr < 0] = pd.NA
        out["parent"] = pc
        return out[["vertex", "root", "parent", "depth", "pre", "post"]]

    return kernel
