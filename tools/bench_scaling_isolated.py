"""Isolated-executor scaling: the N vs 4N criterion on process-separated
executor JVMs (VERDICT r4 §next №5).

``tools/bench_scaling.py`` evidences BASELINE.json's two-cluster-size
rule with thread parallelism (local[2] vs local[8] vs local[32]) and
attributes the 8→32 falloff to shared DRAM bandwidth via a Spark-free
probe. This tool turns that attribution into a measurement one step
closer to a real cluster: Spark's ``local-cluster[N, cores, mem_mb]``
master spawns N *separate executor JVMs* — own heaps, own GC, own
shuffle-client pools, real netty block transfers between processes —
so every JVM-level sharing artifact of local[32] is gone, and
aggregate executor memory grows with executor count exactly as a real
N→4N cluster's does (per-executor memory constant). What still IS
shared on one box is DRAM bandwidth and the kernel page cache; a
result ≈ the local[32] thread run therefore pins the falloff on the
hardware, not the plan; a result ≥0.8 would instead pin it on
JVM-internal contention.

Runs the identical fixed-work PageRank job (64 shuffle partitions,
persist-chain path) at ``local-cluster[1,8,m]`` (N) and
``local-cluster[4,8,m]`` (4N) on the same pre-materialized edge
parquet, prints one JSON line, and appends the datapoint section to
BENCH_SCALING.md / merges it into BENCH_SCALING.json.

Usage: python tools/bench_scaling_isolated.py [n_convs] [iters] [exec_mem_mb]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_scaling import ensure_input  # noqa: E402

RUN_ONE = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from webgraph_algo_rs_spark.session import get_spark
from webgraph_algo_rs_spark.operators import pagerank

master = sys.argv[1]; iters = int(sys.argv[2]); edges_path = sys.argv[3]
exec_mem = sys.argv[4]
spark = get_spark(app_name="scal_iso", master=master,
                  shuffle_partitions=64,
                  extra_conf={{
                      "spark.driver.memory": "8g",
                      # standalone default is a 1g executor heap no
                      # matter what the worker offers - size it to the
                      # local-cluster spec or the 157M-edge persist OOMs
                      "spark.executor.memory": exec_mem,
                      # every run takes the persist-chain tier
                      "wga.bucketizeMinEdges": "0",
                  }})
edges = spark.read.parquet(edges_path)
n_edges = edges.count()
# warmup superstep: JIT + page cache
pagerank(edges, tol=0.0, max_iter=1)
stats = {{}}
pagerank(edges, tol=0.0, max_iter=iters, stats=stats).count()
wall = stats["wall_sec"]
print(json.dumps({{"master": master, "wall_sec": wall, "n_edges": n_edges,
                  "iters": stats["iterations"],
                  "edges_per_sec_per_superstep": n_edges * stats["iterations"] / wall}}))
spark.stop()
"""


def run(master: str, iters: int, edges_path: str, exec_mem: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", RUN_ONE.format(repo=REPO), master, str(iters),
         edges_path, exec_mem],
        capture_output=True,
        text=True,
    )
    if out.returncode != 0:
        sys.stderr.write(f"--- {master} FAILED ---\n{out.stderr[-4000:]}\n")
        return {"master": master, "error": (out.stderr or "failed").strip()[-500:]}
    res = json.loads(out.stdout.strip().splitlines()[-1])
    print(json.dumps(res), flush=True)
    return res


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 17_000_000
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    mem_mb = int(sys.argv[3]) if len(sys.argv) > 3 else 16384
    edges_path = ensure_input(n_convs)
    exec_mem = f"{max(mem_mb - 1024, 1024)}m"  # headroom under the worker offer
    r1 = run(f"local-cluster[1,8,{mem_mb}]", iters, edges_path, exec_mem)
    r4 = run(f"local-cluster[4,8,{mem_mb}]", iters, edges_path, exec_mem)
    result = {
        "n_edges": (r1 if "error" not in r1 else r4).get("n_edges"),
        "exec_mem": exec_mem,
        "supersteps": iters,
        "exec_mem_mb": mem_mb,
        "executors_1x8": r1,
        "executors_4x8": r4,
    }
    if "error" not in r1 and "error" not in r4:
        sp = r1["wall_sec"] / r4["wall_sec"]
        result["speedup_1_to_4_executors"] = round(sp, 3)
        result["efficiency_1_to_4_executors"] = round(sp / 4.0, 3)
    print(json.dumps(result))

    # merge into BENCH_SCALING.json so bench.py can surface it
    sj = os.path.join(REPO, "BENCH_SCALING.json")
    try:
        with open(sj) as f:
            merged = json.load(f)
    except (OSError, ValueError):
        merged = {}
    merged["isolated_executors"] = result
    with open(sj, "w") as f:
        json.dump(merged, f, indent=1)

    md = os.path.join(REPO, "BENCH_SCALING.md")
    lines = [
        "",
        "## Isolated-executor datapoint (local-cluster, separate JVMs)",
        "",
        "Same job/input as above ("
        + (f"{result['n_edges']:,}" if result["n_edges"] else "?")
        + f" edges, {iters} "
        "supersteps, 64 shuffle partitions), but executors are separate",
        f"processes — `local-cluster[1,8,{mem_mb}]` (N) vs "
        f"`local-cluster[4,8,{mem_mb}]` (4N), {mem_mb} MB per executor so",
        "aggregate memory grows with executor count like a real cluster's.",
        "JVM-level sharing (one heap, one GC, one shuffle service) is gone;",
        "DRAM bandwidth and the page cache are still shared — the one thing",
        "this box cannot isolate.",
        "",
        "| cluster | wall sec | edges/sec/superstep |",
        "|---|---|---|",
    ]
    for label, r in (("1 executor × 8 cores (N)", r1),
                     ("4 executors × 8 cores (4N)", r4)):
        if "error" in r:
            lines.append(f"| {label} | run failed | — |")
        else:
            lines.append(
                f"| {label} | {r['wall_sec']:.2f} | "
                f"{r['edges_per_sec_per_superstep']:,.0f} |"
            )
    if "efficiency_1_to_4_executors" in result:
        lines.append("")
        lines.append(
            f"**Speedup 1→4 executors: "
            f"{result['speedup_1_to_4_executors']:.2f}× — efficiency "
            f"{result['efficiency_1_to_4_executors']:.3f}.**"
        )
    lines.append("")
    with open(md, "a") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
