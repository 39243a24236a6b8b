"""Seeded, layer-attributed benchmark of the link-graph engine.

Run from the repository root::

    python3 perfbench/run.py --workload transcripts-local --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
runs traced passes (Spark event log, job groups, spans) and prints the
per-layer metrics instead. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines above
it are a readable report. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")  # caches, scratch, logs; git-ignored

SETUP_REPS = 5

# name, unit, better — the end-to-end set every workload reports untraced
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("total_cpu_s", "s", "lower"),
]

KERNEL_OPS = ("pagerank", "cc", "lpa", "triangles")
OPS = KERNEL_OPS + ("ckpt_pagerank",)
TIMED = ("extract",) + OPS
OP_LAYER = [
    ("supersteps", "count", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("jobs_per_step", "count", "lower"),
    ("driver_gap_s", "s", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("task_skew", "ratio", "lower"),
    ("core_util", "ratio", "higher"),
    ("gc_s", "s", "lower"),
    ("result_s", "s", "lower"),
]
PER_LAYER = (
    [("total_s", "s", "lower"),
     ("extract_s", "s", "lower"),
     ("pagerank_s", "s", "lower"),
     ("cc_s", "s", "lower"),
     ("lpa_s", "s", "lower"),
     ("triangles_s", "s", "lower"),
     ("ckpt_pagerank_s", "s", "lower"),
     ("pagerank_edge_steps_per_s", "1/s", "higher"),
     ("failed_ops_frac", "ratio", "lower"),
     ("jit_cpu_s", "s", "lower")]
    + [(f"{op}_cpu_s", "s", "lower") for op in TIMED]
    + [("peak_rss_mb", "MB", "lower"),
       ("session.start_s", "s", "lower"),
       ("session.jvm_start_s", "s", "lower"),
       ("session.python_worker_s", "s", "lower"),
       ("warmup_s", "s", "lower"),
       ("extraction.wall_s", "s", "lower"),
       ("extraction.jobs", "count", "lower"),
       ("extraction.shuffle_write_mb", "MB", "lower"),
       ("extraction.turns_per_s", "1/s", "higher")]
    + [(f"local_csr.{op}.{part}", "s", "lower") for op in KERNEL_OPS
       for part in ("kernel_s", "handoff_s")]
    + [(f"operators.{op}.{m}", u, b) for op in OPS for m, u, b in OP_LAYER]
    + [("pagerank.loop_s", "s", "lower"),
       ("pagerank.prep_s", "s", "lower"),
       ("checkpoint.save_s", "s", "lower"),
       ("checkpoint.saves", "count", "lower"),
       ("checkpoint.written_mb", "MB", "lower"),
       ("checkpoint.latest_s", "s", "lower"),
       ("trace.overhead_s", "s", "lower")]
)
UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def box_fit() -> dict:
    """Cores, driver heap and process environment of the host.

    Cores are the CPUs this process may run on (what ``nproc`` reports).
    The heap is a quarter of physical memory, at most 4 GiB, passed to the
    engine through ``SPARK_GRAFT_DRIVER_MEM``. Spark's scratch space,
    temporary files and python workers stay inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (4 << 20)))
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        # Every JVM (the launcher's too) keeps its temporary files here and
        # writes no perf-data file under /tmp.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(STATE, "local"),
    )
    return {"cores": cores, "heap_gb": heap_gb, "mem_gb": round(mem_kb / (1 << 20), 1)}


def start_session(box: dict, workload, event_log: str | None):
    from webgraph_algo_rs_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        "spark.local.dir": os.path.join(STATE, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{workload.name}",
        master=f"local[{box['cores']}]",
        shuffle_partitions=box["cores"],
        extra_conf=conf,
    )
    if workload.local_kernel_max_edges is not None:
        spark.conf.set("wga.localKernelMaxEdges", str(workload.local_kernel_max_edges))
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_passes(workload, spark, tracer, handle, seconds: float, first_idx: int) -> list:
    """Passes within ``seconds``: at least one, and another only while it
    should end in time, judged by the last pass's duration. While the JIT
    compiles, each pass runs faster than the one before, so a pass count
    that grew with the host's speed would move the median with it."""
    passes, t0, idx = [], time.time(), first_idx
    while not passes or time.time() - t0 + passes[-1].span["wall"] <= seconds:
        with tracer.span(f"pass{idx}") as sp:
            res = workload.run_pass(spark, tracer, handle, idx, os.path.join(STATE, "work"))
        res.span, res.idx = sp, idx
        passes.append(res)
        idx += 1
    return passes


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def op_median(passes, op: str, attr: str = "wall") -> float:
    return median(getattr(p.ops[op], attr) for p in passes if op in p.ops)


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    return {"setup_s": setup_s, "total_cpu_s": median(p.total_cpu for p in passes)}


def wall_times(passes) -> dict[str, float]:
    """Wall times, PageRank throughput and the failed-call share of passes."""
    steps = [p.n_edges * p.ops["pagerank"].supersteps / p.ops["pagerank"].wall
             for p in passes if "pagerank" in p.ops]
    attempted = sum(p.attempted for p in passes)
    return {
        "total_s": median(p.total for p in passes),
        "extract_s": op_median(passes, "extract"),
        "pagerank_s": op_median(passes, "pagerank"),
        "cc_s": op_median(passes, "cc"),
        "lpa_s": op_median(passes, "lpa"),
        "triangles_s": op_median(passes, "triangles"),
        "ckpt_pagerank_s": op_median(passes, "ckpt_pagerank"),
        "pagerank_edge_steps_per_s": median(steps),
        "failed_ops_frac": sum(len(p.failed_ops) for p in passes) / max(attempted, 1),
        "jit_cpu_s": median(p.span["jit"] for p in passes),
        **{f"{op}_cpu_s": op_median(passes, op, "cpu") for op in TIMED},
    }


def per_layer(box, untraced, traced, after, groups, kernel_secs, session) -> dict[str, float]:
    """Per-layer metrics: wall times of the untraced passes, layer
    figures of the traced ones; ``after`` is the untraced pass that
    follows the traced ones."""
    from perfbench.trace import busy_seconds, task_skew

    m = {name: 0.0 for name, _, _ in PER_LAYER}
    m.update(wall_times(untraced))
    m.update(session)
    # the base is the mean of the untraced passes before and after the
    # traced ones, so the JIT's progress over the run cancels out
    base = (median(p.total for p in untraced) + median(p.total for p in after)) / 2
    m["trace.overhead_s"] = median(p.total for p in traced) - base

    def group(op, p):
        return groups.get(f"{op}#{p.idx}", {})

    def gather(fn, passes=traced):
        return median(fn(p) for p in passes)

    ext = [p for p in traced if "extract" in p.ops]
    if ext:
        m["extraction.wall_s"] = gather(lambda p: p.ops["extract"].wall, ext)
        m["extraction.jobs"] = gather(lambda p: group("extract", p).get("jobs", 0), ext)
        m["extraction.shuffle_write_mb"] = gather(
            lambda p: group("extract", p).get("shuffle_write", 0) / (1 << 20), ext)
        m["extraction.turns_per_s"] = gather(lambda p: p.n_turns / p.ops["extract"].wall, ext)

    for op in OPS:
        runs = [p for p in traced if op in p.ops]
        if not runs:
            continue
        if op in KERNEL_OPS and op in kernel_secs:
            m[f"local_csr.{op}.kernel_s"] = kernel_secs[op]
            if runs[0].ops[op].tier == "local-csr":
                m[f"local_csr.{op}.handoff_s"] = gather(lambda p: p.ops[op].wall, runs) - kernel_secs[op]

        def layer(p, op=op):
            run, g = p.ops[op], group(op, p)
            span = run.span
            busy = busy_seconds(g.get("intervals", []), span["start"], span["end"])
            return {
                "supersteps": run.supersteps,
                "jobs": g.get("jobs", 0),
                "tasks": g.get("tasks", 0),
                "jobs_per_step": g.get("jobs", 0) / max(run.supersteps, 1),
                "driver_gap_s": run.wall - busy,
                "shuffle_read_mb": g.get("shuffle_read", 0) / (1 << 20),
                "shuffle_write_mb": g.get("shuffle_write", 0) / (1 << 20),
                "spill_mb": g.get("spill", 0) / (1 << 20),
                "task_skew": task_skew(g.get("stage_task_ms", {})),
                "core_util": g.get("run_ms", 0) / 1000.0 / (run.wall * box["cores"]),
                "gc_s": g.get("gc_ms", 0) / 1000.0,
                "result_s": run.result_s,
            }

        layers = [layer(p) for p in runs]
        for name, _, _ in OP_LAYER:
            m[f"operators.{op}.{name}"] = median(x[name] for x in layers)

    prs = [p.ops["pagerank"] for p in traced if "pagerank" in p.ops]
    if prs:
        loops = [sum(st.get("wall_sec", 0.0) for st in r.calls) for r in prs]
        m["pagerank.loop_s"] = median(loops)
        m["pagerank.prep_s"] = median(r.wall - r.result_s - lp for r, lp in zip(prs, loops))

    def ckpt_spans(p, name):
        # spans under the op calls; the checks' own latest() calls sit
        # directly under the pass span
        return [s for s in p.spans if s["name"] == name and not s["parent"].startswith("pass")]

    if any("ckpt_pagerank" in p.ops for p in traced):
        m["checkpoint.save_s"] = gather(lambda p: sum(s["wall"] for s in ckpt_spans(p, "checkpoint.save")))
        m["checkpoint.saves"] = gather(lambda p: len(ckpt_spans(p, "checkpoint.save")))
        m["checkpoint.written_mb"] = gather(lambda p: sum(p.checkpoint_written_mb))
        m["checkpoint.latest_s"] = gather(lambda p: sum(s["wall"] for s in ckpt_spans(p, "checkpoint.latest")))
    return m


def report(title: str, values: dict[str, float]) -> None:
    print(f"== {title}")
    for name, value in values.items():
        print(f"   {name:<40} {value:>16.6g} {UNITS.get(name, '')}")


def start_python_worker(spark) -> None:
    """Start the session's python worker and import the engine's kernels
    in it, so that no timed call pays for it. A new session starts new
    workers; the local-CSR calls, the only python the passes run, each
    run one task at a time, so they reuse this one."""

    def touch(batches):
        import webgraph_algo_rs_spark.plans.local_csr  # noqa: F401

        yield from batches

    spark.range(1, numPartitions=1).mapInPandas(touch, "id long").collect()


def restart(spark, box, workload, path, event_log: str | None = None):
    """Stop the session and start a new one in the same JVM, then load
    the input. Returns ``(spark, start_s, load_s, handle)``."""
    spark.stop()
    t0 = time.time()
    spark = start_session(box, workload, event_log)
    t1 = time.time()
    handle = workload.load(spark, path)
    return spark, t1 - t0, time.time() - t1, handle


def pass_session(spark, box, workload, path, event_log: str | None = None):
    """A new session for timed passes: restarted, input loaded and, if
    the workload's passes run python, its python worker started. Returns
    ``(spark, handle, worker_s)``."""
    spark, _, _, handle = restart(spark, box, workload, path, event_log)
    t0 = time.time()
    if workload.uses_python:
        start_python_worker(spark)
    return spark, handle, time.time() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench",
                    help="input size preset: bench (default) or large (the first sizing runs' inputs)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import webgraph_algo_rs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench.trace import CpuMeter, RssSampler, Tracer, read_event_log
    from perfbench.workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS or args.size not in SIZES:
        print(f"perfbench: unknown workload {args.workload!r} or size {args.size!r}; "
              f"workloads {sorted(WORKLOADS)}, sizes {sorted(SIZES)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    workload.size = SIZES[args.size]
    box = box_fit()
    run_id = f"{workload.name}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    event_dir = os.path.join(STATE, "eventlog") if args.trace else None
    if event_dir:
        import shutil

        shutil.rmtree(event_dir, ignore_errors=True)

    spark = sampler = None
    warm, traced, after, kernel_secs = [], [], [], {}
    tracer = Tracer(run_id, enabled=args.trace == 1)
    try:
        t0 = time.time()
        spark = start_session(box, workload, None)
        jvm_start_s = time.time() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        meter = CpuMeter(jvm_pid)
        sampler = RssSampler(jvm_pid, meter).start()
        path, gen_s = workload.ensure_input(spark, os.path.join(STATE, "cache"), args.seed)
        if gen_s is not None:
            print(f"generated {os.path.basename(path)} in {gen_s:.1f} s (not part of setup_s)")
        handle = workload.load(spark, path)
        workload.prepare(spark, path, handle)
        quiet = Tracer(run_id, cpu=meter)
        quiet.sc = spark.sparkContext
        tracer.cpu = meter

        # warm-up: JIT and Spark's codegen cache; checked, not timed
        warm = run_passes(workload, spark, quiet, handle, 0, 0)

        # set-up, in the warm JVM: session restarts, each followed by the
        # input load
        starts, loads = [], []
        for _ in range(SETUP_REPS):
            spark, start_s, load_s, handle = restart(spark, box, workload, path)
            starts.append(start_s)
            loads.append(load_s)
        setup_s = median(s + ld for s, ld in zip(starts, loads))

        # every group of timed passes runs in a session of its own; only
        # the traced passes' session writes the event log
        spark, handle, worker_s = pass_session(spark, box, workload, path)
        quiet.sc = spark.sparkContext
        sampler.reset()
        untraced = run_passes(workload, spark, quiet, handle, args.seconds, len(warm))
        peak_mb = sampler.peak_mb()
        if args.trace:
            spark, handle, _ = pass_session(spark, box, workload, path, event_dir)
            tracer.sc = spark.sparkContext
            app_id = spark.sparkContext.applicationId
            traced = run_passes(workload, spark, tracer, handle, args.seconds,
                                len(warm) + len(untraced))
            spark, handle, _ = pass_session(spark, box, workload, path)
            quiet.sc = spark.sparkContext
            after = run_passes(workload, spark, quiet, handle, 0,
                               len(warm) + len(untraced) + len(traced))
            kernel_secs = workload.kernel_times()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "heap_max_gb": round(
                spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 30), 2),
        }
    finally:
        if sampler is not None:
            sampler.stop()
        if spark is not None:
            shutdown(spark)

    passes = warm + untraced + traced + after
    for p in passes:
        p.spans = [s for s in tracer.spans
                   if p.span["start"] <= s["start"] and s["end"] <= p.span["end"]]
    failures = [f for p in passes for f in p.failures]

    print(f"workload {workload.name} seed {args.seed} size {args.size}: {workload.why}")
    print(f"box: {box['cores']} cores, {box['mem_gb']} GiB RAM, driver heap {box['heap_gb']}g "
          f"(JVM max {versions['heap_max_gb']} GiB), Spark {versions['spark']}, "
          f"Java {versions['java']}")
    print(f"setup: JVM + first session {jvm_start_s:.2f} s; in-JVM session starts "
          f"{[round(s, 2) for s in starts]} s, loads {[round(x, 2) for x in loads]} s; "
          f"python worker {worker_s:.2f} s")
    for kind, group in (("warm-up", warm), ("untraced", untraced), ("traced", traced),
                        ("untraced after", after)):
        for p in group:
            print(f"pass {p.idx} ({kind}): total_s {p.total:.3f}, cpu_s {p.total_cpu:.2f}, "
                  f"jit_cpu_s {p.span.get('jit', 0.0):.2f}, "
                  + ", ".join(f"{op} {run.wall:.2f}/{run.cpu:.2f}" for op, run in p.ops.items()))
    for op in OPS:
        runs = [p.ops[op] for p in passes if op in p.ops]
        if runs:
            want = workload.expected_tiers.get(op)
            flag = "" if all(r.tier == want for r in runs) else f"  TIER DIFFERS FROM EXPECTED {want}"
            print(f"tier-record {op:<13} tier={runs[-1].tier:<17} supersteps={runs[-1].supersteps:<3} "
                  f"stop: {runs[-1].stop}{flag}")
    for f in failures:
        print(f"FAILED {f}")

    e2e = end_to_end(untraced, setup_s)
    report(f"{workload.name}: end-to-end (untraced, median of {len(untraced)} passes)",
           {**e2e, **wall_times(untraced), "peak_rss_mb": peak_mb})
    metrics = e2e
    if args.trace:
        metrics = per_layer(box, untraced, traced, after,
                            read_event_log(os.path.join(event_dir, app_id)), kernel_secs,
                            {"session.start_s": median(starts),
                             "session.jvm_start_s": jvm_start_s,
                             "session.python_worker_s": worker_s,
                             "warmup_s": warm[0].total,
                             "peak_rss_mb": peak_mb})
        report(f"{workload.name}: per layer (traced, median of {len(traced)} passes)", metrics)
        tracer.write(os.path.join(STATE, "trace", f"{run_id}.jsonl"))
    print(json.dumps({
        "correct": not failures,
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(len(p.failed_ops) for p in passes),
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
