"""The benchmark's workloads: seeded inputs, set-up, one timed pass and
the output checks.

Each workload generates its input from the seed (cached as parquet by
generator, size and seed), so the engine only ever reads parquet. A pass
calls public engine functions inside :class:`~perfbench.trace.Tracer`
spans and checks every result; a call that raises, fails its check or
runs on another tier than the workload expects counts as failed.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.trace import Tracer, traced_checkpoint_manager

# Input size presets. "bench" is what the benchmark runs: it keeps a run
# near a minute on a 4-core box. "large" is the size of the first sizing
# runs (100k conversations, about 462k edges; R-MAT scale 18 with 600k
# draws, about 591k arcs), kept so the per-layer figures of both sizes can
# be compared (README.md, "Input sizes"). Both transcript graphs stay far
# under the engine's 8M-edge local-kernel threshold.
SIZES = {
    "bench": {"convs": 10_000, "rmat_scale": 15, "rmat_draws": 75_000},
    "large": {"convs": 100_000, "rmat_scale": 18, "rmat_draws": 600_000},
}

PR_TOL = 1e-6
LPA_STEPS = 10
# On the R-MAT graph PageRank runs a fixed superstep budget (it needs 12
# or 13 supersteps to reach PR_TOL depending on the seed), so every seed
# does the same superstep work.
RMAT_PR_STEPS = 4
# The checkpointed PageRank: a call capped after KILL_AFTER supersteps
# stands in for the killed job, a fresh call resumes to CKPT_PR_STEPS.
KILL_AFTER, CKPT_PR_STEPS = 1, 2

SCHEMA = "src_vertex bigint, dst_vertex bigint, weight double"


@dataclass
class OpRun:
    """One timed operator: its calls plus result materialization."""

    op: str
    wall: float = 0.0
    cpu: float = 0.0
    result_s: float = 0.0
    tier: str = "?"
    supersteps: int = 0
    stop: str = ""
    calls: list[dict] = field(default_factory=list)  # the ops' stats dicts
    span: dict | None = None


@dataclass
class PassResult:
    ops: dict[str, OpRun] = field(default_factory=dict)  # calls that returned
    failures: list[str] = field(default_factory=list)
    failed_ops: set[str] = field(default_factory=set)
    attempted: int = 0
    n_edges: int = 0
    n_turns: int = 0
    checkpoint_written_mb: list[float] = field(default_factory=list)
    idx: int = 0
    span: dict | None = None  # the pass's own span
    spans: list[dict] = field(default_factory=list)  # traced spans inside it

    @property
    def total(self) -> float:
        return sum(run.wall for run in self.ops.values())

    @property
    def total_cpu(self) -> float:
        return sum(run.cpu for run in self.ops.values())


def _materialize(df):
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _stop_rule(st: dict, cap: int) -> str:
    if "residual" in st:
        tail = f"residual={st['residual']:.3g}"
    elif "changed" in st:
        tail = f"changed={st['changed']}"
    else:
        return "single round"
    return f"{tail} after {st.get('iterations', 0)} of max {cap}"


class Workload:
    name = ""
    why = ""
    local_kernel_max_edges: int | None = None  # None: engine default
    expected_tiers: dict[str, str] = {}
    size: dict = SIZES["bench"]
    uses_python = False  # whether a pass runs python workers (local-CSR kernels)

    # --- inputs ---------------------------------------------------------
    def input_path(self, cache_dir: str, seed: int) -> str:
        raise NotImplementedError

    def generate(self, spark, path: str, seed: int) -> None:
        raise NotImplementedError

    def ensure_input(self, spark, cache_dir: str, seed: int) -> tuple[str, float | None]:
        """Cached input path and its generation time (None on a hit).
        Generation writes to a temporary name first, so an interrupted
        run never leaves a half-written input behind."""
        path = self.input_path(cache_dir, seed)
        if os.path.exists(path):
            return path, None
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        self.generate(spark, tmp, seed)
        os.replace(tmp, path)
        return path, time.time() - t0

    # --- phases ---------------------------------------------------------
    def load(self, spark, path: str):
        """Set-up load of the input; returns the handle passes use."""
        raise NotImplementedError

    def prepare(self, spark, path: str, handle) -> None:
        """Untimed: compute the references the checks compare against."""

    def run_pass(self, spark, tracer: Tracer, handle, idx: int, work_dir: str) -> PassResult:
        raise NotImplementedError

    def kernel_times(self) -> dict[str, float]:
        """Seconds each local-CSR kernel takes in this process on the
        workload's edge frame."""
        return {}

    # --- helpers --------------------------------------------------------
    def _check_tier(self, run: OpRun, res: PassResult) -> None:
        want = self.expected_tiers.get(run.op)
        if want is not None and run.tier != want:
            self._fail(run, res, f"ran on tier {run.tier!r}, workload expects {want!r}")

    @staticmethod
    def _fail(run: OpRun, res: PassResult, why: str) -> None:
        res.failed_ops.add(run.op)
        res.failures.append(f"{run.op}: {why}")

    def _op(self, tracer, res: PassResult, op: str, idx: int, body, check) -> OpRun | None:
        """Run ``body(run)`` (the calls and materialization) in a span
        named ``op`` with job group ``op#idx``; then ``check(run, out)``.
        An exception counts the op as failed and the pass goes on."""
        run = OpRun(op)
        res.attempted += 1
        try:
            with tracer.span(op, group=f"{op}#{idx}") as sp:
                out = body(run)
            run.span = sp
            run.wall = sp["wall"]
            run.cpu = sp.get("cpu", 0.0)
            res.ops[op] = run
            self._check_tier(run, res)
            check(run, out)
        except Exception:  # noqa: BLE001 — a failing op is a measured outcome
            self._fail(run, res, "raised\n" + traceback.format_exc())
            return None
        return run

    @staticmethod
    def _call(tracer, run: OpRun, fn, cap: int, **kwargs) -> pd.DataFrame:
        """One operator call plus its result materialization (toPandas)."""
        st: dict = {}
        df = fn(stats=st, **kwargs)
        with tracer.span(f"{run.op}.result") as rs:
            out = df.toPandas()
        run.result_s += rs["wall"]
        run.calls.append(st)
        run.tier = st.get("tier", "?")
        run.supersteps += int(st.get("iterations", 1))
        run.stop = _stop_rule(st, cap)
        return out


def _same_values(run: OpRun, res: PassResult, got: pd.DataFrame, col: str, ref: pd.DataFrame) -> None:
    g = got.sort_values("vertex").reset_index(drop=True)
    if len(g) != len(ref) or not np.array_equal(g["vertex"].to_numpy(), ref["vertex"].to_numpy()):
        Workload._fail(run, res, f"vertex set differs from the reference ({len(g)} vs {len(ref)})")
    elif not np.array_equal(g[col].to_numpy(), ref[col].to_numpy()):
        bad = int((g[col].to_numpy() != ref[col].to_numpy()).sum())
        Workload._fail(run, res, f"{bad} {col} values differ from the reference")


def _close_ranks(run: OpRun, res: PassResult, got: pd.DataFrame, ref: pd.DataFrame, rtol: float) -> None:
    g = got.sort_values("vertex").reset_index(drop=True)
    if len(g) != len(ref) or not np.array_equal(g["vertex"].to_numpy(), ref["vertex"].to_numpy()):
        Workload._fail(run, res, "vertex set differs from the reference")
    elif not np.allclose(g["rank"].to_numpy(), ref["rank"].to_numpy(), rtol=rtol, atol=0.0):
        err = float(np.max(np.abs(g["rank"].to_numpy() / ref["rank"].to_numpy() - 1.0)))
        Workload._fail(run, res, f"ranks differ from the reference by up to {err:.3g} relative")


def _kernel_reference(kernels: dict, pdf: pd.DataFrame) -> tuple[dict, dict]:
    """Run each local-CSR kernel in this process; returns (outputs, seconds)."""
    out, secs = {}, {}
    for op, kernel in kernels.items():
        t0 = time.time()
        res = kernel(pdf)
        secs[op] = time.time() - t0
        out[op] = res.sort_values("vertex").reset_index(drop=True)
    return out, secs


# ---------------------------------------------------------------------------


class TranscriptsLocal(Workload):
    name = "transcripts-local"
    why = ("north-rule pipeline: transcript parquet -> extract_edges -> PageRank/CC/LPA/triangles, "
           "all on the local-csr tier; extraction, Arrow hand-off and numpy kernels do the work")
    expected_tiers = {op: "local-csr" for op in ("pagerank", "cc", "lpa", "triangles")}
    uses_python = True

    def input_path(self, cache_dir, seed):
        return os.path.join(cache_dir, f"transcripts-c{self.size['convs']}-s{seed}.parquet")

    def generate(self, spark, path, seed):
        from webgraph_algo_rs_spark.sources.transcripts import gen_transcripts

        gen_transcripts(spark, self.size["convs"], seed=seed,
                        partitions=spark.sparkContext.defaultParallelism).write.parquet(path)

    def load(self, spark, path):
        return spark.read.parquet(path).count()

    def prepare(self, spark, path, handle):
        # extraction invariant: Σ weight = reply pairs + tool turns, where
        # every conversation of t turns has t-1 reply pairs
        t = pq.read_table(path, columns=["conv_id", "tool"])
        n_convs = pc.count_distinct(t["conv_id"]).as_py()
        self.n_turns = t.num_rows
        self.expected_weight = float((t.num_rows - n_convs) + (t.num_rows - t["tool"].null_count))
        self.path = path
        self.edges_pdf = None  # set by the first pass's extraction check

    def run_pass(self, spark, tracer, handle, idx, work_dir):
        from pyspark.sql import functions as F

        from webgraph_algo_rs_spark.extraction import extract_edges
        from webgraph_algo_rs_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_count_global,
            triangle_count_per_vertex,
        )

        res = PassResult(n_turns=self.n_turns)
        holder: dict = {}

        def extract(run):
            transcripts = spark.read.parquet(self.path)
            holder["edges"], res.n_edges = _materialize(extract_edges(transcripts))

        def check_extract(run, _):
            if self.edges_pdf is None:
                self.edges_pdf = holder["edges"].toPandas()
                self.vertices = np.unique(np.concatenate(
                    [self.edges_pdf["src_vertex"], self.edges_pdf["dst_vertex"]]))
                self.global_triangles = int(
                    triangle_count_global(holder["edges"]).first()["n_triangles"])
            # this pass's own edge table, not the cached first one
            total = float(holder["edges"].agg(F.sum("weight")).first()[0])
            if res.n_edges != len(self.edges_pdf) or total != self.expected_weight:
                self._fail(run, res, f"{res.n_edges} edges of total weight {total}, "
                                     f"expected {len(self.edges_pdf)} of {self.expected_weight}")

        if self._op(tracer, res, "extract", idx, extract, check_extract) is None:
            return res
        edges = holder["edges"]

        def vertices_ok(run, out):
            if not np.array_equal(np.sort(out["vertex"].to_numpy()), self.vertices):
                self._fail(run, res, "result vertex set differs from the edge table's")
                return False
            return True

        def check_pr(run, out):
            if not vertices_ok(run, out):
                return
            st = run.calls[-1]
            total = float(out["rank"].sum())
            if abs(total - 1.0) > 1e-9 or not st.get("residual", 1.0) < PR_TOL:
                self._fail(run, res, f"ranks sum to {total!r}, residual {st.get('residual')}")

        def check_cc(run, out):
            if not vertices_ok(run, out):
                return
            comp = out.set_index("vertex")["component"]
            e = self.edges_pdf
            split = int((comp.loc[e["src_vertex"]].to_numpy()
                         != comp.loc[e["dst_vertex"]].to_numpy()).sum())
            if split:
                self._fail(run, res, f"{split} edges join two different components")

        def check_lpa(run, out):
            if not vertices_ok(run, out):
                return
            if not np.isin(out["label"].to_numpy(), self.vertices).all():
                self._fail(run, res, "a label is not a vertex id")

        def check_tri(run, out):
            if not vertices_ok(run, out):
                return
            total = int(out["n_triangles"].sum())
            if total != 3 * self.global_triangles:
                self._fail(run, res, f"per-vertex sum {total} != 3 x global {self.global_triangles}")

        self._op(tracer, res, "pagerank", idx, lambda run: self._call(
            tracer, run, pagerank, 200, edges=edges, tol=PR_TOL), check_pr)
        self._op(tracer, res, "cc", idx, lambda run: self._call(
            tracer, run, connected_components, 10_000, edges=edges), check_cc)
        self._op(tracer, res, "lpa", idx, lambda run: self._call(
            tracer, run, label_propagation, LPA_STEPS, edges=edges, max_iter=LPA_STEPS), check_lpa)
        self._op(tracer, res, "triangles", idx, lambda run: self._call(
            tracer, run, triangle_count_per_vertex, 1, edges=edges), check_tri)
        return res

    def kernel_times(self):
        from webgraph_algo_rs_spark.plans.local_csr import (
            cc_kernel, lpa_kernel, pagerank_kernel, triangles_kernel)

        _, secs = _kernel_reference({
            "pagerank": pagerank_kernel(0.85, PR_TOL, 200),
            "cc": cc_kernel(10_000),
            "lpa": lpa_kernel(LPA_STEPS),
            "triangles": triangles_kernel(),
        }, self.edges_pdf)
        return secs


class RmatSupersteps(Workload):
    name = "rmat-supersteps"
    why = ("R-MAT web-class arcs with wga.localKernelMaxEdges=0: PageRank on the blocked superstep "
           "loop, triangles on the distributed join, PageRank checkpointed each step, killed, resumed")
    local_kernel_max_edges = 0  # force the distributed tiers
    expected_tiers = {"pagerank": "blocked", "triangles": "distributed-join",
                      "ckpt_pagerank": "blocked"}

    def input_path(self, cache_dir, seed):
        return os.path.join(
            cache_dir, f"rmat-e{self.size['rmat_scale']}-d{self.size['rmat_draws']}-s{seed}.parquet")

    def generate(self, spark, path, seed):
        import pyarrow as pa

        from webgraph_algo_rs_spark.sources.rmat import rmat_edge_arrays

        src, dst = rmat_edge_arrays(self.size["rmat_scale"], self.size["rmat_draws"], seed)
        table = pa.table({"src_vertex": src, "dst_vertex": dst, "weight": np.ones(len(src))})
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def load(self, spark, path):
        return _materialize(spark.read.schema(SCHEMA).parquet(path))

    def prepare(self, spark, path, handle):
        from webgraph_algo_rs_spark.plans.local_csr import pagerank_kernel, triangles_kernel

        # uninterrupted in-process runs: the reference for every check
        self.ref, self.kernel_secs = _kernel_reference({
            "pagerank": pagerank_kernel(0.85, PR_TOL, RMAT_PR_STEPS),
            "ckpt_pagerank": pagerank_kernel(0.85, PR_TOL, CKPT_PR_STEPS),
            "triangles": triangles_kernel(),
        }, pq.read_table(path).to_pandas())

    def kernel_times(self):
        return dict(self.kernel_secs)

    def run_pass(self, spark, tracer, handle, idx, work_dir):
        from webgraph_algo_rs_spark.checkpoint import CheckpointManager
        from webgraph_algo_rs_spark.operators import pagerank, triangle_count_per_vertex

        edges, n = handle
        res = PassResult(n_edges=n)
        base = os.path.join(work_dir, f"ckpt-{idx}")
        shutil.rmtree(base, ignore_errors=True)
        manager = (traced_checkpoint_manager(tracer, res.checkpoint_written_mb)
                   if tracer.enabled else CheckpointManager)

        def compare(run, out, col, rtol):
            ref = self.ref[run.op]
            if col == "rank":
                _close_ranks(run, res, out, ref, rtol)
            else:
                _same_values(run, res, out, col, ref)
            if "iterations" in ref and run.supersteps != int(ref["iterations"].iloc[0]):
                self._fail(run, res, f"{run.supersteps} supersteps, the uninterrupted "
                                     f"reference takes {int(ref['iterations'].iloc[0])}")

        def checker(col):
            return lambda run, out: compare(run, out, col, rtol=1e-6)

        def kill_and_resume(op, fn, cap, **kwargs):
            def body(run):
                cp = manager(base, op)
                with tracer.span(f"{run.op}.killed"):
                    st: dict = {}
                    fn(edges=edges, max_iter=KILL_AFTER, checkpoint=cp, stats=st)
                with tracer.span(f"{run.op}.resumed"):
                    out = self._call(tracer, run, fn, cap, edges=edges, checkpoint=cp, **kwargs)
                run.calls.insert(0, st)
                run.supersteps += int(st.get("iterations", 0))
                return out, st, cp
            return body

        def resume_checker(col):
            def check_fn(run, got):
                out, killed, cp = got
                if killed.get("iterations") != KILL_AFTER:
                    self._fail(run, res, f"killed call ran {killed.get('iterations')} "
                                         f"supersteps, not {KILL_AFTER}")
                latest = cp.latest(edges.sparkSession)
                if latest is None or latest[1].iteration != run.supersteps - 1:
                    self._fail(run, res, "last committed snapshot is not the final superstep")
                # the resumed result must equal an uninterrupted run's
                compare(run, out, col, rtol=1e-9)
            return check_fn

        self._op(tracer, res, "pagerank", idx, lambda run: self._call(
            tracer, run, pagerank, RMAT_PR_STEPS, edges=edges, tol=PR_TOL,
            max_iter=RMAT_PR_STEPS), checker("rank"))
        self._op(tracer, res, "triangles", idx, lambda run: self._call(
            tracer, run, triangle_count_per_vertex, 1, edges=edges), checker("n_triangles"))
        self._op(tracer, res, "ckpt_pagerank", idx, kill_and_resume(
            "pagerank", pagerank, CKPT_PR_STEPS, tol=PR_TOL, max_iter=CKPT_PR_STEPS),
            resume_checker("rank"))
        shutil.rmtree(base, ignore_errors=True)
        return res


WORKLOADS = {w.name: w for w in (TranscriptsLocal(), RmatSupersteps())}
