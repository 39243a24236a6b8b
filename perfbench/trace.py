"""Timing and tracing from the benchmark's side of the engine's API.

Nothing here reaches inside the library. Every number comes from:

* spans the benchmark opens around its own calls into public functions;
* Spark job groups set around those calls (``setJobGroup``), so the
  event log attributes each job, stage and task to one call;
* Spark's own event log, read back after the session stops;
* ``/proc``, for the CPU time and resident memory of the JVM and its
  python workers, and the CPU time of the JVM's JIT compiler threads.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = float(1 << 20)


class Tracer:
    """Times named blocks; when ``enabled`` it also keeps each block as a
    span ``(name, start, end, parent, run)`` and tags the Spark jobs the
    block submits with a job group.

    Untraced runs use the same object with ``enabled=False``, so both
    runs execute the same benchmark code apart from the recording.
    """

    def __init__(self, run_id: str, enabled: bool = False, cpu: "CpuMeter | None" = None):
        self.run_id = run_id
        self.enabled = enabled
        self.cpu = cpu  # charges each span the CPU time spent during it
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[tuple[str, str | None]] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        """Time the block; yields a dict whose ``"wall"`` (and, with a
        ``cpu`` meter, ``"cpu"`` and ``"jit"``: see :class:`CpuMeter`)
        are set on exit.

        ``group`` (traced runs only) tags the block's Spark jobs; nested
        spans without a group inherit the enclosing one."""
        parent_name, parent_group = self._stack[-1] if self._stack else (None, None)
        group = group or parent_group
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": parent_name, "run": self.run_id, "group": group}
        if self.enabled and group != parent_group:
            self._set_group(group)
        self._stack.append((name, group))
        cpu0, jit0 = self.cpu.read() if self.cpu else (0.0, 0.0)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["wall"] = rec["end"] - rec["start"]
            if self.cpu:
                cpu1, jit1 = self.cpu.read()
                rec["cpu"], rec["jit"] = cpu1 - cpu0, jit1 - jit0
            if self.enabled:
                if group != parent_group:
                    self._set_group(parent_group)
                self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def traced_checkpoint_manager(tracer: Tracer, written: list[float]):
    """A ``CheckpointManager`` whose ``save`` and ``latest`` are spans
    (``checkpoint.save`` / ``checkpoint.latest``); each save appends the
    committed iteration's on-disk size in MB to ``written``."""
    from webgraph_algo_rs_spark.checkpoint import CheckpointManager

    class TracedCheckpointManager(CheckpointManager):
        def save(self, state, iteration, metrics, history):
            with tracer.span("checkpoint.save"):
                super().save(state, iteration, metrics, history)
            written.append(dir_size(self._iter_dir(iteration)) / MB)

        def latest(self, spark):
            with tracer.span("checkpoint.latest"):
                return super().latest(spark)

    return TracedCheckpointManager


def dir_size(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:  # the process ended while we looked
        pass
    return kids


def _descendants(root_pid: int):
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        yield pid
        todo.extend(_children(pid))


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system, with reaped children's) spent so far
    by ``root_pid`` and its descendants, plus this process's own."""
    own = os.times()
    total = own.user + own.system
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15]) / _TICK
    return total


def _compiler_thread_ticks(jvm_pid: int) -> dict[tuple[str, str], int]:
    """CPU clock ticks of each live JIT compiler thread of the JVM, keyed
    by (thread id, start time) so a reused thread id reads as new."""
    ticks = {}
    try:
        tids = os.listdir(f"/proc/{jvm_pid}/task")
    except OSError:
        return ticks
    for tid in tids:
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        if "CompilerThre" in head:  # "C1 CompilerThre", "C2 CompilerThre"
            fields = tail.split()
            # utime, stime and starttime are fields 14, 15 and 22 of stat(5)
            ticks[(tid, fields[19])] = int(fields[11]) + int(fields[12])
    return ticks


class CpuMeter:
    """CPU seconds spent by the JVM's process tree and this process,
    split into the JIT compiler threads' share and the rest.

    The JVM starts and retires compiler threads as its compile queue
    grows and shrinks. A retired thread's time stays in the process
    total but can no longer be told apart, so the meter keeps the last
    reading of every compiler thread it has seen; the RSS sampler
    refreshes it twice a second."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._seen: dict[tuple[str, str], int] = {}
        self._lock = threading.Lock()

    def jit(self) -> float:
        ticks = _compiler_thread_ticks(self.jvm_pid)
        with self._lock:
            for key, t in ticks.items():
                self._seen[key] = max(t, self._seen.get(key, 0))
            return sum(self._seen.values()) / _TICK

    def read(self) -> tuple[float, float]:
        """``(engine, jit)`` CPU seconds so far: the JIT compiler
        threads' time, and everything else."""
        jit = self.jit()
        return cpu_seconds(self.jvm_pid) - jit, jit


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` plus all its descendants. Walks the
    kernel's per-thread child lists, so a sample reads a few files
    rather than every process's status."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of a process tree on one thread and
    keeps the peak since the last :meth:`reset`; refreshes ``meter``'s
    compiler-thread readings on the same beat."""

    def __init__(self, root_pid: int, meter: CpuMeter | None = None, period_s: float = 0.5):
        self.root_pid = root_pid
        self.meter = meter
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = _tree_rss_bytes(self.root_pid)
            if self.meter is not None:
                self.meter.jit()
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / MB

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def read_event_log(path: str) -> dict[str, dict]:
    """Per-job-group totals from a Spark event log.

    Returns ``{group: {"jobs", "intervals", "tasks", "run_ms", "gc_ms",
    "shuffle_read", "shuffle_write", "spill", "stage_task_ms"}}`` where
    ``intervals`` are the jobs' ``(submit, complete)`` epoch seconds and
    ``stage_task_ms`` maps each shuffle-map stage to its task durations.
    """
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "intervals": [], "tasks": 0, "run_ms": 0, "gc_ms": 0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        "stage_task_ms": defaultdict(list),
    })
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str | None] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[job] = group
                job_start[job] = ev["Submission Time"] / 1000.0
                for stage in ev.get("Stage IDs", []):
                    stage_group.setdefault(stage, group)
                if group is not None:
                    groups[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                job = ev["Job ID"]
                group = job_group.get(job)
                if group is not None:
                    groups[group]["intervals"].append(
                        (job_start[job], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g["tasks"] += 1
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                if ev.get("Task Type") == "ShuffleMapTask":
                    g["stage_task_ms"][ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    return dict(groups)


def busy_seconds(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def task_skew(stage_task_ms: dict[int, list[float]]) -> float:
    """Σ over shuffle-map stages of the slowest task ÷ Σ of the median
    task: how much longer the op's shuffle stages ran than a balanced
    split would have (1.0 = no skew). Stages weigh by their size."""
    tops = meds = 0.0
    for durations in stage_task_ms.values():
        if len(durations) >= 2:
            tops += max(durations)
            meds += statistics.median(durations)
    return tops / meds if meds > 0 else 1.0
