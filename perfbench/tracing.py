"""Tracing for the benchmark's traced run.

Spans are recorded only around calls the benchmark's own files make into
the engine. Spark-side figures come from Spark's status store (the data
behind the Spark UI, kept even with the UI off), read after a pass has
ended: each job is attributed to the (pass, op, phase) whose job group it
carries, or, for jobs Spark runs under its own group (a streaming query
sets its run id as the group), to the phase whose span covers the job's
submission time.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"


class Tracer:
    """Spans in memory; written out by the caller at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured before the tracer existed."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "parent": None, "start": start, "end": end,
                           **attrs})


def job_group(pass_no: int, op: str, phase: str) -> str:
    return f"{GROUP_PREFIX}|{pass_no}|{op}|{phase}"


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusStore:
    """Reads jobs, stages and tasks from the live ``AppStatusStore``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._last_job = -1
        self._seen_stages: set[int] = set()

    def new_jobs(self) -> list[dict]:
        """Jobs finished since the previous call, oldest first."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                continue
            sub = _opt(j.submissionTime())
            ids = j.stageIds()
            out.append({
                "job": j.jobId(),
                "group": _opt(j.jobGroup()),
                "submitted": sub.getTime() / 1000.0 if sub else None,
                "stages": [ids.apply(k) for k in range(ids.size())],
            })
        out.sort(key=lambda r: r["job"])
        if out:
            self._last_job = out[-1]["job"]
        return out

    def stage(self, sid: int) -> dict | None:
        """Metrics of a stage's latest attempt, once per stage per run."""
        if sid in self._seen_stages:
            return None
        self._seen_stages.add(sid)
        attempts = self._store.stageData(
            sid, False, self._no_status, False, self._no_quantiles)
        if attempts.size() == 0:
            return None
        s = attempts.apply(attempts.size() - 1)
        if s.status().toString() == "SKIPPED":
            return None
        durations = []
        tasks = self._store.taskList(sid, s.attemptId(), s.numTasks())
        for k in range(tasks.size()):
            d = _opt(tasks.apply(k).duration())
            if d is not None:
                durations.append(d)
        return {
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_bytes": s.inputBytes(),
            "input_records": s.inputRecords(),
            "output_bytes": s.outputBytes(),
            "output_records": s.outputRecords(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "spill_disk_bytes": s.diskBytesSpilled(),
            "spill_memory_bytes": s.memoryBytesSpilled(),
            "task_ms": durations,
        }


def attribute(jobs: list[dict], windows: list[tuple[float, float, str, str]]
              ) -> dict[tuple[str, str], list[dict]]:
    """Map each job to ``(op, phase)``: by our job group, else by time."""
    out: dict[tuple[str, str], list[dict]] = {}
    for j in jobs:
        key = None
        g = j["group"] or ""
        if g.startswith(GROUP_PREFIX + "|"):
            _, _, op, phase = g.split("|", 3)
            key = (op, phase)
        elif j["submitted"] is not None:
            for start, end, op, phase in windows:
                if start <= j["submitted"] <= end:
                    key = (op, phase)
                    break
        if key is not None:
            out.setdefault(key, []).append(j)
    return out


def plan_seconds(df) -> float:
    """Analysis + optimization + planning of ``df``'s own query.

    The Parquet write plans a query execution of its own, which PySpark
    does not expose, so this plans ``df``'s: called after the write,
    outside the timed spans, it re-runs optimization and planning of the
    same logical plan. Its analysis phase ran when the frame was built
    and is inside ``build.s`` as well.
    """
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total_ms += p.get().durationMs()
    return total_ms / 1e3


def stage_skew(stages: list[dict]) -> float:
    """Run-time-weighted mean of max/median task time over stages with
    at least two tasks; 1.0 when no stage qualifies."""
    num = den = 0.0
    for s in stages:
        d = s["task_ms"]
        if len(d) >= 2:
            med = statistics.median(d)
            w = max(s["run_s"], 1e-3)
            num += w * (max(d) / max(med, 1.0))
            den += w
    return num / den if den else 1.0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self._interval)


def _proc_stats() -> dict[int, list[str]]:
    """Every process's /proc stat fields after the command name."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                out[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


# Thread names (comm, cut to 15 characters) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s(root: int) -> tuple[float, float]:
    """CPU seconds used so far by ``root`` and its descendants (the JVM
    and the Python workers), reaped children's included, and the part of
    them the JVMs' JIT compiler threads used. Time the hypervisor stole
    from the host is not charged to any process. A compiler thread that
    exits takes its count with it, so the worker's JVM keeps them
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    stats = _proc_stats()
    ticks = jit = 0
    for pid in _tree(root, stats):
        if pid not in stats:
            continue
        ticks += sum(int(x) for x in stats[pid][11:15])  # u/s/cu/cs time
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    name, rest = fh.read().split("(", 1)[1].rsplit(")", 1)
            except (OSError, ValueError):
                continue
            if name.startswith(JIT_THREADS):
                f = rest.split()
                jit += int(f[11]) + int(f[12])
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def _tree_rss_kb(root: int) -> int:
    total = 0
    for pid in _tree(root, _proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total
