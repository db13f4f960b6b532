"""Spans recorded around the engine calls, and per-layer metrics from them
and from Spark's own event log.

A span is (name, phase, start, end, parent). ``phase`` is set on the leaf
spans that wrap one call into the engine: ``build`` (a registry query
function), ``execute`` (the noop write), ``source`` (``read_corpus``),
``sink`` (``invert`` + ``write_letter_files``), ``append`` (the streaming
index until its backlog drains) and ``check`` (collecting rows for the
output check, outside the measured window). With tagging on, every leaf span
also tags the Spark jobs it starts with ``perfbench/<workload>/<name>/<phase>``.
A job without such a tag (one started from another thread, e.g. by the
stream) is assigned to the leaf span open when it was submitted; the load is
one closed-loop client, so at most one leaf span is open at a time.

Per-layer metrics cover the measured window only. Metrics with a ``/op`` unit
are totals divided by the number of operations in the window, so a workload
that runs until a deadline reads the same whatever the number of rounds.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

TAG_PREFIX = "perfbench"
MEASURED_PHASES = ("build", "execute", "source", "sink", "append")
_TAG_RE = re.compile(TAG_PREFIX + r"/[^,/]+/([^,]+)/([a-z]+)")
_MB = 1e6


@dataclass
class Span:
    name: str
    phase: str | None
    start: float
    end: float
    parent: int | None
    cpu: float = float("nan")  # process-tree CPU seconds, if recorded


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


# JVM threads that compile and collect: how much of their work lands in a
# given interval depends on how much CPU the host has spare at the time
_JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
                        "GC Thread", "G1 ", "VM Thread")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the JVM,
    the Python workers), including their reaped children, less the JVM's
    compiler and garbage-collector threads. The JVM must keep its compiler
    threads for its whole life (``-XX:-UseDynamicNumberOfCompilerThreads``):
    the time of a thread that ended cannot be told apart."""
    ticks = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/stat") as fh:
                    stat = fh.read()
                if stat[stat.index("(") + 1:].startswith(_JVM_SERVICE_THREADS):
                    ticks -= sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Records spans in memory. Given a session, it also tags the jobs that
    each leaf span starts, so the event log can be split by span."""

    def __init__(self, workload: str, spark=None):
        self.workload = workload
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, phase: str | None = None, cpu: bool = False):
        """``cpu``: also record the process tree's CPU seconds spent inside
        the span (``/proc`` is read outside the timed interval)."""
        cpu0 = tree_cpu_s() if cpu else 0.0
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, phase, time.time(), float("nan"), parent))
        self._open.append(idx)
        tag = f"{TAG_PREFIX}/{self.workload}/{name}/{phase}"
        if phase and self.spark is not None:
            self.spark.addTag(tag)
        try:
            yield self.spans[idx]
        finally:
            if phase and self.spark is not None:
                self.spark.removeTag(tag)
            self.spans[idx].end = time.time()
            self._open.pop()
            if cpu:
                self.spans[idx].cpu = tree_cpu_s() - cpu0

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the time its children cover."""
        s = self.spans[idx]
        children = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (s.end - s.start) - children

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def read_event_log(log_dir: str):
    """Yield the events of the one application logged under ``log_dir``
    (a single file, or the numbered parts of a rolling ``eventlog_v2_*``
    directory). Compression must be off."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    if len(files) == 1 and os.path.isdir(files[0]):
        parts = glob.glob(os.path.join(files[0], "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    elif len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def _walk_plan(node, out: dict[int, tuple[str, str, str]]) -> None:
    kind = node["nodeName"].split(" ")[0]
    for m in node["metrics"]:
        out[m["accumulatorId"]] = (kind, m["name"], m["metricType"])
    for child in node["children"]:
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


class _Layers:
    """Event-log totals for the jobs of the measured window."""

    def __init__(self, tracer: Tracer, window: Span):
        self.w0, self.w1 = window.start * 1000, window.end * 1000
        leaves = [s for s in tracer.spans if s.phase in MEASURED_PHASES]
        leaves.sort(key=lambda s: s.start)
        self._leaf_starts = [s.start * 1000 for s in leaves]
        self._leaves = leaves
        self.jobs = 0
        self.untagged = 0
        self.job_phase: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.listed_stages: set[int] = set()
        self.submitted_stages: set[int] = set()
        self.exec_start: dict[int, float] = {}
        self.exec_first_job: dict[int, float] = {}
        self.aqe_updates = 0
        self.acc_kind: dict[int, tuple[str, str, str]] = {}
        self.acc_total: dict[int, float] = defaultdict(float)
        self.driver_acc: dict[int, dict[int, float]] = defaultdict(dict)
        self.tasks: dict[str, float] = defaultdict(float)
        self.persisted: set[int] = set()
        self.unpersists = 0
        self._now = 0.0

    def _phase_at(self, t_ms: float) -> str | None:
        i = bisect.bisect_right(self._leaf_starts, t_ms) - 1
        if i >= 0 and t_ms <= self._leaves[i].end * 1000:
            return self._leaves[i].phase
        return None

    def _in_window(self, t_ms: float) -> bool:
        return self.w0 <= t_ms <= self.w1

    def feed(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            self._now = t
            if not self._in_window(t):
                return
            props = e.get("Properties") or {}
            m = _TAG_RE.search(props.get("spark.job.tags") or "")
            phase = m.group(2) if m else self._phase_at(t)
            if phase not in MEASURED_PHASES:
                return
            self.jobs += 1
            self.untagged += m is None
            self.job_phase[e["Job ID"]] = phase
            for st in e["Stage Infos"]:
                self.listed_stages.add(st["Stage ID"])
                self.stage_job.setdefault(st["Stage ID"], e["Job ID"])
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                ex = int(ex)
                self.exec_first_job[ex] = min(self.exec_first_job.get(ex, t), t)
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in self.stage_job:
                self.submitted_stages.add(sid)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in self.stage_job:
                for rdd in info.get("RDD Info", []):
                    lvl = rdd.get("Storage Level", {})
                    if lvl.get("Use Memory") or lvl.get("Use Disk"):
                        self.persisted.add(rdd["RDD ID"])
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in self.stage_job:
                return
            self._task(e)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self._now = e["time"]
            if self._in_window(e["time"]):
                self.exec_start[e["executionId"]] = e["time"]
            _walk_plan(e["sparkPlanInfo"], self.acc_kind)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in self.exec_start:
                self.aqe_updates += 1
            _walk_plan(e["sparkPlanInfo"], self.acc_kind)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            if e["executionId"] in self.exec_start:
                for acc, val in e["accumUpdates"]:
                    self.driver_acc[e["executionId"]][acc] = _num(val)
        elif kind == "SparkListenerUnpersistRDD":
            self.unpersists += self._in_window(self._now)

    def _task(self, e: dict) -> None:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        t = self.tasks
        t["n"] += 1
        duration = info["Finish Time"] - info["Launch Time"]
        t["duration_ms"] += duration
        t["run_ms"] += m.get("Executor Run Time", 0)
        t["cpu_ns"] += m.get("Executor CPU Time", 0)
        t["gc_ms"] += m.get("JVM GC Time", 0)
        t["deser_ms"] += m.get("Executor Deserialize Time", 0)
        t["delay_ms"] += max(
            0,
            duration
            - m.get("Executor Run Time", 0)
            - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )
        sr = m.get("Shuffle Read Metrics") or {}
        t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        t["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        t["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        t["spill_mem_b"] += m.get("Memory Bytes Spilled", 0)
        t["spill_disk_b"] += m.get("Disk Bytes Spilled", 0)
        if self.job_phase.get(self.stage_job[e["Stage ID"]]) == "build":
            t["build_task_ms"] += duration
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                self.acc_total[acc["ID"]] += _num(acc.get("Update"))

    def sql(self) -> dict[tuple[str, str], float]:
        """Totals by (operator kind, metric name); timings in ms, sizes in
        bytes."""
        totals: dict[tuple[str, str], float] = defaultdict(float)
        merged = dict(self.acc_total)
        for accs in self.driver_acc.values():
            merged.update(accs)
        for acc, val in merged.items():
            if acc in self.acc_kind:
                kind, name, mtype = self.acc_kind[acc]
                totals[(kind, name)] += val / 1e6 if mtype == "nsTiming" else val
        return totals


def _sum(totals, kinds: tuple[str, ...], names: tuple[str, ...]) -> float:
    return sum(
        v for (k, n), v in totals.items()
        if n in names and (not kinds or any(k.startswith(p) for p in kinds))
    )


def layer_metrics(tracer: Tracer, window: Span, ops: int, slots: int,
                  log_dir: str) -> dict[str, float]:
    """Per-layer metrics of the measured ``window`` (see module docstring)."""
    lay = _Layers(tracer, window)
    for e in read_event_log(log_dir):
        lay.feed(e)
    sql = lay.sql()
    t = lay.tasks
    per = 1.0 / max(ops, 1)
    wall = window.end - window.start
    build_s = sum(
        tracer.self_time(i) for i, s in enumerate(tracer.spans)
        if s.phase == "build" and window.start <= s.start <= window.end
    )
    plan_ms = sum(
        max(0.0, lay.exec_first_job[ex] - t0)
        for ex, t0 in lay.exec_start.items() if ex in lay.exec_first_job
    )
    build_jobs = sum(1 for p in lay.job_phase.values() if p == "build")
    mem_rows = _sum(sql, ("InMemoryTableScan",), ("number of output rows",))
    file_rows = _sum(sql, ("Scan", "BatchScan"), ("number of output rows",))
    return {
        "build.s": build_s * per,
        "build.jobs": build_jobs * per,
        "build.task_s": t["build_task_ms"] / 1e3 * per,
        "plan.s": plan_ms / 1e3 * per,
        "plan.aqe_updates": lay.aqe_updates * per,
        "sched.jobs": lay.jobs * per,
        "sched.stages": len(lay.submitted_stages) * per,
        "sched.stages_skipped": len(lay.listed_stages - lay.submitted_stages) * per,
        "sched.tasks": t["n"] * per,
        "sched.delay_s": t["delay_ms"] / 1e3 * per,
        "exec.busy_frac": t["duration_ms"] / 1e3 / (wall * slots),
        "exec.run_s": t["run_ms"] / 1e3 * per,
        "exec.cpu_s": t["cpu_ns"] / 1e9 * per,
        "exec.gc_s": t["gc_ms"] / 1e3 * per,
        "exec.deser_s": t["deser_ms"] / 1e3 * per,
        "op.agg_s": _sum(sql, ("HashAggregate", "ObjectHashAggregate", "SortAggregate"),
                         ("time in aggregation build",)) / 1e3 * per,
        "op.sort_s": _sum(sql, ("Sort",), ("sort time",)) / 1e3 * per,
        "op.scan_s": _sum(sql, ("Scan", "BatchScan"), ("scan time",)) / 1e3 * per,
        "op.broadcast_s": _sum(sql, ("BroadcastExchange",),
                               ("time to collect", "time to build", "time to broadcast")) / 1e3 * per,
        "op.shuffle_write_s": _sum(sql, ("Exchange",), ("shuffle write time",)) / 1e3 * per,
        "shuffle.write_mb": t["shuffle_write_b"] / _MB * per,
        "shuffle.read_mb": t["shuffle_read_b"] / _MB * per,
        "shuffle.fetch_wait_s": t["fetch_wait_ms"] / 1e3 * per,
        "spill.disk_mb": t["spill_disk_b"] / _MB * per,
        "spill.mem_mb": t["spill_mem_b"] / _MB * per,
        "python.run_s": _sum(sql, (), ("time to run Python workers",)) / 1e3 * per,
        "python.start_s": _sum(sql, (), ("time to start Python workers",)) / 1e3 * per,
        "python.init_s": _sum(sql, (), ("time to initialize Python workers",)) / 1e3 * per,
        "python.sent_mb": _sum(sql, (), ("data sent to Python workers",)) / _MB * per,
        "python.returned_mb": _sum(sql, (), ("data returned from Python workers",)) / _MB * per,
        "cache.read_frac": mem_rows / (mem_rows + file_rows) if mem_rows + file_rows else 0.0,
        "cache.persisted": float(len(lay.persisted)),
        "cache.unpersists": float(lay.unpersists),
        "scan.files": _sum(sql, ("Scan", "BatchScan"), ("number of files read",)) * per,
        "scan.mb": _sum(sql, ("Scan", "BatchScan"), ("size of files read",)) / _MB * per,
        "scan.rows": file_rows * per,
        "trace.untagged_frac": lay.untagged / lay.jobs if lay.jobs else 0.0,
    }
