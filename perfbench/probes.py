"""Measurement from outside the engine: /proc counters, Spark's JSON
event log, and in-memory spans.

Nothing here imports the engine; the harness passes in pids, paths and
timestamps.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """``(comm, fields after comm)`` of a /proc stat file; None if gone."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    return raw[lpar + 1:rpar], raw[rpar + 2:].split()


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(FileNotFoundError, ProcessLookupError):
            with open(path) as fh:
                kids.extend(int(p) for p in fh.read().split())
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


@dataclass
class TreeCpu:
    """CPU seconds of a process tree at one instant. ``own`` is the
    root's own threads; ``children`` everything below it, including
    exited and reaped descendants (their time lands in the parent's
    cutime/cstime)."""

    own: float
    children: float

    @property
    def total(self) -> float:
        return self.own + self.children


def tree_cpu(root: int) -> TreeCpu:
    own = children = 0.0
    for pid in process_tree(root):
        st = _stat_fields(f"/proc/{pid}/stat")
        if st is None:
            continue
        f = st[1]  # f[11..14] = utime stime cutime cstime
        utime, stime, cutime, cstime = (int(x) / TICK for x in f[11:15])
        if pid == root:
            own += utime + stime
            children += cutime + cstime
        else:
            children += utime + stime + cutime + cstime
    return TreeCpu(own, children)


def self_cpu() -> float:
    t = os.times()
    return t.user + t.system


def _thread_group(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "task"
    if "CompilerThre" in comm:
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def jvm_threads(pid: int) -> tuple[float, dict[tuple[int, str], float]]:
    """CPU seconds of the JVM process, and of each of its live threads
    keyed by ``(tid, name)``."""
    threads = {}
    for path in glob.glob(f"/proc/{pid}/task/*/stat"):
        st = _stat_fields(path)
        if st is not None:
            threads[(int(path.split("/")[-2]), st[0])] = (int(st[1][11]) + int(st[1][12])) / TICK
    proc = _stat_fields(f"/proc/{pid}/stat")
    return (int(proc[1][11]) + int(proc[1][12])) / TICK, threads


def thread_cpu_split(before, after) -> dict[str, float]:
    """JVM CPU seconds between two :func:`jvm_threads` samples, by
    thread role: ``task`` (executor task threads), ``jit`` and ``gc``
    from the threads alive at ``after``; ``other`` is the rest of the
    process's CPU, so it includes what threads that exited in between
    used."""
    groups = {"task": 0.0, "jit": 0.0, "gc": 0.0}
    for key, cpu in after[1].items():
        group = _thread_group(key[1])
        if group in groups:
            groups[group] += cpu - before[1].get(key, 0.0)
    groups["other"] = after[0] - before[0] - sum(groups.values())
    return groups


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident memory (``VmHWM``) of ``root`` and its
    live descendants. Pages a forked Python worker still shares with
    its parent count in both."""
    kb = 0
    for pid in process_tree(root):
        with contextlib.suppress(FileNotFoundError, ProcessLookupError):
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
    return kb / 1024


class HostRecord:
    """Load average and hypervisor steal over a run, from /proc."""

    def __init__(self):
        self.load_start = os.getloadavg()
        self._cpu_start = self._cpu()

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def finish(self) -> dict[str, float]:
        end = self._cpu()
        delta = [b - a for a, b in zip(self._cpu_start, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "load_1m_start": self.load_start[0],
            "load_1m_end": os.getloadavg()[0],
            "steal_pct": 100.0 * delta[7] / total,
        }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    step: int


@dataclass
class Tracer:
    """Spans kept in memory; a disabled tracer records nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, step: int):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, step))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_times(self, step: int) -> dict[str, float]:
        """Per span name: duration minus the part covered by children."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.step == step and s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.step == step:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered.get(i, 0.0)
        return out

    def durations(self, step: int) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.step == step:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@dataclass
class StepSpark:
    """Spark work attributed to one step from the event log."""

    jobs_by_group: dict[str, int] = field(default_factory=dict)
    tasks: int = 0
    stages: int = 0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    fetch_wait_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    stage_skews: list[float] = field(default_factory=list)

    @property
    def task_skew(self) -> float:
        return statistics.median(self.stage_skews) if self.stage_skews else 1.0


def parse_event_log(log_dir: str, windows: dict[int, tuple[float, float]]) -> dict[int, StepSpark]:
    """Attribute every job in the event log to the step whose wall-time
    window (epoch seconds) contains its submission, and sum its tasks'
    metrics. Jobs keep the job group they were submitted under; jobs
    started from threads that did not inherit a group count as ``""``."""
    events = []
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if os.path.isfile(path):  # one file, or a rolling log's directory of them
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.startswith("{"))
    stage_step: dict[int, int] = {}
    out = {step: StepSpark() for step in windows}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        t = ev["Submission Time"] / 1000.0
        step = next((s for s, (a, b) in windows.items() if a <= t <= b), None)
        if step is None:
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        rec = out[step]
        rec.jobs_by_group[group] = rec.jobs_by_group.get(group, 0) + 1
        for sid in ev["Stage IDs"]:
            stage_step[sid] = step
    durations: dict[int, list[float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_step:
                out[stage_step[sid]].stages += 1
        if kind != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_step:
            continue
        rec = out[stage_step[ev["Stage ID"]]]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        rec.tasks += 1
        durations.setdefault(ev["Stage ID"], []).append(info["Finish Time"] - info["Launch Time"])
        sr = m.get("Shuffle Read Metrics", {})
        rec.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
        rec.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
        rec.shuffle_write_mb += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
        rec.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        rec.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        rec.jvm_gc_s += m.get("JVM GC Time", 0) / 1000.0
    for sid, ds in durations.items():
        if len(ds) >= 2:
            med = statistics.median(ds)
            out[stage_step[sid]].stage_skews.append(max(ds) / med if med > 0 else 1.0)
    return out
