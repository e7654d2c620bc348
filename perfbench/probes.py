"""Measurement from outside the program: /proc process-tree counters,
spans around calls into the engine's layers, and a Spark event-log reader
that rolls executor CPU, shuffle and spill up per span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------ process tree


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(p) for p in fh.read().split()]
    except OSError:
        return []


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    todo, out = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the Python process and its descendants
    (the Spark JVM), as /proc accounts them."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            continue  # a process that exited between listing and reading
    return total / _TICK


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so that the peak
    excludes memory the benchmark used before the program started."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass  # kernel without peak reset: the peak then includes generation


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# ------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float = 0.0
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into the engine's layers, kept in memory.

    Entering a span tags the Spark jobs the calling thread issues with the
    span's layer (``setJobGroup``); jobs issued from threads the engine
    starts itself carry no group and are matched to the span by time.
    """

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        s = Span(name, layer, time.time(), parent=self._open[-1].name if self._open else None)
        self._open.append(s)
        self.spark.sparkContext.setJobGroup(layer, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self.spans.append(s)
            outer = self._open[-1].layer if self._open else None
            if outer:
                self.spark.sparkContext.setJobGroup(outer, self._open[-1].name)
            else:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def tag_thread(self, layer: str, name: str) -> None:
        """Tag jobs of the current (worker) thread with ``layer``."""
        self.spark.sparkContext.setJobGroup(layer, name)


# --------------------------------------------------------------- event log


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: tuple[int, ...] = ()
    stage_names: tuple[str, ...] = ()


@dataclass
class Agg:
    """Executor-side totals over a set of jobs."""

    jobs: int = 0
    tasks: int = 0
    result_tasks: int = 0  # tasks of each job's final stage (e.g. the write)
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_rows: int = 0
    output_mb: float = 0.0
    busy_s: float = 0.0  # union of job intervals


_MB = 1024 * 1024


class EventLog:
    """Jobs and task metrics parsed from one Spark JSON event log."""

    def __init__(self, path: Path):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[tuple[int, dict]] = []  # (stage id, task metrics)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000,
                        stages=tuple(ev.get("Stage IDs", ())),
                        stage_names=tuple(st.get("Stage Name", "") for st in ev.get("Stage Infos", ())),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
        self.stage_job = {s: j.job_id for j in self.jobs.values() for s in j.stages}

    def jobs_in(self, span: Span) -> list[Job]:
        return [j for j in self.jobs.values() if span.start <= j.submit <= span.end]

    def aggregate(self, jobs: list[Job]) -> Agg:
        a = Agg(jobs=len(jobs))
        ids = {j.job_id for j in jobs}
        ran: dict[int, int] = {}  # stage -> tasks, for stages of these jobs that ran
        for stage, m in self.tasks:
            if self.stage_job.get(stage) not in ids:
                continue
            ran[stage] = ran.get(stage, 0) + 1
            a.tasks += 1
            a.run_s += m.get("Executor Run Time", 0) / 1000
            a.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            a.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            a.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            a.input_rows += (m.get("Input Metrics") or {}).get("Records Read", 0)
            a.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / _MB
        for j in jobs:
            final = [s for s in j.stages if s in ran]
            if final:
                a.result_tasks += ran[max(final)]
        a.busy_s = _union_seconds([(j.submit, j.end) for j in jobs if j.end])
        return a


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def find_event_log(directory: Path) -> Path:
    logs = [p for p in directory.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {[p.name for p in logs]}")
    return logs[0]
