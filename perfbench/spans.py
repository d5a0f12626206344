"""Benchmark-side tracing: in-memory spans, Spark job/task counts per span,
event-log engine counters and process-tree memory.

Spans are recorded from the benchmark's own files around calls into the
engine's public functions; the engine itself is not instrumented.  Each
span carries (name, start, end, parent, trace id).  While a span is open
its Spark jobs run under a job group named after the span, so the status
tracker attributes jobs and tasks to the innermost open span.  Timed
operations use groups starting with ``TIMED``; between spans the group is
``UNTIMED``, so the event-log counters can be restricted to the timed
region.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

TIMED = "bench-"
UNTIMED = "untimed"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace_id: int = 0
    span_id: int = 0
    jobs: int = 0
    tasks: int = 0
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op that
    only yields, so untraced operations run the same code path."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0  # time spent in the tracer's own calls
    _stack: list[Span] = field(default_factory=list)
    _trace: int = 0

    def new_trace(self) -> None:
        self._trace += 1

    @contextmanager
    def span(self, name: str, group_prefix: str = TIMED):
        """Record one span; its Spark jobs run under the job group
        ``<group_prefix><span id>``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            0.0,
            parent=parent.span_id if parent else None,
            trace_id=self._trace,
            span_id=len(self.spans),
        )
        s.group = f"{group_prefix}{s.span_id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            tracker = self.sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(s.group):
                s.jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    s.tasks += stage.numTasks if stage else 0
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup(UNTIMED, UNTIMED)
            self.bookkeeping_s += time.perf_counter() - s.end

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.span_id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def subtree(self, s: Span) -> list[Span]:
        out, frontier = [], [s.span_id]
        while frontier:
            pid = frontier.pop()
            for c in self.spans:
                if c.parent == pid:
                    out.append(c)
                    frontier.append(c.span_id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "trace_id": s.trace_id,
                            "span_id": s.span_id,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self_s": self.self_time(s),
                            "jobs": s.jobs,
                            "tasks": s.tasks,
                        }
                    )
                    + "\n"
                )


def med(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


# ---------------------------------------------------------- event log ----


def engine_counters(event_dir: str, prefix: str = TIMED) -> dict:
    """Task counters of the most recent application in ``event_dir``,
    restricted to jobs run under a job group starting with ``prefix``
    (by default the timed operations: not the set-up, warm-ups, samples
    or checks)."""
    logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    if not logs:
        raise RuntimeError(f"no Spark event log under {event_dir}")
    path = max(logs, key=os.path.getmtime)
    stage_ok: set[int] = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if group.startswith(prefix):
                    stage_ok.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    out = {
        "tasks": 0,
        "task_run_s": 0.0,
        "max_task_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "gc_s": 0.0,
        "spill_bytes": 0,
    }
    for ev in tasks:
        if ev.get("Stage ID") not in stage_ok:
            continue
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        out["tasks"] += 1
        out["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        out["max_task_s"] = max(
            out["max_task_s"],
            (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
        )
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    return out


# ---------------------------------------------------------------- cpu ----


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies: user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (steal): a machine-load signal that
    explains slow runs without touching the measurement."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


# ------------------------------------------------------------- memory ----


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of ``root`` and each live descendant:
    the Python driver, the driver JVM and the Python workers, keyed
    "<pid>:<name>".  Read from /proc (psutil is not installed)."""
    root = root or os.getpid()
    kids = _children()
    out, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        frontier.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[f"{pid}:{name}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
