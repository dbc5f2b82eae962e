"""Spans, job groups, Spark event-log parsing and process-tree RSS sampling.

Everything here observes the program from outside: spans wrap the
benchmark's calls into the package's public functions, and the Spark
numbers come from the event log Spark itself writes. With tracing off,
``Tracer`` records nothing and sets no job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
    "idle_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain-JSON, single-file event log into ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    phase: str
    request_id: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.phase}|{self.request_id}"


@dataclass
class Tracer:
    """In-memory spans; each span tags the Spark jobs it launches with the
    job group ``<phase>|<request id>``."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, phase: str, request_id: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, phase, request_id, parent.name if parent else None, time.time())
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job/stage/task counts, task time sums, shuffle and
    spill bytes, and the task intervals (epoch seconds)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "intervals": [],
        })

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp(g)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageSubmitted":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        stage_group[e["Stage Info"]["Stage ID"]] = g
                        grp(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    d = grp(g)
                    info = e["Task Info"]
                    d["tasks"] += 1
                    d["failed_tasks"] += int(bool(info.get("Failed")))
                    d["intervals"].append(
                        (info["Launch Time"] / 1e3, info["Finish Time"] / 1e3)
                    )
                    m = e.get("Task Metrics") or {}
                    d["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    d["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    rd = m.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    wr = m.get("Shuffle Write Metrics") or {}
                    d["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


def phase_metrics(groups: dict[str, dict], spans: list[Span], phases: dict[str, tuple[str, ...]]) -> dict[str, dict]:
    """Aggregate job groups into named phases. ``phases`` maps a reported
    phase name to the span phases it covers. ``idle_s`` is span wall time
    during which no task of the span's job group was running."""
    out = {}
    for name, members in phases.items():
        agg = {k: 0 for k in SPARK_FIELDS}
        for sp in spans:
            if sp.phase not in members or sp.parent is not None:
                continue
            d = groups.get(sp.group)
            clipped = [
                (max(s, sp.start), min(e, sp.end))
                for s, e in (d["intervals"] if d else [])
                if e > sp.start and s < sp.end
            ]
            agg["idle_s"] += (sp.end - sp.start) - _union_length(clipped)
            if d:
                for k in SPARK_FIELDS:
                    if k != "idle_s":
                        agg[k] += d[k]
        out[name] = agg
    return out


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _tree_pids(os.getpid()))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
