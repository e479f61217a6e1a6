"""Spans around the engine's public calls, the event-log fold, and the RSS
sampler.

A span is (name, start, end, parent, run id) plus counters, kept in memory
and folded at exit. A layer span brackets one layer's public call; while it
is open, its Spark jobs carry the job group ``<workload>/<layer>``. A part
span (``knn`` > ``construct``) times one part of that call and yields the
metric ``<layer>.<part>_s``. With tracing off, spans still take timestamps
but set no job group.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GENERIC = (
    "jobs",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "failed_tasks",
    "driver_gap_s",
)


@dataclass
class Span:
    name: str
    layer: str
    parent: Span | None
    run_id: str
    pass_id: int
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one workload; ``enabled`` turns on job groups."""

    def __init__(self, spark, workload: str, run_id: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = -1
        self._stack: list[Span] = []

    def begin_pass(self, pass_id: int) -> None:
        self.pass_id = pass_id

    def layer(self, name: str):
        """Span of one layer's public call; may nest in another layer."""
        return self._span(name, name)

    def part(self, name: str):
        """Span of one part (construct, action, ...) of the open layer."""
        return self._span(name, self._stack[-1].layer)

    @contextmanager
    def _span(self, name: str, layer: str):
        is_layer = name == layer
        s = Span(name, layer, self._stack[-1] if self._stack else None, self.run_id, self.pass_id)
        if self.enabled and is_layer:
            self._set_group(layer)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)
            if self.enabled and is_layer:
                outer = next((p for p in reversed(self._stack) if p.layer != layer), None)
                if outer is not None:
                    self._set_group(outer.layer)
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _set_group(self, layer: str) -> None:
        self.spark.sparkContext.setJobGroup(
            f"{self.workload}/{layer}", f"{self.run_id} pass {self.pass_id}"
        )


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(event_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every event log file under ``event_dir``.

    jobs: group, start, end (epoch seconds); tasks: group, launch, run_s,
    cpu_s, gc_s, shuffle_write_bytes, spill_bytes, failed.
    """
    jobs: dict[tuple[str, int], dict] = {}
    stage_group: dict[tuple[str, int], str] = {}
    tasks: list[dict] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        app_jobs: dict[int, dict] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    app_jobs[ev["Job ID"]] = {
                        "group": group,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_group[(path, st)] = group
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in app_jobs:
                        app_jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "group": stage_group.get((path, ev["Stage ID"])),
                            "launch": info.get("Launch Time", 0) / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                            "failed": bool(info.get("Failed")),
                        }
                    )
        jobs.update({(path, k): v for k, v in app_jobs.items()})
    return [j for j in jobs.values() if j["end"] is not None], tasks


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


def fold_layers(spans: list[Span], jobs: list[dict], tasks: list[dict], workload: str) -> dict:
    """GENERIC metrics of every layer span, summed per pass:
    {layer: {pass_id: {metric: value}}}. A span owns the jobs and tasks of
    its job group that started while it was open."""
    out: dict = {}
    layer_spans = [s for s in spans if s.name == s.layer]
    for s in layer_spans:
        group = f"{workload}/{s.layer}"
        own_jobs = [
            j for j in jobs if j["group"] == group and s.start <= j["start"] <= s.end
        ]
        own_tasks = [
            t for t in tasks if t["group"] == group and s.start <= t["launch"] <= s.end
        ]
        nested = [
            (c.start, c.end)
            for c in layer_spans
            if c is not s and c.layer != s.layer and _inside(c, s)
        ]
        busy = [(max(j["start"], s.start), min(j["end"], s.end)) for j in own_jobs]
        gap = s.seconds - _union_length(busy + nested)
        row = out.setdefault(s.layer, {}).setdefault(s.pass_id, dict.fromkeys(GENERIC, 0.0))
        row["jobs"] += len(own_jobs)
        row["tasks"] += len(own_tasks)
        row["task_run_s"] += sum(t["run_s"] for t in own_tasks)
        row["task_cpu_s"] += sum(t["cpu_s"] for t in own_tasks)
        row["gc_s"] += sum(t["gc_s"] for t in own_tasks)
        row["shuffle_write_bytes"] += sum(t["shuffle_write_bytes"] for t in own_tasks)
        row["spill_bytes"] += sum(t["spill_bytes"] for t in own_tasks)
        row["failed_tasks"] += sum(t["failed"] for t in own_tasks)
        row["driver_gap_s"] += max(gap, 0.0)
    return out


def _inside(c: Span, s: Span) -> bool:
    p = c.parent
    while p is not None:
        if p is s:
            return True
        p = p.parent
    return False


def jobs_within(jobs: list[dict], group: str, start: float, end: float) -> int:
    return sum(1 for j in jobs if j["group"] == group and start <= j["start"] <= end)


# ---------------------------------------------------------------------------
# RSS of the JVM process tree, from /proc
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss(root: int) -> int:
    """Summed RSS bytes of every descendant of ``root`` (the driver JVM, its
    Python daemon and workers), ``root`` excluded."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        rss[int(d)] = int(f[21]) * _PAGE
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += rss[pid]
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants (the driver JVM,
    its Python daemon and workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
