"""Spans, job-group tags and the event-log layer table of a traced run.

A traced run keeps spans in memory (pass -> query -> build/plan/execute,
or pass -> compile/bronze/silver/report), tags every span with a Spark job
group named after its path, and reads Spark's own event log once the
session has stopped. ``SparkListenerJobStart`` carries the job group in
its ``spark.jobGroup.id`` property, so every job, stage and
``SparkListenerTaskEnd`` is attributed to the span that started it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    start: float
    parent: int | None
    end: float = 0.0
    leaked_rdds: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and sets job groups while ``on``; otherwise a no-op."""

    def __init__(self, spark, on: bool):
        self.sc = spark.sparkContext
        self.on = on
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, count_rdds: bool = False):
        """Time a block as a child of the open span. With ``count_rdds``,
        also count the RDDs persisted inside the block and still persisted
        at its end: ids of other blocks that the context cleaner releases
        late drop out of both sets, so they cannot make the count
        negative."""
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        group = f"{self.spans[parent].group}/{name}" if parent is not None else name
        self.spans.append(Span(name, group, time.perf_counter(), parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.sc.setJobGroup(group, group)
        before = self._persisted() if count_rdds else set()
        try:
            yield
        finally:
            if count_rdds:
                self.spans[idx].leaked_rdds = len(self._persisted() - before)
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].group)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _persisted(self) -> set[int]:
        return set(self.sc._jsc.getPersistentRDDs().keySet())

    def self_seconds(self) -> list[float]:
        """Span duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        return [s.seconds - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "name": s.name,
                "group": s.group,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "parent": s.parent,
                "self_s": round(own, 6),
                "leaked_rdds": s.leaked_rdds,
            }
            for s, own in zip(self.spans, self.self_seconds())
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=0)


@dataclass
class GroupStats:
    """Event-log totals for one job group."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    input_stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from the (uncompressed) event log in ``log_dir``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group].jobs += 1
                    for info in ev.get("Stage Infos", ()):
                        stage_group.setdefault(info["Stage ID"], group)
                elif kind == "SparkListenerTaskEnd":
                    _add_task(groups[stage_group.get(ev["Stage ID"], "")], ev)
    return groups


def _add_task(g: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    g.tasks += 1
    g.stages.add(ev["Stage ID"])
    if info.get("Failed"):
        g.failed_tasks += 1
    g.run_s += m.get("Executor Run Time", 0) / 1e3
    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.deser_s += m.get("Executor Deserialize Time", 0) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    g.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
    g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
    read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    if read:
        g.input_stages.add(ev["Stage ID"])
    g.input_mb += read / MB
    g.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB


# per-layer metric -> span name whose summed duration it reports
SPAN_SECONDS = {
    "queries.build_s": "build",
    "spark.plan_s": "plan",
    "spark.execute_s": "execute",
    "schema.compile_s": "compile",
    "medallion.bronze_ingest_s": "bronze",
    "medallion.silver_refine_s": "silver",
    "quality.report_s": "report",
}

# per-layer metric -> GroupStats attribute summed over a pass
GROUP_TOTALS = {
    "exec.run_s": "run_s",
    "exec.cpu_s": "cpu_s",
    "exec.gc_s": "gc_s",
    "exec.deser_s": "deser_s",
    "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.write_mb": "shuffle_write_mb",
    "spill.mb": "spill_mb",
    "exec.failed_tasks": "failed_tasks",
    "io.input_mb": "input_mb",
    "io.output_mb": "output_mb",
}


def pass_layers(
    tracer: Tracer, groups: dict[str, GroupStats], pass_span: int, cores: int
) -> dict[str, float]:
    """Layer metrics of one traced pass: span sums plus event-log totals of
    every job group under the pass."""
    top = tracer.spans[pass_span]
    prefix = top.group + "/"
    inside = [s for s in tracer.spans if s.group.startswith(prefix)]
    out = {m: sum(s.seconds for s in inside if s.name == n) for m, n in SPAN_SECONDS.items()}
    mine = [g for name, g in groups.items() if name == top.group or name.startswith(prefix)]
    for metric, attr in GROUP_TOTALS.items():
        out[metric] = sum(getattr(g, attr) for g in mine)
    out["queries.build_jobs"] = sum(
        g.jobs for name, g in groups.items() if name.startswith(prefix) and name.endswith("/build")
    )
    out["queries.leaked_rdds"] = sum(s.leaked_rdds for s in inside)
    out["spark.jobs"] = sum(g.jobs for g in mine)
    out["spark.stages"] = sum(len(g.stages) for g in mine)
    out["spark.tasks"] = sum(g.tasks for g in mine)
    out["sched.idle_core_s"] = top.seconds * cores - out["exec.run_s"]
    # silver_refine reads no file but bronze, so its file-reading stages
    # are its bronze scans
    out["medallion.bronze_scans"] = sum(
        len(g.input_stages)
        for name, g in groups.items()
        if name.startswith(prefix) and name.endswith("/silver")
    )
    return out


def median_layers(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}

