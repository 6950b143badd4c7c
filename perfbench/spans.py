"""Benchmark-side spans and the Spark event-log fold of the traced run.

A span is recorded around each call into a layer's public function. After
the traced session stops, its uncompressed event log is read back and
every task's metrics are summed into the span whose interval holds the
submission time of the task's job (the benchmark is single-threaded, so
its spans never overlap). Jobs that ``write_sinks`` submits from its own
thread pool are further split by the output path of their SQL execution.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# task-metric totals kept per span and per sink
FIELDS = ("run_s", "cpu_s", "gc_s", "input_bytes", "input_records",
          "shuffle_read_bytes", "shuffle_write_bytes", "memory_spill_bytes",
          "disk_spill_bytes", "bytes_written", "tasks")

# the write command's detail block in an execution's physical plan
_OUTPUT_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\nInput: .*\n"
    r"Arguments: (file:[^,\s]+)")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Records named, non-overlapping spans in wall-clock milliseconds
    (the clock the event log stamps jobs with)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        start = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time() * 1000.0))


@dataclass
class Totals:
    jobs: int = 0
    sums: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(FIELDS, 0.0))
    # shuffle-read stages: stage id -> per-task run times (s)
    stage_task_runs: dict[int, list[float]] = field(
        default_factory=lambda: defaultdict(list))
    stage_shuffle_read: dict[int, float] = field(
        default_factory=lambda: defaultdict(float))
    first_submit_ms: float | None = None

    def add_job(self, submit_ms: float) -> None:
        self.jobs += 1
        if self.first_submit_ms is None or submit_ms < self.first_submit_ms:
            self.first_submit_ms = submit_ms

    def add_task(self, stage: int, m: dict[str, float]) -> None:
        for k in FIELDS:
            self.sums[k] += m[k]
        if m["shuffle_read_bytes"] > 0:
            self.stage_task_runs[stage].append(m["run_s"])
            self.stage_shuffle_read[stage] += m["shuffle_read_bytes"]

    def task_skew(self) -> float:
        """max / median task run time of the stage that read the most
        shuffle bytes (0 when no stage read a shuffle)."""
        if not self.stage_shuffle_read:
            return 0.0
        stage = max(self.stage_shuffle_read, key=self.stage_shuffle_read.get)
        runs = sorted(self.stage_task_runs[stage])
        median = runs[len(runs) // 2] if len(runs) % 2 else (
            runs[len(runs) // 2 - 1] + runs[len(runs) // 2]) / 2
        return max(runs) / max(median, 0.001)


def event_files(log_dir: str) -> list[str]:
    """Spark 4 rolling event-log files (eventlog_v2_<app>/events_<n>_<app>)
    in write order. Only the uncompressed format is read."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no eventlog_v2_*/events_* under {log_dir}")
    for f in files:
        if "." in os.path.basename(f):   # a codec suffix, e.g. .zstd
            raise ValueError(f"compressed event log not supported: {f}")
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def read_events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "input_bytes": tm.get("Input Metrics", {}).get("Bytes Read", 0),
        "input_records": tm.get("Input Metrics", {}).get("Records Read", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle_write_bytes": tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0),
        "memory_spill_bytes": tm.get("Memory Bytes Spilled", 0),
        "disk_spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "bytes_written": tm.get("Output Metrics", {}).get("Bytes Written", 0),
        "tasks": 1,
    }


def sink_of(path: str | None, out_dir: str) -> str | None:
    """Sink name a write path belongs to: 'errors', 'tool_calls',
    'by_role' or 'reports'; None for a path outside ``out_dir``."""
    if path is None:
        return None
    rel = os.path.relpath(path.removeprefix("file:"), out_dir)
    if rel.startswith(".."):
        return None
    return rel.split(os.sep)[0]


@dataclass
class Fold:
    """Per-span task-metric totals; for sink spans also per sink, with
    jobs that wrote no file under the sink directory kept as
    'manifest' (the lineage pass) when submitted after the first sink
    write, else 'spine' (the cached-spine count that opens write_sinks)."""

    spans: list[tuple[Span, Totals]]
    sinks: dict[int, dict[str, Totals]]


def fold(events, spans: list[Span], sink_spans: dict[int, str]) -> Fold:
    """Sum task metrics into spans. ``sink_spans`` maps the index of each
    write_sinks span in ``spans`` to the output directory it wrote."""
    exec_path: dict[str, str | None] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, tuple[int, float, str | None]] = {}  # span, submitted, path
    tasks: dict[int, list] = defaultdict(list)

    for ev in events:
        kind = ev["Event"]
        if kind == _SQL_START:
            m = _OUTPUT_PATH.search(ev.get("physicalPlanDescription", ""))
            exec_path[str(ev["executionId"])] = m.group(1) if m else None
        elif kind == "SparkListenerJobStart":
            for st in ev["Stage IDs"]:
                # a stage listed again by a later job was skipped there
                stage_job.setdefault(st, ev["Job ID"])
            t = ev["Submission Time"]
            i = next((k for k, s in enumerate(spans)
                      if s.start_ms <= t <= s.end_ms), None)
            if i is not None:
                ex = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = (i, t, exec_path.get(ex))
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job in jobs:
                tasks[job].append((ev["Stage ID"], _task_metrics(ev)))

    totals = [(s, Totals()) for s in spans]
    sinks: dict[int, dict[str, Totals]] = {i: defaultdict(Totals)
                                           for i in sink_spans}
    first_write = {i: min((t for k, t, p in jobs.values()
                           if k == i and sink_of(p, out)),
                          default=float("inf"))
                   for i, out in sink_spans.items()}
    for job, (i, t, path) in jobs.items():
        targets = [totals[i][1]]
        if i in sink_spans:
            sink = sink_of(path, sink_spans[i]) or (
                "manifest" if t > first_write[i] else "spine")
            targets.append(sinks[i][sink])
        for tot in targets:
            tot.add_job(t)
            for stage, m in tasks[job]:
                tot.add_task(stage, m)
    return Fold(totals, sinks)
