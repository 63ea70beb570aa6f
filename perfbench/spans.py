"""Spans around calls into the program, and per-span Spark counters
read from an uncompressed event log.

A span is (name, start, end) in epoch seconds. Spans are kept in
memory; the event log is read once, after the traced passes, and each
Spark job is charged to the innermost span whose interval holds the
job's submission time. Passes are closed-loop and single-threaded, so
that interval test is exact, and it also catches jobs that a
streaming query or a ``foreachBatch`` callback submits from another
thread (those do not inherit the caller's job group).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

EVENT_STATS = ("jobs", "tasks", "task_s", "shuffle_write_bytes",
               "spill_bytes")


class Tracer:
    """``span(name)`` times a block; with ``enabled`` it also labels the
    block's Spark jobs with a job group named after the span."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(name, name)
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            self._stack.pop()
            if self.enabled:
                if self._stack:
                    sc.setJobGroup(self._stack[-1], self._stack[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def durations(self, since: float = 0.0) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for name, t0, t1 in self.spans:
            if t0 >= since:
                out.setdefault(name, []).append(t1 - t0)
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application logged under
    ``log_dir``: Spark 4 writes an ``eventlog_v2_*`` directory of
    rolled ``events_<n>_*`` files."""
    events = []
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def span_event_stats(events: list[dict],
                     spans: list[tuple[str, float, float]]
                     ) -> dict[str, dict[str, float]]:
    """Per span name: jobs, tasks, summed task run time (s), shuffle
    bytes written and bytes spilled (memory + disk), for the jobs whose
    submission falls inside one of that name's spans (innermost span
    wins)."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, str] = {}
    # innermost = the shortest span that holds the instant
    ordered = sorted(spans, key=lambda s: s[2] - s[1])

    def owner(t: float) -> str | None:
        for name, t0, t1 in ordered:
            if t0 <= t <= t1:
                return name
        return None

    stats: dict[str, dict[str, float]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            name = owner(ev["Submission Time"] / 1000.0)
            if name is None:
                continue
            job_span[ev["Job ID"]] = name
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            stats.setdefault(name, dict.fromkeys(EVENT_STATS, 0.0))
            stats[name]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev.get("Stage ID"))
            if job is None or job not in job_span:
                continue
            s = stats[job_span[job]]
            m = ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            s["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            s["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0))
    return stats
