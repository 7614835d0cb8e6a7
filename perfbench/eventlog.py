"""Aggregate task metrics from an uncompressed Spark event log by job group.

The benchmark gives each timed pass its own job group
(``SparkContext.setJobGroup``); this module reads the JSON-lines event log
that ``spark.eventLog.enabled=true`` with ``spark.eventLog.compress=false``
writes, and sums the task metrics of each group's jobs.  Any other job
property can stand in for the group: a streaming query's jobs carry their
micro-batch id in ``streaming.sql.batchId``.  Spark 4 writes a
rolling log: a directory ``eventlog_v2_<app>`` of ``events_<n>_<app>`` files,
read here in index order.  A single file is accepted too.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    """Task metrics of one job group.  Times in seconds."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    # max / median task run time of the stage with the most task run time
    task_skew: float = 0.0
    # wall time from the first job's submission to the last job's end
    span_s: float = 0.0
    # part of span_s during which no task of the group was running
    sched_gap_s: float = 0.0
    stage_task_ms: dict = field(default_factory=dict, repr=False)

    @property
    def python_s(self) -> float:
        """Task run time not spent on JVM CPU: Python workers, Arrow
        transfer and blocking I/O."""
        return self.task_run_s - self.jvm_cpu_s


def log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    # events_<index>_<app>: order by the numeric index, not lexically
    names.sort(key=lambda n: int(n.split("_")[1]))
    return [os.path.join(path, n) for n in names]


def read_events(path: str):
    for name in log_files(path):
        with open(name, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _covered_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def aggregate_by_group(
    events, prop: str = "spark.jobGroup.id"
) -> dict[str, GroupMetrics]:
    """``{job group: GroupMetrics}`` over the jobs that carry a group, the
    group being the job property ``prop``."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_times: dict[str, list[int]] = {}
    task_spans: dict[str, list[tuple[int, int]]] = {}
    out: dict[str, GroupMetrics] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(prop)
            if group is None:
                continue
            job_group[ev["Job ID"]] = group
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            g = out.setdefault(group, GroupMetrics())
            g.jobs += 1
            job_times.setdefault(group, []).append(ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            group = job_group.get(ev["Job ID"])
            if group is not None:
                job_times[group].append(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = out[group]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            g.tasks += 1
            run_ms = tm.get("Executor Run Time", 0)
            g.task_run_s += run_ms / 1e3
            g.jvm_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            g.stage_task_ms.setdefault(ev["Stage ID"], []).append(run_ms)
            task_spans.setdefault(group, []).append(
                (info["Launch Time"], info["Finish Time"])
            )
    for group, g in out.items():
        g.stages = len(g.stage_task_ms)
        times = job_times.get(group, [])
        if times:
            g.span_s = (max(times) - min(times)) / 1e3
            g.sched_gap_s = g.span_s - _covered_ms(task_spans.get(group, [])) / 1e3
        if g.stage_task_ms:
            hot = max(g.stage_task_ms.values(), key=sum)
            # run times are whole milliseconds: floor the median at 1 ms
            g.task_skew = max(hot) / max(statistics.median(hot), 1)
    return out
