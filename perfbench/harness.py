"""Measurement plumbing shared by the workloads: process start time, spans,
outside RSS sampling, host facts, percentiles, the Spark session and the
timed-pass loop.  Nothing here knows a workload."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime, clock ticks since boot) follows the
        # parenthesised command name, which may itself contain spaces
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]


def host_facts() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load1": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into each layer, kept in memory
    and written out with the result.  Times are ``time.time()`` epochs so
    they line up with the event log's millisecond stamps."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, attrs=attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def as_json(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the
    Python workers it forks), sampled from outside every ``period_s``."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def start_spark(work_dir: str, trace: bool):
    """``get_spark()`` with its defaults.  The traced run adds only the
    uncompressed event log that :mod:`eventlog` reads."""
    from reflinkcep_spark.session import get_spark

    extra = None
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit.  The JVM quits when
    its standard input closes (pyspark's gateway contract); its Python
    workers have already ended with the session."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def status_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks of one job group from ``statusTracker()``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


# Pass times still fall over the first timed passes while the JVM
# compiles hot code; the median of three or more leaves out the slowest.
MIN_PASSES = 3


def timed_passes(
    spark, tracer: Tracer, seconds: float, run_pass, prefix: str = "pass"
) -> list[str]:
    """Call ``run_pass(i)`` under job group ``<prefix>-<i>`` until
    ``seconds`` have elapsed and at least ``MIN_PASSES`` passes ran; return
    the groups."""
    groups = []
    t_end = time.perf_counter() + seconds
    while len(groups) < MIN_PASSES or time.perf_counter() < t_end:
        group = f"{prefix}-{len(groups)}"
        spark.sparkContext.setJobGroup(group, group)
        with tracer.span("pass", group=group):
            run_pass(len(groups))
        groups.append(group)
    spark.sparkContext.setJobGroup("untimed", "untimed")
    return groups


def median(values) -> float:
    return statistics.median(values) if values else 0.0
