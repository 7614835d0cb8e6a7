#!/usr/bin/env python3
"""Seeded CEP benchmark.  Run from the repository root:

    python3 perfbench/run.py --workload batch_nfa --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Every run also
writes a side file ``.perfbench_work/<workload>-<seed>-trace<0|1>.json``
holding all numbers, the spans and the host facts; the traced run's file
adds the tracing overhead against an untraced run of the same workload,
seed, settings, host and source tree when one exists.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("batch_nfa", "batch_fastpath", "stream_nfa", "dedup_families")

UNITS = {
    # end to end
    "setup_s": "s",
    "records_per_s": "records/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "sustained_records_per_s": "records/s",
    "peak_rss_mb": "MB",
    # per layer
    "session.start_s": "s",
    "session.warm_s": "s",
    "cep.compile_ms": "ms",
    "cep.feed_records_per_s": "records/s",
    "cep.peak_live_runs": "count",
    "cep.matches": "count",
    "operators.plan_ms": "ms",
    "operators.exec_s": "s",
    "operators.fastpath_taken": "count",
    "operators.fastpath_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.python_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.sched_gap_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.backlog_rows": "count",
    "functions.pairs_s": "s",
    "functions.clusters_s": "s",
    "functions.pairs": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--ladder", default="",
        help="stream_nfa only: comma-separated offered rates in rows/s, "
        "each held for seconds / (number of rates); default one fixed rate",
    )
    return ap.parse_args(argv)


def _spark_layers(work_dir: str, outcome) -> dict:
    """Per-pass means of the event log's task metrics over the timed
    passes or micro-batches (task skew and counts: the median pass's)."""
    import eventlog
    from harness import median

    log_root = os.path.join(work_dir, "eventlog")
    logs = [os.path.join(log_root, n) for n in os.listdir(log_root)]
    by_group = eventlog.aggregate_by_group(
        eventlog.read_events(logs[0]), prop=outcome.group_prop
    )
    picked = [by_group[g] for g in outcome.groups if g in by_group]
    if not picked:
        return {}
    n = len(picked)

    def mean(attr):
        return sum(getattr(g, attr) for g in picked) / n

    return {
        "spark.jobs": median([g.jobs for g in picked]),
        "spark.stages": median([g.stages for g in picked]),
        "spark.tasks": median([g.tasks for g in picked]),
        "spark.task_run_s": mean("task_run_s"),
        "spark.jvm_cpu_s": mean("jvm_cpu_s"),
        "spark.python_s": mean("python_s"),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.task_skew": median([g.task_skew for g in picked]),
        "spark.sched_gap_s": mean("sched_gap_s"),
    }


def source_sha256() -> str:
    """Hash of the package and the benchmark, standing in for a commit id
    (a benchmark checkout need not be a git repository)."""
    digest = hashlib.sha256()
    for top in ("reflinkcep_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(filenames):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    return digest.hexdigest()


# Side-file fields two runs must share for their difference to be the
# tracing overhead.
SAME_RUN = ("seconds", "ladder", "source_sha256")
SAME_HOST = ("nproc", "SPARK_GRAFT_CPUS", "pyspark", "pyarrow")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "reflinkcep_spark")):
        print(f"perfbench: no reflinkcep_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import harness
    import workloads

    t_process = harness.process_start_epoch()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    out_dir = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    # Spark's block manager, the JVM's and Python's temp files stay inside
    # the checkout.
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )))
    facts = harness.host_facts()

    tracer = harness.Tracer()
    spark = None
    try:
        with tracer.span("session.start"):
            spark = harness.start_spark(work_dir, bool(args.trace))
        run = workloads.Run(
            spark=spark, seed=args.seed, seconds=args.seconds,
            work_dir=work_dir, t_process=t_process, tracer=tracer,
            ladder=tuple(int(r) for r in args.ladder.split(",") if r),
            trace=bool(args.trace),
        )
        with harness.RssSampler() as rss:
            outcome = getattr(workloads, args.workload)(run)
        outcome.e2e["peak_rss_mb"] = rss.peak_mb
        with tracer.span("session.stop"):
            harness.stop_spark(spark)
        spark = None
        layers = dict(outcome.layers)
        layers["session.start_s"] = tracer.seconds("session.start")[0]
        layers["session.warm_s"] = tracer.seconds("warm")[0]
        if args.trace:
            # jobs, stages and tasks come from statusTracker() where the
            # workload took them, else from the event log
            for k, v in _spark_layers(work_dir, outcome).items():
                layers.setdefault(k, v)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    facts["load1_after"] = os.getloadavg()[0]
    fail_frac = outcome.failed / outcome.attempted
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "ladder": args.ladder, "source_sha256": source_sha256(),
        "trace": args.trace, "host": facts, "end_to_end": outcome.e2e,
        "layers": layers, "attempted": outcome.attempted,
        "failed": outcome.failed, "fail_frac": fail_frac,
        "detail": outcome.detail, "spans": tracer.as_json(),
    }
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}-trace")
    if args.trace and os.path.exists(stem + "0.json"):
        with open(stem + "0.json") as fh:
            untraced = json.load(fh)
        if all(untraced.get(k) == side[k] for k in SAME_RUN) and all(
            untraced["host"].get(k) == facts[k] for k in SAME_HOST
        ):
            side["trace_overhead"] = {
                k: v - untraced["end_to_end"][k]
                for k, v in outcome.e2e.items() if k in untraced["end_to_end"]
            }
    with open(f"{stem}{args.trace}.json", "w") as fh:
        json.dump(side, fh, indent=1)

    # For a workload BENCHMARK.json lists, standard output carries the
    # metrics it names; for the others, all of them.  The side file above
    # carries every number the run took.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    source = layers if args.trace else outcome.e2e
    named = list(source)
    if args.workload in [w["name"] for w in spec["workloads"]]:
        named = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [k for k in named if k not in source]
    if missing:
        raise RuntimeError(f"{args.workload} did not measure {missing}")
    metrics = {k: {"value": source[k], "unit": UNITS[k]} for k in named}
    print(json.dumps({
        "correct": outcome.failed == 0, "attempted": outcome.attempted,
        "failed": outcome.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
