"""The benchmark's workloads.  Each takes a :class:`Run` whose Spark session
is already up, generates its inputs from the seed, warms up, measures for
``run.seconds`` and checks the program's output against a in-process
reference.  It returns the end-to-end metrics, the per-layer numbers it can
take without the event log, and the check's attempted / failed counts."""

from __future__ import annotations

import os
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np

import gen
from harness import Tracer, median, percentile, status_counts, timed_passes


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work_dir: str
    t_process: float  # epoch at which the process started
    ladder: tuple = ()  # stream_nfa's offered rates; () = STREAM_RATE
    trace: bool = False  # a traced run also takes the layer-only numbers
    tracer: Tracer = field(default_factory=Tracer)


@dataclass
class Outcome:
    e2e: dict
    layers: dict
    attempted: int
    failed: int
    # job groups of the timed passes, whose event-log task metrics the
    # traced run aggregates; a group is the value of the job property
    # ``group_prop``
    groups: list = field(default_factory=list)
    group_prop: str = "spark.jobGroup.id"
    detail: dict = field(default_factory=dict)


def _compile_ms(yaml_text: str):
    """Median time of ``Query.from_yaml`` + ``compile_query``."""
    from reflinkcep_spark import Query, compile_query

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        query = Query.from_yaml(yaml_text)
        automaton = compile_query(query)
        times.append(time.perf_counter() - t0)
    return query, automaton, median(times) * 1e3


def _substreams(columns: dict):
    """``(key, records in event_id order)`` for each key of the log."""
    users, ids = columns["user_id"], columns["event_id"]
    types, values = columns["event_type"], columns["value"]
    order = np.lexsort((ids, users))
    bounds = np.flatnonzero(np.diff(users[order])) + 1
    for rows in np.split(order, bounds):
        yield int(users[rows[0]]), [
            {"event_id": i, "event_type": t, "value": v}
            for i, t, v in zip(ids[rows].tolist(), types[rows], values[rows].tolist())
        ]


def replay(columns: dict, query, automaton, names, within=None):
    """Per-key in-process ``MatchEngine`` replay: the reference output
    and the single-thread baseline.  Returns ``({key: Counter(match)},
    feed seconds)``; a match is ``(start_ord, end_ord, (event ids of each
    capture, in pattern order))``.  Only the ``feed`` calls are timed."""
    from reflinkcep_spark import MatchEngine

    want: dict = {}
    feed_s = 0.0
    for key, recs in _substreams(columns):
        feed = MatchEngine(automaton, query.strategy, within).feed
        t0 = time.perf_counter()
        raw = [feed(rec["event_type"], rec, rec["event_id"]) for rec in recs]
        feed_s += time.perf_counter() - t0
        found = Counter()
        for ms in raw:
            for m in ms:
                pos = [p for ps in m.captures.values() for p in ps]
                caps = tuple(
                    tuple(recs[p]["event_id"] for p in m.captures.get(n) or ())
                    for n in names
                )
                found[(recs[min(pos)]["event_id"], recs[max(pos)]["event_id"], caps)] += 1
        want[key] = found
    return want, feed_s


def peak_live_runs(columns: dict, query, automaton, within=None) -> int:
    """Most partial matches any key's ``MatchEngine`` holds after an event,
    from a replay of its own (so the timed replay stays bare)."""
    from reflinkcep_spark import MatchEngine

    peak = 0
    for _key, recs in _substreams(columns):
        engine = MatchEngine(automaton, query.strategy, within)
        for rec in recs:
            engine.feed(rec["event_type"], rec, rec["event_id"])
            peak = max(peak, len(engine.runs))
    return peak


def _spark_matches(df, names) -> dict:
    from pyspark.sql import functions as F

    cols = [F.transform(n, lambda e: e["event_id"]).alias(n) for n in names]
    got: dict = defaultdict(Counter)
    for r in df.select("user_id", "start_ord", "end_ord", *cols).collect():
        caps = tuple(tuple(r[n] or ()) for n in names)
        got[r["user_id"]][(r["start_ord"], r["end_ord"], caps)] += 1
    return got


def _wrong_keys(want: dict, got: dict) -> int:
    return sum(1 for k in set(want) | set(got) if want.get(k, Counter()) != got.get(k, Counter()))


def _batch(
    run: Run, yaml_text: str, allow_fastpath: bool, seconds=None, prefix: str = "pass"
) -> Outcome:
    """``batch_nfa`` and ``batch_fastpath``: one query over the seeded
    Zipf-keyed event log, timed pass = plan + execute into the noop sink.
    Passes run for ``seconds`` (default ``run.seconds``) under job groups
    ``<prefix>-<i>``."""
    from reflinkcep_spark.operators import match_pattern, try_fast_path

    spark, tr = run.spark, run.tracer
    with tr.span("cep.compile"):
        query, automaton, compile_ms = _compile_ms(yaml_text)
    names = list(query.names)
    with tr.span("input"):
        columns = gen.event_log(run.seed)
        path = os.path.join(run.work_dir, f"{prefix}-events.parquet")
        gen.write_parquet(columns, path)
    n_events = len(columns["event_id"])

    def plan():
        df = spark.read.parquet(path)
        return match_pattern(
            df, query, order_by="event_id", partition_by="user_id",
            allow_fastpath=allow_fastpath,
        )

    plan_s, exec_s = [], []

    def one_pass(_i):
        t0 = time.perf_counter()
        out = plan()
        t1 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        plan_s.append(t1 - t0)
        exec_s.append(time.perf_counter() - t1)

    # Warm-up: one untimed pass, the cold one, whose output is collected
    # and compared below.  Its cost is mostly fixed (JVM code, Python
    # workers); the passes after it differ far less from one another.
    with tr.span("warm"):
        got = _spark_matches(plan(), names)
    setup_s = time.time() - run.t_process

    groups = timed_passes(
        spark, tr, run.seconds if seconds is None else seconds, one_pass, prefix
    )

    with tr.span("check"):
        want, feed_s = replay(columns, query, automaton, names)
    failed = _wrong_keys(want, got)
    pass_s = [p + e for p, e in zip(plan_s, exec_s)]

    df = spark.read.parquet(path)
    fast = try_fast_path(
        df, query, order_by="event_id", keys=["user_id"],
        type_col="event_type", attr_cols=["event_id", "event_type", "value"],
    )
    counts = [status_counts(spark, g) for g in groups]
    return Outcome(
        e2e={
            "setup_s": setup_s,
            "records_per_s": n_events / median(pass_s),
            "latency_p50_ms": median(pass_s) * 1e3,
        },
        layers={
            "cep.compile_ms": compile_ms,
            "cep.feed_records_per_s": n_events / feed_s,
            "cep.peak_live_runs": (
                peak_live_runs(columns, query, automaton) if run.trace else None
            ),
            "cep.matches": sum(sum(c.values()) for c in want.values()),
            "operators.plan_ms": median(plan_s) * 1e3,
            "operators.exec_s": median(exec_s),
            "operators.fastpath_taken": int(fast is not None and allow_fastpath),
            "operators.fastpath_ms": median(pass_s) * 1e3 if allow_fastpath else 0,
            "spark.jobs": median([c["jobs"] for c in counts]),
            "spark.stages": median([c["stages"] for c in counts]),
            "spark.tasks": median([c["tasks"] for c in counts]),
            **NO_STREAM,
        },
        attempted=len(set(want) | set(got)),
        failed=failed,
        groups=groups,
        detail={"input_events": n_events, "passes": len(pass_s), "pass_s": pass_s},
    )


# The streaming layer's metrics on a workload without micro-batches.
NO_STREAM = {
    "streaming.batches": 0, "streaming.batch_ms_p50": 0, "streaming.add_batch_ms": 0,
    "streaming.commit_ms": 0, "streaming.state_rows": 0, "streaming.state_bytes": 0,
    "streaming.backlog_rows": 0,
}


def batch_nfa(run: Run) -> Outcome:
    from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML, SPENDING_BURST_YAML

    out = _batch(run, SPENDING_BURST_YAML, allow_fastpath=False)
    if run.trace:
        # The fast-path layer, measured on this workload too: the
        # ``batch_fastpath`` query over the same log, after the timed
        # passes: one checked pass, then the fewest timed ones (seconds=0).
        with run.tracer.span("fastpath.probe"):
            probe = _batch(
                run, FUNNEL_YAML, allow_fastpath=True, seconds=0, prefix="fastpath"
            )
        out.layers["operators.fastpath_ms"] = probe.layers["operators.fastpath_ms"]
        out.attempted += probe.attempted
        out.failed += probe.failed
        out.detail["fastpath_probe"] = {
            **probe.detail, "fastpath_taken": probe.layers["operators.fastpath_taken"],
        }
    return out


def batch_fastpath(run: Run) -> Outcome:
    from reflinkcep_spark.queries.cep_queries import FUNNEL_YAML

    return _batch(run, FUNNEL_YAML, allow_fastpath=True)


def _union_find_labels(pairs) -> dict:
    """``{doc: min doc id of its connected component}`` over ``pairs``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def _exact_pairs(columns: dict, threshold: float) -> set:
    """In-process word-3-gram Jaccard ≥ threshold, by brute force over
    the docs that share at least one shingle."""
    shingle_sets = {}
    postings = defaultdict(list)
    for doc, text in zip(columns["doc_id"].tolist(), columns["text"]):
        toks = text.split()
        s = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        shingle_sets[doc] = s
        for g in s:
            postings[g].append(doc)
    cands = {(min(a, b), max(a, b)) for docs in postings.values()
             for a in docs for b in docs if a != b}
    out = set()
    for a, b in cands:
        sa, sb = shingle_sets[a], shingle_sets[b]
        if len(sa & sb) / len(sa | sb) >= threshold:
            out.add((a, b))
    return out


def dedup_families(run: Run) -> Outcome:
    """Near-duplicate families through ``ngram_jaccard_pairs`` and then
    ``duplicate_clusters``; timed pass = pairs (materialised) + clusters
    (collected)."""
    from reflinkcep_spark.functions.dedup import duplicate_clusters, ngram_jaccard_pairs

    spark, tr = run.spark, run.tracer
    threshold = 0.5
    with tr.span("input"):
        columns = gen.documents(run.seed)
        path = os.path.join(run.work_dir, "docs.parquet")
        gen.write_parquet(columns, path)
    n_docs = len(columns["doc_id"])
    pairs_s, clusters_s = [], []
    result = {}

    def one_pass(_i):
        t0 = time.perf_counter()
        with tr.span("functions.pairs"):
            # max_df=None: exact Jaccard, so the in-process check is exact
            pairs = ngram_jaccard_pairs(
                spark.read.parquet(path), threshold=threshold, max_df=None
            ).localCheckpoint()
        t1 = time.perf_counter()
        with tr.span("functions.clusters"):
            labels = duplicate_clusters(pairs).collect()
        t2 = time.perf_counter()
        pairs_s.append(t1 - t0)
        clusters_s.append(t2 - t1)
        result["pairs"], result["labels"] = pairs, labels

    with tr.span("warm"):
        one_pass(-1)
        got_pairs = {(r["doc_a"], r["doc_b"]) for r in result["pairs"].collect()}
        got_labels = {r["doc_id"]: r["cluster_id"] for r in result["labels"]}
    pairs_s.clear()
    clusters_s.clear()
    setup_s = time.time() - run.t_process

    groups = timed_passes(spark, tr, run.seconds, one_pass)

    with tr.span("check"):
        want_pairs = _exact_pairs(columns, threshold)
        want_labels = _union_find_labels(want_pairs)
    # A document fails when it misses or gains a pair, or when its cluster
    # label differs from the union-find over the exact pairs.
    wrong_pairs = want_pairs ^ got_pairs
    in_wrong_pair = {d for pair in wrong_pairs for d in pair}
    docs = set(want_labels) | set(got_labels)
    failed = sum(
        1 for d in docs if d in in_wrong_pair or want_labels.get(d) != got_labels.get(d)
    )
    under_merged = sum(1 for d in docs if want_labels.get(d, d) < got_labels.get(d, d))
    pass_s = [p + c for p, c in zip(pairs_s, clusters_s)]
    counts = [status_counts(spark, g) for g in groups]
    return Outcome(
        e2e={
            "setup_s": setup_s,
            "records_per_s": n_docs / median(pass_s),
            "latency_p50_ms": median(pass_s) * 1e3,
        },
        layers={
            "functions.pairs_s": median(pairs_s),
            "functions.clusters_s": median(clusters_s),
            "functions.pairs": len(got_pairs),
            "spark.jobs": median([c["jobs"] for c in counts]),
            "spark.stages": median([c["stages"] for c in counts]),
            "spark.tasks": median([c["tasks"] for c in counts]),
        },
        attempted=len(docs),
        failed=failed,
        groups=groups,
        detail={
            "input_docs": n_docs, "passes": len(pass_s), "pass_s": pass_s,
            "families": gen.DOC_FAMILIES, "under_merged_docs": under_merged,
            "wrong_pairs": len(wrong_pairs),
        },
    )


STREAM_QUERY = """
type: query
patseq:
  type: combine
  contiguity: relaxed
  left: {type: spat, name: v, event: view, cndt: {expr: value >= 20}}
  right: {type: spat, name: p, event: purchase, cndt: {expr: value >= 50}}
context:
  schema: {view: [], click: [], purchase: [], error: [], signup: []}
"""
# Offered rate (rows/s) of the listed run: one rate held for the whole
# measured window, well below the rate at which the backlog grows.  By
# hand, ``--ladder`` offers a rising ladder of rates instead, each held for
# seconds / len(ladder) of source time; the README gives one.
STREAM_RATE = 2000
# A step whose p99 latency exceeds this, or whose backlog grows, is not
# sustained.
LATENCY_LIMIT_MS = 15_000


def stream_nfa(run: Run) -> Outcome:
    """Open loop: the rate source offers the ladder; admitted rows become
    keyed events for ``match_pattern_stream`` into a ``foreachBatch`` sink
    that collects every match and stamps when its batch call ended."""
    from pyspark.sql import functions as F

    from reflinkcep_spark.streaming import match_pattern_stream

    spark, tr = run.spark, run.tracer
    ladder = run.ladder or (STREAM_RATE,)
    step_s = run.seconds / len(ladder)
    top = ladder[-1]
    # A match's span is bounded to a quarter second of source time.
    within = top // 4
    with tr.span("cep.compile"):
        query, automaton, compile_ms = _compile_ms(STREAM_QUERY)
    names = list(query.names)
    rate = spark.readStream.format("rate").option("rowsPerSecond", top).load()
    t0 = time.perf_counter()
    matches = match_pattern_stream(
        gen.stream_events_sql(rate, run.seed, ladder, step_s), query,
        order_by="event_id", partition_by="user_id", within=within,
    )
    plan_ms = (time.perf_counter() - t0) * 1e3
    caps = [F.transform(n, lambda e: e["event_id"]).alias(n) for n in names]
    emitted: list = []  # (emitted at epoch ms, match row)
    lock = threading.Lock()

    def sink(batch_df, _batch_id):
        rows = batch_df.select(
            "user_id", "start_ord", "end_ord", *caps,
            F.element_at("p", -1)["created"].alias("created"),
        ).collect()
        done_ms = time.time() * 1e3
        with lock:
            emitted.extend((done_ms, r) for r in rows)

    sq = matches.writeStream.foreachBatch(sink).option(
        "checkpointLocation", os.path.join(run.work_dir, "checkpoint")
    ).start()
    try:
        deadline = time.time() + 120
        # Set-up ends when the first matches are out: by then the state
        # stores, the Python workers and the JIT are warm.
        with tr.span("warm"):
            while not emitted and time.time() < deadline:
                time.sleep(0.05)
        if not emitted:
            raise RuntimeError("stream_nfa: no match emitted before the deadline")
        setup_s = time.time() - run.t_process
        # The measured window, in source seconds, starts when set-up ends
        # (or the warm-up, if later).  The batch after the cold one takes
        # the rows that came due while the cold one ran; its input starts
        # before the window, so it is not measured either.
        with lock:
            start_offset = max(gen.STREAM_WARM_S, int(
                (time.time() * 1e3 - _source_start_ms(emitted, top)) // 1e3
            ))
        end_offset = start_offset + run.seconds
        deadline = time.time() + 2 * run.seconds + 60
        with tr.span("stream"):
            while time.time() < deadline:
                last = sq.lastProgress
                if last and int(last["sources"][0]["endOffset"] or 0) >= end_offset:
                    break
                time.sleep(0.1)
    finally:
        with tr.span("stream.stop"):
            sq.stop()
            sq.awaitTermination(60)
    progress = list(sq.recentProgress)

    v_max = max(r["end_ord"] for _t, r in emitted)
    columns = gen.stream_events_py(v_max + 1, run.seed, ladder, step_s)
    admitted = columns["event_id"]

    def step_of(v):
        return int(gen.ladder_step(np.array([v]), ladder, step_s)[0])

    source_ms = _source_start_ms(emitted, top)
    batches = []
    for p in progress:
        lo, hi = p["sources"][0]["startOffset"], p["sources"][0]["endOffset"]
        if hi is None or p["numInputRows"] == 0:
            continue
        lo, hi = int(lo or 0), int(hi)
        end_ms = _epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
        # lag: source seconds due at the batch's end but not yet taken
        lag_s = (end_ms - source_ms) / 1e3 - hi
        # A batch belongs to the step in which its input starts, and is
        # measured (step >= 0) only when that is inside the window.
        k = step_of(lo * top) if start_offset <= lo < end_offset else -1
        batches.append({
            "id": p["batchId"], "step": k, "lo": lo, "hi": hi, "end_ms": end_ms,
            "lag_s": lag_s,
            "rows": int(np.count_nonzero((admitted >= lo * top) & (admitted < hi * top))),
            "backlog_rows": lag_s * ladder[max(k, 0)],
            "ms": p["durationMs"]["triggerExecution"],
            "add_ms": p["durationMs"].get("addBatch", 0),
            "state": (p.get("stateOperators") or [{}])[0],
        })

    if not any(b["step"] >= 0 for b in batches):
        raise RuntimeError("stream_nfa: no micro-batch started after the warm-up")
    # latency samples: matches completed by rows of the measured batches
    first_row = min(b["lo"] for b in batches if b["step"] >= 0) * top
    end_row = max(b["hi"] for b in batches if b["step"] >= 0) * top
    lat_by_step = defaultdict(list)
    for t, r in emitted:
        if first_row <= r["end_ord"] < end_row:
            lat_by_step[step_of(r["end_ord"])].append(t - r["created"])
    steps, prev = [], None
    for k, offered in enumerate(ladder):
        bs = [b for b in batches if b["step"] == k]
        lats = lat_by_step[k]
        step = {"rate": offered, "batches": len(bs), "samples": len(lats),
                "sustained": False}
        if bs and lats:
            # backlog grows: the lag rose by more than the source's
            # one-second offset granularity across the step
            base = prev if prev is not None else bs[0]
            t0 = prev["end_ms"] if prev is not None else bs[0]["end_ms"] - bs[0]["ms"]
            p99 = percentile(lats, 99)
            step.update(
                latency_p50_ms=median(lats), latency_p99_ms=p99,
                backlog_grows=bs[-1]["lag_s"] > base["lag_s"] + 1.0,
                processed_per_s=sum(b["rows"] for b in bs) * 1e3 / (bs[-1]["end_ms"] - t0),
            )
            step["sustained"] = not step["backlog_grows"] and p99 <= LATENCY_LIMIT_MS
            prev = bs[-1]
        steps.append(step)

    # Correctness, at the end of each step: what was emitted so far must
    # equal the replay restricted to end_ord <= the largest end_ord
    # emitted so far (scripts/streaming_demo.py's prefix rule).
    with tr.span("check"):
        want_all, feed_s = replay(
            columns, query, automaton, names, within=within
        )
    attempted = failed = 0
    for k in range(len(ladder)):
        ends = [b["end_ms"] for b in batches if b["step"] == k]
        if not ends:
            continue
        got: dict = defaultdict(Counter)
        upto = -1
        for t, r in emitted:
            if t <= max(ends) + 1:  # +1: stamps round to the millisecond
                caps_ = tuple(tuple(r[n] or ()) for n in names)
                got[r["user_id"]][(r["start_ord"], r["end_ord"], caps_)] += 1
                upto = max(upto, r["end_ord"])
        want = {}
        for key, ms in want_all.items():
            kept = Counter({m: c for m, c in ms.items() if m[1] <= upto})
            if kept:
                want[key] = kept
        attempted += len(set(want) | set(got))
        failed += _wrong_keys(want, got)

    measured = [b for b in batches if b["step"] >= 0]
    measured_lat = [x for k in range(len(ladder)) for x in lat_by_step[k]]
    sustained = [s for s in steps if s["sustained"]]
    window_ms = measured[-1]["end_ms"] - measured[0]["end_ms"] + measured[0]["ms"]
    state = measured[-1]["state"]
    return Outcome(
        e2e={
            "setup_s": setup_s,
            "records_per_s": sum(b["rows"] for b in measured) * 1e3 / window_ms,
            "latency_p50_ms": median(measured_lat),
            "latency_p99_ms": percentile(measured_lat, 99),
            "sustained_records_per_s": sustained[-1]["processed_per_s"] if sustained else 0.0,
        },
        layers={
            "cep.compile_ms": compile_ms,
            "cep.feed_records_per_s": len(admitted) / feed_s,
            "cep.peak_live_runs": (
                peak_live_runs(columns, query, automaton, within) if run.trace else None
            ),
            "cep.matches": len(emitted),
            "operators.plan_ms": plan_ms,
            "operators.exec_s": median([b["add_ms"] for b in measured]) / 1e3,
            "operators.fastpath_taken": 0,
            "operators.fastpath_ms": 0,
            "streaming.batches": len(measured),
            "streaming.batch_ms_p50": median([b["ms"] for b in measured]),
            "streaming.add_batch_ms": median([b["add_ms"] for b in measured]),
            "streaming.commit_ms": median([b["state"].get("commitTimeMs", 0) for b in measured]),
            "streaming.state_rows": state.get("numRowsTotal", 0),
            "streaming.state_bytes": state.get("memoryUsedBytes", 0),
            "streaming.backlog_rows": max(b["backlog_rows"] for b in measured),
        },
        attempted=attempted,
        failed=failed,
        groups=[str(b["id"]) for b in measured],
        group_prop="streaming.sql.batchId",
        detail={"ladder": steps, "latency_samples": len(measured_lat),
                "window_offsets": [start_offset, end_offset],
                "batches": [{k: b[k] for k in ("id", "step", "end_ms", "ms", "rows", "lag_s")}
                            for b in batches],
                "latency_limit_ms": LATENCY_LIMIT_MS, "rows_admitted": len(admitted)},
    )


def _source_start_ms(emitted, top: int) -> float:
    """Epoch ms at which the rate source started: it stamps value v at
    its start + v / top seconds."""
    return min(r["created"] - r["end_ord"] * 1e3 / top for _t, r in emitted)


def _epoch_ms(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1e3
