"""Streaming CEP operator: ``match_pattern_stream`` over a streaming DataFrame.

Physical strategy
-----------------
``df.groupBy(keys).applyInPandasWithState(step, ...)`` — Spark's
arbitrary-stateful-processing operator.  Per key, the persisted state is
the NFA's live run-set (the reference's ``S`` + event counter ``i``,
reference executor.py:27-29) plus the minimal trailing event buffer that
live runs still reference for capture output.  Matches are emitted in
append mode at the micro-batch in which their completing event arrives —
the same "emit at completion event" semantics as the reference
(executor.py:34-68) and the batch kernel.

State size is bounded by the automaton's live run-set, NOT by stream
history: the event buffer is pruned to positions at or after the oldest
live run's start offset every micro-batch, and an optional
processing-time ``idle_timeout_ms`` evicts keys that stop receiving
events (state TTL — mandatory hygiene for a 100 TB keyspace).

Ordering contract, two modes:

* **arrival order** (default) — rows are totally ordered per key by
  ``order_by``; within a micro-batch we sort, across micro-batches the
  source must deliver each key's rows in order (Kafka per-partition
  order, file mtime order).  This mirrors the reference, which is
  explicitly processing-time (reference exp/genjava.py:93-94).
* **event time** (``event_time_col=...``) — out-of-order arrival is
  repaired with a watermark-gated reorder buffer: incoming rows park in
  state, and on every micro-batch exactly those with event time <= the
  current watermark are released to the NFA in ``order_by`` order.  The
  caller applies ``df.withWatermark(event_time_col, delay)`` upstream;
  rows later than the delay are dropped by Spark before they reach us.
  Matches are therefore delayed by one watermark lag — the standard
  completeness/latency trade.

Everything dynamic in the engine state is plain data (ints, dicts,
tuples — see runtime._Cfg): the state column is one pickled BINARY blob,
and the automaton itself (static, per-query) ships once inside the
serialized task closure, never in the state store.

Spark 4's ``transformWithStateInPandas`` would be the successor API
(typed state, timers, RocksDB); its Python driver worker needs
protobuf, which this container lacks (probed: StreamingPythonRunner
init fails on ``google.protobuf`` import), so the operator stays on
``applyInPandasWithState`` — same keyed-state model, default HDFS-backed
store.
"""

from __future__ import annotations

import pickle
from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, LongType, StructField, StructType

from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.cep.runtime import MatchEngine, _Cfg
from reflinkcep_spark.operators.cep import over_run_limit

__all__ = ["match_pattern_stream"]


def records(pdf: pd.DataFrame, cols: Sequence[str]) -> list[dict]:
    """``pdf[cols].to_dict("records")`` without the per-call DataFrame
    machinery: per-column ``tolist()`` + zip builds the same dicts
    (identical value boxing — int/float/str natives, NaN, None,
    Timestamps; pinned in tests/test_spark_kernel.py) at ~1/5 the cost
    on per-key call sizes.  The streaming ``step`` functions run once per
    key and micro-batch, so ``to_dict``'s constant overhead would be
    paid per KEY."""
    columns = [pdf[c].tolist() for c in cols]
    return [dict(zip(cols, row)) for row in zip(*columns)]


def frame(rows: list[dict], cols: Sequence[str]) -> pd.DataFrame:
    """``pd.DataFrame(rows, columns=cols)`` for the output side,
    without the per-call list-of-dicts inference machinery (the
    ``records`` rationale applied to the return path).  Every row dict
    carries every column — the ``step`` functions build them that way —
    so a dict-of-lists constructor produces the identical frame (same
    column order, same per-column dtype inference; pinned in
    tests/test_spark_kernel.py)."""
    if not rows:
        return pd.DataFrame(columns=list(cols))
    return pd.DataFrame({c: [r[c] for r in rows] for c in cols})


def _save_engine(
    engine: MatchEngine, match_seq: int, buffer: dict, pending: list,
    last_stamp=None, emitted_starts=None,
) -> bytes:
    runs = [
        (k, (c.state, c.env, c.caps, c.last_take, c.eps_seen, c.first))
        for k, c in engine.runs
    ]
    return pickle.dumps(
        (engine.pos, runs, match_seq, buffer, pending, last_stamp,
         emitted_starts),
        protocol=5,
    )


def _load_engine(blob: bytes, engine: MatchEngine) -> tuple:
    data = pickle.loads(blob)
    # pre-round-14 checkpoints have no last_stamp / emitted_starts
    # elements (same migration contract as _coerce_eps below)
    pos, runs, match_seq, buffer, pending = data[:5]
    last_stamp = data[5] if len(data) > 5 else None
    emitted_starts = data[6] if len(data) > 6 else None
    engine.pos = pos
    engine.runs = [
        (k, _Cfg(state, env, caps, last_take, _coerce_eps(eps), first))
        for k, (state, env, caps, last_take, eps, first) in runs
    ]
    return match_seq, buffer, pending, last_stamp, emitted_starts


def _coerce_eps(eps) -> int:
    """Migrate pre-bitmask checkpoints: ``eps_seen`` was a tuple of
    state ids before it became an int bitmask, and a streaming job
    restored from an old checkpoint would otherwise crash on the first
    ``eps_seen & (1 << dst)``."""
    if isinstance(eps, int):
        return eps
    mask = 0
    for s in eps:
        mask |= 1 << s
    return mask


def match_pattern_stream(
    df: DataFrame,
    query: Query,
    *,
    order_by: str,
    partition_by: str | Sequence[str],
    type_col: str | None = "event_type",
    attr_cols: Sequence[str] | None = None,
    max_active_runs: int = 100_000,
    idle_timeout_ms: int | None = None,
    event_time_col: str | None = None,
    within=None,
    within_col: str | None = None,
    sql_skip=None,
    sql_prefer: str = "longest",
) -> DataFrame:
    """Run a CEP pattern query over a *streaming* DataFrame.

    Same output schema as the batch :func:`match_pattern`:
    ``keys… | match_seq | start_ord | end_ord | <name>: ARRAY<STRUCT>…``.
    ``match_seq`` is a per-key monotone counter that survives across
    micro-batches.

    Parameters mirror the batch operator; ``partition_by`` is mandatory
    (streaming state must be keyed).  ``idle_timeout_ms`` drops a key's
    run-set after that much processing-time inactivity.

    ``event_time_col`` enables the watermark-gated reorder buffer (see
    module docstring): pass the timestamp column AND apply
    ``df.withWatermark(event_time_col, delay)`` before calling.

    ``within`` bounds first-to-last match span in the units of the
    (numeric) ``order_by`` column, exactly as in the batch operator —
    on a stream it is ALSO the state bound that keeps a key's run-set
    from growing with stream lifetime (complementing the processing-
    time ``idle_timeout_ms``, which only reaps whole idle keys).

    ``within_col`` mirrors the batch operator's: an optional numeric
    column (e.g. ``unix_micros(ts)``) whose values stamp events for
    the ``within`` bound instead of ``order_by`` — the time-based
    ``within()`` semantics.  Must be non-decreasing in ``order_by``
    order within each key — enforced at runtime (the last stamp
    persists in the key's state, so a regression ACROSS micro-batches
    raises too, exactly like the batch kernel's per-group check).

    ``sql_skip`` / ``sql_prefer`` (round 14): SQL:2016 MATCH_RECOGNIZE
    match selection on a stream, restricted to the combination that is
    finalization-free — ``("to_next", None)`` with ``"shortest"``
    (reluctant quantifiers): candidates per start arrive in
    ``(end, emission)`` order, so the first one IS the reluctant
    winner, and TO NEXT ROW makes every start eligible — each match
    emits the moment it completes, no holdback.  The emitted-start
    dedup set rides in the key's state, pruned below the live-run
    frontier.  Greedy preference / ordered skip modes raise (they
    need stream-end finalization).  ``match_seq`` is
    completion-ordered (the batch kernel numbers by start order).
    """
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    if not keys:
        raise ValueError("streaming CEP requires partition_by (keyed state)")
    if sql_skip is not None:
        from reflinkcep_spark.operators.cep import _validate_sql_pattern

        if query.strategy != "NoSkip":
            raise ValueError(
                "sql_skip requires strategy NoSkip (SQL selection is "
                f"applied over the full emission), got {query.strategy!r}"
            )
        _validate_sql_pattern(query, sql_prefer)
        if sql_skip[0] != "to_next" or sql_prefer != "shortest":
            raise ValueError(
                "streaming SQL match selection supports AFTER MATCH SKIP "
                "TO NEXT ROW with reluctant quantifiers only: under "
                "(shortest, to_next) a start's winner is its FIRST-"
                "completing candidate — final the moment it appears — and "
                "TO NEXT ROW never blocks later starts, so no match is "
                "ever held back waiting for stream-end finalization.  "
                "Greedy preference or ordered skip modes need match "
                "finalization an unbounded stream cannot provide "
                f"(got {sql_skip[0]!r} / {sql_prefer!r}); run those "
                "through the batch kernel."
            )

    if attr_cols is None:
        attr_cols = [c for c in df.columns if c not in keys]
    attr_cols = list(attr_cols)
    if order_by not in attr_cols:
        attr_cols.append(order_by)
    if type_col is not None and type_col not in attr_cols:
        attr_cols.append(type_col)
    if event_time_col is not None and event_time_col not in attr_cols:
        attr_cols.append(event_time_col)
    if within_col is not None and within_col not in attr_cols:
        attr_cols.append(within_col)
    stamp_col = within_col if within_col is not None else order_by

    projected = df.select(*keys, *attr_cols)
    field_by_name = {f.name: f for f in projected.schema.fields}
    event_struct = StructType([field_by_name[c] for c in attr_cols])
    out_schema = StructType(
        [field_by_name[k] for k in keys]
        + [
            StructField("match_seq", LongType(), False),
            StructField("start_ord", field_by_name[order_by].dataType, True),
            StructField("end_ord", field_by_name[order_by].dataType, True),
        ]
        + [StructField(n, ArrayType(event_struct), True) for n in query.names]
    )
    state_schema = StructType([StructField("blob", BinaryType(), True)])

    automaton = compile_query(query)
    strategy = query.strategy
    names = list(query.names)
    out_columns = [f.name for f in out_schema.fields]
    sole_type = None
    if type_col is None:
        declared = list(query.schema.keys())
        sole_type = declared[0] if len(declared) == 1 else None
    n_keys = len(keys)
    timeout = "ProcessingTimeTimeout" if idle_timeout_ms else "NoTimeout"

    # Same data-property check as the batch kernel (operators/cep.py):
    # run pruning assumes stamps are non-decreasing in feed order; the
    # previous stamp rides in the key's state so cross-batch
    # regressions are caught, not just intra-batch ones.
    check_stamps = within_col is not None and within is not None

    sql_mode = sql_skip is not None

    def feed(engine, incoming, buffer, match_seq, key, key_values,
             last_stamp=None, emitted_starts=None):
        rows: list[dict] = []
        for ev_type, rec in incoming:
            if check_stamps:
                st = rec[stamp_col]
                if st is None or st != st:
                    raise ValueError(
                        f"within_col {stamp_col!r} has a NULL stamp at "
                        f"{order_by}={rec[order_by]!r} for key {key!r} — "
                        "the within bound needs a stamp on every event"
                    )
                if last_stamp is not None and st < last_stamp:
                    raise ValueError(
                        f"within_col {stamp_col!r} regresses at "
                        f"{order_by}={rec[order_by]!r} for key {key!r} — "
                        f"stamps must be non-decreasing in {order_by} "
                        "order (run pruning assumes monotone stamps)"
                    )
                last_stamp = st
            buffer[engine.pos] = rec
            for m in engine.feed(ev_type, rec, rec[stamp_col]):
                all_pos = [p for idxs in m.captures.values() for p in idxs]
                if sql_mode:
                    # (shortest, to_next) selection, incremental: the
                    # batch fold keeps min (end, emission) per start —
                    # candidates arrive in exactly that order, so the
                    # FIRST candidate per start IS the winner and later
                    # ones are discarded; every start is eligible under
                    # TO NEXT ROW.  match_seq is completion-ordered
                    # (batch numbers by start order — drop or renumber
                    # it when pinning stream ≡ batch).
                    if not all_pos:
                        continue  # empty match: nothing to anchor to
                    start = min(all_pos)
                    if start in emitted_starts:
                        continue
                    emitted_starts.add(start)
                row = dict(key_values)
                row["match_seq"] = match_seq
                row["start_ord"] = (
                    buffer[min(all_pos)][order_by] if all_pos else None
                )
                row["end_ord"] = (
                    buffer[max(all_pos)][order_by] if all_pos else None
                )
                for name in names:
                    idxs = m.captures.get(name)
                    row[name] = (
                        [buffer[i] for i in idxs] if idxs is not None else None
                    )
                rows.append(row)
                match_seq += 1
            over_run_limit(engine, max_active_runs, key_values)
        return rows, match_seq, last_stamp

    def step(key: tuple, pdf_iter: Iterable[pd.DataFrame], state):
        if state.hasTimedOut:
            # Idle eviction.  In event-time mode, first flush whatever
            # the watermark has already released — otherwise parked
            # events (and their matches) would vanish with the state.
            rows: list[dict] = []
            if event_time_col is not None and state.exists:
                engine = MatchEngine(automaton, strategy, within)
                (match_seq, buffer, pending, last_stamp,
                 emitted_starts) = _load_engine(state.get[0], engine)
                wm = state.getCurrentWatermarkMs()
                ready = sorted(
                    (p for p in pending if p[0] <= wm),
                    key=lambda p: (p[2][order_by],),
                )
                rows, _, _ = feed(
                    engine,
                    [(t, r) for _ms, t, r in ready],
                    buffer,
                    match_seq,
                    key,
                    dict(zip(keys, key[:n_keys])),
                    last_stamp,
                    emitted_starts if emitted_starts is not None else set(),
                )
            state.remove()
            if rows:
                yield frame(rows, out_columns)
            return

        engine = MatchEngine(automaton, strategy, within)
        match_seq, buffer, pending, last_stamp = 0, {}, [], None
        emitted_starts: set = set()
        if state.exists:
            (match_seq, buffer, pending, last_stamp,
             loaded_starts) = _load_engine(state.get[0], engine)
            if loaded_starts is not None:
                emitted_starts = loaded_starts

        chunks = [p for p in pdf_iter if len(p)]
        incoming: list = []  # [(ev_type, record)] in feed order
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(order_by, kind="mergesort")
            recs = records(pdf, attr_cols)
            types: Iterable = (
                pdf[type_col].tolist() if type_col is not None
                else [sole_type] * len(recs)
            )
            incoming = list(zip(types, recs))

        if event_time_col is not None:
            # Watermark-gated reorder buffer: park everything, release
            # rows whose event time the watermark has passed, oldest
            # first.  Spark already dropped rows older than the
            # watermark delay, so `pending` is bounded by delay × rate.
            wm = state.getCurrentWatermarkMs()
            for ev_type, rec in incoming:
                ts = rec[event_time_col]
                ts_ms = ts.value // 1_000_000 if ts is not None else None
                # ts < wm is LATE: the NFA may already have consumed
                # later events; feeding it would violate event-time
                # order, so it is dropped (the watermark contract).
                # applyInPandasWithState does not pre-filter late rows
                # the way windowed aggregations do — that is on us.
                if ts_ms is not None and ts_ms >= wm:
                    pending.append((ts_ms, ev_type, rec))
            ready = [p for p in pending if p[0] <= wm]
            pending = [p for p in pending if p[0] > wm]
            ready.sort(key=lambda p: (p[2][order_by],))
            incoming = [(t, r) for _ms, t, r in ready]

        rows: list[dict] = []
        if incoming:
            rows, match_seq, last_stamp = feed(
                engine, incoming, buffer, match_seq, key,
                dict(zip(keys, key[:n_keys])),
                last_stamp,
                emitted_starts,
            )

        # Prune the buffer to what live runs can still reference: every
        # capture position of a run is >= its start offset.
        if engine.runs:
            oldest = min(k for k, _ in engine.runs)
            buffer = {p: r for p, r in buffer.items() if p >= oldest}
        else:
            buffer = {}
        if sql_mode:
            # a start below every live run's spawn offset can never gain
            # another candidate — its dedup entry is dead state
            frontier = (
                min(k for k, _ in engine.runs) if engine.runs else engine.pos
            )
            emitted_starts = {s for s in emitted_starts if s >= frontier}

        state.update(
            (_save_engine(engine, match_seq, buffer, pending, last_stamp,
                          emitted_starts if sql_mode else None),)
        )
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        if rows:
            yield frame(rows, out_columns)

    return projected.groupBy(*[F.col(k) for k in keys]).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
    )
