"""Streaming absence patterns: ``not_followed_by`` on an unbounded
stream.

Absence is inherently a completeness question — "no purchase within 30
minutes" can only be decided once no earlier-timestamped purchase can
still arrive — so the streaming form is watermark-driven: a left event
is emitted as *absent* exactly when the watermark passes
``left.on + within`` with no matching right event seen in
``(left.on, left.on + within]``.

Physical strategy: ``groupBy(keys).applyInPandasWithState`` with
event-time timeouts.  Per key the state holds (a) pending left events
whose span is still open and (b) the right-event timestamps that could
still kill a pending or late-arriving left.  Both buffers are pruned by
the watermark every step, so state is bounded by ``within`` × event
rate per key, not stream lifetime.  Event-time timeouts re-arm at the
earliest pending deadline, so quiet keys still flush on watermark
advance without waiting for their next event.

Batch equivalence: emissions equal the batch
:func:`reflinkcep_spark.operators.absence.not_followed_by` restricted
to left rows whose span the final watermark closed (pinned by the
replay test).
"""

from __future__ import annotations

import pickle
from typing import Iterable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from reflinkcep_spark.streaming.cep import frame as _frame
from reflinkcep_spark.streaming.cep import records as _records

__all__ = ["not_followed_by_stream", "not_next_stream"]


def not_followed_by_stream(
    df: DataFrame,
    *,
    left_filter,
    right_filter,
    on: str,
    by: str | Sequence[str],
    within: int,
    event_time_col: str = "ts",
) -> DataFrame:
    """Emit rows matching ``left_filter`` that are NOT followed within
    ``within`` (units of the numeric ``on`` column, strictly-after /
    inclusive-boundary — same contract as the batch operator) by any
    row matching ``right_filter`` with the same key.

    ``df`` must be a streaming DataFrame with
    ``withWatermark(event_time_col, delay)`` already applied, and
    ``on`` must be a numeric column consistent with ``event_time_col``
    in MICROSECONDS (e.g. ``unix_micros(ts)``) — the watermark (ms) is
    compared against it directly.  Output: all columns of the matching
    left rows, append mode, emitted when the watermark closes their
    span.
    """
    keys = [by] if isinstance(by, str) else list(by)
    left_c = F.expr(left_filter) if isinstance(left_filter, str) else left_filter
    right_c = (
        F.expr(right_filter) if isinstance(right_filter, str) else right_filter
    )

    attr_cols = [c for c in df.columns if c not in keys]
    projected = df.filter(left_c | right_c).select(
        *keys, F.when(left_c, F.lit(1)).otherwise(F.lit(0)).alias("__is_left"), *attr_cols
    )

    field_by_name = {f.name: f for f in projected.schema.fields}
    out_schema = StructType(
        [field_by_name[k] for k in keys] + [field_by_name[c] for c in attr_cols]
    )
    state_schema = StructType([StructField("blob", BinaryType(), True)])
    out_columns = [f.name for f in out_schema.fields]
    n_keys = len(keys)

    def _flush(lefts, rights, wm_us, key_values):
        """Emit pending lefts whose span the watermark closed and no
        right killed; drop killed lefts; prune spent rights.

        Rights are kept SORTED and each left's kill test is one bisect
        (is there a right in ``(us, us + within]``?) — O((L+R)·log R)
        per step, not the O(L·R) scan that melts on a hot key."""
        from bisect import bisect_right

        rights.sort()
        out_rows, keep = [], []
        for us, rec in lefts:
            i = bisect_right(rights, us)
            killed = i < len(rights) and rights[i] <= us + within
            if killed:
                continue
            if us + within < wm_us:
                row = dict(key_values)
                row.update(rec)
                out_rows.append((us, row))
            else:
                keep.append((us, rec))
        # A right can still matter to a not-yet-admitted late left only
        # while wm - within <= r; older rights are spent.  (Pending
        # lefts were already tested against every right above.)
        rights = rights[bisect_right(rights, wm_us - within):]
        out_rows.sort(key=lambda p: p[0])
        return [r for _, r in out_rows], keep, rights

    def step(key: tuple, pdf_iter: Iterable[pd.DataFrame], state):
        key_values = dict(zip((f.name for f in out_schema.fields[:n_keys]), key))
        if state.exists:
            lefts, rights = pickle.loads(state.get[0])
        else:
            lefts, rights = [], []

        if not state.hasTimedOut:
            for pdf in pdf_iter:
                for rec in _records(pdf, list(pdf.columns)):
                    is_left = rec.pop("__is_left")
                    for k in keys:
                        rec.pop(k, None)
                    if is_left:
                        lefts.append((rec[on], rec))
                    else:
                        rights.append(rec[on])

        wm_us = state.getCurrentWatermarkMs() * 1000
        out_rows, lefts, rights = _flush(lefts, rights, wm_us, key_values)

        if lefts or rights:
            state.update((pickle.dumps((lefts, rights), protocol=5),))
            if lefts:
                # Wake on watermark passing the earliest open deadline.
                deadline_ms = min(us for us, _ in lefts) // 1000 + within // 1000 + 1
                state.setTimeoutTimestamp(max(deadline_ms, wm_us // 1000 + 1))
        else:
            state.remove()

        if out_rows:
            yield _frame(out_rows, out_columns)

    return projected.groupBy(*keys).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def not_next_stream(
    df: DataFrame,
    *,
    left_filter,
    neg_filter,
    on: str,
    by: str | Sequence[str],
    next_col: str = "next_on",
    event_time_col: str = "ts",
) -> DataFrame:
    """Streaming ``notNext`` (the strict sibling of
    :func:`not_followed_by_stream`): emit rows matching ``left_filter``
    whose IMMEDIATELY following event in the per-key stream does NOT
    match ``neg_filter``.  "Immediately following" is by ``on``, over
    ALL events of the key — not just the filtered sides — exactly the
    batch :func:`reflinkcep_spark.operators.absence.not_next` contract.

    A probe resolves once its next-event CANDIDATE (smallest ``on``
    strictly greater than the probe's) is watermark-final: ``on`` must
    be consistent with ``event_time_col`` in MICROSECONDS, so when the
    watermark passes the candidate's instant no earlier event can still
    arrive and the candidate IS the next event — the probe is then
    emitted (candidate not negated, with ``next_col`` carrying the
    candidate's ``on``) or silently dropped (negated).  A probe with no
    following event stays pending forever: streaming cannot decide
    "nothing ever follows" — batch equivalence is therefore on probes
    whose next event exists and is watermark-closed (``next_on`` not
    NULL and ``<= final watermark``), the analogue of
    ``not_followed_by_stream``'s closed spans.

    ``on`` must be UNIQUE per key (an event sequence consistent with
    event time — the batch operator's contract): duplicate instants
    make "the immediately next event" ill-defined and this operator's
    tie behavior is unspecified.

    State per key: pending probes + the events past the watermark
    (bounded by watermark delay × per-key rate; watermark-passed events
    are spent — any probe they could resolve has resolved).  Probes
    arriving later than the watermark are dropped (standard append-mode
    late-data semantics); a probe with no follower yet is retained
    indefinitely (the batch "never followed" case — bound it upstream
    if keys can go permanently quiet).  Event-time timeouts re-arm at
    the earliest pending candidate — or, for candidate-less state, at
    the last buffered event's instant, so spent events are pruned and
    dead keys removed on watermark advance instead of living in the
    state store forever.
    """
    keys = [by] if isinstance(by, str) else list(by)
    for c in (next_col, "__is_left", "__is_neg"):
        if c in df.columns:
            # same contract as the batch operator: a colliding column
            # would be silently overwritten in the emitted rows
            raise ValueError(f"column {c!r} already exists in the input frame")
    left_c = F.expr(left_filter) if isinstance(left_filter, str) else left_filter
    neg_c = F.expr(neg_filter) if isinstance(neg_filter, str) else neg_filter

    attr_cols = [c for c in df.columns if c not in keys]
    projected = df.select(
        *keys,
        F.when(left_c, F.lit(1)).otherwise(F.lit(0)).alias("__is_left"),
        # NULL neg evaluation counts as not-negated (batch contract)
        F.coalesce(neg_c, F.lit(False)).alias("__is_neg"),
        *attr_cols,
    )

    field_by_name = {f.name: f for f in projected.schema.fields}
    out_schema = StructType(
        [field_by_name[k] for k in keys]
        + [field_by_name[c] for c in attr_cols]
        + [StructField(next_col, LongType(), True)]
    )
    state_schema = StructType([StructField("blob", BinaryType(), True)])
    out_columns = [f.name for f in out_schema.fields]
    n_keys = len(keys)

    def _flush(probes, events, wm_us, key_values):
        """Resolve probes whose candidate the watermark closed; prune
        spent (watermark-passed) events.  Events are kept SORTED and
        each probe's candidate lookup is one bisect."""
        from bisect import bisect_right

        events.sort()
        ons = [e[0] for e in events]
        out_rows, keep = [], []
        for us, rec in probes:
            i = bisect_right(ons, us)
            if i < len(ons) and ons[i] <= wm_us:
                if not events[i][1]:
                    row = dict(key_values)
                    row.update(rec)
                    row[next_col] = ons[i]
                    out_rows.append((us, row))
                # negated-next probes die silently
            else:
                # no watermark-closed candidate yet: the probe stays
                # pending even when the watermark has passed ITS OWN
                # instant — a quiet key's next event may be far away.
                keep.append((us, rec))
        # Spent events: every probe a wm-passed event could resolve
        # (probe.on < event.on <= wm) either resolved above or was
        # late-dropped; only events beyond the watermark can serve a
        # future on-time probe.
        events = events[bisect_right(ons, wm_us):]
        out_rows.sort(key=lambda p: p[0])
        return [r for _, r in out_rows], keep, events

    def step(key: tuple, pdf_iter: Iterable[pd.DataFrame], state):
        key_values = dict(zip((f.name for f in out_schema.fields[:n_keys]), key))
        if state.exists:
            probes, events = pickle.loads(state.get[0])
        else:
            probes, events = [], []

        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdf_iter:
                for rec in _records(pdf, list(pdf.columns)):
                    is_left = rec.pop("__is_left")
                    is_neg = bool(rec.pop("__is_neg"))
                    for k in keys:
                        rec.pop(k, None)
                    if rec[on] < wm_us:
                        # late row: the ordering before the watermark
                        # is final, a late event may not rewrite it
                        # (standard stateful-op late-data drop)
                        continue
                    events.append((rec[on], is_neg))
                    if is_left:
                        probes.append((rec[on], rec))
        out_rows, probes, events = _flush(probes, events, wm_us, key_values)

        if probes or events:
            state.update((pickle.dumps((probes, events), protocol=5),))
            # Wake when the watermark passes the earliest pending
            # candidate (events are sorted post-flush and all > wm).
            deadlines = []
            ons = [e[0] for e in events]
            from bisect import bisect_right as _br

            for us, _rec in probes:
                i = _br(ons, us)
                if i < len(ons):
                    deadlines.append(ons[i])
            if not deadlines and events:
                # no pending candidate, but buffered events: once the
                # watermark passes the LAST of them they are all spent
                # (any probe they could serve would be late) — wake
                # then so the state is pruned/removed, not leaked
                deadlines.append(max(ons))
            if deadlines:
                state.setTimeoutTimestamp(
                    max(min(deadlines) // 1000 + 1, wm_us // 1000 + 1)
                )
        else:
            state.remove()

        if out_rows:
            yield _frame(out_rows, out_columns)

    return projected.groupBy(*keys).applyInPandasWithState(
        step,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
