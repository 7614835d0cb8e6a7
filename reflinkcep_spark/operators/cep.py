"""Batch CEP operator: ``match_pattern`` over a DataFrame.

Physical strategy
-----------------
The pattern kernel is an Arrow *grouped-map* operator:

    df.repartition(n, keys).groupBy(keys).applyInArrow(run_key, schema)

with ``n`` = :func:`kernel_partitions` (the cluster's
``defaultParallelism``: one task per core).  Each key's substream is
matched independently — the one shuffle on the partition key is the
only data movement, and parallelism scales with the number of keys
(users/sessions/devices), which is exactly the axis that grows with
data size.  Within a group, the ``pyarrow.Table`` is sorted by the
order column with Arrow and fed through the NFA run-set engine
(:mod:`reflinkcep_spark.cep.runtime`); the matches go back as Arrow
arrays whose capture structs are ``take``-n from the input columns, so
no pandas frame is built on either side.

For patterns with a pure-Catalyst equivalent (plain filters, strict
sequences), :mod:`reflinkcep_spark.operators.fastpath` avoids Python
entirely; ``match_pattern(..., allow_fastpath=True)`` dispatches
automatically.

At 100 TB: the scan prunes columns to key+order+type+referenced attrs
(we select them explicitly before the shuffle), the shuffle is on the
match key (unavoidable for any per-key order-sensitive operator — same
as Flink's keyBy), and state is bounded per key by the automaton's live
run-set, not by history.  A ``max_active_runs`` guard caps the
combinatorial blowup nd-relaxed patterns can exhibit.

Output: one row per match:
    keys… | match_seq | start_<ord> | end_<ord> | <name>: ARRAY<STRUCT<event>> …

Capture columns are NULL when the (optional) sub-pattern captured
nothing, mirroring the reference's omitted-key rule (DST.py:302-311).
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    LongType,
    NumericType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from reflinkcep_spark.cep.compiler import compile_query
from reflinkcep_spark.cep.query import Query
from reflinkcep_spark.cep.runtime import MatchEngine

__all__ = ["match_pattern", "MatchLimitExceeded", "kernel_partitions"]


class MatchLimitExceeded(RuntimeError):
    """Raised when a key's live run-set exceeds ``max_active_runs``."""


def over_run_limit(
    engine: MatchEngine, max_active_runs: int, key, on_limit: str = "raise"
) -> bool:
    """The one run-limit check of the batch and streaming kernels:
    False while the key's live run-set is within ``max_active_runs``;
    past it, raise :class:`MatchLimitExceeded` naming ``key``
    (``on_limit="raise"``) or return True so the caller truncates the
    key (``"truncate"``)."""
    if len(engine.runs) <= max_active_runs:
        return False
    if on_limit == "raise":
        raise MatchLimitExceeded(
            f"live run-set exceeded {max_active_runs} for key {key!r}; "
            "pattern is likely nd-relaxed over a hot key — add a stricter "
            "condition or raise the limit"
        )
    return True


def kernel_partitions(spark: SparkSession) -> int:
    """Partition count of the kernel's keyed exchange: one task per
    core of the cluster (``defaultParallelism``).  The per-key NFA is
    CPU-bound Python, so more partitions than cores only add per-task
    overhead, and fewer leave cores idle.  An explicit count also keeps
    AQE's size-based coalescing away from the exchange, which would
    squash a few MB of events onto 1-2 tasks."""
    return spark.sparkContext.defaultParallelism


def _null_as(data_type):
    """The value a NULL of ``data_type`` reaches conditions as: NaN for
    integral and floating columns and NaT for timestamps, as the pandas
    form of the column gives it — a comparison with it is False instead
    of the ``TypeError`` that ``None`` would raise.  Other types keep
    ``None``."""
    if isinstance(data_type, NumericType) and not isinstance(data_type, DecimalType):
        return math.nan
    if isinstance(data_type, (TimestampType, TimestampNTZType)):
        return pd.NaT
    return None


def _capture_lens(captured, names):
    """SQL:2016 lexicographic preference key: per-variable capture
    lengths in PATTERN order.  The ONE definition — the per-start fold
    in ``run_key`` and ``_sql_select`` must rank identically."""
    return tuple(len(captured.get(n) or ()) for n in names)


def _min_len(node) -> int:
    """Minimum number of rows a pattern node can consume."""
    t = node.get("type")
    if t == "spat":
        return 1
    if t in ("lpat", "lpat-inf"):
        return int(node["loop"]["from"])
    if t == "combine":
        return _min_len(node["left"]) + _min_len(node["right"])
    if t == "alt":
        return min(_min_len(node["left"]), _min_len(node["right"]))
    if t == "gpat":
        return _min_len(node["child"])
    if t in ("gpat-times", "gpat-inf"):
        return max(1, int(node["loop"]["from"])) * _min_len(node["child"])
    raise ValueError(f"unknown node type {t!r}")


def _validate_sql_pattern(query, sql_prefer: str = "longest") -> None:
    """The lexicographic selection key assumes a candidate's capture
    lengths DETERMINE its rows: strict contiguity everywhere (the
    match is one contiguous segment) and unique, flat pattern
    variables (no groups; ``capture_names`` would silently merge a
    repeated name's captures).  Ordered alternation (``alt``) is fine
    UNDER GREEDY preference: branch variables occupy disjoint
    positions of the lens tuple in declaration order, so lexicographic
    MAX prefers any left-branch candidate over every right-branch one
    — exactly SQL:2016's alternatives-in-written-order preferment —
    but lexicographic MIN would invert it, so reluctant selection over
    an alternation is rejected.  The MATCH_RECOGNIZE translator only
    emits such queries; reject everything else at the kernel boundary
    instead of silently ranking by an ambiguous key."""
    def walk(node):
        t = node.get("type")
        if t == "combine":
            if node.get("contiguity") != "strict":
                raise ValueError(
                    "sql_skip requires STRICT contiguity throughout the "
                    f"pattern (found {node.get('contiguity')!r} combine): "
                    "with gaps, equal capture-length tuples no longer "
                    "imply equal matches and the SQL preference key is "
                    "ambiguous"
                )
            walk(node["left"])
            walk(node["right"])
        elif t == "alt":
            if sql_prefer != "longest":
                raise ValueError(
                    "sql_skip with alternation requires GREEDY selection "
                    "(sql_prefer='longest'): lexicographic-min would "
                    "prefer the RIGHT alternative, inverting SQL's "
                    "alternatives-in-written-order preferment"
                )
            for side in ("left", "right"):
                if _min_len(node[side]) == 0:
                    raise ValueError(
                        "sql_skip with alternation requires every branch "
                        "to match at least one row: a zero-min branch's "
                        "candidate can carry an all-zero lens prefix, and "
                        "lexicographic MAX would then prefer the RIGHT "
                        "alternative over the written order"
                    )
            walk(node["left"])
            walk(node["right"])
        elif t in ("spat", "lpat", "lpat-inf"):
            loop = node.get("loop")
            if loop is not None and loop.get("contiguity") != "strict":
                raise ValueError(
                    "sql_skip requires STRICT loop contiguity (found "
                    f"{loop.get('contiguity')!r} on {node.get('name')!r})"
                )
            names_seen.append(node["name"])
        else:
            raise ValueError(
                f"sql_skip does not support {t!r} pattern nodes (flat "
                "strict concatenation only — the MATCH_RECOGNIZE subset)"
            )

    names_seen: list = []
    walk(query.patseq)
    if len(names_seen) != len(set(names_seen)):
        raise ValueError(
            "sql_skip requires unique pattern variables (a repeated "
            "name's captures merge, breaking the per-variable length key)"
        )


def _sql_select(matches, skip, prefer, names):
    """SQL:2016 row-pattern match selection: scan candidate starts in
    row order, keep one match per eligible start — by SQL:2016's
    LEXICOGRAPHIC quantifier preference: candidates compare on the
    tuple of per-variable capture lengths in PATTERN order (``names``),
    maximized for greedy quantifiers, minimized for reluctant, which
    for the front end's flat concatenation patterns is exactly the
    standard's leftmost-quantifier-first preferment (round 14 — the
    previous longest-OVERALL-by-end approximation could assign rows
    differently when several variables were flexibly quantified) —
    then advance the next eligible start per the AFTER MATCH SKIP
    mode.  This is the semantic layer MATCH_RECOGNIZE adds over the
    Flink-CEP-style engine, whose own skip strategies act on EMISSION
    order (first-completing ≈ reluctant) rather than start order.

    ``matches`` is ``[(min_pos, max_pos, emission_idx, captures)…]``.
    The caller (``run_key``) already folds the per-start preference
    DURING the feed loop, so this normally receives one candidate per
    start — the fold keeps a hot key's memory at O(starts) instead of
    the full NoSkip emission's O(starts²) match records (the function
    stays correct for unreduced input; empty matches are dropped at
    the fold because SQL has no row to anchor them to under ONE ROW
    PER MATCH).
    """
    mode, var = skip
    by_start: dict = {}
    for m in matches:
        if m[0] is not None:
            by_start.setdefault(m[0], []).append(m)

    out = []
    min_start = 0
    for s in sorted(by_start):
        if s < min_start:
            continue
        # equal length tuples = identical row assignment (contiguous
        # rows, validated by _validate_sql_pattern); max/min are stable
        # (first emitted wins a tie), matching the run_key fold.
        cands = by_start[s]
        chosen = (
            max(cands, key=lambda m: _capture_lens(m[3], names))
            if prefer == "longest"
            else min(cands, key=lambda m: _capture_lens(m[3], names))
        )
        out.append(chosen)
        if mode == "past_last":
            min_start = chosen[1] + 1
        elif mode == "to_next":
            min_start = s + 1
        else:  # to_first / to_last <var>
            pos = chosen[3].get(var)
            if not pos:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {mode.split('_')[1].upper()} "
                    f"{var}: variable captured no row in the match"
                )
            target = pos[0] if mode == "to_first" else pos[-1]
            if target <= s:
                raise ValueError(
                    f"AFTER MATCH SKIP TO {mode.split('_')[1].upper()} "
                    f"{var} resolves to the match's own start row — "
                    "infinite loop (SQL:2016 forbids this)"
                )
            min_start = target
    return out


def match_pattern(
    df: DataFrame,
    query: Query,
    *,
    order_by: str,
    partition_by: str | Sequence[str] | None = None,
    type_col: str | None = "event_type",
    attr_cols: Sequence[str] | None = None,
    allow_fastpath: bool = True,
    max_active_runs: int = 100_000,
    on_limit: str = "raise",
    within=None,
    within_col: str | None = None,
    pre_partitioned: bool = False,
    sql_skip: tuple[str, str | None] | None = None,
    sql_prefer: str = "longest",
    anchor_start: bool = False,
    anchor_end: bool = False,
) -> DataFrame:
    """Run a CEP pattern query over a DataFrame of events.

    Parameters
    ----------
    order_by:
        Column defining the total order of each (sub)stream.  Must be
        unique within a partition key (e.g. ``event_id``).
    partition_by:
        Key column(s); each key is an independent substream (Flink's
        ``keyBy``).  ``None`` = one global stream (single-task — only
        for small inputs or tests).
    type_col:
        Column holding the event type matched against the pattern's
        ``event`` fields; ``None`` treats every row as the pattern's
        sole declared type.
    attr_cols:
        Attribute columns visible to conditions; defaults to every
        column except the partition key(s).
    on_limit:
        What to do when a key's live run-set exceeds
        ``max_active_runs``.  ``"raise"`` (default) aborts the job with
        :class:`MatchLimitExceeded`.  ``"truncate"`` degrades instead
        of dying: the key's remaining events are skipped, matches
        found so far are kept, and ONE sentinel row with
        ``match_seq = -1`` (null bounds/captures) flags the key as
        truncated — at 100 TB one pathological hot key should mark
        itself, not abort the other billion keys' work.
    within:
        Bound the span between a match's first and last event, in the
        UNITS OF ``order_by`` (which must then be numeric — e.g.
        microseconds for ``unix_micros(ts)``, positions for a
        sequence number).  Flink CEP's ``within()``: besides
        restricting matches, it prunes expired runs before every
        event, bounding live state on keys where relaxed patterns
        would otherwise accumulate runs without limit.  The fast-path
        planner stays eligible under NoSkip — its emission set equals
        the kernel's, so the bound is applied as an equivalent span
        post-filter; under skip strategies the kernel runs, because
        suppressing an over-long match can change WHICH match a skip
        strategy emits, which no post-filter can reproduce.
    within_col:
        Optional NUMERIC column supplying the stamp ``within`` is
        measured against INSTEAD of ``order_by`` — the time-based
        bound when the order column is a sequence number: pass e.g.
        ``unix_micros(ts)`` as a column and ``within`` in
        microseconds, and batch ``within()`` means exactly what the
        streaming twin's does (Flink's time-bounded ``within()``).
        Must be non-decreasing in ``order_by`` order within each key
        (event time on an ordered log is), because expired-run pruning
        assumes monotone stamps — the kernel ENFORCES this with a
        vectorized per-group check (NULL or regressing stamps raise
        ``ValueError`` naming the key and order position, instead of
        silently dropping or inventing matches).  Default ``None``
        keeps the
        reference-parity behavior: stamps are the ``order_by`` values
        themselves.  The fast-path planner is bypassed when this
        differs from ``order_by`` (its span post-filter sees only
        ``start_ord``/``end_ord``, not stamps); the kernel enforces
        the bound natively.
    sql_skip:
        Switch the kernel to SQL:2016 MATCH_RECOGNIZE match selection
        (used by :func:`reflinkcep_spark.cep.match_recognize`): the
        query must use ``NoSkip`` (the engine emits EVERY
        nondeterministic assignment), and per key the emission is then
        reduced to one match per eligible start row, scanning starts
        in row order and advancing per the skip mode — a tuple of
        ``("past_last", None)``, ``("to_next", None)``,
        ``("to_first", var)`` or ``("to_last", var)``.  ``sql_prefer``
        picks ``"longest"`` (SQL greedy quantifiers, the default) or
        ``"shortest"`` (reluctant) among a start's candidates.  The
        fast path is bypassed (its emission equals the kernel's
        UNSELECTED stream).  Selection preference is SQL:2016's
        lexicographic quantifier preferment: per-variable capture
        lengths in pattern order, maximized (greedy) or minimized
        (reluctant) — exact for flat concatenation patterns
        (round 14; see ``_sql_select``).
    anchor_start / anchor_end:
        SQL:2016 partition anchors (MATCH_RECOGNIZE ``^`` / ``$``):
        discard candidates whose first captured row is not the key's
        FIRST row (``anchor_start``) or whose last captured row is
        not the key's LAST row (``anchor_end``) BEFORE the per-start
        selection fold.  Part of the SQL selection surface — passing
        either without ``sql_skip`` raises.
    pre_partitioned:
        The caller asserts the input is ALREADY hash-distributed on
        the partition key(s) — e.g. a table written with
        ``sinks.write_bucketed(events, ..., key=partition_by)`` and
        read back via ``spark.table`` — so the kernel skips its
        explicit repartition and the whole plan runs WITHOUT ANY
        shuffle: Scan → Sort (within buckets) → FlatMapGroupsInArrow
        (verified in tests/test_bucketed_sink.py).  This is the
        standing-event-log shape at 100 TB: bucket the log once on
        the CEP key at ingest, then every pattern query over it is
        shuffle-free.  Parallelism equals the bucket count, so size
        buckets accordingly; AQE's partition coalescing (the reason
        the default path pins an explicit repartition) does not apply
        because there is no exchange to coalesce.  Misuse warning: if
        the input is NOT key-clustered, a key's rows span several
        partitions and each emits its own (wrong) match set.
    """
    if on_limit not in ("raise", "truncate"):
        raise ValueError(f"on_limit must be 'raise' or 'truncate', got {on_limit!r}")
    if sql_skip is not None:
        if query.strategy != "NoSkip":
            raise ValueError(
                "sql_skip requires strategy NoSkip (SQL selection is "
                f"applied over the full emission), got {query.strategy!r}"
            )
        if sql_skip[0] not in ("past_last", "to_next", "to_first", "to_last"):
            raise ValueError(f"unknown sql_skip mode {sql_skip[0]!r}")
        if sql_skip[0] in ("to_first", "to_last") and sql_skip[1] not in query.names:
            raise ValueError(
                f"sql_skip targets unknown variable {sql_skip[1]!r} "
                f"(have {query.names})"
            )
        if sql_prefer not in ("longest", "shortest"):
            raise ValueError(f"sql_prefer must be 'longest' or 'shortest'")
        _validate_sql_pattern(query, sql_prefer)
        allow_fastpath = False
    if (anchor_start or anchor_end) and sql_skip is None:
        raise ValueError(
            "anchor_start/anchor_end are part of the SQL selection "
            "surface (MATCH_RECOGNIZE ^/$) — pass sql_skip too"
        )
    keys = (
        [partition_by]
        if isinstance(partition_by, str)
        else list(partition_by or [])
    )
    if attr_cols is None:
        attr_cols = [c for c in df.columns if c not in keys]
    attr_cols = list(attr_cols)
    if order_by not in attr_cols:
        attr_cols.append(order_by)
    if type_col is not None and type_col not in attr_cols:
        attr_cols.append(type_col)
    if within_col is not None and within_col not in attr_cols:
        attr_cols.append(within_col)
    stamp_col = within_col if within_col is not None else order_by

    if allow_fastpath and (
        within is None
        or (query.strategy == "NoSkip" and stamp_col == order_by)
    ):
        from reflinkcep_spark.operators.fastpath import try_fast_path

        fast = try_fast_path(
            df,
            query,
            order_by=order_by,
            keys=keys,
            type_col=type_col,
            attr_cols=attr_cols,
        )
        if fast is not None:
            if within is not None:
                # NoSkip emission == kernel emission (differentially
                # pinned), and kernel-with-within == kernel filtered
                # to span <= within, so the bound composes as a filter.
                fast = fast.filter(
                    (F.col("end_ord") - F.col("start_ord")) <= F.lit(within)
                )
            return fast

    # Column pruning before the shuffle: ship only what the kernel reads.
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
        + [
            StructField(name, ArrayType(event_struct), True)
            for name in query.names
        ]
    )

    automaton = compile_query(query)
    strategy = query.strategy
    names = list(query.names)
    arrow_out = to_arrow_schema(out_schema)
    event_fields = list(to_arrow_type(event_struct))
    capture_type = to_arrow_type(ArrayType(event_struct))
    # Zero-match keys are the common case; hand them one cached empty
    # table instead of building one per key.
    empty_out = arrow_out.empty_table()
    null_as = {c: _null_as(field_by_name[c].dataType) for c in attr_cols}
    sole_type = None
    if type_col is None:
        declared = list(query.schema.keys())
        sole_type = declared[0] if len(declared) == 1 else None

    # Run pruning (runtime.feed) assumes stamps are non-decreasing in
    # feed order; with a decoupled stamp column that is a DATA property
    # the plan cannot guarantee — check it per key (one pass over the
    # stamps, ~free next to the NFA loop) instead of documenting it and
    # silently dropping or inventing matches when real data violates it.
    check_stamps = within_col is not None and within is not None

    def column(table: pa.Table, name: str, data_type: pa.DataType) -> pa.Array:
        # Timestamps arrive zoned in the session time zone but must
        # leave in the UTC form of out_schema: a metadata-only cast.
        arr = table.column(name).combine_chunks()
        return arr if arr.type == data_type else arr.cast(data_type)

    def values(table: pa.Table, name: str) -> list:
        col = table.column(name)
        vals = col.to_pylist()
        na = null_as[name]
        if na is not None and col.null_count:
            vals = [na if v is None else v for v in vals]
        return vals

    def run_key(table: pa.Table) -> pa.Table:
        table = table.sort_by(order_by)
        key_values = {k: table.column(k)[0].as_py() for k in keys}
        cols = [values(table, c) for c in attr_cols]
        recs = [dict(zip(attr_cols, row)) for row in zip(*cols)]
        if check_stamps:
            stamps = cols[attr_cols.index(stamp_col)]
            if any(st is None or st != st for st in stamps):
                raise ValueError(
                    f"within_col {stamp_col!r} has NULL stamps for key "
                    f"{key_values!r} — the within bound needs a stamp on "
                    "every event"
                )
            for i in range(1, len(stamps)):
                if stamps[i] < stamps[i - 1]:
                    raise ValueError(
                        f"within_col {stamp_col!r} regresses at "
                        f"{order_by}={recs[i][order_by]!r} for key "
                        f"{key_values!r} — stamps must be non-decreasing "
                        f"in {order_by} order (run pruning assumes "
                        "monotone stamps); order by the stamp column or "
                        "fix the stamp derivation"
                    )
        if type_col is not None:
            types = cols[attr_cols.index(type_col)]
        else:
            types = [sole_type] * len(recs)

        engine = MatchEngine(automaton, strategy, within)
        collected = []  # (min_pos, max_pos, emission_idx, captures)
        # SQL mode keeps only ONE candidate per start row (the longest
        # or shortest by (end, emission)) — folding that preference
        # DURING the feed loop instead of materializing the complete
        # NoSkip emission matters: a greedy E+ over one n-row run
        # emits n(n+1)/2 matches with O(n) positions each, all but n
        # of which _sql_select would discard anyway.
        best_by_start: dict = {}
        emitted = 0
        truncated = False
        for ev_type, attrs in zip(types, recs):
            for m in engine.feed(ev_type, attrs, attrs[stamp_col]):
                captured = m.captures
                all_pos = [p for idxs in captured.values() for p in idxs]
                if sql_skip is not None:
                    if not all_pos:
                        continue  # empty match: nothing to anchor to
                    mn_pos, mx_pos = min(all_pos), max(all_pos)
                    # SQL anchors (^/$): a candidate not pinned to the
                    # partition edge is discarded BEFORE the per-start
                    # fold, so selection ranks anchored candidates only
                    if anchor_start and mn_pos != 0:
                        continue
                    if anchor_end and mx_pos != len(recs) - 1:
                        continue
                    key = _capture_lens(captured, names)
                    cand = (mn_pos, mx_pos, emitted, captured)
                    emitted += 1
                    cur, cur_key = best_by_start.get(cand[0], (None, None))
                    if (
                        cur is None
                        or (sql_prefer == "longest" and key > cur_key)
                        or (sql_prefer == "shortest" and key < cur_key)
                    ):
                        best_by_start[cand[0]] = (cand, key)
                    continue
                collected.append(
                    (
                        min(all_pos) if all_pos else None,
                        max(all_pos) if all_pos else None,
                        len(collected),
                        captured,
                    )
                )
            if over_run_limit(engine, max_active_runs, key_values, on_limit):
                truncated = True
                break
        if sql_skip is not None:
            collected = _sql_select(
                [c for c, _k in best_by_start.values()], sql_skip,
                sql_prefer, names,
            )
        if not collected and not truncated:
            return empty_out

        starts = [mn for mn, _mx, _i, _c in collected]
        ends = [mx for _mn, mx, _i, _c in collected]
        captures = [c for _mn, _mx, _i, c in collected]
        seqs = list(range(len(collected)))
        if truncated:
            # Degrade: keep what matched, flag the key with ONE sentinel
            # row (match_seq -1, NULL bounds and captures), move on.
            starts.append(None)
            ends.append(None)
            captures.append({})
            seqs.append(-1)
        n_out = len(seqs)
        # Output values are taken straight from the input arrays, so
        # NULLs, timestamps and decimals round-trip untouched.
        events = pa.StructArray.from_arrays(
            [column(table, c, f.type) for c, f in zip(attr_cols, event_fields)],
            fields=event_fields,
        )
        order_col = column(table, order_by, arrow_out.field("start_ord").type)
        first_row = pa.array([0] * n_out, pa.int64())
        out = [
            column(table, k, arrow_out.field(k).type).take(first_row)
            for k in keys
        ]
        out.append(pa.array(seqs, pa.int64()))
        out.append(order_col.take(pa.array(starts, pa.int64())))
        out.append(order_col.take(pa.array(ends, pa.int64())))
        for name in names:
            offsets, flat, is_null = [0], [], []
            for captured in captures:
                idxs = captured.get(name)
                is_null.append(idxs is None)
                if idxs is not None:
                    flat.extend(idxs)
                offsets.append(len(flat))
            out.append(
                pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    events.take(pa.array(flat, pa.int64())),
                    type=capture_type,
                    mask=pa.array(is_null, pa.bool_()),
                )
            )
        return pa.Table.from_arrays(out, schema=arrow_out)

    if keys and pre_partitioned:
        # Caller-asserted key-clustered input (bucketed table): groupBy
        # alone satisfies the grouped map's required distribution from
        # the scan's bucket partitioning — zero exchanges.
        grouped = projected.groupBy(*keys)
    elif keys:
        # The explicit count (see kernel_partitions) is exempt from
        # AQE coalescing, and groupBy reuses its hash partitioning, so
        # there is exactly ONE shuffle.
        grouped = projected.repartition(
            kernel_partitions(projected.sparkSession), *keys
        ).groupBy(*keys)
    else:
        # Total-order CEP over an unkeyed stream is inherently ONE
        # group = one task = one core, regardless of cluster size.
        # Loud at plan time so nobody ships it against 100 TB silently.
        import warnings

        warnings.warn(
            "match_pattern called without partition_by: the whole input "
            "collapses into a single task (total-order CEP cannot "
            "parallelize). Key the stream (e.g. partition_by='user_id') "
            "for any non-trivial input.",
            UserWarning,
            stacklevel=2,
        )
        grouped = projected.groupBy()
    return grouped.applyInArrow(run_key, schema=out_schema)
