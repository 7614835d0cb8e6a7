"""Seeded input generators.  The program under test sees only what these
produce: parquet files written into the work directory, or rows that the
streaming workload derives from Spark's ``rate`` source by a seeded hash.

Every function is a pure function of its arguments, so one seed always
yields the same inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "error", "click", "view")

# Batch event log.  Its size, key count, type mix and value law are
# measured on the ``events`` table of the repository's sf0.1 test data
# (seed 42, the table ``bench.py`` and the ``cep_*`` queries run on):
#   - 100,000 events over 1,500 user ids;
#   - each of the five event types is 19.8-20.3% of the log;
#   - ``value`` has mean 49.9 and quartiles 14.6 / 34.8 / 68.9, i.e. an
#     exponential law of mean 50 (quartiles 14.4 / 34.7 / 69.3), kept to
#     two decimals.
# Key sizes are chosen, not measured: in that table they are near uniform
# (45-99 events per key; the hottest key holds 0.1% of the log).  Here they
# follow a Zipf law of exponent 0.7, so the hottest key holds ~4% of the
# log, a few keys have long substreams and the tasks that own them set the
# pass time.  The relaxed funnel's fast path is quadratic in a key's
# substream length; at exponent 0.9 (hottest key ~9%) one of its passes
# took 10 s on 4 cores, too long to time several passes in a run.
LOG_EVENTS = 100_000
LOG_KEYS = 1_500
LOG_ZIPF = 0.7
LOG_TYPE_P = (0.2, 0.2, 0.2, 0.2, 0.2)
LOG_VALUE_MEAN = 50.0


def event_log(seed: int) -> dict:
    """Columns ``user_id, event_id, event_type, value`` of a keyed log.

    ``event_id`` is unique and increasing, which orders each key's
    substream; ``value`` is a non-negative double with two decimals."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, LOG_KEYS + 1) ** LOG_ZIPF
    # Key k is the k-th hottest for every seed, so the hot keys hash to
    # the same shuffle partitions: the seed changes the events, not which
    # task is the slow one.
    users = rng.choice(LOG_KEYS, LOG_EVENTS, p=weights / weights.sum())
    types = rng.choice(len(EVENT_TYPES), LOG_EVENTS, p=LOG_TYPE_P)
    return {
        "user_id": users.astype(np.int64),
        "event_id": np.arange(LOG_EVENTS, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[types],
        "value": rng.exponential(LOG_VALUE_MEAN, LOG_EVENTS).round(2),
    }


def write_parquet(columns: dict, path: str) -> None:
    pq.write_table(pa.table(columns), path)


# Documents: families of near-duplicates planted among unrelated docs.
# A family is an edit chain: member i+1 is member i with a few words
# replaced, so neighbours are near-duplicates while the chain's ends
# drift apart.  Chain lengths run past 2^4 = 16 hops, the default
# diameter reach of ``duplicate_clusters``; they are not capped below it.
DOC_VOCAB = 5_000
DOC_WORDS = 60
DOC_EDITS = 3
DOC_FAMILIES = 40
DOC_CHAIN_MAX = 40
DOC_SINGLES = 1_200


def documents(seed: int) -> dict:
    """Columns ``doc_id, text``.  Doc ids are shuffled so that chain
    order and id order differ (label propagation converges fastest when
    they agree)."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for _ in range(DOC_FAMILIES):
        length = int(rng.integers(2, DOC_CHAIN_MAX + 1))
        words = rng.integers(0, DOC_VOCAB, DOC_WORDS)
        for _ in range(length):
            texts.append(" ".join(f"w{w}" for w in words))
            words = words.copy()
            words[rng.choice(DOC_WORDS, DOC_EDITS, replace=False)] = rng.integers(
                0, DOC_VOCAB, DOC_EDITS
            )
    for _ in range(DOC_SINGLES):
        texts.append(" ".join(f"w{w}" for w in rng.integers(0, DOC_VOCAB, DOC_WORDS)))
    ids = rng.permutation(len(texts)).astype(np.int64)
    return {
        "doc_id": ids,
        "text": np.array(texts, dtype=object),
    }


# Streaming: rows of Spark's rate source become keyed events.  The
# source runs at the ladder's top rate; a row is admitted when its
# ``value`` is a multiple of top / (the rate of the step its due time falls
# in), so the offered rate follows the ladder inside one query, on the
# source's own clock, whatever the engine does.  Event fields hash the
# value with the seed using arithmetic modulo the prime 2^31 - 1, so every
# product fits a signed long and Spark (SQL) and numpy agree
# row for row.
STREAM_KEYS = 64
# Source seconds before the measured window, and before a ladder's first
# step.  About as long as set-up takes on 4 cores: set-up ends when the
# first micro-batch with rows, which runs cold (JVM, Python workers, state
# stores), has emitted its matches.  Where set-up takes longer, the window
# starts when it ends.
STREAM_WARM_S = 20
_P = (1 << 31) - 1
_A = 1_103_515_245
_B = 2_147_483_629


def ladder_step(values, ladder: tuple, step_s: float):
    """Step index of each rate-source value (a numpy array or a Spark
    column): -1 during warm-up, then one step per ``step_s`` seconds of
    source time, the last step open-ended."""
    top = ladder[-1]
    warm_rows, step_rows = STREAM_WARM_S * top, int(step_s * top)
    last = len(ladder) - 1
    if isinstance(values, np.ndarray):
        k = np.minimum((values - warm_rows) // step_rows, last)
        return np.where(values < warm_rows, -1, k)
    from pyspark.sql import functions as F

    k = F.least(F.floor((values - warm_rows) / step_rows), F.lit(last))
    return F.when(values < warm_rows, -1).otherwise(k)


def _stride(ladder: tuple) -> list[int]:
    # warm-up runs at the lowest rate; strides indexed by step + 1
    return [ladder[-1] // ladder[0]] + [ladder[-1] // r for r in ladder]


def _mix(v, seed: int, shr, xor):
    h = ((v + seed) % _P) * _A % _P
    h = xor(h, shr(h, 13)) * _B % _P
    return xor(h, shr(h, 11))


def stream_events_py(n_values: int, seed: int, ladder: tuple, step_s: float) -> dict:
    """The admitted events among rate values ``0 .. n_values - 1``: the
    in-process twin of :func:`stream_events_sql`."""
    values = np.arange(n_values, dtype=np.int64)
    stride = np.array(_stride(ladder))[ladder_step(values, ladder, step_s) + 1]
    values = values[values % stride == 0]
    h = _mix(values, seed, np.right_shift, np.bitwise_xor)
    return {
        "user_id": h % STREAM_KEYS,
        "event_id": values,
        "event_type": np.array(EVENT_TYPES, dtype=object)[(h >> 8) % len(EVENT_TYPES)],
        "value": (h >> 16) % 100,
    }


def stream_events_sql(rate_df, seed: int, ladder: tuple, step_s: float):
    """Rate rows ``(timestamp, value)`` → admitted keyed events plus
    ``created``, the row's due time at the rate source in epoch ms."""
    from pyspark.sql import functions as F

    v = F.col("value")
    stride = F.element_at(
        F.array(*[F.lit(s) for s in _stride(ladder)]),
        (ladder_step(v, ladder, step_s) + 2).cast("int"),
    )
    h = _mix(v, seed, F.shiftright, lambda a, b: a.bitwiseXOR(b))
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    kind = (F.shiftright(h, 8) % len(EVENT_TYPES) + 1).cast("int")
    return rate_df.filter(v % stride == 0).select(
        (h % STREAM_KEYS).alias("user_id"),
        v.alias("event_id"),
        F.element_at(types, kind).alias("event_type"),
        (F.shiftright(h, 16) % 100).alias("value"),
        F.unix_millis(F.col("timestamp")).alias("created"),
    )
