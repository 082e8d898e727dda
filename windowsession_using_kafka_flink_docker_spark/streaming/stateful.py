"""Custom stateful streaming operator: capped sessionization via
``applyInPandasWithState``.

``session_window`` cannot cap a session's duration (a key emitting forever
holds one session — and its state — open forever). This operator is the
engine's ``KeyedProcessFunction`` analog: explicit state, event-time
timers, Arrow-batched Python. Semantics match
``operators.capped_sessionize.capped_sessionize`` exactly (the batch
definition is the oracle; the stream-equals-batch pytest is the gate).

The work is split three ways so Python touches only what needs a loop:

1. **JVM prepares.** Before the stateful operator the plan keeps four
   columns: the key, the watermarked ``ts`` (the event-time timeout needs
   the watermark on the operator's input), the exact BIGINT cents
   ``CAST(ROUND(value * 100, 0) AS BIGINT)`` — the batch operator's own
   expression (``sessionize.cents``), so the Spark ROUND tie-break is
   the one the batch plan uses, not a Python mirror of it — and the
   state bucket ``pmod(hash(key), B)``. Unused input columns never reach
   Arrow.
2. **Python folds.** The operator groups by bucket, so one call sees a
   whole bucket's micro-batch: one stable ``lexsort`` by (user, µs), a
   split at user boundaries, and one call into the pure ``capped_fold``
   per user with that user's open segment. A call that closed nothing
   yields no frame; a closed segment leaves as BIGINTs
   ``(user_id, s0_us, s1_us, _sc, event_count)`` (``FOLD_SCHEMA``), so
   Arrow sees no object or datetime column.
3. **JVM presents.** ``sessionize.present_sessions`` after the operator
   turns the fold rows into ``OUT_SCHEMA``, with ``timestamp_micros`` for
   the bounds: ``_sc / 100.0`` and the sign-correct half-up cent quotient
   for sum and average — the batch plan's own presentation, so
   stream == batch holds bit-for-bit.

State per bucket: one row of parallel ``array<long>`` columns with a
slot per open user segment ``(user, gap-session start, segment index,
seg min/max ts, running cents sum/count)`` (``STATE_SCHEMA``), plus the
bucket count B that wrote it. The running sum is exact BIGINT cents, the
batch operator's exact-e2 discipline (see
``operators/sessionize.py:present_sessions``): floats accumulate rounding
error across micro-batches, cents don't.

A user's deadline is ``segment end (ms) + gap + 1``. Once the watermark
passes it, any future event would open a new session anyway, so closing
the segment is safe. Two calls close segments by deadline:

- a data call closes every bucket-mate that has **no rows in this
  batch** and whose deadline is behind the watermark. Per-key state
  would have timed those users out in this batch, and a bucket that
  keeps getting data never receives a timeout call;
- a timeout call closes only the expired users.

Either call re-arms the bucket's event-time timeout at the earliest
deadline of its open users, clamped to watermark + 1 (a micro-batch can
deliver a key's events older than watermark - gap, and a timeout at or
before the watermark fails the query), and removes the state when no
user stays open.

B is ``_BUCKETS_PER_PARTITION`` (4) x ``spark.sql.shuffle.partitions``,
read when the plan is built, so every state partition folds about four
buckets per batch. A few buckets per partition balance the partitions'
work; many more give back the per-call overhead this layout saves
(SCALING.md, "Capped sessions"). A checkpoint restores ``spark.sql.shuffle.partitions`` for execution, but
B is a literal of the restarting session's plan; under another B, users
hash to other buckets and their open segments would split. So a call
whose state was written under another B raises an error naming both
counts. The check runs when a bucket with state is called: the first
batch that brings it data or passes its earliest deadline. A user that
moved to a bucket without state before that call can open a second
segment unchecked, so keep the shuffle partitions of the checkpoint.

Timestamps reach Python as session-local wall time and the µs it folds
are presented by ``timestamp_micros`` and compared with the watermark
(an epoch), so the session time zone must be UTC, which ``get_spark``
sets.

In-order contract: like the reference's monotonous-watermark jobs, events
per key are assumed non-decreasing in event time across micro-batches
(within a batch they are sorted here). Out-of-order input within the
watermark is handled by the declarative ``session_window`` pipelines;
this operator trades that for semantics they cannot express.

Cost (``perfbench`` ``stream_sessions``, seed 1, 4 vCPUs, B = 16): a
capped micro-batch is one stage of one Python-worker task per state
partition. At ~520 rows per batch its median ``addBatch`` is ~540 ms
and the state is 16 rows: PySpark's per-group Arrow/pandas conversion
runs once per bucket, not once per user. The price is write
amplification: a touched bucket rewrites its whole state row, O(open
users in the bucket), where per-user state would write only the touched
users (numbers in SCALING.md). Keep per-row and per-key work in the JVM
expressions above; see also ``session._reuse_unchanged_zip_directories``
for the per-task import cost.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
    DEFAULT_CAP,
)
from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    cents,
    present_sessions,
)

OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "session_sum double, event_count long, session_avg double"
)
#: One state row per bucket: parallel arrays with one slot per open user
#: segment (user, gap-session start µs, segment index, seg min µs,
#: seg max µs, cents sum, count), and the bucket count that wrote it.
STATE_SCHEMA = ("users array<long>, gs0 array<long>, seg array<long>, "
                "s0 array<long>, s1 array<long>, sc array<long>, "
                "scnt array<long>, buckets long")
#: What the Python fold emits per closed segment; ``present_sessions``
#: maps it to ``OUT_SCHEMA`` in the JVM.
FOLD_SCHEMA = ("user_id long, s0_us long, s1_us long, _sc long, "
               "event_count long")

_FOLD_COLS = [f.split()[0] for f in FOLD_SCHEMA.split(",")]
#: Column names of the prepared input the fold reads.
_KEY, _TS, _CENTS, _BUCKET = "_key", "_ts", "_cents", "_bucket"
#: State buckets per state partition (see the module docstring).
_BUCKETS_PER_PARTITION = 4
#: The open-segment array has one row per slot field: 0 user, then the
#: ``capped_fold`` segment (1 gs0, 2 seg, 3 s0, 4 s1, 5 sc, 6 scnt);
#: ``_EMIT`` picks a closed slot's ``FOLD_SCHEMA`` row.
_SLOTS = 7
_S1 = 4
_EMIT = [0, 3, 4, 5, 6]


def _prepare(events: DataFrame, key: str, ts: str, value: str,
             watermark_delay: str, buckets: int) -> DataFrame:
    return events.withWatermark(ts, watermark_delay).select(
        F.col(key).alias(_KEY),
        F.col(ts).alias(_TS),
        cents(value).alias(_CENTS),
        F.pmod(F.hash(F.col(key)), F.lit(buckets)).alias(_BUCKET),
    )


def _emit(closed: list) -> pd.DataFrame:
    return pd.DataFrame(np.array(closed, dtype="int64"), columns=_FOLD_COLS)


def _sorted_rows(pdfs: Iterator[pd.DataFrame]) -> tuple[np.ndarray, ...]:
    """A bucket's micro-batch rows as (users, µs, cents), sorted by user
    and, stably, by event time. Concatenates the columns, not the frames
    (``pd.concat`` costs ~8x the numpy path)."""
    chunks = list(pdfs)
    if not chunks:
        return tuple(np.empty(0, dtype="int64") for _ in range(3))
    users = np.concatenate([c[_KEY].to_numpy("int64") for c in chunks])
    ts_us = np.concatenate(
        [c[_TS].to_numpy("datetime64[us]") for c in chunks]).view("int64")
    cents = np.concatenate([c[_CENTS].to_numpy("int64") for c in chunks])
    order = np.lexsort((ts_us, users))
    return users[order], ts_us[order], cents[order]


def _open_segments(state: GroupState, buckets: int) -> np.ndarray:
    """The bucket's open segments as a ``(_SLOTS, n)`` int64 array. Fails
    closed on a state written under another bucket count: its users
    would hash to other buckets and their open segments would split."""
    if not state.exists:
        return np.empty((_SLOTS, 0), dtype="int64")
    *slots, stored = state.get
    if stored != buckets:
        raise ValueError(
            f"capped-session state was written with {stored} buckets but "
            f"this plan has {buckets} ({_BUCKETS_PER_PARTITION} x "
            "spark.sql.shuffle.partitions); "
            "restart the query with the shuffle partitions its checkpoint "
            "was written with")
    return np.array(slots, dtype="int64").reshape(_SLOTS, -1)


def capped_fold(user_id: int, cur: tuple[int, ...] | None,
                ts_us: list[int], cents: list[int], gap_us: int,
                cap_us: int) -> tuple[list[tuple[int, int, int, int, int]],
                                      tuple[int, ...] | None]:
    """Fold one key's sorted micro-batch into its open segment.

    ``cur`` is the key's open segment, one STATE_SCHEMA slot without the
    user (or None for a new key). Returns
    the segments the batch closed — ``(user_id, s0, s1, cents, count)``
    — and the new open segment. Pure: ``make_capped_session_fn`` owns
    the state handle and the timeout."""
    closed: list[tuple[int, int, int, int, int]] = []
    for t, c in zip(ts_us, cents):
        if cur is None:
            cur = (t, 0, t, t, c, 1)
            continue
        gs0, seg, s0, s1, sc, scnt = cur
        if t - s1 > gap_us:                      # inactivity gap: new gap session
            closed.append((user_id, s0, s1, sc, scnt))
            cur = (t, 0, t, t, c, 1)
        elif (t - gs0) // cap_us != seg:         # duration cap: new segment
            closed.append((user_id, s0, s1, sc, scnt))
            cur = (gs0, (t - gs0) // cap_us, t, t, c, 1)
        else:
            cur = (gs0, seg, s0, max(s1, t), sc + c, scnt + 1)
    return closed, cur


def make_capped_session_fn(gap_sec: float, cap_sec: float, buckets: int):
    """The ``applyInPandasWithState`` function over ``_prepare``'s columns,
    one call per state bucket; it yields a ``FOLD_SCHEMA`` frame when the
    call closed a segment."""
    gap_us = int(gap_sec * 1_000_000)
    cap_us = int(cap_sec * 1_000_000)
    gap_ms = gap_us // 1_000

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        segs = _open_segments(state, buckets)
        users, ts_us, cents = _sorted_rows(pdfs)   # empty on a timeout
        watermark_ms = state.getCurrentWatermarkMs()
        closed: list = []
        folded: list[tuple[int, ...]] = []
        if len(users):
            cuts = (np.flatnonzero(users[1:] != users[:-1]) + 1).tolist()
            firsts = [0, *cuts]
            batch_users = users[firsts]
            hit = np.isin(segs[0], batch_users)
            cur = {u: tuple(seg) for u, *seg in segs[:, hit].T.tolist()}
            segs = segs[:, ~hit]
            ts_l, cents_l = ts_us.tolist(), cents.tolist()
            for u, lo, hi in zip(batch_users.tolist(), firsts, cuts + [len(users)]):
                out, seg = capped_fold(u, cur.get(u), ts_l[lo:hi], cents_l[lo:hi],
                                       gap_us, cap_us)
                closed += out
                folded.append((u, *seg))
        # a user with no rows here whose deadline (segment end + gap, ms)
        # the watermark passed: per-key state would have timed it out in
        # this batch, and a bucket that keeps getting data never times out
        expired = segs[_S1] // 1_000 + gap_ms + 1 < watermark_ms
        closed += segs[_EMIT][:, expired].T.tolist()
        segs = np.concatenate(
            [segs[:, ~expired], np.array(folded, dtype="int64").reshape(-1, _SLOTS).T],
            axis=1)
        if segs.shape[1]:
            state.update((*segs.tolist(), buckets))
            # arm at the earliest deadline; clamp to watermark+1 — a
            # micro-batch can deliver a key's events older than
            # watermark - gap (nonzero watermark_delay, multi-partition
            # skew), and a timeout <= the current watermark makes
            # applyInPandasWithState fail the query
            deadline_ms = int(segs[_S1].min()) // 1_000 + gap_ms + 1
            state.setTimeoutTimestamp(max(deadline_ms, watermark_ms + 1))
        elif state.exists:
            state.remove()
        if closed:
            yield _emit(closed)

    return fn


def streaming_capped_sessionize(events: DataFrame, gap_sec: float = 30.0,
                                cap_sec: float = DEFAULT_CAP,
                                watermark_delay: str = "0 seconds",
                                key: str = "user_id",
                                ts: str = "ts",
                                value: str = "value") -> DataFrame:
    """Append-mode capped sessions: one row per closed segment, emitted on
    close (cap/gap hit by a newer event) or watermark eviction."""
    buckets = _BUCKETS_PER_PARTITION * int(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    folded = (
        _prepare(events, key, ts, value, watermark_delay, buckets)
        .groupBy(_BUCKET)
        .applyInPandasWithState(
            make_capped_session_fn(gap_sec, cap_sec, buckets),
            FOLD_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return present_sessions(folded, "user_id",
                            start=F.timestamp_micros("s0_us"),
                            end=F.timestamp_micros("s1_us"))
