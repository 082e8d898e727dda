"""Custom stateful streaming operator: capped sessionization via
``applyInPandasWithState``.

``session_window`` cannot cap a session's duration (a key emitting forever
holds one session — and its state — open forever). This operator is the
engine's ``KeyedProcessFunction`` analog: explicit per-key state, event-time
timers, Arrow-batched Python. Semantics match
``operators.capped_sessionize.capped_sessionize`` exactly (the batch
definition is the oracle; the stream-equals-batch pytest is the gate).

The work is split three ways so Python touches only what needs a loop:

1. **JVM prepares.** Before the stateful operator the plan keeps three
   columns: the key, the watermarked ``ts`` (the event-time timeout needs
   the watermark on the operator's input) and the exact BIGINT cents
   ``CAST(ROUND(value * 100, 0) AS BIGINT)`` — the batch operator's own
   expression (``sessionize.cents``), so the Spark ROUND tie-break is
   the one the batch plan uses, not a Python mirror of it. Unused input
   columns never reach Arrow.
2. **Python folds.** Per key and micro-batch: one stable argsort of the
   µs timestamps, then one call into the pure ``capped_fold``. A key
   whose batch closed nothing yields no frame; a closed segment leaves
   as BIGINTs ``(user_id, s0_us, s1_us, _sc, event_count)``
   (``FOLD_SCHEMA``), so Arrow sees no object or datetime column.
3. **JVM presents.** ``sessionize.present_sessions`` after the operator
   turns the fold rows into ``OUT_SCHEMA``, with ``timestamp_micros`` for
   the bounds: ``_sc / 100.0`` and the sign-correct half-up cent quotient
   for sum and average — the batch plan's own presentation, so
   stream == batch holds bit-for-bit.

State per key: the one open segment ``(gap-session start, segment index,
seg min/max ts, running cents sum/count)`` — O(1) per key, evicted by
event-time timeout when the watermark passes ``segment end + gap`` (at
which point any future event would start a new session anyway, so eviction
is safe). The running sum is exact BIGINT cents, the batch operator's
exact-e2 discipline (see ``operators/sessionize.py:present_sessions``):
floats accumulate rounding error across micro-batches, cents don't.

Timestamps reach Python as session-local wall time and the µs it folds
are presented by ``timestamp_micros`` and compared with the watermark
(an epoch), so the session time zone must be UTC, which ``get_spark``
sets.

In-order contract: like the reference's monotonous-watermark jobs, events
per key are assumed non-decreasing in event time across micro-batches
(within a batch they are sorted here). Out-of-order input within the
watermark is handled by the declarative ``session_window`` pipelines;
this operator trades that for semantics they cannot express.

Cost (``perfbench`` ``stream_sessions``, 4 vCPUs): a capped micro-batch
is one stage of one Python-worker task per state partition; at ~520
rows per batch its median ``addBatch`` is ~1.1-1.4 s, most of it
PySpark's per-group Arrow/pandas work around the fold. Keep per-row and
per-key work in the JVM expressions above; see also
``session._reuse_unchanged_zip_directories`` for the per-task import
cost.
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
#: (gap-session start µs, segment index, seg min µs, seg max µs,
#:  cents sum, count)
STATE_SCHEMA = "gs0 long, seg long, s0 long, s1 long, sc long, scnt long"
#: What the Python fold emits per closed segment; ``present_sessions``
#: maps it to ``OUT_SCHEMA`` in the JVM.
FOLD_SCHEMA = ("user_id long, s0_us long, s1_us long, _sc long, "
               "event_count long")

_FOLD_COLS = [f.split()[0] for f in FOLD_SCHEMA.split(",")]
#: Column names of the prepared input the fold reads.
_TS, _CENTS = "_ts", "_cents"


def _prepare(events: DataFrame, key: str, ts: str, value: str,
             watermark_delay: str) -> DataFrame:
    return events.withWatermark(ts, watermark_delay).select(
        F.col(key),
        F.col(ts).alias(_TS),
        cents(value).alias(_CENTS),
    )


def _emit(closed: list[tuple[int, int, int, int, int]]) -> pd.DataFrame:
    return pd.DataFrame(np.array(closed, dtype="int64"), columns=_FOLD_COLS)


def _sorted_batch(pdfs: Iterator[pd.DataFrame]) -> tuple[list[int], list[int]]:
    """One key's micro-batch rows, event-time sorted, as (µs, cents).
    Concatenates the columns, not the frames: a key's batch is usually one
    Arrow chunk, and ``pd.concat`` costs ~8x the numpy path per key."""
    chunks = list(pdfs)
    ts_us = np.concatenate(
        [c[_TS].to_numpy("datetime64[us]") for c in chunks]).view("int64")
    cents = np.concatenate([c[_CENTS].to_numpy("int64") for c in chunks])
    order = np.argsort(ts_us, kind="stable")
    return ts_us[order].tolist(), cents[order].tolist()


def capped_fold(user_id: int, cur: tuple[int, ...] | None,
                ts_us: list[int], cents: list[int], gap_us: int,
                cap_us: int) -> tuple[list[tuple[int, int, int, int, int]],
                                      tuple[int, ...] | None]:
    """Fold one key's sorted micro-batch into its open segment.

    ``cur`` is the STATE_SCHEMA tuple (or None for a new key). Returns
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


def make_capped_session_fn(gap_sec: float, cap_sec: float):
    """The ``applyInPandasWithState`` function over ``_prepare``'s columns;
    it yields ``FOLD_SCHEMA`` frames, one per key whose batch or timeout
    closed a segment."""
    gap_us = int(gap_sec * 1_000_000)
    cap_us = int(cap_sec * 1_000_000)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])

        if state.hasTimedOut:
            if state.exists:
                _gs0, _seg, s0, s1, sc, scnt = state.get
                state.remove()
                yield _emit([(user_id, s0, s1, sc, scnt)])
            return

        closed, cur = capped_fold(
            user_id, state.get if state.exists else None,
            *_sorted_batch(pdfs), gap_us, cap_us)
        if cur is not None:
            state.update(cur)
            # evict once the watermark passes segment end + gap (ms API);
            # clamp to watermark+1 — a micro-batch can deliver a key's
            # events older than watermark - gap (nonzero watermark_delay,
            # multi-partition skew), and a timeout <= the current watermark
            # makes applyInPandasWithState fail the query
            timeout_ms = cur[3] // 1_000 + int(gap_us // 1_000) + 1
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
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
    folded = (
        _prepare(events, key, ts, value, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            make_capped_session_fn(gap_sec, cap_sec),
            FOLD_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    return present_sessions(folded, "user_id",
                            start=F.timestamp_micros("s0_us"),
                            end=F.timestamp_micros("s1_us"))

