"""Custom stateful streaming operator: capped sessionization via
``applyInPandasWithState``.

``session_window`` cannot cap a session's duration (a key emitting forever
holds one session — and its state — open forever). This operator is the
engine's ``KeyedProcessFunction`` analog: explicit per-key state, event-time
timers, Arrow-batched Python. Semantics match
``operators.capped_sessionize.capped_sessionize`` exactly (the batch
definition is the oracle; the stream-equals-batch pytest is the gate).

State per key: the one open segment ``(gap-session start, segment index,
seg min/max ts, running cents sum/count)`` — O(1) per key, evicted by
event-time timeout when the watermark passes ``segment end + gap`` (at
which point any future event would start a new session anyway, so eviction
is safe). The running sum is exact BIGINT cents, the batch operator's
exact-e2 discipline (see ``operators/sessionize.py:_aggregate``): floats
accumulate rounding error across micro-batches, cents don't, and the
presented ``session_sum``/``session_avg`` derive from the cents sum the
same way the batch plan derives them (``/100.0`` and the sign-correct
half-up integer cent quotient) so stream == batch holds bit-for-bit.

In-order contract: like the reference's monotonous-watermark jobs, events
per key are assumed non-decreasing in event time across micro-batches
(within a batch they are sorted here). Out-of-order input within the
watermark is handled by the declarative ``session_window`` pipelines;
this operator trades that for semantics they cannot express.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
    DEFAULT_CAP,
)

OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "session_sum double, event_count long, session_avg double"
)
#: (gap-session start µs, segment index, seg min µs, seg max µs,
#:  cents sum, count)
STATE_SCHEMA = "gs0 long, seg long, s0 long, s1 long, sc long, scnt long"

_OUT_COLS = ("user_id", "session_start", "session_end", "session_sum",
             "event_count", "session_avg")


def _cents(v: float) -> int:
    """``ROUND(v * 100, 0)`` with Spark's decimal HALF_UP tie-break
    (away from zero), mirrored exactly: Spark rounds the double's
    shortest decimal repr, which is what ``Decimal(repr(x))`` holds.
    On exact 2-decimal data the tie never fires (v*100 is within 4e-12
    of an integer) — this keeps the rule identical anyway."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(v * 100.0)).quantize(Decimal("1"),
                                                 rounding=ROUND_HALF_UP))


def _avg_cents(sc: int, n: int) -> int:
    """Sign-correct half-up cent quotient — the Python-int mirror of
    ``operators/sessionize.py:_AVG_CENTS_EXPR`` (exact ``//`` on
    nonnegative operands, sign re-applied: half-up is away from zero)."""
    q = (2 * abs(sc) + n) // (2 * n)
    return -q if sc < 0 else q


def _emit(closed: list[tuple[int, int, int, int, int]]) -> pd.DataFrame:
    rows = {
        "user_id": pd.Series([c[0] for c in closed], dtype="int64"),
        "session_start": pd.to_datetime([c[1] for c in closed], unit="us"),
        "session_end": pd.to_datetime([c[2] for c in closed], unit="us"),
        "session_sum": pd.Series([c[3] / 100.0 for c in closed],
                                 dtype="float64"),
        "event_count": pd.Series([c[4] for c in closed], dtype="int64"),
        "session_avg": pd.Series(
            [_avg_cents(c[3], c[4]) / 100.0 for c in closed],
            dtype="float64"),
    }
    return pd.DataFrame(rows, columns=list(_OUT_COLS))


def _sorted_batch(pdfs: Iterator[pd.DataFrame], ts: str,
                  value: str) -> tuple[list[int], list[int]]:
    """One key's micro-batch rows, event-time sorted, as (µs, cents)."""
    batch = pd.concat(list(pdfs)).sort_values(ts)
    return ([int(pd.Timestamp(v).value // 1_000) for v in batch[ts]],
            [_cents(float(v)) for v in batch[value]])


def capped_fold(user_id: int, cur: tuple[int, ...] | None,
                ts_us: list[int], cents: list[int], gap_us: int,
                cap_us: int) -> tuple[list[tuple[int, int, int, int, int]],
                                      tuple[int, ...] | None]:
    """Fold one key's sorted micro-batch into its open segment.

    ``cur`` is the STATE_SCHEMA tuple (or None for a new key). Returns
    the segments the batch closed — ``(user_id, s0, s1, cents, count)``
    — and the new open segment. Pure, so the applyInPandasWithState and
    transformWithStateInPandas renderings share one definition."""
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


def make_capped_session_fn(gap_sec: float, cap_sec: float,
                           ts: str = "ts", value: str = "value"):
    gap_us = int(gap_sec * 1_000_000)
    cap_us = int(cap_sec * 1_000_000)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])

        if state.hasTimedOut:
            closed = []
            if state.exists:
                _gs0, _seg, s0, s1, sc, scnt = state.get
                closed.append((user_id, s0, s1, sc, scnt))
                state.remove()
            yield _emit(closed)
            return

        closed, cur = capped_fold(
            user_id, state.get if state.exists else None,
            *_sorted_batch(pdfs, ts, value), gap_us, cap_us)
        if cur is not None:
            state.update(cur)
            # evict once the watermark passes segment end + gap (ms API);
            # clamp to watermark+1 — a micro-batch can deliver a key's
            # events older than watermark - gap (nonzero watermark_delay,
            # multi-partition skew), and a timeout <= the current watermark
            # makes applyInPandasWithState fail the query
            timeout_ms = cur[3] // 1_000 + int(gap_us // 1_000) + 1
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
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
    return (
        events.withWatermark(ts, watermark_delay)
        .groupBy(key)
        .applyInPandasWithState(
            make_capped_session_fn(gap_sec, cap_sec, ts, value),
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


class CappedSessionProcessor:
    """``transformWithStateInPandas`` (Spark 4 arbitrary-state v2) rendering
    of the same capped-session semantics: explicit ``ValueState`` + real
    event-time timers instead of applyInPandasWithState's single implicit
    state/timeout. Requires the RocksDB state store provider.

    Defined lazily against ``StatefulProcessor`` (imported at call time) so
    the module stays importable on Spark builds without the v2 API.
    """

    def __init__(self, gap_sec: float, cap_sec: float,
                 ts: str = "ts", value: str = "value") -> None:
        self._gap_us = int(gap_sec * 1_000_000)
        self._cap_us = int(cap_sec * 1_000_000)
        self._ts, self._value = ts, value

    def init(self, handle) -> None:
        self._handle = handle
        self._session = handle.getValueState("session", STATE_SCHEMA)

    def _snapshot(self):
        if not self._session.exists():
            return None
        return tuple(self._session.get())

    def handleInputRows(self, key, rows, timerValues):
        closed, cur = capped_fold(
            int(key[0]), self._snapshot(),
            *_sorted_batch(rows, self._ts, self._value),
            self._gap_us, self._cap_us)
        if cur is not None:
            self._session.update(cur)
            # one live timer per key: replace, don't accumulate
            for expiry in list(self._handle.listTimers()):
                self._handle.deleteTimer(expiry)
            # same watermark clamp as the applyInPandasWithState path
            timeout_ms = cur[3] // 1_000 + self._gap_us // 1_000 + 1
            self._handle.registerTimer(
                max(timeout_ms, timerValues.getCurrentWatermarkInMs() + 1)
            )
        yield _emit(closed)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        closed: list[tuple[int, int, int, int, int]] = []
        cur = self._snapshot()
        if cur is not None:
            # guard against a stale timer racing a newer segment
            if expiredTimerInfo.getExpiryTimeInMs() >= cur[3] // 1_000 + self._gap_us // 1_000:
                closed.append((int(key[0]), cur[2], cur[3], cur[4], cur[5]))
                self._session.clear()
        yield _emit(closed)

    def close(self) -> None:
        pass


def streaming_capped_sessionize_tws(events: DataFrame, gap_sec: float = 30.0,
                                    cap_sec: float = DEFAULT_CAP,
                                    watermark_delay: str = "0 seconds",
                                    key: str = "user_id", ts: str = "ts",
                                    value: str = "value") -> DataFrame:
    """Capped sessions on the transformWithStateInPandas API — same output
    contract as ``streaming_capped_sessionize`` (asserted equal to the
    DuckDB-oracled batch operator in tests). Needs
    ``spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider``."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    # runtime subclass so import of this module never requires the v2 API
    proc_cls = type("_CappedSessionProcessor",
                    (CappedSessionProcessor, StatefulProcessor), {})
    return (
        events.withWatermark(ts, watermark_delay)
        .groupBy(key)
        .transformWithStateInPandas(
            proc_cls(gap_sec, cap_sec, ts, value),
            OUT_SCHEMA,
            "Append",
            "EventTime",
        )
    )
