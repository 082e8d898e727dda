"""Sessionization — the reference's core capability, as native Spark plans.

Parity targets (see SURVEY.md §2.5/§2.6):

- fixed 30 s event-time session gap with per-session sum/count/avg
  (flink_stream_task1.py:48-62,64-75);
- dynamic per-user gap tiers: uid 9999 → 5 min, 2–9 → 2 min, 100–200 → 60 s,
  else 30 s (flink_stream_task3.py:54-62) — expressed as a native gap
  *expression*, which Spark ≥ 3.2 supports directly;
- derived ``session_avg = session_sum / max(1, count)``
  (flink_stream_task1.py:72).

Semantics (verified empirically on Spark 4.1): an event extends a session
when ``ts <= previous_ts + gap`` — a gap of exactly the threshold still
merges; the break condition is strictly ``ts - prev_ts > gap``. Session
window struct is ``[min(ts), last_ts + gap)``.

Scale notes: ``groupBy(user_id, session_window(...))`` plans one hash
shuffle on the group keys with partial aggregation map-side; AQE handles
skewed users (the reference's phase-4 workload is a single hot user,
generator1.py:51). There is no Python in the hot path — the whole plan is
WholeStageCodegen'd JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Reference default gap (flink_stream_task1.py:51).
DEFAULT_GAP = "30 seconds"

#: User-tier gap table (flink_stream_task3.py:54-62), in seconds.
#: (lo, hi, gap_seconds) — first match wins; default 30 s.
TIER_GAPS: tuple[tuple[int, int, int], ...] = (
    (9999, 9999, 300),  # VIP: 5 minutes
    (2, 9, 120),        # tier A: 2 minutes
    (100, 200, 60),     # tier B: 60 seconds
)
TIER_DEFAULT_SECONDS = 30


def dynamic_gap_expr(user_col: str | Column = "user_id") -> Column:
    """Per-row session-gap duration column implementing the tier table.

    Returns an interval-string column usable directly as the ``gapDuration``
    argument of ``session_window`` (evaluated per event, exactly the
    reference's SessionWindowTimeGapExtractor contract,
    flink_stream_task3.py:106-108).
    """
    c = F.col(user_col) if isinstance(user_col, str) else user_col
    expr = None
    for lo, hi, secs in TIER_GAPS:
        cond = (c == lo) if lo == hi else c.between(lo, hi)
        branch = F.lit(f"{secs} seconds")
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr.otherwise(F.lit(f"{TIER_DEFAULT_SECONDS} seconds"))


def tier_gap_expr(tier_col: str = "tier") -> Column:
    """Per-event session-gap duration from the SCD2 loyalty tier
    (``plans.relational.loyalty_tiers``): gold 300 s, silver 120 s,
    bronze 60 s, no tier yet 30 s."""
    c = F.col(tier_col)
    return (F.when(c == "gold", "300 seconds")
            .when(c == "silver", "120 seconds")
            .when(c == "bronze", "60 seconds")
            .otherwise("30 seconds"))


def gap_seconds_sql(user_col: str = "user_id") -> str:
    """ANSI-SQL CASE yielding the tier gap in *seconds* (for oracles)."""
    arms = []
    for lo, hi, secs in TIER_GAPS:
        cond = f"{user_col} = {lo}" if lo == hi else f"{user_col} BETWEEN {lo} AND {hi}"
        arms.append(f"WHEN {cond} THEN {secs}")
    return "CASE " + " ".join(arms) + f" ELSE {TIER_DEFAULT_SECONDS} END"


#: Sign-correct half-up cent quotient for ``session_avg`` (exact-e2,
#: landed r17). ``avg = round_half_up(sum_cents / n)`` at cent
#: resolution, computed as the exact integer ``(2*|sum| + n) div (2*n)``
#: with the sign re-applied — the CASE keeps the integer-division
#: operands nonnegative, where Spark's truncating ``div`` and DuckDB's
#: flooring ``//`` coincide, so the presented double is
#: engine-identical by construction (and half-up is away-from-zero for
#: negative sums, matching Spark ROUND semantics). ``event_count >= 1``
#: always (groupBy output), so the divisor cannot be zero — the
#: reference's ``max(1, count)`` guard (flink_stream_task1.py:72) is
#: vacuously honored.
_AVG_CENTS_EXPR = (
    "CASE WHEN _sc < 0 "
    "THEN -((2 * (-_sc) + event_count) div (2 * event_count)) "
    "ELSE (2 * _sc + event_count) div (2 * event_count) END"
)


def cents(col: str | Column) -> Column:
    """Exact BIGINT cents of a 2-decimal money double,
    ``CAST(ROUND(col * 100, 0) AS BIGINT)`` (Spark ROUND: half-up on the
    double's decimal form). The engine's one Spark-side money rule:
    sessions, the analytics and relational plans and the streaming
    maintainers all use it; only the DuckDB oracles spell it out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("long")


def session_partials(df: DataFrame, gap: Column | str, key: str = "user_id",
                     ts: str = "ts", value: str = "value") -> DataFrame:
    """The session aggregate: ``(key, session_window, _sc, event_count)``
    with ``_sc`` the exact BIGINT cents sum. The window column stays so
    callers can present it, filter or dedup on it first (chained
    stateful operators need its event-time marker), or rename the
    partials. Works on batch and streaming frames; a streaming caller
    attaches ``withWatermark`` upstream."""
    return df.groupBy(key, F.session_window(ts, gap)).agg(
        F.sum(cents(value)).alias("_sc"),
        F.count(F.lit(1)).alias("event_count"),
    )


def present_sessions(df: DataFrame, key: str = "user_id",
                     start: Column | None = None,
                     end: Column | None = None) -> DataFrame:
    """The exact-e2 session presentation of ``(key, _sc, event_count)``
    rows: ``(key, session_start, session_end, session_sum, event_count,
    session_avg)``. Bounds default to ``session_partials``' window.

    Both presented doubles derive from the exact BIGINT cents sum:
    events.value is exact 2-decimal data (|v*100 - round(v*100)| <=
    4e-12 at every SF), so ``_sc`` is the true sum and ``session_sum =
    _sc/100.0`` is its nearest double on any engine; ``session_avg`` is a
    true half-up at cent resolution with no IEEE division before the
    final exact-integer quotient. This kills the ROUND(sum/count, 2)
    half-cent tie class where Spark's shortest-decimal half-up and
    DuckDB's binary-double rounding split by one cent (34.55/2 -> 17.28
    vs 17.27)."""
    start = F.col("session_window.start") if start is None else start
    end = F.col("session_window.end") if end is None else end
    return df.select(
        F.col(key),
        start.alias("session_start"),
        end.alias("session_end"),
        (F.col("_sc") / F.lit(100.0)).alias("session_sum"),
        F.col("event_count"),
        (F.expr(_AVG_CENTS_EXPR) / F.lit(100.0)).alias("session_avg"),
    )


def sessionize(df: DataFrame, gap: str = DEFAULT_GAP, key: str = "user_id",
               ts: str = "ts", value: str = "value") -> DataFrame:
    """Fixed-gap sessionization with sum/count/avg per (user, session).

    Works identically on batch and streaming DataFrames (add
    ``withWatermark`` upstream for streaming append mode).
    """
    return present_sessions(session_partials(df, gap, key, ts, value), key)


def sessionize_dynamic(df: DataFrame, key: str = "user_id", ts: str = "ts",
                       value: str = "value") -> DataFrame:
    """Dynamic per-user-tier gap sessionization (task3's intended job)."""
    return present_sessions(
        session_partials(df, dynamic_gap_expr(key), key, ts, value), key)


def sessionize_oracle_sql(gap_seconds: int | str = 30, key: str = "user_id",
                          ts: str = "ts", value: str = "value",
                          table: str = "events", tiebreak: str = "event_id",
                          having: str | None = None) -> str:
    """Gaps-and-islands ANSI SQL equivalent for DuckDB oracle checks.

    ``gap_seconds`` may be an int (fixed gap) or a SQL expression over the
    row (dynamic gap; must depend only on the partition key so the per-row
    gap is constant within a partition — true for the tier table).
    New-session condition is strictly ``>`` to match Spark's merge-on-equal
    semantics. Session end is ``max(ts) + gap``. ``tiebreak`` totally orders
    equal timestamps so the lag and the cumulative sum agree on one order
    (tied rows never split a session, but a tie *after* a break point must
    land deterministically).

    Presentation matches ``present_sessions``' exact-e2 form: both doubles
    derive from the exact BIGINT cents sum (DuckDB ``SUM(BIGINT)`` is
    HUGEINT, so the half-up cross-products cannot overflow at any
    scale); the avg CASE keeps the ``//`` operands nonnegative so
    DuckDB's flooring division equals Spark's truncating ``div``.
    ``having`` predicates see the islands' ``_c`` cents column.
    """
    gap = str(gap_seconds)
    having_clause = f"HAVING {having}" if having else ""
    return f"""
WITH flagged AS (
  SELECT {key}, {ts} AS _ts,
         CAST(ROUND({value} * 100, 0) AS BIGINT) AS _c, {tiebreak} AS _tb,
         CASE WHEN lag({ts}) OVER w IS NULL THEN 1
              WHEN epoch_us({ts}) - epoch_us(lag({ts}) OVER w) > 1000000 * ({gap}) THEN 1
              ELSE 0 END AS _new_session
  FROM {table}
  WINDOW w AS (PARTITION BY {key} ORDER BY {ts}, {tiebreak})
),
islands AS (
  SELECT {key}, _ts, _c,
         SUM(_new_session) OVER (PARTITION BY {key} ORDER BY _ts, _tb
                                 ROWS UNBOUNDED PRECEDING) AS _sid
  FROM flagged
)
SELECT {key},
       MIN(_ts) AS session_start,
       MAX(_ts) + to_seconds(({gap})::BIGINT) AS session_end,
       SUM(_c) / 100.0 AS session_sum,
       COUNT(*) AS event_count,
       (CASE WHEN SUM(_c) < 0
             THEN -((2 * (-SUM(_c)) + COUNT(*)) // (2 * COUNT(*)))
             ELSE (2 * SUM(_c) + COUNT(*)) // (2 * COUNT(*)) END
       ) / 100.0 AS session_avg
FROM islands
GROUP BY {key}, _sid
{having_clause}
"""
