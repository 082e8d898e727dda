"""Capped sessionization: inactivity-gap sessions with a maximum session
duration.

``session_window`` expresses "close after ``gap`` of silence" but cannot
cap a session's length — a bot that fires an event every second holds one
session open forever (unbounded state in streaming, one mega-session in
batch). The capped variant closes a session at ``cap`` seconds after its
first event even if events keep coming; the next event opens a new
sub-session. This is the Flink ``KeyedProcessFunction``-style semantics the
reference's stack could express but Spark's declarative API can't — here it
decomposes into two window passes (batch) or a custom stateful operator
(streaming, ``streaming/stateful.py``).

Definition (deterministic, SQL-expressible):
1. gap sessions: break where ``ts - lag(ts) > gap`` per key, cumulative-sum
   the breaks;
2. duration cap: within a gap session starting at ``t0``, segment index is
   ``(ts_us - t0_us) div cap_us`` — a session is one
   ``(key, gap_session, segment)`` group. The quotient is BIGINT
   microsecond arithmetic end to end (r16 ADVICE: the former double
   division could in principle misround within ~8e-9 of a cap multiple;
   integer ``div`` is exact by construction, and its operands are
   nonnegative because ``ts >= min(ts)`` over the gap session, so Spark's
   truncating ``div`` equals DuckDB's flooring ``//``).

Presentation is the exact-e2 form (landed for the ``session_window``
family in ``operators/sessionize.py`` first): both presented doubles
derive from the exact BIGINT cents sum — ``session_sum = sum_cents/100.0``
and ``session_avg`` the sign-correct half-up integer cent quotient
(``sessionize.present_sessions``, one shared definition). This kills the
``ROUND(sum/count, 2)`` half-cent presentation-tie class the r16 sf0.1
full-catalog sweep surfaced (the one remaining mismatch, 198th of 201).
``events.value`` is exact 2-decimal data (|v*100 - round(v*100)| <= 4e-12
at every SF), so the cents sum is the true sum.

100 TB design: pass 1 and 2 share the same hash partitioning on the key
(one exchange, two local sorts); the aggregation reuses it. No Python, no
state beyond window-function running values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    cents,
    present_sessions,
)

DEFAULT_CAP = 120.0  # seconds


def capped_sessionize(events: DataFrame, gap_sec: float = 30.0,
                      cap_sec: float = DEFAULT_CAP, key: str = "user_id",
                      ts: str = "ts", value: str = "value") -> DataFrame:
    gap_us = int(gap_sec * 1_000_000)
    cap_us = int(cap_sec * 1_000_000)
    w = Window.partitionBy(key).orderBy(ts)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    us = F.unix_micros(F.col(ts))
    prev_us = F.unix_micros(F.lag(ts).over(w))
    brk = F.when(us - prev_us > gap_us, 1).otherwise(0)

    gs = events.withColumn("_gs", F.sum(brk).over(cum))
    gw = Window.partitionBy(key, "_gs")
    seg = (
        gs.withColumn("_gs_start_us", F.unix_micros(F.min(ts).over(gw)))
        .withColumn(
            "_seg",
            F.expr(f"(unix_micros({ts}) - _gs_start_us) div {cap_us}"),
        )
    )
    agg = seg.groupBy(key, "_gs", "_seg").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.sum(cents(value)).alias("_sc"),
        F.count(F.lit(1)).alias("event_count"),
    )
    return present_sessions(agg, key, start=F.col("session_start"),
                            end=F.col("session_end"))


def capped_sessionize_oracle_sql(gap_sec: float = 30.0,
                                 cap_sec: float = DEFAULT_CAP,
                                 table: str = "events") -> str:
    """DuckDB equivalent — same two-pass definition, µs precision (the
    session_window oracles learned that ms truncation diverges), same
    exact-e2 presentation: DuckDB ``SUM(BIGINT)`` is HUGEINT so the
    half-up cross-products cannot overflow at any scale, and the avg
    CASE keeps the ``//`` operands nonnegative so flooring equals
    Spark's truncating ``div``."""
    gap_us = int(gap_sec * 1_000_000)
    cap_us = int(cap_sec * 1_000_000)
    return f"""
WITH brk AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS b
  FROM {table}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), gs AS (
  SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS g
  FROM brk
), seg AS (
  SELECT *,
         (epoch_us(ts) - epoch_us(MIN(ts) OVER (PARTITION BY user_id, g)))
           // {cap_us} AS s,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS _c
  FROM gs
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       SUM(_c) / 100.0 AS session_sum,
       CAST(COUNT(*) AS BIGINT) AS event_count,
       (CASE WHEN SUM(_c) < 0
             THEN -((2 * (-SUM(_c)) + COUNT(*)) // (2 * COUNT(*)))
             ELSE (2 * SUM(_c) + COUNT(*)) // (2 * COUNT(*)) END
       ) / 100.0 AS session_avg
FROM seg
GROUP BY user_id, g, s
"""
