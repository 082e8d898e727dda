"""Streaming pipelines — the reference's three jobs as Structured Streaming
plans (the engine's native rendering of flink_stream_task1/2/3).

The batch and streaming planes share one sessionization definition
(``operators.sessionize``): a streaming pipeline is the same
``session_partials`` aggregate and ``present_sessions`` select with a
watermark attached upstream, exactly the Structured Streaming
unified-model contract (SIGMOD'18). Append mode emits each session once,
after the watermark passes ``session_end`` — the same
one-result-per-closed-session behavior as the reference's event-time
trigger (flink_stream_task1.py:51).

Watermark parity (flink_stream_task1.py:38-41): the reference declares
``for_monotonous_timestamps`` (ordered input ⇒ zero lateness allowance) and
documents ``forBoundedOutOfOrderness`` as the unordered alternative. Those
map to ``withWatermark(ts, "0 seconds")`` and ``withWatermark(ts, "<delay>")``
— ``watermark_delay`` selects between them.

State at scale: session-window state is per-(key, open-session) and is
evicted at watermark passage; the alert dedup uses
``dropDuplicatesWithinWatermark`` so its state is bounded by the watermark
horizon too (the reference's process-global ``printed_users`` set,
flink_stream_task2.py:71-72, grows forever and is lost on restart — the
declarative form is both bounded and checkpointed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.alerts import (
    BIG_CUSTOMER_THRESHOLD,
)
from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    DEFAULT_GAP,
    dynamic_gap_expr,
    present_sessions,
    session_partials,
    tier_gap_expr,
)

#: Monotonous-timestamps parity: ordered input needs no lateness allowance.
#: Caveat vs Flink: Spark's watermark is the global max(event time) seen
#: across ALL source partitions minus the delay, while Flink's monotonous
#: strategy tracks per-partition watermarks and takes their min — on a
#: multi-partition Kafka topic where partitions drift, a 0-second delay can
#: drop in-order-per-partition rows as late. Use a nonzero delay sized to
#: the expected inter-partition skew for multi-partition topics.
MONOTONOUS_DELAY = "0 seconds"


def streaming_sessionize(events: DataFrame, gap: str = DEFAULT_GAP,
                         watermark_delay: str = MONOTONOUS_DELAY,
                         key: str = "user_id", ts: str = "ts",
                         value: str = "value") -> DataFrame:
    """task1 streaming parity: per-key session windows with sum/count/avg.

    Run with ``outputMode("append")`` — one row per closed session, emitted
    when the watermark passes session end (the reference's per-closed-
    session report, flink_stream_task1.py:84-85).
    """
    return present_sessions(session_partials(
        events.withWatermark(ts, watermark_delay), gap, key, ts, value), key)


def streaming_sessionize_dynamic(events: DataFrame,
                                 watermark_delay: str = MONOTONOUS_DELAY,
                                 key: str = "user_id", ts: str = "ts",
                                 value: str = "value") -> DataFrame:
    """task3 streaming parity: per-user-tier dynamic session gaps
    (flink_stream_task3.py:54-62,106-111 intended semantics) — the gap is
    a per-event expression, natively supported by ``session_window``."""
    return present_sessions(session_partials(
        events.withWatermark(ts, watermark_delay), dynamic_gap_expr(key),
        key, ts, value), key)


def streaming_sessionize_scd2(events: DataFrame, tier_intervals: DataFrame,
                              watermark_delay: str = MONOTONOUS_DELAY,
                              key: str = "user_id", ts: str = "ts",
                              value: str = "value") -> DataFrame:
    """Temporal-dimension dynamic sessionization, streaming form: the
    per-event gap comes from the SCD2 tier valid at the event's time.

    The batch twin (plans/relational.py session_scd2_dynamic_gap) attaches
    the tier with an as-of join; window functions are unavailable on
    streams, so here the STATIC interval table (valid_from, valid_to]
    joins by containment — a stream-static left join with a non-equi
    condition, which Spark executes per micro-batch with the static side
    broadcast (dimension-sized, never stream-sized). Gap semantics and
    session merging (union of [ts, ts+gap) intervals) are the batch
    operator's, verified stream==batch in tests/test_streaming.py."""
    t = tier_intervals.alias("t")
    e = events.alias("e")
    cond = (
        (F.col(f"e.{key}") == F.col("t.user_id"))
        & (F.col(f"e.{ts}") >= F.col("t.valid_from"))
        & (F.col("t.valid_to").isNull()
           | (F.col(f"e.{ts}") < F.col("t.valid_to")))
    )
    enriched = e.join(t, cond, "left").select(
        f"e.{key}", f"e.{ts}", f"e.{value}", "t.tier")
    agg = session_partials(enriched.withWatermark(ts, watermark_delay),
                           tier_gap_expr(), key, ts, value)
    return present_sessions(agg, key).drop("session_avg")


def streaming_windowed_counts(events: DataFrame, duration: str = "5 minutes",
                              slide: str | None = None,
                              watermark_delay: str = MONOTONOUS_DELAY,
                              key: str | None = "user_id", ts: str = "ts",
                              value: str = "value") -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) event-time window counts —
    the two Structured-Streaming window shapes the reference lacks,
    streaming-side. Append mode; same plan as the batch
    ``tumbling_window_traffic`` / ``sliding_window_traffic`` queries."""
    win = F.window(ts, duration, slide) if slide else F.window(ts, duration)
    group = [win] + ([key] if key else [])
    agg = (
        events.withWatermark(ts, watermark_delay)
        .groupBy(*group)
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum(value), 2).alias("total_value"))
    )
    cols = [
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
    ] + ([F.col(key)] if key else []) + [F.col("n_events"), F.col("total_value")]
    return agg.select(*cols)


def streaming_alerts(events: DataFrame,
                     threshold: float = BIG_CUSTOMER_THRESHOLD,
                     watermark_delay: str = MONOTONOUS_DELAY,
                     dedup_within: str | None = None,
                     key: str = "user_id", ts: str = "ts",
                     value: str = "value") -> DataFrame:
    """task2 streaming parity: sessionize → threshold filter → at-most-one
    alert per user (flink_stream_task2.py:81-90).

    The dedup is ``dropDuplicatesWithinWatermark`` when ``dedup_within`` is
    set (bounded state — evicts a user's dedup entry once the watermark
    moves ``dedup_within`` past it) or plain ``dropDuplicates`` otherwise
    (exact at-most-once-per-user over the stream's lifetime, unbounded
    state — the reference's actual semantics). Both are chained stateful
    operators after the session aggregate, supported since Spark 3.5.
    """
    agg = session_partials(events.withWatermark(ts, watermark_delay),
                           DEFAULT_GAP, key, ts, value)
    # Compare the PRESENTED sum (_sc/100.0), exactly the double the batch
    # path filters (present_sessions projects _sc/100.0) — a raw-cents
    # integer comparison against threshold*100 would be equivalent only
    # for thresholds that are themselves exact cents.
    qualified = agg.where(F.col("_sc") / F.lit(100.0) >= threshold)
    if dedup_within is not None:
        deduped = qualified.dropDuplicatesWithinWatermark([key])
    else:
        deduped = qualified.dropDuplicates([key])
    return present_sessions(deduped, key)


def streaming_interval_join(left: DataFrame, right: DataFrame,
                            key: str = "user_id", ts: str = "ts",
                            value: str = "value", lookback: str = "60 minutes",
                            watermark_delay: str = MONOTONOUS_DELAY,
                            how: str = "inner") -> DataFrame:
    """Stream-stream event-time interval join: each left event matches right
    events of the same key in the ``lookback`` window strictly before it.

    Both sides carry a watermark and the join condition bounds the right
    side's event time relative to the left in BOTH directions, so Spark can
    evict join state once the watermark passes ``l_ts`` / ``l_ts -
    lookback`` — state stays proportional to (rate x lookback), never the
    whole stream. Inner join + append mode: matches emit as soon as both
    rows have arrived (the batch equivalent over the same bounded data is
    byte-identical, asserted in tests). ``how="leftOuter"`` additionally
    emits null-padded left rows once the watermark proves no match can
    still arrive — exactly the batch left join on bounded sentinel-closed
    data (also gated in tests).
    """
    l = (left.select(F.col(key).alias("l_key"), F.col(ts).alias("l_ts"),
                     F.col(value).alias("l_value"))
         .withWatermark("l_ts", watermark_delay))
    r = (right.select(F.col(key).alias("r_key"), F.col(ts).alias("r_ts"),
                      F.col(value).alias("r_value"))
         .withWatermark("r_ts", watermark_delay))
    joined = l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_ts") < F.col("l_ts")),
        how,
    )
    return joined.select(
        F.col("l_key").alias(key), "l_ts", "l_value", "r_ts", "r_value"
    )
