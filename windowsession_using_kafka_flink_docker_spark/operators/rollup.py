"""Incremental rollup maintenance — partial aggregates and their merge.

At 100 TB a per-(event_type, day) rollup is never recomputed from the full
fact table; it is maintained from deltas. The algebra that makes that
lossless: keep SUM/COUNT partials in the state (both merge associatively
and commutatively under addition), derive ratios (avg) only at read time —
never average averages. One definition serves three call paths:

- the batch catalog query ``incremental_rollup_merge`` (driver-oracled
  against a direct rollup over all events),
- the streaming maintainer ``streaming/rollup.py`` (foreachBatch MERGE of
  each micro-batch's ``rollup_partials`` into a versioned state table;
  its merge is the shared partial maintainer's per-key sum, the same
  algebra as ``rollup_merge``),
- ad-hoc backfill (partials over any slice union-merge into the state).

The reference (flink_stream_task1.py:51-62) keeps exactly this shape per
session — a running ``session_sum``/``count`` pair merged record-at-a-time;
here it is generalized to a maintained table and executed set-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Grouping keys of the maintained rollup.
ROLLUP_KEYS = ("event_type", "day")


def with_day(events: DataFrame) -> DataFrame:
    """Attach the rollup's day grain (string yyyy-MM-dd, TZ-stable)."""
    return events.withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))


def rollup_partials(events_with_day: DataFrame) -> DataFrame:
    """Map-side-combinable partial aggregates over one slice of events.

    Columns: ROLLUP_KEYS + (n_events, _sum). ``_sum`` stays un-rounded —
    rounding belongs at the presentation edge only, otherwise merges of
    differently-sliced partials drift.
    """
    return events_with_day.groupBy(*ROLLUP_KEYS).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("_sum"),
    )


def rollup_merge(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two partial-aggregate frames. Associative + commutative, so
    any slicing of the input events lands on identical totals."""
    return (
        state.unionByName(delta)
        .groupBy(*ROLLUP_KEYS)
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("_sum").alias("_sum"))
    )


def rollup_present(merged: DataFrame) -> DataFrame:
    """Presentation edge: round the double total once, at the end."""
    return merged.select(
        *ROLLUP_KEYS, "n_events",
        F.round(F.col("_sum"), 2).alias("total_value"),
    )
