"""Streaming rollup maintenance — the 100 TB materialized-view story made
executable.

``incremental_rollup_merge`` (plans/relational.py, driver-oracled) proves
the merge algebra over a one-shot state+delta split; this module runs the
SAME algebra (operators/rollup.py) continuously: a ``foreachBatch`` sink
merges each micro-batch's partial aggregates into a versioned parquet
state table. That is the production shape for rollup maintenance on a
lakehouse without depending on a transactional table format:

- **partials, not rows**: each micro-batch reduces to at most
  |event_type| × |days touched| partial rows before any state I/O — the
  maintained table's size is bounded by the key-space, never by the fact
  volume.
- **versioned state + batch-id naming = effectively-once**: foreachBatch
  offers at-least-once delivery (a batch can re-run after a crash), so
  version ``v{batch_id}`` is derived from the newest version < batch_id
  and OVERWRITTEN on replay — re-running a batch lands on byte-identical
  state, the same idempotence trick as the checkpointed parquet sink
  (streaming/sinks.py parquet_sink exactly-once test).
- **at scale**: state reads/writes are partitioned by day in production
  (only days touched by the delta need rewriting — MERGE INTO semantics);
  here the state is small enough that a full rewrite per batch is the
  honest local rendering.

Reference parity: flink_stream_task1.py:51-62 maintains per-session
running sum/count record-at-a-time; this is the same partial-aggregate
state generalized to a queryable maintained table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from windowsession_using_kafka_flink_docker_spark.operators.rollup import (
    ROLLUP_KEYS,
    rollup_partials,
    rollup_present,
    with_day,
)
from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
    _PartialMaintainer,
)


class IncrementalRollupMaintainer(_PartialMaintainer):
    """Owns the versioned rollup state under ``state_dir``
    (``_VersionedState`` layout). Each micro-batch reduces to
    ``rollup_partials``; the merge sums ``n_events``/``_sum`` per
    ``ROLLUP_KEYS`` — the ``rollup_merge`` algebra. Replay-safe: state
    input is the newest version STRICTLY below ``batch_id``, so a
    re-delivered batch recomputes v{batch_id} from the same base instead
    of double-counting itself."""

    _SCHEMA = ("event_type STRING, day STRING, "
               "n_events BIGINT, _sum DOUBLE")
    _KEYS = ROLLUP_KEYS

    def delta(self, batch_df: DataFrame) -> DataFrame:
        return rollup_partials(with_day(batch_df))

    def current_partials(self) -> DataFrame:
        """The maintained state (partials); empty frame before batch 0."""
        return self.state.current()

    def current(self) -> DataFrame:
        """The rollup as consumers see it (rounded presentation edge)."""
        return rollup_present(self.current_partials())


__all__ = [
    "IncrementalRollupMaintainer",
    "ROLLUP_KEYS",
]
