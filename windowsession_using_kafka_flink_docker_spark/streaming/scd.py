"""Streaming SCD2 dimension maintenance — the other half of the
maintenance story next to ``streaming/rollup.py``.

``operators/scd.py::scd2_apply`` is the oracled batch transform (expire /
open / carry / drop-no-ops); this module runs it continuously: each
micro-batch of change rows MERGEs into a versioned dimension snapshot,
so the serving side always reads one parquet dir of current + expired
rows and the as-of join (``operators/asof.py``) can attach the version
valid at any event time.

Same durability scheme as every maintainer (``_VersionedState``):
version ``v{batch_id}`` is derived from the newest version strictly
below ``batch_id`` and overwritten wholesale on replay, making
foreachBatch's at-least-once delivery land on byte-identical state;
superseded versions are pruned (current + previous kept). Each version
is the whole dimension (current and expired rows) as one unpartitioned
``coalesce(1)`` file; ``current_rows()`` filters ``is_current`` over that
full history, so serving cost grows with the history, not with the
current rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.scd import scd2_apply
from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
    _VersionedState,
)


class Scd2DimensionMaintainer:
    """Owns a versioned SCD2 dimension under ``state_dir``.

    ``key`` / ``attr_cols`` define the dimension; ``batch_ts_col`` names
    a column of the change stream giving each row's effective time (the
    batch's MAX is used as the version timestamp, so one batch = one
    version instant — the standard micro-batch CDC granularity). The
    state's schema is the dimension's own columns, so it comes from the
    state (or the first write), not from a declaration.
    """

    def __init__(self, spark: SparkSession, state_dir: str, key: str,
                 attr_cols: tuple[str, ...], batch_ts_col: str = "ts",
                 change_order: str | None = None):
        self.key = key
        self.attr_cols = attr_cols
        self.batch_ts_col = batch_ts_col
        self.change_order = change_order
        self.state = _VersionedState(spark, state_dir)

    def current(self) -> DataFrame:
        """Full dimension (current + expired rows); raises before any
        batch has been applied."""
        if not self.state.versions():
            raise ValueError("scd2 maintainer: no state yet")
        return self.state.current()

    def current_rows(self) -> DataFrame:
        return self.current().where(F.col("is_current"))

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        self.state.guard(batch_id)
        batch_ts = batch_df.agg(F.max(self.batch_ts_col)).collect()[0][0]
        changes = batch_df.select(self.key, *self.attr_cols,
                                  *((self.change_order,)
                                    if self.change_order else ()))
        snap = self.state.latest_before(batch_id)
        if snap is not None:
            history = snap.where(~F.col("is_current"))
            merged = scd2_apply(
                snap.where(F.col("is_current")), changes, key=self.key,
                batch_ts=F.lit(batch_ts), attr_cols=self.attr_cols,
                change_order=self.change_order,
            ).unionByName(history)
        else:
            # first batch: empty snapshot through the same transform, so
            # intra-batch dedup and row shape are identical to steady state
            empty_snap = (changes.select(self.key, *self.attr_cols)
                          .limit(0)
                          .withColumn("valid_from", F.lit(batch_ts)))
            merged = scd2_apply(
                empty_snap, changes, key=self.key,
                batch_ts=F.lit(batch_ts), attr_cols=self.attr_cols,
                change_order=self.change_order)
        self.state.write(batch_id, merged)


__all__ = ["Scd2DimensionMaintainer"]
