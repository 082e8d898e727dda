"""Source-loader semantics: timestamp normalization must be session-tz-proof.

The driver regenerates the parquet fixtures with varying timestamp physical
types (TIMESTAMP(NANOS)-as-int64, TIMESTAMP_NTZ) across rounds; load_table
normalizes every variant to a plain TimestampType whose UTC wall-clock equals
the file's wall-clock. The NTZ branch is the subtle one: a bare NTZ->Timestamp
cast interprets the wall-clock in spark.sql.session.timeZone, so a non-UTC
session would silently shift every epoch vs the DuckDB oracle (which always
reads NTZ as-written). These tests pin the invariant under a hostile session
timezone.

The schema registry (each table inferred once per application) is pinned
here too: a repeated load runs no Spark job, and a changed table or a
changed inference setting is re-inferred.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.sources.batch import (
    _read_parquet,
    load_table,
)


@contextlib.contextmanager
def _conf(spark, key, value):
    """Set one session conf for the duration of the block."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield spark
    finally:
        spark.conf.set(key, old)


@pytest.fixture
def ny_session(spark):
    """Temporarily run the shared session in America/New_York."""
    with _conf(spark, "spark.sql.session.timeZone", "America/New_York"):
        yield spark


_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run ``fn()`` inside its own job group; returns (result, number of
    Spark jobs it ran), counted with the status tracker."""
    sc = spark.sparkContext
    group = f"test_sources_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_ntz_parquet(spark, tmp_path) -> str:
    out = str(tmp_path / "events.parquet")
    spark.sql(
        "SELECT 1 AS event_id, 7 AS user_id, "
        "TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts"
    ).write.mode("overwrite").parquet(out)
    return str(tmp_path)


class TestNtzNormalization:
    def test_ntz_pinned_to_utc_in_utc_session(self, spark, tmp_path):
        sf_dir = _write_ntz_parquet(spark, tmp_path)
        df = load_table(spark, sf_dir, "events")
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        want = int(datetime.datetime(
            2024, 1, 1, 12, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        assert row.us == want

    def test_ntz_pinned_to_utc_in_new_york_session(self, ny_session, tmp_path):
        # Regression: to_utc_timestamp(ntz, 'UTC') was a no-op and the
        # implicit cast shifted 12:00 -> 17:00Z under a New York session.
        sf_dir = _write_ntz_parquet(ny_session, tmp_path)
        df = load_table(ny_session, sf_dir, "events")
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        want = int(datetime.datetime(
            2024, 1, 1, 12, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
        assert row.us == want

    def test_real_fixture_epochs_match_duckdb(self, spark, sf_dir):
        """events.ts epochs must equal what DuckDB reads from the same file."""
        import duckdb

        con = duckdb.connect()
        want = con.execute(
            "SELECT CAST(epoch_ms(MIN(ts)) AS BIGINT), "
            "       CAST(epoch_ms(MAX(ts)) AS BIGINT) "
            f"FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()
        got = (
            load_table(spark, sf_dir, "events")
            .agg(
                (F.unix_micros(F.min("ts")) / 1000).cast("long").alias("lo"),
                (F.unix_micros(F.max("ts")) / 1000).cast("long").alias("hi"),
            )
            .collect()[0]
        )
        assert (got.lo, got.hi) == want


_NOON_UTC_US = int(datetime.datetime(
    2024, 1, 1, 12, tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000


def _ts_us(df):
    [row] = df.select(F.unix_micros("ts").alias("us")).collect()
    return row.us


def _write_dir_table(sf_dir, name, parts):
    """A directory table ``<name>.parquet`` with one pyarrow file per
    entry of ``parts`` (column name -> values). No checksum files, so a
    part can be rewritten in place."""
    d = os.path.join(sf_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    for i, cols in enumerate(parts):
        pq.write_table(pa.table(cols), os.path.join(d, f"part-{i}.parquet"))


class TestSchemaRegistry:
    def test_second_load_of_unchanged_table_runs_no_job(self, spark,
                                                         tmp_path):
        sf_dir = _write_ntz_parquet(spark, tmp_path)
        first, n_first = _jobs(spark, lambda: load_table(spark, sf_dir,
                                                         "events"))
        again, n_again = _jobs(spark, lambda: load_table(spark, sf_dir,
                                                         "events"))
        assert n_first >= 1  # the inference job the registry saves
        assert n_again == 0
        assert again.schema == first.schema
        assert sorted(again.collect()) == sorted(first.collect())

    def test_rewrite_with_added_column_is_reinferred(self, spark,
                                                     tmp_path):
        sf_dir = _write_ntz_parquet(spark, tmp_path)
        assert "value" not in load_table(spark, sf_dir, "events").columns
        spark.sql(
            "SELECT 1 AS event_id, 7 AS user_id, 2.5D AS value, "
            "TIMESTAMP_NTZ '2024-01-01 12:00:00' AS ts"
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
        df, n = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
        assert n >= 1
        assert [r.value for r in df.collect()] == [2.5]
        assert _ts_us(df) == _NOON_UTC_US

    def test_in_place_rewrite_of_one_file_is_noticed(self, spark,
                                                     tmp_path):
        sf_dir = str(tmp_path)
        _write_dir_table(sf_dir, "region", [{"r_regionkey": [1], "r_name": ["A"]},
                                  {"r_regionkey": [2], "r_name": ["B"]}])
        assert load_table(spark, sf_dir, "region").columns == [
            "r_regionkey", "r_name"]
        part = os.path.join(sf_dir, "region.parquet", "part-0.parquet")
        inode = os.stat(part).st_ino
        # same name, same file: only its mtime and size change
        pq.write_table(pa.table({"r_regionkey": [1], "r_name": ["A"],
                                 "r_comment": ["c"]}), part)
        assert os.stat(part).st_ino == inode
        df, n = _jobs(spark, lambda: load_table(spark, sf_dir, "region"))
        assert n >= 1
        assert "r_comment" in df.columns

    def test_ntz_registered_in_utc_still_pins_utc_in_new_york(
            self, ny_session, tmp_path):
        sf_dir = _write_ntz_parquet(ny_session, tmp_path)
        with _conf(ny_session, "spark.sql.session.timeZone", "UTC"):
            assert _ts_us(load_table(ny_session, sf_dir,
                                     "events")) == _NOON_UTC_US
        df, n = _jobs(ny_session, lambda: load_table(ny_session, sf_dir,
                                                     "events"))
        assert n == 0  # served from the registry ...
        assert _ts_us(df) == _NOON_UTC_US  # ... and normalized anew

    def test_inference_setting_toggle_gets_matching_schema(self, spark,
                                                           tmp_path):
        # pyarrow, not Spark: a Spark-written file stores its Spark
        # schema in the footer, which wins over the inference setting
        sf_dir = str(tmp_path)
        _write_dir_table(sf_dir, "events", [{
            "event_id": [1], "user_id": [7],
            "ts": pa.array([datetime.datetime(2024, 1, 1, 12)],
                           pa.timestamp("us"))}])
        path = os.path.join(sf_dir, "events.parquet")
        key = "spark.sql.parquet.inferTimestampNTZ.enabled"
        seen = []
        for flag in ("true", "false", "true"):
            with _conf(spark, key, flag):
                (_, raw), n = _jobs(spark,
                                    lambda: _read_parquet(spark, path))
                assert n >= 1  # the other setting's schema is not reused
                assert raw == spark.read.parquet(path).schema
                seen.append(raw["ts"].dataType.typeName())
                assert _ts_us(load_table(spark, sf_dir,
                                         "events")) == _NOON_UTC_US
        assert seen == ["timestamp_ntz", "timestamp", "timestamp_ntz"]
