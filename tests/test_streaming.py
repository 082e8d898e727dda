"""Stream-vs-batch consistency tests (SURVEY.md §5.2).

Structured Streaming's unified model promises a streaming query's append-
mode output equals the batch result of the same plan on the same (bounded)
data — the SIGMOD'18 prefix-consistency property. These tests run the
streaming sessionization/alert pipelines over a file source and assert
exactly that against the already-oracle-checked batch operators.

Mechanics: append mode only emits a session once the watermark passes its
end, so a bounded stream would hold back the final sessions forever. Each
test therefore appends a far-future *sentinel* event in a second file
(maxFilesPerTrigger=1 ⇒ the sentinel lands in a later micro-batch), which
advances the watermark past every real session; the sentinel's own session
is filtered out of the comparison.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.alerts import big_customer_alerts
from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    sessionize,
    sessionize_dynamic,
)
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table
from windowsession_using_kafka_flink_docker_spark.streaming import (
    file_events_source,
    format_grid,
    format_report_rows,
    memory_sink,
    parse_csv_events,
    rate_events_source,
    streaming_alerts,
    streaming_sessionize,
    streaming_sessionize_dynamic,
)

SENTINEL_USER = -1


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events(ts, user_id, value) written as file-1 = real rows,
    file-2 = one far-future sentinel row."""
    base = str(tmp_path_factory.mktemp("stream_events"))
    ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    ev.coalesce(1).write.parquet(os.path.join(base, "data"))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(max_ts, SENTINEL_USER, 0.0)], "ts TIMESTAMP, user_id BIGINT, value DOUBLE"
    ).select(
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"), "user_id", "value"
    )
    sentinel.coalesce(1).write.parquet(os.path.join(base, "sentinel"))
    # One flat dir: move part files together so maxFilesPerTrigger separates
    # them into distinct micro-batches (data first, sentinel second by name).
    import glob
    import shutil
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    for i, src_dir in enumerate(("data", "sentinel")):
        for j, f in enumerate(sorted(glob.glob(os.path.join(base, src_dir, "*.parquet")))):
            shutil.copy(f, os.path.join(flat, f"{i:02d}_{j:02d}.parquet"))
    return flat


def _rows(df, exclude_sentinel: bool = True):
    if exclude_sentinel and "user_id" in df.columns:
        df = df.where(F.col("user_id") != SENTINEL_USER)
    cols = sorted(df.columns)
    return sorted(
        [tuple(str(v) for v in r) for r in df.select(*cols).collect()]
    )


def _chrono_day_slices(ev, bounds=((1, 10), (11, 20), (21, 31))):
    """CHRONOLOGICAL slices by day-of-month — only chronological
    because the synthetic events span ONE calendar month (r14 ADVICE:
    on multi-month data these interleave months and violate the
    maintainers' per-user monotonicity contract). The span assertion
    makes that fixture dependency explicit, so a future testdata change
    fails loudly here instead of tripping the late-arrival guard
    somewhere downstream."""
    r = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    assert (r.lo.year, r.lo.month) == (r.hi.year, r.hi.month), (
        "events fixture spans multiple months — replace the dayofmonth "
        "slicing with absolute ts bounds (the _write_chunks pattern in "
        "tests/test_session_store_stream.py)")
    return [ev.where(F.dayofmonth("ts").between(lo, hi))
            for lo, hi in bounds]


def _run_stream(spark, df, name: str, tmp_path) -> None:
    q = memory_sink(df, name)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _events_stream(spark, stream_dir):
    return file_events_source(
        spark, stream_dir, schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
        max_files_per_trigger=1,
    )


def _serialize_chunks(spark, base, chunks):
    """Write each chunk as one parquet file in a flat dir with strictly
    increasing mtimes, so maxFilesPerTrigger=1 replays them as separate
    micro-batches in chunk order (FileStreamSource batches by mtime)."""
    import glob
    import shutil
    import time

    flat = os.path.join(base, "serialized")
    os.makedirs(flat)
    now = time.time()
    n = 0
    for i, chunk in enumerate(chunks):
        d = os.path.join(base, f"c{i}")
        spark.createDataFrame(chunk, "ts STRING, user_id BIGINT, value DOUBLE") \
            .select(F.col("ts").cast("timestamp").alias("ts"), "user_id", "value") \
            .coalesce(1).write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            dst = os.path.join(flat, f"{n:02d}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (now + i * 60, now + i * 60))
            n += 1
    return flat


class TestStreamBatchConsistency:
    def test_fixed_gap_stream_equals_batch(self, spark, sf_dir, stream_dir, tmp_path):
        stream = streaming_sessionize(_events_stream(spark, stream_dir))
        assert stream.isStreaming
        _run_stream(spark, stream, "stream_fixed", tmp_path)
        got = _rows(spark.table("stream_fixed"))
        want = _rows(sessionize(load_table(spark, sf_dir, "events")))
        assert len(got) == len(want) and got == want

    def test_dynamic_gap_stream_equals_batch(self, spark, sf_dir, stream_dir, tmp_path):
        stream = streaming_sessionize_dynamic(_events_stream(spark, stream_dir))
        _run_stream(spark, stream, "stream_dyn", tmp_path)
        got = _rows(spark.table("stream_dyn"))
        want = _rows(sessionize_dynamic(load_table(spark, sf_dir, "events")))
        assert len(got) == len(want) and got == want

    def test_alerts_stream_matches_batch_users(self, spark, sf_dir, stream_dir, tmp_path):
        """Alert parity: same alerted-user set, at most one alert per user,
        and every alert is a genuine qualifying session. (Which qualifying
        session fires the alert is arrival-order-dependent in the reference
        too — the per-user identity is the invariant.)"""
        threshold = 100.0
        stream = streaming_alerts(
            _events_stream(spark, stream_dir), threshold=threshold
        )
        _run_stream(spark, stream, "stream_alerts", tmp_path)
        got = spark.table("stream_alerts").where(F.col("user_id") != SENTINEL_USER)

        sessions = sessionize(load_table(spark, sf_dir, "events"))
        batch_alerts = big_customer_alerts(sessions, threshold=threshold)

        got_users = sorted(r.user_id for r in got.select("user_id").collect())
        want_users = sorted(r.user_id for r in batch_alerts.select("user_id").collect())
        assert got_users == want_users  # also implies at-most-once per user

        qualified = _rows(sessions.where(F.col("session_sum") >= threshold))
        for row in _rows(got):
            assert row in qualified

    def test_alerts_dedup_within_watermark(self, spark, stream_dir, tmp_path):
        """Bounded-state variant: dropDuplicatesWithinWatermark still emits
        at most one alert per user on this horizon (all data within 1 day)."""
        stream = streaming_alerts(
            _events_stream(spark, stream_dir), threshold=100.0,
            dedup_within="1 day",
        )
        _run_stream(spark, stream, "stream_alerts_wm", tmp_path)
        got = spark.table("stream_alerts_wm").where(F.col("user_id") != SENTINEL_USER)
        per_user = got.groupBy("user_id").count().where(F.col("count") > 1).collect()
        assert per_user == []
        assert got.count() > 0


class TestStreamingSources:
    def test_rate_source_shape(self, spark):
        df = rate_events_source(spark, rows_per_second=5)
        assert df.isStreaming
        assert set(df.columns) == {"ts", "user_id", "transaction_id", "payload_value"}

    def test_parse_csv_events_drops_malformed(self, spark):
        raw = spark.createDataFrame(
            [("2024-08-26 08:00:00,4,123,40",),
             ("garbage",),
             ("2024-08-26 08:00:01,not_an_int,5,50",),
             ("2024-08-26 08:00:02,5,77,50.5",)],
            "value STRING",
        )
        out = parse_csv_events(raw).collect()
        assert [(r.user_id, r.transaction_id, r.payload_value) for r in out] == [
            (4, 123, 40.0), (5, 77, 50.5)
        ]

    def test_arrival_time_mode_windows_on_kafka_clock(self, spark):
        """SURVEY §1.4's load-bearing subtlety: the reference windows on
        the Kafka record timestamp, not the embedded event time. Feed rows
        whose embedded clock jumps 5 minutes between events while arrival
        is 1 s dense: event-time mode must split every 30 s gap (4
        sessions), arrival-time mode must fuse everything into ONE
        session on the kafka clock — and the session bounds must come
        from kafka_ts, not ts."""
        from windowsession_using_kafka_flink_docker_spark.operators.sessionize import sessionize

        rows = [
            (f"2024-08-26 08:{5 * i:02d}:00,7,{i},10.0",
             datetime.datetime(2024, 8, 26, 9, 0, i))
            for i in range(4)
        ]
        raw = spark.createDataFrame(rows, "value STRING, kafka_ts TIMESTAMP")

        event_time = parse_csv_events(raw, use_kafka_time=False)
        arrival_time = parse_csv_events(raw, use_kafka_time=True)

        ev_sessions = sessionize(event_time, value="payload_value").collect()
        ar_sessions = sessionize(arrival_time, value="payload_value").collect()
        assert len(ev_sessions) == 4      # embedded clock: every event alone
        assert len(ar_sessions) == 1      # arrival clock: one dense session
        [s] = ar_sessions
        assert s.event_count == 4 and s.session_sum == 40.0
        # bounds derive from the kafka clock (09:00), not the embedded 08:xx
        assert s.session_start == datetime.datetime(2024, 8, 26, 9, 0, 0)

    def test_arrival_time_mode_still_drops_malformed(self, spark):
        """In arrival-time mode ts is substituted BEFORE the null filter,
        so a garbage record with a perfectly good kafka timestamp must
        still be dropped on its null payload fields."""
        raw = spark.createDataFrame(
            [("garbage", datetime.datetime(2024, 8, 26, 9, 0, 0)),
             ("2024-08-26 08:00:00,4,123,40", datetime.datetime(2024, 8, 26, 9, 0, 1))],
            "value STRING, kafka_ts TIMESTAMP",
        )
        out = parse_csv_events(raw, use_kafka_time=True).collect()
        assert [(r.user_id, r.ts) for r in out] == [
            (4, datetime.datetime(2024, 8, 26, 9, 0, 1))
        ]

    def test_kafka_source_plan(self, spark):
        """Kafka connector jar isn't shipped in this container; assert the
        plan either constructs (connector present) or fails with the
        missing-data-source error — not with a bug in our wiring."""
        from windowsession_using_kafka_flink_docker_spark.streaming import kafka_raw_source
        try:
            df = kafka_raw_source(spark, "localhost:9092")
        except Exception as e:  # noqa: BLE001
            assert "kafka" in str(e).lower()
        else:
            assert set(df.columns) == {"value", "kafka_ts", "key"}


class TestReportFormatting:
    def test_session_report_layout(self):
        rows = [{"user_id": 4, "session_sum": 40.0, "session_avg": 40.0}]
        out = format_report_rows(rows)
        lines = out.splitlines()
        assert lines[0].startswith("user_id")
        assert lines[1] == "=" * 40
        assert lines[2].startswith("4")

    def test_session_report_task1_int_truncation(self):
        """task1 prints int(sum)/int(avg) (flink_stream_task1.py:71-72) —
        the truncate_ints option reproduces that exact rendering."""
        rows = [{"user_id": 4, "session_sum": 40.75, "session_avg": 13.58}]
        out = format_report_rows(
            rows, truncate_ints=("session_sum", "session_avg"))
        cells = out.splitlines()[2].split()
        assert cells == ["4", "40", "13"]

    def test_alert_grid_layout(self):
        rows = [{"user_id": 9999, "session_sum": 1_000_000.0, "session_avg": 5.5}]
        out = format_grid(rows, ("user_id", "session_sum", "session_avg"))
        lines = out.splitlines()
        assert lines[0].startswith("+") and lines[0].endswith("+")
        assert "9999" in lines[3]

    def test_report_writer_caps_driver_rows(self, spark, capsys):
        """A watermark jump can close millions of sessions in one batch;
        the foreachBatch report writer must materialize at most max_rows
        on the driver and announce the truncation."""
        from windowsession_using_kafka_flink_docker_spark.streaming.sinks import (
            make_session_report_batch_fn,
        )
        big = spark.range(100).selectExpr(
            "id AS user_id", "CAST(id AS DOUBLE) AS session_sum",
            "CAST(id AS DOUBLE) AS session_avg")
        fn = make_session_report_batch_fn(max_rows=10)
        fn(big, 0)
        out = capsys.readouterr().out
        body = [l for l in out.splitlines() if l and l[0].isdigit()]
        assert len(body) == 10
        assert "truncated at 10 rows" in out

    def test_report_writer_small_batch_unchanged(self, spark, capsys):
        from windowsession_using_kafka_flink_docker_spark.streaming.sinks import (
            make_session_report_batch_fn,
        )
        small = spark.range(3).selectExpr(
            "id AS user_id", "CAST(id AS DOUBLE) AS session_sum",
            "CAST(id AS DOUBLE) AS session_avg")
        fn = make_session_report_batch_fn(max_rows=10)
        fn(small, 0)
        out = capsys.readouterr().out
        assert "truncated" not in out
        assert len([l for l in out.splitlines() if l and l[0].isdigit()]) == 3

    def test_alert_grid_caps_driver_rows(self, spark, capsys):
        from windowsession_using_kafka_flink_docker_spark.streaming.sinks import (
            make_alert_grid_batch_fn,
        )
        big = spark.range(50).selectExpr(
            "id AS user_id", "CAST(id AS DOUBLE) AS session_sum",
            "CAST(id AS DOUBLE) AS session_avg")
        fn = make_alert_grid_batch_fn(max_rows=5)
        fn(big, 0)
        out = capsys.readouterr().out
        assert "truncated at 5 rows" in out
        # 5 data rows inside the grid: | uid | ... rows between the rulers
        data_rows = [l for l in out.splitlines() if l.startswith("| ") and "user_id" not in l]
        assert len(data_rows) == 5


class TestWatermarkSemantics:
    def test_out_of_order_with_bounded_watermark(self, spark, sf_dir, stream_dir, tmp_path_factory):
        """forBoundedOutOfOrderness parity (the alternative the reference
        documents at flink_stream_task1.py:39-40): fully shuffled arrival
        order + a watermark delay covering the disorder must still equal
        the batch result."""
        import glob
        import os
        import shutil

        base = str(tmp_path_factory.mktemp("ooo_events"))
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
        # one file, rows in random order (orderBy rand with fixed seed)
        ev.orderBy(F.rand(seed=7)).coalesce(1).write.parquet(os.path.join(base, "d"))
        mx = ev.agg(F.max("ts")).collect()[0][0]
        spark.createDataFrame([(mx, SENTINEL_USER, 0.0)],
                              "ts TIMESTAMP, user_id BIGINT, value DOUBLE") \
            .select((F.col("ts") + F.expr("INTERVAL 30 DAY")).alias("ts"), "user_id", "value") \
            .coalesce(1).write.parquet(os.path.join(base, "d2"))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i, d in enumerate(("d", "d2")):
            for j, f in enumerate(sorted(glob.glob(os.path.join(base, d, "*.parquet")))):
                shutil.copy(f, os.path.join(flat, f"{i}_{j}.parquet"))

        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1,
        )
        # the full disorder is within one file/batch, so any delay works;
        # use a real bounded delay as the semantics under test
        out = streaming_sessionize(stream, watermark_delay="10 minutes")
        q = memory_sink(out, "stream_ooo")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_ooo"))
        want = _rows(sessionize(load_table(spark, sf_dir, "events")))
        assert got == want

    def test_late_event_beyond_watermark_dropped(self, spark, tmp_path_factory):
        """An event older than the advanced watermark must not resurrect a
        session whose state was already emitted and evicted.

        Observed Spark semantics (verified empirically): state eviction
        happens at the *end* of the batch in which the watermark passes a
        session's end, so a late row landing in that same batch still
        merges; a late row arriving in any later batch is dropped
        (numRowsDroppedByWatermark). The extra sentinel batch here puts the
        late row after eviction — the deterministic drop case.
        """
        import glob
        import os
        import shutil
        import time

        base = str(tmp_path_factory.mktemp("late_events"))
        chunks = (
            [("2024-08-26 08:00:00", 1, 10.0), ("2024-08-26 08:00:10", 1, 10.0)],
            [("2024-08-26 12:00:00", SENTINEL_USER, 0.0)],   # advances watermark
            [("2024-08-26 12:30:00", SENTINEL_USER - 1, 0.0)],  # eviction batch
            [("2024-08-26 08:00:20", 1, 10.0)],              # hours late
        )
        flat = os.path.join(base, "serialized")
        os.makedirs(flat)
        now = time.time()
        n = 0
        for i, chunk in enumerate(chunks):
            d = os.path.join(base, f"c{i}")
            spark.createDataFrame(chunk, "ts STRING, user_id BIGINT, value DOUBLE") \
                .select(F.col("ts").cast("timestamp").alias("ts"), "user_id", "value") \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                dst = os.path.join(flat, f"{n:02d}.parquet")
                shutil.copy(f, dst)
                # FileStreamSource batches by modification time — make the
                # intended order unambiguous (1 min apart per chunk).
                os.utime(dst, (now + i * 60, now + i * 60))
                n += 1
        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1,
        )
        out = streaming_sessionize(stream)
        q = memory_sink(out, "stream_late")
        try:
            q.processAllAvailable()
            dropped = sum(
                so.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
            )
        finally:
            q.stop()
        got = spark.table("stream_late").where(F.col("user_id") == 1).collect()
        # the late 08:00:20 event was dropped: one session of 2 events
        assert dropped == 1
        assert len(got) == 1
        assert got[0].event_count == 2 and got[0].session_sum == 20.0

    #: two source "partitions" with skewed event-time progress: partition A
    #: is 5+ minutes ahead of partition B; each is in-order internally. A's
    #: rows span two micro-batches because the watermark computed from a
    #: batch only takes effect (filters input) from the NEXT batch on —
    #: the same end-of-batch semantics test_late_event documents.
    _DRIFT_CHUNKS = (
        [("2024-08-26 08:00:00", 1, 10.0), ("2024-08-26 08:00:10", 1, 10.0)],  # A, fast
        [("2024-08-26 08:00:20", 1, 10.0)],                 # A continues; wm now in effect
        [("2024-08-26 07:55:00", 2, 5.0), ("2024-08-26 07:55:05", 2, 5.0)],    # B, 5 min behind
        [("2024-08-26 12:00:00", SENTINEL_USER, 0.0)],     # advances watermark
        [("2024-08-26 12:30:00", SENTINEL_USER - 1, 0.0)],  # eviction batch
    )

    def _run_drift(self, spark, tmp_path_factory, delay: str, name: str):
        base = str(tmp_path_factory.mktemp(f"drift_{name}"))
        flat = _serialize_chunks(spark, base, self._DRIFT_CHUNKS)
        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1,
        )
        q = memory_sink(streaming_sessionize(stream, watermark_delay=delay), name)
        try:
            q.processAllAvailable()
            dropped = sum(
                so.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for so in p.get("stateOperators", [])
            )
        finally:
            q.stop()
        return spark.table(name), dropped

    def test_partition_drift_monotonous_drops_in_order_rows(self, spark, tmp_path_factory):
        """The documented Flink-vs-Spark watermark caveat
        (streaming/pipeline.py MONOTONOUS_DELAY): Flink's monotonous
        strategy is per-partition (min across partitions), Spark's
        watermark is the GLOBAL max event time minus delay. With two
        partitions drifting 5 minutes apart, delay=0 drops partition B's
        rows even though B is perfectly in-order internally."""
        out, dropped = self._run_drift(spark, tmp_path_factory, "0 seconds", "drift0")
        assert dropped == 2  # both of partition B's rows
        assert out.where(F.col("user_id") == 2).count() == 0
        a = out.where(F.col("user_id") == 1).collect()
        assert len(a) == 1 and a[0].event_count == 3

    def test_partition_drift_bounded_delay_keeps_rows(self, spark, tmp_path_factory):
        """The documented mitigation: a delay sized to the inter-partition
        skew (here >= 5 minutes) keeps the slow partition's rows."""
        out, dropped = self._run_drift(spark, tmp_path_factory, "10 minutes", "drift10")
        assert dropped == 0
        b = out.where(F.col("user_id") == 2).collect()
        assert len(b) == 1 and b[0].event_count == 2 and b[0].session_sum == 10.0
        a = out.where(F.col("user_id") == 1).collect()
        assert len(a) == 1 and a[0].event_count == 3


class TestRocksDBStateStore:
    def test_session_pipeline_on_rocksdb_state_store(self, spark, sf_dir, stream_dir):
        """The 100 TB state backend: the same pipeline runs on the RocksDB
        state store provider (bounded executor memory for huge keyed state)
        and produces identical output."""
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = streaming_sessionize(_events_stream(spark, stream_dir))
            q = memory_sink(stream, "stream_rocksdb")
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            if prev:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        got = _rows(spark.table("stream_rocksdb"))
        want = _rows(sessionize(load_table(spark, sf_dir, "events")))
        assert got == want


class TestStreamingTimeWindows:
    def test_tumbling_stream_equals_batch(self, spark, sf_dir, stream_dir):
        from windowsession_using_kafka_flink_docker_spark.streaming import streaming_windowed_counts
        stream = streaming_windowed_counts(_events_stream(spark, stream_dir))
        q = memory_sink(stream, "stream_tumbling")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_tumbling"))
        ev = load_table(spark, sf_dir, "events")
        want = _rows(
            ev.groupBy(F.window("ts", "5 minutes"), "user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "user_id", "n_events", "total_value")
        )
        assert got == want

    def test_sliding_stream_equals_batch(self, spark, stream_dir):
        """Global (unkeyed) sliding windows: stream output must equal the
        batch windows over the same files restricted to windows the final
        watermark closed (the sentinel's own unfinalized windows are the
        only difference)."""
        from windowsession_using_kafka_flink_docker_spark.streaming import streaming_windowed_counts
        stream = streaming_windowed_counts(
            _events_stream(spark, stream_dir), duration="10 minutes",
            slide="5 minutes", key=None,
        )
        q = memory_sink(stream, "stream_sliding")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_sliding"), exclude_sentinel=False)
        all_rows = spark.read.parquet(stream_dir)  # same data incl. sentinel
        final_wm = all_rows.agg(F.max("ts")).collect()[0][0]
        want = _rows(
            all_rows.groupBy(F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "n_events", "total_value")
            .where(F.col("window_end") <= F.lit(final_wm)),
            exclude_sentinel=False,
        )
        assert got == want


class TestStatefulCappedSessions:
    """applyInPandasWithState capped sessionization must equal the batch
    window-function definition (which is itself DuckDB-oracled) on the
    same bounded data — the custom-stateful-operator version of the
    prefix-consistency gate."""

    def test_capped_stream_equals_batch(self, spark, sf_dir, stream_dir):
        from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
            capped_sessionize,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_capped_sessionize,
        )

        stream = streaming_capped_sessionize(_events_stream(spark, stream_dir))
        assert stream.isStreaming
        q = memory_sink(stream, "stream_capped")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_capped"))
        want = _rows(
            capped_sessionize(
                load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
            )
        )
        assert len(got) == len(want) and got == want

    def test_half_cent_tie_values_stream_equals_batch(self, spark, tmp_path):
        """Cents are rounded by the JVM before the stateful operator, with
        the batch operator's ``CAST(ROUND(value * 100, 0) AS BIGINT)``:
        values whose double sits at or next to a half cent must give the
        same sums and averages on both paths. Users 1-3 see every value
        in one run of events 15 s apart (one gap session, cap-split at
        120 s); user 4 sees each value alone (one session per value)."""
        from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
            capped_sessionize,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_capped_sessionize,
        )

        ties = [1.005, 2.675, 0.285, 1.115, 0.145, 123456.785]
        values = ties + [-v for v in ties]
        t0 = datetime.datetime(2024, 1, 1)
        rows = []
        for u in (1, 2, 3):
            for i in range(len(values)):
                ts = t0 + datetime.timedelta(seconds=1000 * u + 15 * i)
                rows.append((str(ts), u, values[(i + u) % len(values)]))
        for i, v in enumerate(values):
            rows.append((str(t0 + datetime.timedelta(seconds=5000 + 100 * i)), 4, v))
        sentinel = [(str(t0 + datetime.timedelta(days=1)), SENTINEL_USER, 0.0)]
        flat = _serialize_chunks(spark, str(tmp_path), [rows, sentinel])

        stream = streaming_capped_sessionize(_events_stream(spark, flat))
        q = memory_sink(stream, "stream_capped_ties")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_capped_ties"))
        want = _rows(capped_sessionize(
            spark.read.parquet(flat).where(F.col("user_id") != SENTINEL_USER)))
        assert len(want) == 3 * 2 + len(values)
        assert got == want

    def test_cap_actually_splits_sessions(self, spark, sf_dir):
        """With the cap off (huge), results equal plain gap sessions on the
        real table; on a never-idle key (event every 10 s for 5 min) a 60 s
        cap yields exactly ceil(300/60) = 5 segments where gap sessions
        yield 1."""
        from datetime import datetime, timedelta

        from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
            capped_sessionize,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
            sessionize,
        )

        ev = load_table(spark, sf_dir, "events")
        assert capped_sessionize(ev, cap_sec=10**9).count() == sessionize(ev).count()

        t0 = datetime(2024, 1, 1)
        bot = spark.createDataFrame(
            [(t0 + timedelta(seconds=10 * i), 7, 1.0) for i in range(30)],
            "ts timestamp, user_id long, value double",
        )
        assert capped_sessionize(bot, cap_sec=10**9).count() == 1
        segs = capped_sessionize(bot, cap_sec=60.0).orderBy("session_start").collect()
        assert len(segs) == 5
        assert all(s.event_count == 6 for s in segs)

    def test_restart_resumes_and_changed_buckets_fail_closed(self, spark, tmp_path):
        """Sessions open across a stop resume from the checkpoint: the two
        runs' output equals the batch definition. A restart under another
        ``spark.sql.shuffle.partitions`` would hash users to other state
        buckets and split their open segments, so the query fails with
        the bucket-count error instead and emits nothing."""
        import shutil
        import time

        from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
            capped_sessionize,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_capped_sessionize,
        )

        t0_us = 1_704_067_200_000_000
        # 200 users, one event per 10 s each; users 0-99 keep going after
        # the stop (one 200 s gap session, cap-split at 120 s), users
        # 100-199 stop at 50 s and close by the watermark
        first = _events_at(spark, 1200, f"{t0_us} + (id div 200) * 10000000 + id % 200",
                           "id % 200", "(id % 7) - 2.5")
        second = _events_at(spark, 1500,
                            f"{t0_us} + (6 + id div 100) * 10000000 + id % 100",
                            "id % 100", "(id % 5) * 0.25")
        sentinel = _events_at(spark, 1, f"{t0_us} + 86400000000",
                              str(SENTINEL_USER), "0")
        src = str(tmp_path / "src")
        os.makedirs(src)
        now = time.time()
        _drop_frame(first, src, "00", now)
        ckpt, ckpt_other = str(tmp_path / "ckpt"), str(tmp_path / "ckpt_other")

        def run(ckpt_dir, rows):
            q = _collecting_query(
                streaming_capped_sessionize(_events_stream(spark, src)), ckpt_dir, rows)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            return rows

        before = run(ckpt, [])
        shutil.copytree(ckpt, ckpt_other)
        _drop_frame(second, src, "01", now + 60)
        _drop_frame(sentinel, src, "02", now + 120)
        after = run(ckpt, [])

        want = _rows(capped_sessionize(first.unionByName(second)))
        assert len(want) == 2 * 100 + 100
        assert len(before) < len(want)           # work spanned the restart
        assert _tuples(before + after) == want

        parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(2 * int(parts)))
        split = []
        try:
            with pytest.raises(Exception, match="buckets but this plan has") as err:
                run(ckpt_other, split)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
        n = 4 * int(parts)
        assert f"written with {n} buckets but this plan has {2 * n}" in str(err.value)
        assert split == []

    def test_hot_key_matches_batch_with_state_bounded_by_buckets(self, spark, tmp_path):
        """Generator phase 4: 100k events of one user among 2,000
        background users, over four micro-batches. Stream equals batch,
        and the state holds at most one row per bucket however many
        events or users a batch brings."""
        import time

        from windowsession_using_kafka_flink_docker_spark.operators.capped_sessionize import (
            capped_sessionize,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_capped_sessionize,
        )

        t0_us = 1_704_067_200_000_000
        span_s = 100_000
        hot = _events_at(spark, span_s, f"{t0_us} + id * 1000000", "4",
                         "(id % 1000) / 100")
        background = _events_at(
            spark, 10_000, f"{t0_us} + ((id * 9973) % {span_s}) * 1000000 + 500000",
            "1000 + id % 2000", "(id % 300) / 100 - 1")
        events = hot.unionByName(background)
        src = str(tmp_path / "src")
        os.makedirs(src)
        now, quarter_us = time.time(), span_s // 4 * 1_000_000
        for i in range(4):
            part = events.where(
                F.unix_micros("ts").between(t0_us + i * quarter_us,
                                            t0_us + (i + 1) * quarter_us - 1))
            _drop_frame(part, src, f"{i:02d}", now + 60 * i)
        _drop_frame(_events_at(spark, 1, f"{t0_us + 2 * span_s * 1_000_000}",
                               str(SENTINEL_USER), "0"), src, "04", now + 240)

        rows = []
        q = _collecting_query(streaming_capped_sessionize(_events_stream(spark, src)),
                              str(tmp_path / "ckpt"), rows)
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
        assert _tuples(rows) == _rows(capped_sessionize(events))
        buckets = 4 * int(spark.conf.get("spark.sql.shuffle.partitions"))
        state_rows = [op.numRowsTotal for p in progress for op in p.stateOperators]
        assert state_rows and max(state_rows) <= buckets


def _drop_frame(df, src, name, mtime):
    """Write ``df`` as one parquet file ``src/<name>.parquet`` with the
    given mtime (the file source replays oldest mtime first)."""
    import glob
    import shutil

    tmp = os.path.join(os.path.dirname(src), f"stage_{name}")
    df.coalesce(1).write.parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "*.parquet"))
    dst = os.path.join(src, f"{name}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _events_at(spark, n, ts_us, user_id, value):
    """``n`` events built in the JVM from SQL expressions over ``id``."""
    return spark.range(n).select(
        F.timestamp_micros(F.expr(ts_us)).alias("ts"),
        F.expr(user_id).cast("long").alias("user_id"),
        F.expr(value).cast("double").alias("value"))


def _collecting_query(stream, ckpt, rows):
    return (stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(lambda df, _id: rows.extend(df.collect())).start())


def _tuples(rows):
    """``_rows``'s form of collected rows, sentinel excluded."""
    return sorted(tuple(str(r[c]) for c in sorted(r.asDict()))
                  for r in rows if r.user_id != SENTINEL_USER)


class _StubGroupState:
    """The slice of ``GroupState`` the capped-session function uses."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self._value = value
        self.hasTimedOut = timed_out
        self._watermark_ms = watermark_ms
        self.timeout_ms = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = tuple(value)

    def remove(self):
        self._value = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self._watermark_ms


class TestCappedSessionFn:
    """``make_capped_session_fn`` against a stub state of one bucket, no
    Spark: a frame leaves Python only when a segment closed, and only as
    BIGINTs; a call also closes bucket-mates whose deadline passed."""

    GAP_S, CAP_S, BUCKETS = 30.0, 120.0, 16
    T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    T0_MS = T0_US // 1_000

    @staticmethod
    def _batch(rows):
        """``rows``: (user, µs, cents) tuples, in arrival order."""
        import pandas as pd

        from windowsession_using_kafka_flink_docker_spark.streaming.stateful import (
            _CENTS,
            _KEY,
            _TS,
        )
        users, ts_us, cents = zip(*rows)
        return pd.DataFrame({
            _KEY: pd.Series(users, dtype="int64"),
            _TS: pd.to_datetime(list(ts_us), unit="us"),
            _CENTS: pd.Series(cents, dtype="int64"),
        })

    def _state(self, *segs, buckets=None, **kw):
        """A stub holding the open segments ``(user, gs0, seg, s0, s1, sc,
        scnt)`` in the array state layout."""
        slots = tuple(list(col) for col in zip(*segs))
        return _StubGroupState((*slots, buckets or self.BUCKETS), **kw)

    @staticmethod
    def _segs(state):
        *slots, _ = state.get
        return sorted(zip(*slots))

    def _call(self, state, pdfs=()):
        from windowsession_using_kafka_flink_docker_spark.streaming.stateful import (
            make_capped_session_fn,
        )
        fn = make_capped_session_fn(self.GAP_S, self.CAP_S, self.BUCKETS)
        return list(fn((3,), iter(pdfs), state))

    @staticmethod
    def _rows(out):
        from windowsession_using_kafka_flink_docker_spark.streaming.stateful import (
            FOLD_SCHEMA,
        )
        assert len(out) == 1
        names, types = zip(*(f.split() for f in FOLD_SCHEMA.split(",")))
        assert set(types) == {"long"}
        assert list(out[0].columns) == list(names)
        assert all(str(t) == "int64" for t in out[0].dtypes)
        return sorted(out[0].values.tolist())

    def test_new_key_closing_nothing_yields_no_frame(self):
        t0 = self.T0_US
        state = _StubGroupState()
        # two chunks, users and times out of order: sorted before the fold
        pdfs = [self._batch([(9, t0 + 20_000_000, 1), (7, t0 + 10_000_000, 250)]),
                self._batch([(7, t0, -100)])]
        assert self._call(state, pdfs) == []
        assert self._segs(state) == [(7, t0, 0, t0, t0 + 10_000_000, 150, 2),
                                     (9, t0 + 20_000_000, 0, t0 + 20_000_000,
                                      t0 + 20_000_000, 1, 1)]
        assert state.get[-1] == self.BUCKETS
        # armed at the earliest deadline: user 7's segment end + gap
        assert state.timeout_ms == self.T0_MS + 10_000 + 30_000 + 1

    def test_closed_segments_leave_as_bigint_rows(self):
        t0 = self.T0_US
        state = self._state((7, t0, 0, t0, t0, 100, 1))
        # 60 s of silence closes the open session; the new one stays open
        out = self._call(state, [self._batch([(7, t0 + 60_000_000, 5)])])
        assert self._rows(out) == [[7, t0, t0, 100, 1]]
        assert self._segs(state) == [(7, t0 + 60_000_000, 0, t0 + 60_000_000,
                                      t0 + 60_000_000, 5, 1)]

    def test_data_call_closes_expired_mate_without_rows(self):
        t0 = self.T0_US
        # user 7's deadline (t0 + 30.001 s) is behind the watermark, user
        # 8's (t0 + 80.001 s) is not; only user 9 has rows
        state = self._state((7, t0, 0, t0, t0, 100, 1),
                            (8, t0, 0, t0, t0 + 50_000_000, 200, 2),
                            (9, t0, 0, t0, t0 + 40_000_000, 300, 3),
                            watermark_ms=self.T0_MS + 60_000)
        out = self._call(state, [self._batch([(9, t0 + 65_000_000, 4)])])
        assert self._rows(out) == [[7, t0, t0, 100, 1]]
        assert self._segs(state) == [
            (8, t0, 0, t0, t0 + 50_000_000, 200, 2),
            (9, t0, 0, t0, t0 + 65_000_000, 304, 4)]
        assert state.timeout_ms == self.T0_MS + 50_000 + 30_000 + 1

    def test_rearm_clamps_to_watermark_plus_one(self):
        t0 = self.T0_US
        # user 7's rows are older than watermark - gap: its deadline has
        # passed already, and a timeout at or before the watermark fails
        # the query
        state = _StubGroupState(watermark_ms=self.T0_MS + 100_000)
        assert self._call(state, [self._batch([(7, t0, 1)])]) == []
        assert state.timeout_ms == self.T0_MS + 100_001

    def test_timeout_closes_only_expired_users_and_rearms(self):
        t0 = self.T0_US
        state = self._state((7, t0, 0, t0, t0 + 10_000_000, 100, 1),
                            (8, t0, 1, t0 + 120_000_000, t0 + 130_000_000, -7, 3),
                            (9, t0, 0, t0, t0 + 45_000_000, 5, 1),
                            timed_out=True, watermark_ms=self.T0_MS + 50_000)
        out = self._call(state)
        assert self._rows(out) == [[7, t0, t0 + 10_000_000, 100, 1]]
        assert [s[0] for s in self._segs(state)] == [8, 9]
        assert state.timeout_ms == self.T0_MS + 45_000 + 30_000 + 1

    def test_timeout_yields_one_row_and_drops_state(self):
        t0 = self.T0_US
        state = self._state((7, t0, 1, t0 + 120_000_000, t0 + 130_000_000, -7, 3),
                            timed_out=True, watermark_ms=self.T0_MS + 200_000)
        out = self._call(state)
        assert self._rows(out) == [[7, t0 + 120_000_000, t0 + 130_000_000, -7, 3]]
        assert not state.exists

    def test_state_of_another_bucket_count_fails_closed(self):
        t0 = self.T0_US
        state = self._state((7, t0, 0, t0, t0, 100, 1), buckets=32)
        with pytest.raises(ValueError, match="written with 32 buckets but this plan has 16"):
            self._call(state, [self._batch([(7, t0 + 1_000_000, 5)])])


class TestStreamStreamIntervalJoin:
    def test_interval_join_stream_equals_batch(self, spark, stream_dir):
        """Two independent file streams over the same data, inner interval
        join (same user, right event in the 60 min before the left) — the
        append-mode output must equal the batch join of the same frames."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_interval_join,
        )

        joined = streaming_interval_join(
            _events_stream(spark, stream_dir), _events_stream(spark, stream_dir)
        )
        assert joined.isStreaming
        q = memory_sink(joined, "stream_ij")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_ij"))

        ev = spark.read.parquet(stream_dir)  # same bounded data, sentinel incl.
        l = ev.select(F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts"),
                      F.col("value").alias("l_value"))
        r = ev.select(F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts"),
                      F.col("value").alias("r_value"))
        want = _rows(
            l.join(
                r,
                (F.col("l_key") == F.col("r_key"))
                & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 60 MINUTES"))
                & (F.col("r_ts") < F.col("l_ts")),
            ).select(F.col("l_key").alias("user_id"), "l_ts", "l_value", "r_ts", "r_value")
        )
        assert len(got) > 0
        assert got == want


class TestCheckpointRecovery:
    def test_parquet_sink_exactly_once_across_restart(self, spark, sf_dir, tmp_path):
        """Kill-and-restart: run the session pipeline to a checkpointed
        parquet sink, stop it, add more input, restart the SAME checkpoint.
        The union of both runs' output must equal the batch result exactly —
        no lost sessions, no duplicates. (The reference never enables
        checkpointing; its print-sink state dies with the process.)"""
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.streaming import parquet_sink

        src = tmp_path / "src"; src.mkdir()
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
        ev.coalesce(1).write.parquet(str(tmp_path / "stage1"))
        for f in glob.glob(str(tmp_path / "stage1" / "*.parquet")):
            shutil.copy(f, src / "00_data.parquet")

        def run_once():
            stream = streaming_sessionize(
                file_events_source(
                    spark, str(src),
                    schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
                    max_files_per_trigger=1,
                )
            )
            q = parquet_sink(stream, out, ckpt)
            try:
                q.processAllAvailable()
            finally:
                q.stop()

        run_once()  # run 1: everything the first watermark can close
        phase1 = spark.read.parquet(out).count()

        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        spark.createDataFrame(
            [(max_ts, SENTINEL_USER, 0.0)], "ts TIMESTAMP, user_id BIGINT, value DOUBLE"
        ).select((F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
                 "user_id", "value").coalesce(1).write.mode("overwrite") \
         .parquet(str(tmp_path / "stage2"))
        for f in glob.glob(str(tmp_path / "stage2" / "*.parquet")):
            shutil.copy(f, src / "01_sentinel.parquet")

        run_once()  # run 2: resumes from checkpoint, closes the tail

        got = _rows(spark.read.parquet(out))
        want = _rows(sessionize(load_table(spark, sf_dir, "events")))
        assert 0 < phase1 < len(want)     # work genuinely spanned both runs
        assert got == want                # exactly-once: no loss, no dupes


class TestStreamStaticJoin:
    def test_stream_static_enrichment_equals_batch(self, spark, sf_dir, stream_dir):
        """Stream-static broadcast join: the streaming plan joins each
        micro-batch to a bounded static dimension (no state, no watermark
        needed for the join itself); complete-mode aggregation over it must
        equal the batch enrichment on the same data."""
        rows = ([(9999, "vip")]
                + [(u, "tier_a") for u in range(2, 10)]
                + [(u, "tier_b") for u in range(100, 201)])
        tiers = spark.createDataFrame(rows, "user_id BIGINT, tier STRING")

        def enrich(df):
            return (
                df.join(F.broadcast(tiers), "user_id", "left")
                .withColumn("tier", F.coalesce(F.col("tier"), F.lit("default")))
                .groupBy("tier")
                .agg(F.count("*").alias("n_events"),
                     F.round(F.sum("value"), 2).alias("total_value"))
            )

        stream = enrich(_events_stream(spark, stream_dir))
        assert stream.isStreaming
        q = memory_sink(stream, "stream_enrich", output_mode="complete")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_enrich"), exclude_sentinel=False)
        want = _rows(enrich(spark.read.parquet(stream_dir)), exclude_sentinel=False)
        assert got == want


class TestStreamingDedup:
    def test_streaming_exact_dedup_equals_batch(self, spark, sf_dir, stream_dir):
        """Streaming exact dedup: dropDuplicates on the content digest keeps
        the first-seen row per digest; the surviving digest set must equal
        the batch distinct set (the streaming half of dedup_exact)."""
        digest = F.md5(F.concat_ws(",", F.col("user_id"), F.col("value")))
        stream = (
            _events_stream(spark, stream_dir)
            .withColumn("digest", digest)
            .dropDuplicates(["digest"])
            .select("digest", "user_id")
        )
        assert stream.isStreaming
        q = memory_sink(stream, "stream_dedup")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(r.digest for r in spark.table("stream_dedup")
                     .where(F.col("user_id") != SENTINEL_USER).collect())
        want = sorted(
            r.digest for r in spark.read.parquet(stream_dir)
            .where(F.col("user_id") != SENTINEL_USER)
            .select(digest.alias("digest")).distinct().collect()
        )
        assert got == want


def _kafka_ready(spark) -> tuple[bool, str]:
    """(available, info): True only when BOTH the spark-sql-kafka connector
    jar is on the classpath AND a broker answers at $KAFKA_BOOTSTRAP_SERVERS
    (default localhost:9092 — the docker/docker-compose.yml topology)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
    except Exception:
        return False, "spark-sql-kafka connector jar not on the classpath"
    import socket
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092")
    host, _, port = bootstrap.rpartition(":")
    try:
        with socket.create_connection((host or "localhost", int(port)), timeout=2):
            return True, bootstrap
    except OSError:
        return False, f"no Kafka broker reachable at {bootstrap}"


class TestKafkaEndToEnd:
    """Runtime Kafka round-trip — the reference's actual front door
    (flink_stream_task1.py:13-19). Runs only when the connector jar AND a
    broker are present (docker/README.md runbook starts both); skips
    otherwise.
    Wire format and pipeline are exactly the production path:
    CSV-serialized events -> kafka topic -> kafka_events_source ->
    streaming sessionization == batch sessionize of the same rows.
    """

    _EVENTS = [
        # (ts, user_id, transaction_id, payload) — two users, two sessions
        # for user 1 (gap > 30 s between 08:00:10 and 08:05:00)
        ("2024-08-26 08:00:00", 1, 11, 10.0),
        ("2024-08-26 08:00:10", 1, 11, 10.0),
        ("2024-08-26 08:05:00", 1, 12, 10.0),
        ("2024-08-26 08:00:05", 2, 21, 20.0),
    ]
    _SENTINEL = ("2024-08-26 12:00:00", SENTINEL_USER, 0, 0.0)

    @staticmethod
    def _wire_df(spark, rows):
        return spark.createDataFrame(
            [(str(u), f"{ts},{u},{tx},{p}") for ts, u, tx, p in rows],
            "key STRING, value STRING",
        ).coalesce(1)

    def test_kafka_roundtrip_sessionize(self, spark, tmp_path):
        ok, info = _kafka_ready(spark)
        if not ok:
            pytest.skip(
                f"Kafka e2e unavailable: {info}. Run `docker compose up` in "
                "docker/ and add org.apache.spark:spark-sql-kafka-0-10 via "
                "spark.jars.packages (see docker/README.md)."
            )
        import uuid

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            kafka_events_source,
        )

        bootstrap = info
        topic = f"events_e2e_{uuid.uuid4().hex[:8]}"
        kafka_opts = {"kafka.bootstrap.servers": bootstrap, "topic": topic}

        # data first; the sentinel goes in AFTER the stream has consumed the
        # data batch, so it lands in a later micro-batch and advances the
        # watermark past the real sessions (append-mode flush).
        self._wire_df(spark, self._EVENTS).write.format("kafka") \
            .options(**kafka_opts).save()

        stream = kafka_events_source(spark, bootstrap, topic)
        ev = stream.select(
            "ts", "user_id", F.col("payload_value").alias("value"))
        q = memory_sink(streaming_sessionize(ev), "kafka_e2e")
        try:
            q.processAllAvailable()
            self._wire_df(spark, [self._SENTINEL]).write.format("kafka") \
                .options(**kafka_opts).save()
            q.processAllAvailable()
        finally:
            q.stop()

        got = _rows(spark.table("kafka_e2e"))
        batch = spark.createDataFrame(
            [(ts, u, p) for ts, u, _tx, p in self._EVENTS],
            "ts STRING, user_id BIGINT, value DOUBLE",
        ).select(F.col("ts").cast("timestamp").alias("ts"), "user_id", "value")
        want = _rows(sessionize(batch))
        assert len(want) == 3  # 2 sessions for user 1, 1 for user 2
        assert got == want

    def test_kafka_sink_roundtrips_alert_frame(self, spark, tmp_path):
        """Alerts written by kafka_sink must read back with the same frame
        (the alerts topic the reference imports but never wires)."""
        ok, info = _kafka_ready(spark)
        if not ok:
            pytest.skip(f"Kafka e2e unavailable: {info} (see docker/README.md)")
        import uuid

        from windowsession_using_kafka_flink_docker_spark.streaming import kafka_sink

        bootstrap = info
        topic = f"alerts_e2e_{uuid.uuid4().hex[:8]}"
        alerts = spark.createDataFrame(
            [(9999, 1_000_000.0, 5.5)],
            "user_id BIGINT, session_sum DOUBLE, session_avg DOUBLE",
        )
        # batch-side write through the same wire serialization
        src = str(tmp_path / "alert_src")
        alerts.write.parquet(src)
        stream = file_events_source(
            spark, src,
            schema="user_id BIGINT, session_sum DOUBLE, session_avg DOUBLE")
        q = kafka_sink(stream, bootstrap, topic,
                       checkpoint=str(tmp_path / "ckpt"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topic)
            .option("startingOffsets", "earliest")
            .load()
            .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
            .collect()
        )
        assert len(back) == 1
        assert back[0].key == "9999"
        assert back[0].value == "9999,1000000.0,5.5"


class TestStreamStreamOuterIntervalJoin:
    def test_left_outer_interval_join_stream_equals_batch(self, spark, stream_dir):
        """Left-outer stream-stream interval join: right side filtered so
        some left events have no partner; null-padded rows must emit once
        the (sentinel-advanced) watermark closes them, equaling the batch
        left join."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_interval_join,
        )

        left_s = _events_stream(spark, stream_dir)
        # Keep the sentinel in the filtered side: the filter runs before the
        # watermark node, so dropping it would stall the right-side
        # watermark and withhold the final null emissions (the classic
        # heartbeat-row requirement for outer stream-stream joins).
        right_s = _events_stream(spark, stream_dir).where(
            (F.col("value") > 150.0) | (F.col("user_id") == SENTINEL_USER))
        joined = streaming_interval_join(left_s, right_s, how="leftOuter")
        assert joined.isStreaming
        q = memory_sink(joined, "stream_oij")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_oij"))

        ev = spark.read.parquet(stream_dir)
        l = ev.select(F.col("user_id").alias("l_key"), F.col("ts").alias("l_ts"),
                      F.col("value").alias("l_value"))
        r = (ev.where(F.col("value") > 150.0)
             .select(F.col("user_id").alias("r_key"), F.col("ts").alias("r_ts"),
                     F.col("value").alias("r_value")))
        want = _rows(
            l.join(
                r,
                (F.col("l_key") == F.col("r_key"))
                & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 60 MINUTES"))
                & (F.col("r_ts") < F.col("l_ts")),
                "leftOuter",
            ).select(F.col("l_key").alias("user_id"), "l_ts", "l_value",
                     "r_ts", "r_value")
        )
        n_unmatched = sum(1 for row in got if "None" in row)  # _rows stringifies
        assert n_unmatched > 0, "test vacuous: every left row matched"
        assert got == want


class TestStreamingRollupMaintenance:
    """foreachBatch MERGE of micro-batch partials into a versioned rollup
    state (streaming/rollup.py) must land on the exact batch rollup —
    the streaming twin of the driver-oracled incremental_rollup_merge."""

    def _chunked_events(self, spark, sf_dir, tmp_path_factory, n_chunks=3):
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp("rollup_events"))
        ev = (load_table(spark, sf_dir, "events")
              .select("ts", "event_type", "value"))
        # Slice by day so micro-batches look like real arriving deltas
        # (several batches touch the same (type, day) keys at boundaries).
        chunks = ev.withColumn(
            "_c", F.pmod(F.dayofmonth("ts"), F.lit(n_chunks)))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(n_chunks):
            d = os.path.join(base, f"c{i}")
            chunks.where(F.col("_c") == i).drop("_c") \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.operators.rollup import (
            rollup_merge, rollup_partials, rollup_present, with_day,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRollupMaintainer, streaming_maintenance,
        )

        flat = self._chunked_events(spark, sf_dir, tmp_path_factory)
        state_dir = str(tmp_path_factory.mktemp("rollup_state"))
        ckpt = str(tmp_path_factory.mktemp("rollup_ckpt"))
        maint = IncrementalRollupMaintainer(spark, state_dir)
        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, event_type STRING, value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(stream, maint, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # exactly current + previous survive: ≥2 proves a real
        # state+delta merge happened; ≤2 proves pruning bounds the
        # state dir (a 24/7 stream must not keep one copy per batch)
        assert 2 >= len(maint.state.versions()) >= 2
        got = _rows(maint.current(), exclude_sentinel=False)
        ev = load_table(spark, sf_dir, "events")
        want = _rows(rollup_present(rollup_partials(with_day(ev))),
                     exclude_sentinel=False)
        assert len(got) == len(want) and got == want

    def test_batch_replay_is_idempotent(self, spark, sf_dir, tmp_path_factory):
        """foreachBatch is at-least-once: re-delivering a batch must not
        double-count (version v{id} is rebuilt from versions < id)."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRollupMaintainer,
        )

        ev = (load_table(spark, sf_dir, "events")
              .select("ts", "event_type", "value").limit(500))
        state_dir = str(tmp_path_factory.mktemp("rollup_replay"))
        maint = IncrementalRollupMaintainer(spark, state_dir)
        maint.merge_batch(ev, 0)
        maint.merge_batch(ev, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(ev, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once

    def test_fresh_checkpoint_against_stale_state_fails_fast(
            self, spark, sf_dir, tmp_path_factory):
        """A restart with a wiped checkpoint dir (batch ids back at 0)
        but a surviving state_dir must raise, not silently rebase on
        nothing while current() serves the old run's state."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRollupMaintainer,
        )

        ev = (load_table(spark, sf_dir, "events")
              .select("ts", "event_type", "value").limit(100))
        state_dir = str(tmp_path_factory.mktemp("rollup_stale"))
        maint = IncrementalRollupMaintainer(spark, state_dir)
        maint.merge_batch(ev, 0)
        maint.merge_batch(ev, 1)
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(ev, 0)  # fresh-checkpoint restart
        # replay of the NEWEST batch id stays legal (crash recovery)
        maint.merge_batch(ev, 1)


class TestStreamingScd2Sessions:
    def test_scd2_gap_stream_equals_batch(self, spark, sf_dir, stream_dir):
        """Streaming twin of session_scd2_dynamic_gap: the static SCD2
        tier-interval table joins the stream by containment (stream-static
        non-equi join), and per-event gaps drive session_window — results
        must equal the batch as-of formulation exactly."""
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
            CATALOG,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            loyalty_tier_intervals,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_sessionize_scd2,
        )

        tiers = loyalty_tier_intervals(load_table(spark, sf_dir, "events"))
        stream = streaming_sessionize_scd2(
            _events_stream(spark, stream_dir), tiers)
        assert stream.isStreaming
        q = memory_sink(stream, "stream_scd2_sessions")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(spark.table("stream_scd2_sessions"))
        want = _rows(CATALOG["session_scd2_dynamic_gap"].spark(spark, sf_dir))
        assert len(got) == len(want) and got == want


class TestStreamingScd2Maintenance:
    """foreachBatch SCD2 dimension maintenance (streaming/scd.py): change
    batches MERGE into a versioned dim; the final current rows must match
    an independent window-function derivation over all events."""

    def _change_stream_dir(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp("scd2_changes"))
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # Chunk CHRONOLOGICALLY (ntile over global ts order) so batch
        # order matches event order — SCD2 merge applies batches as CDC
        # deltas, so out-of-order batches (the old pmod(dayofmonth,3)
        # slicing) would legitimately end a user on a stale tier: the
        # dim reflects the max-ts row of the LAST batch containing the
        # user, not the globally latest tier. (Verified: pmod slicing
        # passes at sf0.001 only by coincidence; 10 users mismatch at
        # sf0.01.) Single-partition ntile is fine at test scale.
        changes = (ev.where(F.col("event_type") == "purchase")
                   .withColumn("n", F.row_number().over(w))
                   .select("ts", "user_id",
                           F.when(F.col("n") >= 5, "gold")
                           .when(F.col("n") >= 3, "silver")
                           .otherwise("bronze").alias("tier"),
                           (F.ntile(3).over(
                               Window.orderBy("ts", "event_id")) - 1
                            ).alias("_c")))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            changes.where(F.col("_c") == i).drop("_c") \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def test_current_rows_match_batch_final_state(self, spark, sf_dir,
                                                  tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            Scd2DimensionMaintainer, streaming_maintenance,
        )

        flat = self._change_stream_dir(spark, sf_dir, tmp_path_factory)
        state_dir = str(tmp_path_factory.mktemp("scd2_state"))
        maint = Scd2DimensionMaintainer(
            spark, state_dir, key="user_id", attr_cols=("tier",),
            batch_ts_col="ts", change_order="ts")
        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, user_id BIGINT, tier STRING",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("scd2_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        cur = maint.current_rows()
        # exactly one current row per key
        assert cur.groupBy("user_id").count() \
            .where(F.col("count") > 1).count() == 0
        got = {(r.user_id, r.tier) for r in cur.collect()}
        # independent derivation: last tier per user over ALL events.
        # Valid because the chunks are chronological (ntile over global
        # ts order), so the last batch containing a user also holds the
        # user's globally latest change row.
        ev = load_table(spark, sf_dir, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = {(r.user_id, r.tier) for r in
                (ev.where(F.col("event_type") == "purchase")
                 .withColumn("n", F.row_number().over(w))
                 .groupBy("user_id")
                 .agg(F.max("n").alias("maxn"))
                 .select("user_id",
                         F.when(F.col("maxn") >= 5, "gold")
                         .when(F.col("maxn") >= 3, "silver")
                         .otherwise("bronze").alias("tier"))).collect()}
        assert got == want

        # replay idempotence: re-running the LAST batch leaves the dim
        # byte-identical (versioned write derives from versions < id)
        versions = maint.state.versions()
        last = versions[-1]
        before = sorted(tuple(str(v) for v in r)
                        for r in maint.current().collect())
        last_chunk = spark.read.parquet(
            os.path.join(flat, f"{last:02d}.parquet"))
        maint.merge_batch(last_chunk, last)
        after = sorted(tuple(str(v) for v in r)
                       for r in maint.current().collect())
        assert before == after

        # serving restart: a fresh maintainer over the same state_dir
        # serves the writer's dimension before any batch — from the
        # schema stamp, and with the stamp gone (as in a directory
        # written before SCD2 state was stamped) from the newest
        # version's parquet footer, which re-stamps the directory
        stamp_path = os.path.join(state_dir, "_schema.txt")
        with open(stamp_path) as fh:
            stamp = fh.read()
        for stamped in (True, False):
            if not stamped:
                os.remove(stamp_path)
            fresh = Scd2DimensionMaintainer(
                spark, state_dir, key="user_id", attr_cols=("tier",),
                batch_ts_col="ts", change_order="ts")
            assert sorted(tuple(str(v) for v in r)
                          for r in fresh.current().collect()) == after
            with open(stamp_path) as fh:
                assert fh.read() == stamp, stamped

    def test_fresh_checkpoint_against_stale_state_fails_fast(
            self, spark, tmp_path_factory):
        """Same lifecycle guard as the rollup maintainer: batch ids
        restarting below the newest on-disk version must raise."""
        from datetime import datetime

        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            Scd2DimensionMaintainer,
        )

        changes = spark.createDataFrame(
            [(datetime(2024, 1, 1), 1, "bronze"),
             (datetime(2024, 1, 2), 1, "silver")],
            "ts TIMESTAMP, user_id BIGINT, tier STRING")
        maint = Scd2DimensionMaintainer(
            spark, str(tmp_path_factory.mktemp("scd2_stale")),
            key="user_id", attr_cols=("tier",), batch_ts_col="ts",
            change_order="ts")
        maint.merge_batch(changes, 0)
        maint.merge_batch(changes, 1)
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(changes, 0)
        maint.merge_batch(changes, 1)  # newest-id replay stays legal


class TestIncrementalJoinView:
    """Two-sided delta IVM (streaming/joinview.py): the maintained view
    of orders ⋈ customer must equal the one-shot batch join no matter
    how either side's rows were split into batches."""

    def _chunks(self, df, col, n):
        """n deterministic hash-slices — deliberately NOT chronological:
        delta-join algebra must be order-independent (every pair joins at
        the batch where the later row arrives), unlike CDC-style SCD2."""
        return [df.where(F.pmod(F.xxhash64(col), F.lit(n)) == i)
                for i in range(n)]

    def test_view_equals_batch_join_any_interleaving(
            self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJoinView,
        )

        orders = (load_table(spark, sf_dir, "orders")
                  .select(F.col("o_custkey").alias("custkey"),
                          "o_orderkey", "o_totalprice"))
        cust = (load_table(spark, sf_dir, "customer")
                .select(F.col("c_custkey").alias("custkey"), "c_name"))
        view = IncrementalJoinView(
            spark, str(tmp_path_factory.mktemp("jv_state")), key="custkey")
        das = self._chunks(orders, "o_orderkey", 3)
        dbs = self._chunks(cust, "custkey", 3)
        # interleave asymmetrically: all of B arrives before the last A
        view.apply_batch(das[0], dbs[0], 0)
        view.apply_batch(das[1], dbs[1], 1)
        view.apply_batch(orders.limit(0), dbs[2], 2)
        view.apply_batch(das[2], cust.limit(0), 3)

        got = _rows(view.current())
        want = _rows(orders.join(cust, "custkey"))
        assert len(got) == len(want) and got == want

        # replay idempotence: re-running the last batch is a no-op
        view.apply_batch(das[2], cust.limit(0), 3)
        assert _rows(view.current()) == want

        # lifecycle guard: fresh checkpoint against stale state raises
        import pytest
        with pytest.raises(ValueError, match="reset together"):
            view.apply_batch(das[0], dbs[0], 0)

    def test_delta_probe_never_reshuffles_accumulated_state(
            self, spark, sf_dir, tmp_path_factory):
        """VERDICT r6 item 4: the accumulated sides are bucketed on the
        join key, so a delta join must plan NO Exchange on the state
        scan — only the (small) delta side exchanges. Broadcast is
        disabled so nothing hides a shuffle at test scale."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJoinView,
        )

        orders = (load_table(spark, sf_dir, "orders")
                  .select(F.col("o_custkey").alias("custkey"),
                          "o_orderkey", "o_totalprice"))
        cust = (load_table(spark, sf_dir, "customer")
                .select(F.col("c_custkey").alias("custkey"), "c_name"))
        view = IncrementalJoinView(
            spark, str(tmp_path_factory.mktemp("jv_bk")), key="custkey")
        view.apply_batch(orders, cust, 0)

        b_state = view.b.read(0)
        delta = orders.where(F.col("o_orderkey") < 100)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = (delta.join(b_state, "custkey")
                    ._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("simple")))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "SortMergeJoin" in plan, plan
        # exactly one Exchange: the delta side; the bucketed state scan
        # already satisfies HashPartitioning(custkey)
        assert plan.count("Exchange") == 1, plan

    def test_state_survives_table_registry_loss(
            self, spark, sf_dir, tmp_path_factory):
        """Recovery path: dropping the bucketed-table registrations (what
        a session restart does) must not lose state — the sides' read
        re-registers them from the state's schema and the view still
        equals the batch join. The schema stamps are deleted too, as in
        a directory written before the view's state was stamped: the
        reopened view takes the schema from the parquet footers and
        re-stamps each part."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJoinView,
        )

        orders = (load_table(spark, sf_dir, "orders")
                  .select(F.col("o_custkey").alias("custkey"),
                          "o_orderkey", "o_totalprice"))
        cust = (load_table(spark, sf_dir, "customer")
                .select(F.col("c_custkey").alias("custkey"), "c_name"))
        state = str(tmp_path_factory.mktemp("jv_restart"))
        view = IncrementalJoinView(spark, state, key="custkey")
        das = self._chunks(orders, "o_orderkey", 2)
        view.apply_batch(das[0], cust, 0)
        # simulate restart: registry gone, files remain
        for t in spark.catalog.listTables():
            if t.name.startswith(f"jv_{view._tag}"):
                spark.sql(f"DROP TABLE {t.name}")
        stamps = {}
        for part in ("a", "b", "m"):
            path = os.path.join(state, part, "_schema.txt")
            with open(path) as fh:
                stamps[path] = fh.read()
            os.remove(path)
        view2 = IncrementalJoinView(spark, state, key="custkey")
        for path, stamp in stamps.items():
            with open(path) as fh:
                assert fh.read() == stamp, path
        view2.apply_batch(das[1], cust.limit(0), 1)
        assert view2.m.versions()[-1] == 1
        got = _rows(view2.current())
        want = _rows(orders.join(cust, "custkey"))
        assert got == want

    def test_streaming_union_tagged_maintenance(
            self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJoinView,
            streaming_maintenance,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming.sources import (
            file_events_source,
        )

        orders = (load_table(spark, sf_dir, "orders")
                  .select(F.col("o_custkey").alias("custkey"),
                          "o_orderkey", "o_totalprice"))
        cust = (load_table(spark, sf_dir, "customer")
                .select(F.col("c_custkey").alias("custkey"), "c_name"))
        tagged_a = orders.select(
            F.lit("a").alias("_src"), "custkey", "o_orderkey",
            "o_totalprice", F.lit(None).cast("string").alias("c_name"))
        tagged_b = cust.select(
            F.lit("b").alias("_src"), "custkey",
            F.lit(None).cast("long").alias("o_orderkey"),
            F.lit(None).cast("double").alias("o_totalprice"), "c_name")

        base = str(tmp_path_factory.mktemp("jv_stream"))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i, chunk in enumerate(
                self._chunks(tagged_a, "custkey", 2)
                + self._chunks(tagged_b, "custkey", 2)):
            d = os.path.join(base, f"c{i}")
            chunk.coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))

        view = IncrementalJoinView(
            spark, str(tmp_path_factory.mktemp("jv_state2")), key="custkey",
            a_cols=("o_orderkey", "o_totalprice"), b_cols=("c_name",))
        stream = file_events_source(
            spark, flat,
            schema=("_src STRING, custkey BIGINT, o_orderkey BIGINT, "
                    "o_totalprice DOUBLE, c_name STRING"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, view, str(tmp_path_factory.mktemp("jv_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert q.name == "join_view_maintenance"
        got = _rows(view.current())
        want = _rows(orders.join(cust, "custkey"))
        assert len(got) == len(want) and got == want


class TestStreamingAnalyticsTwins:
    """Streaming maintainers for the analytics entries that are
    incremental by construction (streaming/analytics_twins.py): the
    maintained EWMA and drift reports must equal the driver-oracled
    batch entries under day-sliced micro-batch arrival, replay, and the
    coupled-lifecycle guard (VERDICT r6 item 5)."""

    def _chunked_events(self, spark, sf_dir, tmp_path_factory, cols,
                        n_chunks=3):
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp("twin_events"))
        ev = load_table(spark, sf_dir, "events").select(*cols)
        chunks = ev.withColumn(
            "_c", F.pmod(F.dayofmonth("ts"), F.lit(n_chunks)))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(n_chunks):
            d = os.path.join(base, f"c{i}")
            chunks.where(F.col("_c") == i).drop("_c") \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def test_ewma_stream_equals_batch(self, spark, sf_dir,
                                      tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalEwmaMaintainer, streaming_maintenance,
        )

        flat = self._chunked_events(
            spark, sf_dir, tmp_path_factory, ["ts", "user_id", "value"])
        maint = IncrementalEwmaMaintainer(
            spark, str(tmp_path_factory.mktemp("ewma_state")))
        stream = file_events_source(
            spark, flat,
            schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("ewma_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert 2 >= len(maint.state.versions()) >= 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["ewma_daily_spend"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert len(got) == len(want) and got == want

    def test_drift_stream_equals_batch(self, spark, sf_dir,
                                       tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalDriftMaintainer, streaming_maintenance,
        )

        flat = self._chunked_events(
            spark, sf_dir, tmp_path_factory, ["ts", "event_type"])
        maint = IncrementalDriftMaintainer(
            spark, str(tmp_path_factory.mktemp("drift_state")))
        stream = file_events_source(
            spark, flat, schema="ts TIMESTAMP, event_type STRING",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("drift_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(
            CATALOG["distribution_drift_report"].spark(spark, sf_dir),
            exclude_sentinel=False)
        assert len(got) == len(want) and got == want

    def test_replay_is_idempotent(self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalDriftMaintainer, IncrementalEwmaMaintainer,
        )

        # slice spanning BOTH halves of the month (an all-one-half slice
        # makes the drift shares degenerate 0/0)
        ev = (load_table(spark, sf_dir, "events")
              .select("ts", "user_id", "event_type", "value")
              .where(F.dayofmonth("ts").isin(1, 2, 20, 21)))
        for cls in (IncrementalEwmaMaintainer, IncrementalDriftMaintainer):
            maint = cls(spark, str(tmp_path_factory.mktemp("twin_replay")))
            maint.merge_batch(ev, 0)
            maint.merge_batch(ev, 1)
            once = _rows(maint.current(), exclude_sentinel=False)
            maint.merge_batch(ev, 1)  # crash-replay of batch 1
            assert _rows(maint.current(),
                         exclude_sentinel=False) == once

    def test_fresh_checkpoint_against_stale_state_fails_fast(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalEwmaMaintainer,
        )

        ev = (load_table(spark, sf_dir, "events")
              .select("ts", "user_id", "value").limit(100))
        maint = IncrementalEwmaMaintainer(
            spark, str(tmp_path_factory.mktemp("twin_guard")))
        maint.merge_batch(ev, 5)
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(ev, 0)


class TestStreamingLedgerMaintenance:
    """The clamped-balance ledger maintainer (non-associative clamp,
    in-order prefix-scan state) must equal the driver-oracled batch
    entry after chronological micro-batches, stay idempotent under
    replay, and respect the lifecycle guard."""

    def _day_chunks(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp("ledger_events"))
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type", "value")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        # CHRONOLOGICAL slices — the ledger assumption is in-order
        # arrival per user, unlike the hash-slice batches of the
        # order-independent join-view maintainer
        for i, chunk in enumerate(_chrono_day_slices(ev)):
            d = os.path.join(base, f"c{i}")
            chunk.coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalLedgerMaintainer, streaming_maintenance,
        )

        flat = self._day_chunks(spark, sf_dir, tmp_path_factory)
        maint = IncrementalLedgerMaintainer(
            spark, str(tmp_path_factory.mktemp("ledger_state")))
        stream = file_events_source(
            spark, flat,
            schema="ts TIMESTAMP, user_id BIGINT, event_id BIGINT, "
                   "event_type STRING, value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("ledger_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert 2 >= len(maint.state.versions()) >= 2
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["clamped_running_balance"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert len(got) == len(want) and got == want

    def test_replay_and_guard(self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalLedgerMaintainer,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type", "value")
        first = ev.where(F.dayofmonth("ts") <= 15)
        second = ev.where(F.dayofmonth("ts") > 15)
        maint = IncrementalLedgerMaintainer(
            spark, str(tmp_path_factory.mktemp("ledger_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingDailyRevenueMaintenance:
    """One bounded per-day revenue state serving TWO driver-oracled
    presentations (streaming/analytics_twins.py
    IncrementalDailyRevenueMaintainer): the maintained change-point and
    seasonal-naive backtest must equal cusum_changepoint_daily_revenue /
    seasonal_naive_backtest after year-sliced micro-batch arrival of the
    orders stream, stay idempotent under replay, and respect the
    coupled-lifecycle guard."""

    def _order_chunks(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp("dailyrev_orders"))
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_totalprice")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.year("o_orderdate"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def test_stream_equals_batch_both_presentations(
            self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalDailyRevenueMaintainer,
            streaming_maintenance,
        )

        flat = self._order_chunks(spark, sf_dir, tmp_path_factory)
        maint = IncrementalDailyRevenueMaintainer(
            spark, str(tmp_path_factory.mktemp("dailyrev_state")))
        stream = file_events_source(
            spark, flat,
            schema="o_orderdate TIMESTAMP, o_totalprice DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("dailyrev_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        for current, entry in (
                (maint.current_changepoint, "cusum_changepoint_daily_revenue"),
                (maint.current_backtest, "seasonal_naive_backtest")):
            got = _rows(current(), exclude_sentinel=False)
            want = _rows(CATALOG[entry].spark(spark, sf_dir),
                         exclude_sentinel=False)
            assert got == want, entry

    def test_replay_is_idempotent(self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalDailyRevenueMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_totalprice")
        maint = IncrementalDailyRevenueMaintainer(
            spark, str(tmp_path_factory.mktemp("dailyrev_replay")))
        maint.merge_batch(orders, 0)
        maint.merge_batch(orders, 1)
        once = _rows(maint.current_changepoint(), exclude_sentinel=False)
        maint.merge_batch(orders, 1)  # crash-replay of batch 1
        assert _rows(maint.current_changepoint(),
                     exclude_sentinel=False) == once

    def test_fresh_checkpoint_against_stale_state_fails_fast(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalDailyRevenueMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderdate", "o_totalprice").limit(100)
        maint = IncrementalDailyRevenueMaintainer(
            spark, str(tmp_path_factory.mktemp("dailyrev_guard")))
        maint.merge_batch(orders, 5)
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(orders, 0)


class TestStreamingUserSpendMaintenance:
    """One per-user spend state serving the whole spend-statistics
    family (streaming/analytics_twins.py IncrementalUserSpendMaintainer):
    the maintained Gini, Welch-t, and Mann-Whitney reports must equal
    the driver-oracled batch entries after day-sliced micro-batches,
    stay idempotent under replay, and respect the lifecycle guard."""

    def test_stream_equals_batch_all_presentations(
            self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalUserSpendMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("uspend_events"))
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            ev.where(F.pmod(F.dayofmonth("ts"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalUserSpendMaintainer(
            spark, str(tmp_path_factory.mktemp("uspend_state")))
        stream = file_events_source(
            spark, flat,
            schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("uspend_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        for current, entry in (
                (maint.current_gini, "gini_spend_inequality"),
                (maint.current_welch, "welch_t_spend_ab"),
                (maint.current_mannwhitney, "mann_whitney_spend_ab")):
            got = _rows(current(), exclude_sentinel=False)
            want = _rows(CATALOG[entry].spark(spark, sf_dir),
                         exclude_sentinel=False)
            assert got == want, entry

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalUserSpendMaintainer,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        maint = IncrementalUserSpendMaintainer(
            spark, str(tmp_path_factory.mktemp("uspend_replay")))
        maint.merge_batch(ev, 0)
        maint.merge_batch(ev, 1)
        once = _rows(maint.current_gini(), exclude_sentinel=False)
        maint.merge_batch(ev, 1)  # crash-replay of batch 1
        assert _rows(maint.current_gini(),
                     exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(ev, 0)


class TestStreamingTokenFrequencyMaintenance:
    """Corpus token-frequency state serving the heavy-hitter and Zipf
    presentations (streaming/analytics_twins.py
    IncrementalTokenFrequencyMaintainer): both must equal the
    driver-oracled batch entries after corpus-sliced micro-batches —
    exact integer counts, so bit-for-bit under any interleaving."""

    def test_stream_equals_batch_both_presentations(
            self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTokenFrequencyMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("tokfreq_docs"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalTokenFrequencyMaintainer(
            spark, str(tmp_path_factory.mktemp("tokfreq_state")))
        stream = file_events_source(
            spark, flat, schema="doc_id BIGINT, text STRING",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("tokfreq_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        for current, entry in (
                (maint.current_heavy_hitters, "heavy_hitter_tokens"),
                (maint.current_zipf, "zipf_rank_frequency")):
            got = _rows(current(), exclude_sentinel=False)
            want = _rows(CATALOG[entry].spark(spark, sf_dir),
                         exclude_sentinel=False)
            assert got == want, entry

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTokenFrequencyMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        maint = IncrementalTokenFrequencyMaintainer(
            spark, str(tmp_path_factory.mktemp("tokfreq_replay")))
        maint.merge_batch(docs, 0)
        maint.merge_batch(docs, 1)
        once = _rows(maint.current_zipf(), exclude_sentinel=False)
        maint.merge_batch(docs, 1)  # crash-replay of batch 1
        assert _rows(maint.current_zipf(),
                     exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(docs, 0)


class TestStreamingTableStatsMaintenance:
    """ANALYZE-TABLE state (streaming/analytics_twins.py
    IncrementalTableStatsMaintainer): the maintained per-column
    counters/min-max/KMV report must equal the driver-oracled
    orders_column_ndv_kmv after custkey-sliced micro-batch arrival of
    the orders stream — exact integer counters and SET semantics on the
    distinct value hashes make the merged k-min sets equal the batch
    single-pass sets under any interleaving — and stay idempotent under
    replay behind the coupled-lifecycle guard."""

    _COLS = ("o_custkey", "o_orderstatus", "o_orderpriority",
             "o_totalprice")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTableStatsMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("tabstats_orders"))
        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalTableStatsMaintainer(
            spark, str(tmp_path_factory.mktemp("tabstats_state")))
        stream = file_events_source(
            spark, flat,
            schema=("o_custkey BIGINT, o_orderstatus STRING, "
                    "o_orderpriority STRING, o_totalprice DOUBLE"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("tabstats_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["orders_column_ndv_kmv"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTableStatsMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        first = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 0)
        second = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 1)
        maint = IncrementalTableStatsMaintainer(
            spark, str(tmp_path_factory.mktemp("tabstats_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingContingencyMaintenance:
    """R x C contingency state (streaming/analytics_twins.py
    IncrementalContingencyMaintainer): the maintained per-cell counts
    must reproduce the driver-oracled cramers_v_status_priority report
    exactly after custkey-sliced micro-batch arrival of the orders
    stream — counts are exact integers that sum under merge, so the
    cell frame (and every margin/total/chi-square derived from it
    through the shared cramers_report_from_cells helper) is
    bit-identical to the batch aggregate under any interleaving — and
    stay idempotent under replay behind the coupled-lifecycle guard."""

    _COLS = ("o_custkey", "o_orderstatus", "o_orderpriority")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalContingencyMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("contingency_orders"))
        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalContingencyMaintainer(
            spark, str(tmp_path_factory.mktemp("contingency_state")))
        stream = file_events_source(
            spark, flat,
            schema=("o_custkey BIGINT, o_orderstatus STRING, "
                    "o_orderpriority STRING"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("contingency_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["cramers_v_status_priority"]
                     .spark(spark, sf_dir), exclude_sentinel=False)
        assert got == want

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalContingencyMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        first = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 0)
        second = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 1)
        maint = IncrementalContingencyMaintainer(
            spark, str(tmp_path_factory.mktemp("contingency_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingHhiMaintenance:
    """Supplier-concentration state (streaming/analytics_twins.py
    IncrementalHhiMaintainer): the maintained per-(type, supplier)
    quantity partials must reproduce the driver-oracled
    supplier_hhi_by_parttype report exactly after orderkey-sliced
    micro-batch arrival of the lineitem stream — the maintainer joins
    each micro-batch to the broadcast STATIC part dimension before
    reducing (stream-static enrichment composed with the partial-merge
    scheme), and integer quantities sum under merge — and stay
    idempotent under replay behind the coupled-lifecycle guard."""

    _COLS = ("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalHhiMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("hhi_lineitem"))
        li = load_table(spark, sf_dir, "lineitem").select(*self._COLS)
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_type")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            li.where(F.pmod(F.col("l_orderkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalHhiMaintainer(
            spark, str(tmp_path_factory.mktemp("hhi_state")), part)
        stream = file_events_source(
            spark, flat,
            schema=("l_orderkey BIGINT, l_partkey BIGINT, "
                    "l_suppkey BIGINT, l_quantity DOUBLE"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("hhi_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["supplier_hhi_by_parttype"]
                     .spark(spark, sf_dir), exclude_sentinel=False)
        assert got == want

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalHhiMaintainer,
        )

        li = load_table(spark, sf_dir, "lineitem").select(*self._COLS)
        part = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_type")
        first = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 0)
        second = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 1)
        maint = IncrementalHhiMaintainer(
            spark, str(tmp_path_factory.mktemp("hhi_replay")), part)
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingSourceMixMaintenance:
    """Domain-mix state (streaming/analytics_twins.py
    IncrementalSourceMixMaintainer): the maintained per-(source, lang)
    doc/token counts must reproduce the driver-oracled
    source_mix_report exactly after doc-sliced micro-batch arrival of
    the documents stream — counts are exact integers that sum under
    merge, so the partials (and the share division the presentation
    runs on them through the shared source_mix_from_partials helper)
    are bit-identical to the batch aggregate under any interleaving —
    and stay idempotent under replay behind the coupled-lifecycle
    guard."""

    _COLS = ("doc_id", "text", "source", "lang")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalSourceMixMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("mix_docs"))
        docs = load_table(spark, sf_dir, "documents").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalSourceMixMaintainer(
            spark, str(tmp_path_factory.mktemp("mix_state")))
        stream = file_events_source(
            spark, flat,
            schema=("doc_id BIGINT, text STRING, source STRING, "
                    "lang STRING"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("mix_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["source_mix_report"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalSourceMixMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents").select(*self._COLS)
        first = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        second = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        maint = IncrementalSourceMixMaintainer(
            spark, str(tmp_path_factory.mktemp("mix_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestBoundedTokenFrequencyMaintenance:
    """Fixed-memory heavy hitters (streaming/analytics_twins.py
    BoundedTokenFrequencyMaintainer): the CMS sketch is LINEAR, so the
    merged sketch must equal the single-pass sketch bit-for-bit; every
    candidate estimate carries the one-sided CMS guarantee
    (estimate >= true count); the true heavy hitters must be recalled
    both on the real corpus and on a planted 2000-token Zipf corpus
    whose vocabulary exceeds the candidate bound (real eviction); and
    state stays at depth*width + K rows regardless of vocabulary."""

    def test_sketch_merge_equals_single_pass_and_one_sided(
            self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.operators.cms import (
            cms_build,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
            normalized_text,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.llm_pipeline import (
            heavy_hitters_from_freq,
            token_freq_from_docs,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedTokenFrequencyMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents")
        maint = BoundedTokenFrequencyMaintainer(
            spark, str(tmp_path_factory.mktemp("btf_state")))
        for i in range(3):
            maint.merge_batch(
                docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)

        # CMS linearity: merged sketch == single-pass sketch, bit-for-bit
        toks = (docs.select(
            F.explode(F.split(normalized_text("text"), " ")).alias("token"))
            .where(F.col("token") != ""))
        single = {(r.r, r.bucket): r.n for r in cms_build(
            toks, depth=maint.depth, width=maint.width).collect()}
        merged = {(r.r, r.bucket): r.n
                  for r in maint.sketch.current().collect()}
        assert merged == single

        # one-sided guarantee + full recall of the true heavy hitters
        truth = {r.token: r.n for r in token_freq_from_docs(docs).collect()}
        cand = {r.token: r.n for r in maint.cand.current().collect()}
        assert all(cand[t] >= truth.get(t, 0) for t in cand)
        true_top = [r.token for r in heavy_hitters_from_freq(
            token_freq_from_docs(docs)).collect()]
        got_top = [r.token for r in maint.current_heavy_hitters().collect()]
        assert set(true_top) <= set(got_top) | set(cand)
        recall = len(set(true_top) & set(got_top)) / len(true_top)
        assert recall >= 0.9
        # bounded state
        assert maint.sketch.current().count() <= maint.depth * maint.width
        assert len(cand) <= maint.k

    def test_planted_zipf_vocabulary_larger_than_pool(
            self, spark, tmp_path_factory):
        """2000 distinct tokens vs a 400-token pool: eviction is real,
        and the planted top-50 (counts 6000/j) must still surface with
        one-sided estimates."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedTokenFrequencyMaintainer,
        )

        rows = []
        doc_id = 0
        for j in range(1, 2001):
            cnt = 6000 // j
            if cnt == 0:
                continue
            per = max(1, cnt // 3)
            left = cnt
            for s in range(3):
                take = per if s < 2 else left
                if take <= 0:
                    break
                rows.append((doc_id, " ".join([f"tok{j:04d}"] * take)))
                doc_id += 1
                left -= take
        docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        maint = BoundedTokenFrequencyMaintainer(
            spark, str(tmp_path_factory.mktemp("btf_zipf")))
        for i in range(3):
            maint.merge_batch(
                docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i), i)
        cand = {r.token: r.n for r in maint.cand.current().collect()}
        assert len(cand) == maint.k  # pool saturated: eviction happened
        top50 = {r.token for r in maint.current_heavy_hitters().collect()}
        planted = {f"tok{j:04d}" for j in range(1, 51)}
        # every planted hitter must be in the pool; at least 45/50 in
        # the top-50 by estimate (collision mass can promote a few
        # lighter tokens past the tail of the true top-50)
        assert planted <= set(cand)
        assert len(planted & top50) >= 45
        for j in range(1, 51):
            assert cand[f"tok{j:04d}"] >= 6000 // j  # one-sided

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedTokenFrequencyMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents")
        first = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        second = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        maint = BoundedTokenFrequencyMaintainer(
            spark, str(tmp_path_factory.mktemp("btf_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once_sketch = _rows(maint.sketch.current(), exclude_sentinel=False)
        once_cand = _rows(maint.cand.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.sketch.current(),
                     exclude_sentinel=False) == once_sketch
        assert _rows(maint.cand.current(),
                     exclude_sentinel=False) == once_cand
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingQuantileMaintenance:
    """Mergeable quantile state (streaming/analytics_twins.py
    BoundedQuantileMaintainer, maintainer #15): the maintained
    per-priority bottom-k-by-hash sample must reproduce the sample half
    of the driver-oracled sampled_median_audit exactly after
    custkey-sliced micro-batch arrival of the orders stream — the k
    smallest (hash, cents, okey) triples of a union of bottom-k sets
    are the k smallest of the union, so the merged sample (hence the
    sample median) is bit-identical to the batch single-pass state
    under any interleaving — and stay idempotent under replay behind
    the coupled-lifecycle guard, with the state array bounded at k."""

    _COLS = ("o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            median_report_from_price_sample_state,
            orders_price_sample_state,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedQuantileMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("quantile_orders"))
        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = BoundedQuantileMaintainer(
            spark, str(tmp_path_factory.mktemp("quantile_state")))
        stream = file_events_source(
            spark, flat,
            schema=("o_custkey BIGINT, o_orderkey BIGINT, "
                    "o_orderpriority STRING, o_totalprice DOUBLE"),
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("quantile_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(median_report_from_price_sample_state(
            orders_price_sample_state(orders)), exclude_sentinel=False)
        assert got == want
        # and the presentation IS the sample half of the driver-oracled
        # audit entry (same helpers — one code path)
        audit = {r["o_orderpriority"]:
                 (r["n_orders"], r["sample_median_cents"])
                 for r in CATALOG["sampled_median_audit"]
                 .spark(spark, sf_dir).collect()}
        assert {r["o_orderpriority"]:
                (r["n_orders"], r["sample_median_cents"])
                for r in maint.current().collect()} == audit
        # state bound: the sample array never exceeds k
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            PRICE_SAMPLE_K,
        )
        sizes = (maint.state.current()
                 .select(F.size("sample").alias("s")).collect())
        assert all(r["s"] <= PRICE_SAMPLE_K for r in sizes)

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedQuantileMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        first = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 0)
        second = orders.where(F.pmod(F.col("o_custkey"), F.lit(2)) == 1)
        maint = BoundedQuantileMaintainer(
            spark, str(tmp_path_factory.mktemp("quantile_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestStreamingSetMembershipMaintenance:
    """Epoch set-membership state (streaming/analytics_twins.py
    IncrementalSetMembershipMaintainer, maintainer #16): the maintained
    per-customer (in_a, in_b) bits must reproduce the driver-oracled
    kmv_set_difference_audit exactly after custkey-sliced micro-batch
    arrival of the orders stream — bits OR under merge (max is
    idempotent and commutative), so the membership frame and every
    sketch estimate / exact count derived from it through the shared
    set_difference_report_from_membership are bit-identical to the
    batch aggregate under any interleaving — and stay idempotent under
    replay behind the coupled-lifecycle guard."""

    _COLS = ("o_custkey", "o_orderdate")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalSetMembershipMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("setmember_orders"))
        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalSetMembershipMaintainer(
            spark, str(tmp_path_factory.mktemp("setmember_state")))
        stream = file_events_source(
            spark, flat,
            schema="o_custkey BIGINT, o_orderdate TIMESTAMP",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("setmember_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["kmv_set_difference_audit"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want

    def test_bits_or_under_epoch_straddling_batches(self, spark, sf_dir,
                                                    tmp_path_factory):
        """The interleaving the bit-OR exists for: a customer whose 1996
        orders arrive in one batch and whose 1997 orders arrive in
        another must end (1,1) — plus replay idempotence and the
        lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalSetMembershipMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        y96 = orders.where((F.col("o_orderdate") >= "1996-01-01")
                           & (F.col("o_orderdate") < "1997-01-01"))
        rest = orders.where((F.col("o_orderdate") < "1996-01-01")
                            | (F.col("o_orderdate") >= "1997-01-01"))
        maint = IncrementalSetMembershipMaintainer(
            spark, str(tmp_path_factory.mktemp("setmember_straddle")))
        maint.merge_batch(y96, 0)   # every state row is (1, 0) now
        state0 = maint.state.current()
        assert state0.where(F.col("in_b") == 1).count() == 0
        maint.merge_batch(rest, 1)  # 1997 arrivals must OR into (1, 1)
        from windowsession_using_kafka_flink_docker_spark.plans.relational import (
            order_epoch_membership,
        )
        want = _rows(order_epoch_membership(orders), exclude_sentinel=False)
        got = _rows(maint.state.current(), exclude_sentinel=False)
        assert got == want
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(rest, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(y96, 0)


class TestStreamingRankTestMaintenance:
    """Rank-test counts state (streaming/analytics_twins.py
    IncrementalRankTestMaintainer, maintainer #17): per-(segment, arm,
    cents) exact order counts — the value-domain-bounded sufficient
    statistic of the Mann-Whitney/BH-FDR family — must reproduce the
    driver-oracled bh_fdr_segment_spend exactly after custkey-sliced
    micro-batch arrival of the orders stream. Counts ADD under merge,
    so the maintained frame and the full report derived through the
    shared bh_fdr_report_from_counts are bit-identical to the batch
    aggregate under any interleaving; replay stays idempotent behind
    the coupled-lifecycle guard, and state stays bounded by
    |segments| x 2 x |price grid|."""

    _COLS = ("o_custkey", "o_orderkey", "o_totalprice")

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRankTestMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("ranktest_orders"))
        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        customer = load_table(spark, sf_dir, "customer")
        maint = IncrementalRankTestMaintainer(
            spark, str(tmp_path_factory.mktemp("ranktest_state")), customer)
        stream = file_events_source(
            spark, flat,
            schema="o_custkey BIGINT, o_orderkey BIGINT, "
                   "o_totalprice DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("ranktest_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["bh_fdr_segment_spend"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want
        # state bound: |segments| x 2 arms x |distinct cents|
        state = maint.state.current()
        n_seg = state.select("seg").distinct().count()
        n_cents = state.select("cents").distinct().count()
        assert state.count() <= n_seg * 2 * n_cents

    def test_counts_add_across_batches_replay_and_guard(
            self, spark, sf_dir, tmp_path_factory):
        """The interleaving the additive counts exist for: orders with
        the SAME (segment, cents) cell arriving in different batches
        must sum into one cell — plus replay idempotence and the
        lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            armed_rank_counts,
            armed_segment_spend,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRankTestMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(*self._COLS)
        customer = load_table(spark, sf_dir, "customer")
        even = orders.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == 0)
        odd = orders.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == 1)
        maint = IncrementalRankTestMaintainer(
            spark, str(tmp_path_factory.mktemp("ranktest_split")), customer)
        maint.merge_batch(even, 0)
        maint.merge_batch(odd, 1)
        want_state = _rows(
            armed_rank_counts(armed_segment_spend(orders, customer)),
            exclude_sentinel=False)
        got_state = _rows(maint.state.current(), exclude_sentinel=False)
        assert got_state == want_state
        want = _rows(CATALOG["bh_fdr_segment_spend"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        once = _rows(maint.current(), exclude_sentinel=False)
        assert once == want
        maint.merge_batch(odd, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(even, 0)


class TestStreamingOrderCountMaintenance:
    """Per-customer order-count state (streaming/analytics_twins.py
    IncrementalOrderCountMaintainer, maintainer #18): exact counts ADD
    under merge, so after custkey-sliced micro-batch arrival the
    maintained counts — and the Q13 distribution derived through the
    shared order_distribution_from_counts, INCLUDING the zero-order
    bucket the static customer left-join restores — must equal the
    driver-oracled q13_customer_order_distribution; replay idempotent
    behind the lifecycle guard; state bounded by the customer key
    space."""

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalOrderCountMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("ocount_orders"))
        orders = load_table(spark, sf_dir, "orders") \
            .select("o_custkey", "o_orderkey")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            orders.where(F.pmod(F.col("o_custkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        customer = load_table(spark, sf_dir, "customer")
        maint = IncrementalOrderCountMaintainer(
            spark, str(tmp_path_factory.mktemp("ocount_state")), customer)
        stream = file_events_source(
            spark, flat,
            schema="o_custkey BIGINT, o_orderkey BIGINT",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("ocount_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(
            CATALOG["q13_customer_order_distribution"].spark(spark, sf_dir),
            exclude_sentinel=False)
        assert got == want
        # state bounded by customers that have ordered
        assert maint.state.current().count() <= customer.count()

    def test_same_customer_across_batches_replay_and_guard(
            self, spark, sf_dir, tmp_path_factory):
        """The interleaving additive counts exist for: a customer whose
        orders arrive in different batches must end with the SUMMED
        count (and move buckets in the distribution) — plus replay
        idempotence and the lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            order_counts_per_customer,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalOrderCountMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders") \
            .select("o_custkey", "o_orderkey")
        customer = load_table(spark, sf_dir, "customer")
        even = orders.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == 0)
        odd = orders.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == 1)
        maint = IncrementalOrderCountMaintainer(
            spark, str(tmp_path_factory.mktemp("ocount_split")), customer)
        maint.merge_batch(even, 0)
        partial = dict(maint.state.current().collect())
        maint.merge_batch(odd, 1)
        want_state = _rows(order_counts_per_customer(orders),
                           exclude_sentinel=False)
        got_state = _rows(maint.state.current(), exclude_sentinel=False)
        assert got_state == want_state
        # at least one customer's count actually grew across the batches
        final = dict(maint.state.current().collect())
        assert any(final[k] > v for k, v in partial.items()
                   if k in final)
        want = _rows(
            CATALOG["q13_customer_order_distribution"].spark(spark, sf_dir),
            exclude_sentinel=False)
        once = _rows(maint.current(), exclude_sentinel=False)
        assert once == want
        maint.merge_batch(odd, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(even, 0)


class TestStreamingProfitMaintenance:
    """Q9-profit state (streaming/analytics_twins.py
    IncrementalProfitMaintainer, maintainer #19): exact BIGINT e-4
    profit partials per (supplier nation, order year) ADD under merge,
    so after orderkey-sliced micro-batch arrival the maintained frame —
    computed batch-by-batch through the batch entry's own
    q9_profit_partials with the part/supplier/nation/orders statics —
    must equal the driver-oracled q9_product_type_profit bit-for-bit;
    replay idempotent behind the lifecycle guard; state bounded by the
    nation x year grid."""

    _LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                "l_extendedprice", "l_discount"]

    def _statics(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        return (load_table(spark, sf_dir, "part"),
                load_table(spark, sf_dir, "supplier"),
                load_table(spark, sf_dir, "nation"),
                load_table(spark, sf_dir, "orders"))

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalProfitMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("profit_li"))
        li = load_table(spark, sf_dir, "lineitem").select(*self._LI_COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"s{i}")
            li.where(F.pmod(F.col("l_orderkey"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        part, sup, nat, od = self._statics(spark, sf_dir)
        maint = IncrementalProfitMaintainer(
            spark, str(tmp_path_factory.mktemp("profit_state")),
            part, sup, nat, od)
        stream = file_events_source(
            spark, flat,
            schema="l_orderkey BIGINT, l_partkey BIGINT, "
                   "l_suppkey BIGINT, l_quantity DOUBLE, "
                   "l_extendedprice DOUBLE, l_discount DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("profit_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(
            CATALOG["q9_product_type_profit"].spark(spark, sf_dir),
            exclude_sentinel=False)
        assert got == want
        # state bounded by the nation x year grid
        nyears = maint.state.current()
        assert nyears.count() <= nat.count() * \
            od.select(F.year("o_orderdate")).distinct().count()

    def test_cross_batch_growth_replay_and_guard(
            self, spark, sf_dir, tmp_path_factory):
        """A (nation, year) cell whose line items arrive in different
        batches must end with the SUMMED profit — plus replay
        idempotence and the lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
            q9_profit_partials,
        )
        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.sources.batch import (
            load_table,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalProfitMaintainer,
        )

        li = load_table(spark, sf_dir, "lineitem").select(*self._LI_COLS)
        part, sup, nat, od = self._statics(spark, sf_dir)
        even = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 0)
        odd = li.where(F.pmod(F.col("l_orderkey"), F.lit(2)) == 1)
        maint = IncrementalProfitMaintainer(
            spark, str(tmp_path_factory.mktemp("profit_split")),
            part, sup, nat, od)
        maint.merge_batch(even, 0)
        partial = {(r["n_name"], r["o_year"]): r["profit_e4"]
                   for r in maint.state.current().collect()}
        maint.merge_batch(odd, 1)
        want_state = _rows(q9_profit_partials(li, part, sup, nat, od),
                           exclude_sentinel=False)
        got_state = _rows(maint.state.current(), exclude_sentinel=False)
        assert got_state == want_state
        # at least one cell's partial actually changed across batches
        final = {(r["n_name"], r["o_year"]): r["profit_e4"]
                 for r in maint.state.current().collect()}
        assert any(final[k] != v for k, v in partial.items()
                   if k in final)
        want = _rows(
            CATALOG["q9_product_type_profit"].spark(spark, sf_dir),
            exclude_sentinel=False)
        once = _rows(maint.current(), exclude_sentinel=False)
        assert once == want
        maint.merge_batch(odd, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(even, 0)


class TestStreamingTrendMaintenance:
    """Per-user OLS-trend state (streaming/analytics_twins.py
    IncrementalTrendMaintainer, maintainer #20): the per-(user, day)
    daily-cents grid ADDs under merge — the sufficient statistics do
    NOT (a split day breaks Sxy) — so after minute-sliced micro-batches
    that deliberately split single days across batches, the maintained
    regression report must equal the driver-oracled grouped_ols_trend
    bit-for-bit; replay idempotent behind the lifecycle guard; state
    bounded by |users| x |days|."""

    def test_stream_equals_batch_with_split_days(
            self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTrendMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("trend_events"))
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        # minute-parity slices: the SAME (user, day) cell arrives in
        # several batches — the interleaving the grid state exists for
        for i in range(3):
            d = os.path.join(base, f"m{i}")
            ev.where(F.pmod(F.minute("ts"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalTrendMaintainer(
            spark, str(tmp_path_factory.mktemp("trend_state")))
        stream = file_events_source(
            spark, flat,
            schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("trend_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        # ONE grid state serves all three driver-oracled reports
        for current, entry in (
                (maint.current, "grouped_ols_trend"),
                (maint.current_acf, "spend_autocorrelation"),
                (maint.current_theil_sen, "theil_sen_trend"),
                (maint.current_mann_kendall, "mann_kendall_trend")):
            got = _rows(current(), exclude_sentinel=False)
            want = _rows(CATALOG[entry].spark(spark, sf_dir),
                         exclude_sentinel=False)
            assert got == want, entry
        # state bounded by the user x day grid
        grid = maint.state.current()
        n_users = ev.select("user_id").distinct().count()
        n_days = ev.select(F.to_date("ts")).distinct().count()
        assert grid.count() <= n_users * n_days

    def test_day_split_growth_replay_and_guard(
            self, spark, sf_dir, tmp_path_factory):
        """A (user, day) cell whose events arrive in different batches
        must end with the SUMMED daily cents — the case where
        maintaining the six sufficient statistics directly would be
        WRONG — plus replay idempotence and the lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalTrendMaintainer,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        even = ev.where(F.pmod(F.minute("ts"), F.lit(2)) == 0)
        odd = ev.where(F.pmod(F.minute("ts"), F.lit(2)) == 1)
        maint = IncrementalTrendMaintainer(
            spark, str(tmp_path_factory.mktemp("trend_split")))
        maint.merge_batch(even, 0)
        partial = {(r["user_id"], r["x"]): r["y"]
                   for r in maint.state.current().collect()}
        maint.merge_batch(odd, 1)
        final = {(r["user_id"], r["x"]): r["y"]
                 for r in maint.state.current().collect()}
        # at least one daily cell actually accumulated across batches
        # (state is exact BIGINT cents, so plain integer inequality)
        assert any(final[k] != v for k, v in partial.items()
                   if k in final)
        want = _rows(CATALOG["grouped_ols_trend"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        once = _rows(maint.current(), exclude_sentinel=False)
        assert once == want
        maint.merge_batch(odd, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(even, 0)


class TestStreamingCupedMaintenance:
    """CUPED unit state (streaming/analytics_twins.py
    IncrementalCupedMaintainer, maintainer #21): per-customer pre/post
    epoch cents ADD under merge, so after custkey- and epoch-straddling
    micro-batches the maintained per-arm CUPED report must equal the
    driver-oracled cuped_adjusted_ab bit-for-bit; replay idempotent
    behind the lifecycle guard; state bounded by the customer key
    space."""

    _COLS = ["o_custkey", "o_orderdate", "o_totalprice"]

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalCupedMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("cuped_orders"))
        od = load_table(spark, sf_dir, "orders").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        # slice by month so the SAME customer's 1996 and 1997 orders
        # land in different batches — the interleaving the epoch-sum
        # state exists for
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            od.where(F.pmod(F.month("o_orderdate"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalCupedMaintainer(
            spark, str(tmp_path_factory.mktemp("cuped_state")))
        stream = file_events_source(
            spark, flat,
            schema="o_custkey BIGINT, o_orderdate TIMESTAMP, "
                   "o_totalprice DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("cuped_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["cuped_adjusted_ab"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want
        # state bounded by the customer key space
        assert maint.state.current().count() <= \
            od.select("o_custkey").distinct().count()

    def test_epoch_straddle_replay_and_guard(self, spark, sf_dir,
                                             tmp_path_factory):
        """A customer whose 1996 orders arrive in one batch and 1997
        orders in another must end with BOTH epoch sums populated —
        plus replay idempotence and the lifecycle guard."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalCupedMaintainer,
        )

        od = load_table(spark, sf_dir, "orders").select(*self._COLS)
        pre = od.where(F.year("o_orderdate") != 1997)
        post = od.where(F.year("o_orderdate") == 1997)
        maint = IncrementalCupedMaintainer(
            spark, str(tmp_path_factory.mktemp("cuped_split")))
        maint.merge_batch(pre, 0)
        after0 = {r["custkey"]: r for r in maint.state.current().collect()}
        assert after0 and all(r["y"] == 0 for r in after0.values())
        maint.merge_batch(post, 1)
        final = {r["custkey"]: r for r in maint.state.current().collect()}
        straddlers = [k for k, r in final.items()
                      if r["x"] > 0 and r["y"] > 0]
        assert straddlers, "no customer straddles both epochs at this sf"
        want = _rows(CATALOG["cuped_adjusted_ab"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        once = _rows(maint.current(), exclude_sentinel=False)
        assert once == want
        maint.merge_batch(post, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(pre, 0)


class TestStreamingFeatureMomentsMaintenance:
    """256-row feature-moment state (streaming/analytics_twins.py
    IncrementalFeatureMomentsMaintainer, maintainer #22): count / sum /
    sum-of-squares per hash bucket ADD under document-sliced merge, so
    after doc-sliced micro-batches the maintained standardization
    report must equal the driver-oracled feature_bucket_moments
    bit-for-bit; replay idempotent behind the lifecycle guard; state
    hard-bounded by the 256 hash dimensions."""

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalFeatureMomentsMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("fmom_docs"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalFeatureMomentsMaintainer(
            spark, str(tmp_path_factory.mktemp("fmom_state")))
        stream = file_events_source(
            spark, flat, schema="doc_id BIGINT, text STRING",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("fmom_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["feature_bucket_moments"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want
        assert maint.state.current().count() <= 256  # hard dimension bound

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalFeatureMomentsMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        even = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        odd = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        maint = IncrementalFeatureMomentsMaintainer(
            spark, str(tmp_path_factory.mktemp("fmom_replay")))
        maint.merge_batch(even, 0)
        n0 = {r["bucket"]: r["n"] for r in maint.state.current().collect()}
        maint.merge_batch(odd, 1)
        n1 = {r["bucket"]: r["n"] for r in maint.state.current().collect()}
        # cells accumulated across batches in at least one bucket
        assert any(n1[b] > n for b, n in n0.items() if b in n1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(odd, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(even, 0)


class TestBottomKMergeAlgebra:
    """Pure-model hypothesis pins for the two new mergeable states: the
    Spark-side equivalences are pinned on real data by the input-split
    and stream==batch tests; these sweep the ALGEBRA itself over random
    partitionings and merge orders."""

    def test_bottom_k_merge_invariant_to_partitioning_and_order(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        K = 7

        @settings(max_examples=300, deadline=None)
        @given(st.lists(st.tuples(st.integers(0, 50), st.integers(0, 9),
                                  st.integers(0, 10**6)),
                        max_size=60, unique=True),
               st.lists(st.integers(0, 4), max_size=60),
               st.randoms())
        def check(triples, splits, rnd):
            want = sorted(triples)[:K]
            parts: dict[int, list] = {}
            for i, t in enumerate(triples):
                parts.setdefault(splits[i] if i < len(splits) else 0,
                                 []).append(t)
            partials = [sorted(p)[:K] for p in parts.values()]
            rnd.shuffle(partials)  # merge order must not matter
            merged: list = []
            for p in partials:  # pairwise left fold, arbitrary order
                merged = sorted(merged + p)[:K]
            assert merged == want, (triples, splits)

        check()

    def test_membership_bit_or_invariant_to_batching(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None)
        @given(st.lists(st.tuples(st.integers(0, 9), st.booleans(),
                                  st.booleans()), max_size=60),
               st.lists(st.integers(0, 4), max_size=60))
        def check(events, splits):
            # single pass: per-key OR over all events
            want: dict[int, tuple[bool, bool]] = {}
            for k, a, b in events:
                pa, pb = want.get(k, (False, False))
                want[k] = (pa or a, pb or b)
            want = {k: v for k, v in want.items() if v[0] or v[1]}
            # batched: reduce each batch, then OR-merge states
            batches: dict[int, list] = {}
            for i, e in enumerate(events):
                batches.setdefault(splits[i] if i < len(splits) else 0,
                                   []).append(e)
            state: dict[int, tuple[bool, bool]] = {}
            for batch in batches.values():
                delta: dict[int, tuple[bool, bool]] = {}
                for k, a, b in batch:
                    pa, pb = delta.get(k, (False, False))
                    delta[k] = (pa or a, pb or b)
                for k, (a, b) in delta.items():
                    if not (a or b):
                        continue
                    pa, pb = state.get(k, (False, False))
                    state[k] = (pa or a, pb or b)
            state = {k: v for k, v in state.items() if v[0] or v[1]}
            assert state == want, (events, splits)

        check()


class TestStreamingJpegFingerprintMaintenance:
    """JPEG aHash chunk-bucket membership state (streaming/
    analytics_twins.py IncrementalJpegFingerprintMaintainer, maintainer
    #23 — the multimodal family's first incremental twin): after
    doc-sliced micro-batches the maintained membership must present the
    driver-oracled jpeg_hamming_neardups pair report exactly (through
    the shared hamming_pairs_from_sides helper), the merge is set-union
    (idempotent under replay by construction), and state stays at
    exactly 4 slim rows per document — the codec runs once per doc
    ever."""

    _COLS = ("doc_id",)

    def test_stream_equals_batch(self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJpegFingerprintMaintainer,
            streaming_maintenance,
        )

        base = str(tmp_path_factory.mktemp("jpeg_docs"))
        docs = load_table(spark, sf_dir, "documents").select(*self._COLS)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        # doc-sliced batches: near-dup partners (doc_hi - doc_lo is a
        # multiple of 256 for planted same-content pairs) land in
        # DIFFERENT batches under %3 slicing, so the pair join must
        # genuinely span batch boundaries through the maintained state
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalJpegFingerprintMaintainer(
            spark, str(tmp_path_factory.mktemp("jpeg_state")))
        stream = file_events_source(
            spark, flat, schema="doc_id BIGINT", max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("jpeg_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev
        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(CATALOG["jpeg_hamming_neardups"].spark(spark, sf_dir),
                     exclude_sentinel=False)
        assert got == want
        assert len(got) > 0, "pair report must be non-vacuous"
        # state: exactly 4 chunk rows per document
        assert maint.state.current().count() == 4 * docs.count()

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalJpegFingerprintMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents").select(*self._COLS)
        first = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
        second = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        maint = IncrementalJpegFingerprintMaintainer(
            spark, str(tmp_path_factory.mktemp("jpeg_replay")))
        maint.merge_batch(first, 0)
        maint.merge_batch(second, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(second, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(first, 0)


class TestMaintainerStatePersistence:
    """Persistence roundtrip (r12 VERDICT item 5): maintainer state is
    versioned parquet, so (a) a SAME-DIR restart — a fresh maintainer
    instance over the surviving state_dir — resumes for free, and (b)
    the export_to/import_from pair snapshots the newest version to a
    durable location and restores it into a fresh state_dir, carrying
    the batch version so the guard's monotonicity holds. Either way a
    restart at 100 TB re-reads the bounded state, never the fact
    table. Pinned for three representative maintainers: #15
    bounded-quantile (bottom-k sample state), #20 trend grid (BIGINT
    cents), #22 feature moments (DECIMAL sum-of-squares); the
    continued run must be BIT-IDENTICAL to an uninterrupted one."""

    def _cases(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedQuantileMaintainer,
            IncrementalFeatureMomentsMaintainer,
            IncrementalJpegFingerprintMaintainer,
            IncrementalTrendMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice")
        events = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        docs = load_table(spark, sf_dir, "documents")
        return [
            ("quantile", BoundedQuantileMaintainer, orders, "o_custkey"),
            ("trend", IncrementalTrendMaintainer, events, "user_id"),
            ("moments", IncrementalFeatureMomentsMaintainer, docs,
             "doc_id"),
            # #23 is the fleet's LARGEST state (4 rows per doc) — the
            # restore path that matters most at 100 TB, and the one
            # whose re-seed would be costliest (full codec re-run)
            ("jpeg", IncrementalJpegFingerprintMaintainer,
             docs.select("doc_id"), "doc_id"),
        ]

    def test_kill_restore_continue_bit_identical(self, spark, sf_dir,
                                                 tmp_path_factory):
        for label, cls, frame, key in self._cases(spark, sf_dir):
            slices = [frame.where(F.pmod(F.col(key), F.lit(3)) == i)
                      for i in range(3)]

            # uninterrupted reference: batches 0, 1, 2 in one life
            ref = cls(spark, str(tmp_path_factory.mktemp(f"{label}_ref")))
            for i, sl in enumerate(slices):
                ref.merge_batch(sl, i)
            want = _rows(ref.current(), exclude_sentinel=False)

            # killed after batch 1, snapshot exported, fresh dir
            # restored, batch 2 continues
            first = cls(spark, str(tmp_path_factory.mktemp(f"{label}_a")))
            first.merge_batch(slices[0], 0)
            first.merge_batch(slices[1], 1)
            snap = str(tmp_path_factory.mktemp(f"{label}_snap"))
            assert first.state.export_to(snap) == 1
            del first  # the process is gone; only the snapshot survives

            revived = cls(spark, str(tmp_path_factory.mktemp(f"{label}_b")))
            assert revived.state.import_from(snap) == 1
            revived.merge_batch(slices[2], 2)
            assert _rows(revived.current(),
                         exclude_sentinel=False) == want, label

    def test_session_store_kill_restore_continue(self, spark, sf_dir,
                                                 tmp_path_factory):
        """Maintainer #24 joins the matrix with CHRONOLOGICAL slices —
        the pmod-by-key slicing above would put each user in exactly
        one batch and never exercise the tail merge the snapshot must
        carry (a session open at the export boundary has to keep
        extending after the restore)."""
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalSessionStoreMaintainer as cls,
        )

        events = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        slices = _chrono_day_slices(events)

        ref = cls(spark, str(tmp_path_factory.mktemp("sess_ref")))
        for i, sl in enumerate(slices):
            ref.merge_batch(sl, i)
        want = _rows(ref.current(), exclude_sentinel=False)

        first = cls(spark, str(tmp_path_factory.mktemp("sess_a")))
        first.merge_batch(slices[0], 0)
        first.merge_batch(slices[1], 1)
        snap = str(tmp_path_factory.mktemp("sess_snap"))
        # maintainer-level export: the store is tail + frozen (r17
        # split); a tail-only state.export_to would silently drop
        # every frozen session
        assert first.export_to(snap) == 1
        del first

        revived = cls(spark, str(tmp_path_factory.mktemp("sess_b")))
        assert revived.import_from(snap) == 1
        revived.merge_batch(slices[2], 2)
        assert _rows(revived.current(), exclude_sentinel=False) == want

    def test_same_dir_restart_resumes(self, spark, sf_dir,
                                      tmp_path_factory):
        label, cls, frame, key = self._cases(spark, sf_dir)[1]
        state_dir = str(tmp_path_factory.mktemp("trend_restart"))
        slices = [frame.where(F.pmod(F.col(key), F.lit(3)) == i)
                  for i in range(3)]
        a = cls(spark, state_dir)
        a.merge_batch(slices[0], 0)
        a.merge_batch(slices[1], 1)
        del a
        b = cls(spark, state_dir)  # restart over the surviving dir
        b.merge_batch(slices[2], 2)
        ref = cls(spark, str(tmp_path_factory.mktemp("trend_restart_ref")))
        for i, sl in enumerate(slices):
            ref.merge_batch(sl, i)
        assert (_rows(b.current(), exclude_sentinel=False)
                == _rows(ref.current(), exclude_sentinel=False))

    def test_import_into_stale_dir_is_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        label, cls, frame, key = self._cases(spark, sf_dir)[0]
        donor = cls(spark, str(tmp_path_factory.mktemp("snap_donor")))
        donor.merge_batch(frame, 0)
        snap = str(tmp_path_factory.mktemp("snap_dir"))
        donor.state.export_to(snap)
        target = cls(spark, str(tmp_path_factory.mktemp("snap_target")))
        target.merge_batch(frame, 5)  # newer than the snapshot
        with pytest.raises(ValueError, match="reset together"):
            target.state.import_from(snap)


class TestStateSchemaStamp:
    """Round-13 review finding: resuming or importing state written
    under a DIFFERENT maintainer schema must ERROR — spark.read.schema
    silently projects missing columns to NULL, so a schema drift (like
    r13's own trend-state `_sum DOUBLE` -> `y BIGINT` migration) would
    otherwise corrupt every carried cell without a trace."""

    def test_same_dir_resume_with_drifted_schema_raises(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        d = str(tmp_path_factory.mktemp("stamp_dir"))
        old = _VersionedState(spark, d, "user_id BIGINT, _sum DOUBLE")
        old.write(0, spark.createDataFrame(
            [(1, 2.0)], "user_id BIGINT, _sum DOUBLE"))
        with pytest.raises(ValueError, match="does not match"):
            _VersionedState(spark, d, "user_id BIGINT, x INT, y BIGINT")

    def test_import_with_drifted_schema_raises(self, spark, sf_dir,
                                               tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        donor = _VersionedState(
            spark, str(tmp_path_factory.mktemp("stamp_donor")),
            "user_id BIGINT, _sum DOUBLE")
        donor.write(0, spark.createDataFrame(
            [(1, 2.0)], "user_id BIGINT, _sum DOUBLE"))
        snap = str(tmp_path_factory.mktemp("stamp_snap"))
        donor.export_to(snap)
        target = _VersionedState(
            spark, str(tmp_path_factory.mktemp("stamp_target")),
            "user_id BIGINT, y BIGINT")
        with pytest.raises(ValueError, match="does not match"):
            target.import_from(snap)

    def test_matching_schema_resumes_clean(self, spark, sf_dir,
                                           tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        d = str(tmp_path_factory.mktemp("stamp_ok"))
        a = _VersionedState(spark, d, "user_id BIGINT, y BIGINT")
        a.write(0, spark.createDataFrame([(1, 5)],
                                         "user_id BIGINT, y BIGINT"))
        b = _VersionedState(spark, d, "user_id BIGINT, y BIGINT")
        assert [r.y for r in b.current().collect()] == [5]

    # -- r13 ADVICE: the missing-stamp hole ----------------------------
    # Every pre-stamp state_dir has data but no _schema.txt; the guard
    # used to pass silently, a schema.read would NULL the carried cells,
    # and the next write() would stamp the NEW schema over the wreck.

    def test_unstamped_dir_with_drifted_footer_raises(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        d = str(tmp_path_factory.mktemp("nostamp_drift"))
        old = _VersionedState(spark, d, "user_id BIGINT, _sum DOUBLE")
        old.write(0, spark.createDataFrame(
            [(1, 2.0)], "user_id BIGINT, _sum DOUBLE"))
        os.remove(os.path.join(d, "_schema.txt"))  # pre-stamp-era dir
        with pytest.raises(ValueError, match="parquet footer"):
            _VersionedState(spark, d, "user_id BIGINT, y BIGINT")

    def test_unstamped_dir_with_matching_footer_legalizes(
            self, spark, sf_dir, tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        d = str(tmp_path_factory.mktemp("nostamp_ok"))
        a = _VersionedState(spark, d, "user_id BIGINT, y BIGINT")
        a.write(0, spark.createDataFrame([(1, 5)],
                                         "user_id BIGINT, y BIGINT"))
        os.remove(os.path.join(d, "_schema.txt"))
        b = _VersionedState(spark, d, "user_id BIGINT, y BIGINT")
        assert [r.y for r in b.current().collect()] == [5]
        # the footer-verified dir is re-stamped so later opens are cheap
        assert os.path.exists(os.path.join(d, "_schema.txt"))

    def test_import_missing_snapshot_stamp_raises(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        donor = _VersionedState(
            spark, str(tmp_path_factory.mktemp("torn_donor")),
            "user_id BIGINT, y BIGINT")
        donor.write(0, spark.createDataFrame(
            [(1, 5)], "user_id BIGINT, y BIGINT"))
        snap = str(tmp_path_factory.mktemp("torn_snap"))
        donor.export_to(snap)
        os.remove(os.path.join(snap, "_schema.txt"))  # torn pre-fix export
        target = _VersionedState(
            spark, str(tmp_path_factory.mktemp("torn_target")),
            "user_id BIGINT, y BIGINT")
        with pytest.raises(ValueError, match="no _schema.txt"):
            target.import_from(snap)

    def test_export_interrupted_after_stamp_is_rejected(
            self, spark, sf_dir, tmp_path_factory):
        """Stamp-before-data write order: an export killed between the
        stamp and the parquet write leaves a snapshot import_from
        rejects (no _SUCCESS version), never one it adopts unverified."""
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
            _VersionedState,
        )

        snap = str(tmp_path_factory.mktemp("half_snap"))
        with open(os.path.join(snap, "_schema.txt"), "w") as fh:
            fh.write("user_id BIGINT, y BIGINT")  # stamp landed, data didn't
        target = _VersionedState(
            spark, str(tmp_path_factory.mktemp("half_target")),
            "user_id BIGINT, y BIGINT")
        with pytest.raises(ValueError, match="no exported state snapshot"):
            target.import_from(snap)


class TestCrashMidBatchDurability:
    """VERDICT r13 item 4: the at-least-once contract under the WORST
    interleaving — a crash AFTER ``state.write(v=batch_id)`` but BEFORE
    the streaming commit log records the batch. On restart Spark
    re-delivers the same batch_id from the offset log; the maintainer's
    ``latest_before(batch_id)`` excludes the orphaned version and the
    overwrite-write makes the replay idempotent, so nothing is ever
    double-counted. Exercised through a REAL checkpointed query (not a
    direct merge_batch replay — the checkpoint's offset/commit split is
    the thing under test) for the four merge classes: ledger #6
    (non-associative clamp over in-order arrival), contingency #11
    (summable grid), JPEG fingerprints #23 (set-union), session store
    #24 (order-dependent tail merge — since r16 the re-delivered batch
    SKIPS outright when its committed version already exists, because
    that version may since have been drain-repaired; recomputing from
    latest_before() would overwrite the repair — the replay-after-drain
    drill in tests/test_session_store_stream.py covers that window)."""

    class _CrashAfterStateWrite:
        """foreachBatch wrapper that dies between the state write and
        the sink commit on one chosen batch — the narrowest window a
        real executor/driver loss can hit."""

        def __init__(self, maint, crash_batch: int):
            self.maint = maint
            self.crash_batch = crash_batch

        def merge_batch(self, batch_df, batch_id: int) -> None:
            self.maint.merge_batch(batch_df, batch_id)
            if batch_id == self.crash_batch:
                raise RuntimeError(
                    "injected crash between state.write and sink commit")

    @staticmethod
    def _flat_chunks(tmp_path_factory, label: str, chunks) -> str:
        import glob
        import shutil

        base = str(tmp_path_factory.mktemp(label))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i, chunk in enumerate(chunks):
            d = os.path.join(base, f"c{i}")
            chunk.coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        return flat

    def _cases(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalContingencyMaintainer,
            IncrementalJpegFingerprintMaintainer,
            IncrementalLedgerMaintainer,
            IncrementalSessionStoreMaintainer,
        )

        events = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_id", "event_type", "value")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority")
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        return [
            # ledger: CHRONOLOGICAL slices (in-order-arrival contract)
            ("ledger", IncrementalLedgerMaintainer,
             _chrono_day_slices(events),
             "ts TIMESTAMP, user_id BIGINT, event_id BIGINT, "
             "event_type STRING, value DOUBLE"),
            ("contingency", IncrementalContingencyMaintainer,
             [orders.where(F.pmod(F.col("o_orderkey"), F.lit(3)) == i)
              for i in range(3)],
             "o_orderkey BIGINT, o_orderstatus STRING, "
             "o_orderpriority STRING"),
            ("jpeg", IncrementalJpegFingerprintMaintainer,
             [docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == i)
              for i in range(3)],
             "doc_id BIGINT"),
            # session store: CHRONOLOGICAL slices (monotonicity contract)
            ("session_store", IncrementalSessionStoreMaintainer,
             _chrono_day_slices(events),
             "ts TIMESTAMP, user_id BIGINT, event_id BIGINT, "
             "event_type STRING, value DOUBLE"),
        ]

    def test_crash_between_state_write_and_commit_no_double_count(
            self, spark, sf_dir, tmp_path_factory):
        for label, cls, chunks, schema in self._cases(spark, sf_dir):
            # uninterrupted reference
            ref = cls(spark, str(tmp_path_factory.mktemp(f"{label}_cref")))
            for i, chunk in enumerate(chunks):
                ref.merge_batch(chunk, i)
            want = _rows(ref.current(), exclude_sentinel=False)

            flat = self._flat_chunks(tmp_path_factory, f"{label}_cdata",
                                     chunks)
            state_dir = str(tmp_path_factory.mktemp(f"{label}_cstate"))
            ckpt = str(tmp_path_factory.mktemp(f"{label}_cckpt"))

            # life 1: dies after batch 1's state write, before commit
            wounded = cls(spark, state_dir)
            crashing = self._CrashAfterStateWrite(wounded, crash_batch=1)
            stream = file_events_source(spark, flat, schema=schema,
                                        max_files_per_trigger=1)
            q = (stream.writeStream
                 .queryName(f"{label}_crash_drill")
                 .option("checkpointLocation", ckpt)
                 .foreachBatch(crashing.merge_batch)
                 .start())
            with pytest.raises(Exception) as excinfo:
                q.processAllAvailable()
            assert "injected crash" in str(excinfo.value), label
            q.stop()
            # the orphaned version IS on disk — this is the exact
            # interleaving under test, not an ordinary pre-write crash
            assert wounded.state.versions()[-1] == 1, label

            # life 2: fresh process over the surviving state + ckpt;
            # Spark re-delivers batch 1 (offsets logged, commit absent)
            revived = cls(spark, state_dir)
            stream2 = file_events_source(spark, flat, schema=schema,
                                         max_files_per_trigger=1)
            q2 = (stream2.writeStream
                  .queryName(f"{label}_crash_drill_resume")
                  .option("checkpointLocation", ckpt)
                  .foreachBatch(revived.merge_batch)
                  .start())
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
            assert revived.state.versions()[-1] == 2, label
            got = _rows(revived.current(), exclude_sentinel=False)
            assert got == want, (
                f"{label}: crash-mid-batch + restart diverged from the "
                f"uninterrupted run")

    def test_crash_mid_batch_rollup_and_scd2(self, spark, sf_dir,
                                             tmp_path_factory):
        """Same drill for the rollup maintainer (summable partials) and
        the SCD2 dimension maintainer, whose state schema comes from its
        input (CDC merge — chronological batches, so the replayed batch
        is a mid-history delta)."""
        import glob

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalRollupMaintainer,
            Scd2DimensionMaintainer,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "ts", "event_type", "value")
        rollup_chunks = [
            ev.where(F.pmod(F.dayofmonth("ts"), F.lit(3)) == i)
            for i in range(3)]
        scd_flat = TestStreamingScd2Maintenance()._change_stream_dir(
            spark, sf_dir, tmp_path_factory)
        scd_chunks = [spark.read.parquet(p) for p in sorted(
            glob.glob(os.path.join(scd_flat, "*.parquet")))]

        def mk_scd(d):
            return Scd2DimensionMaintainer(
                spark, d, key="user_id", attr_cols=("tier",),
                batch_ts_col="ts", change_order="ts")

        cases = [
            ("rollup", lambda d: IncrementalRollupMaintainer(spark, d),
             rollup_chunks, "ts TIMESTAMP, event_type STRING, value DOUBLE",
             None, lambda m: m.current()),
            ("scd2", mk_scd, scd_chunks,
             "ts TIMESTAMP, user_id BIGINT, tier STRING",
             scd_flat, lambda m: m.current_rows()),
        ]
        for label, mk, chunks, schema, flat, present in cases:
            ref = mk(str(tmp_path_factory.mktemp(f"{label}_xref")))
            for i, chunk in enumerate(chunks):
                ref.merge_batch(chunk, i)
            want = _rows(present(ref), exclude_sentinel=False)

            if flat is None:
                flat = self._flat_chunks(tmp_path_factory,
                                         f"{label}_xdata", chunks)
            state_dir = str(tmp_path_factory.mktemp(f"{label}_xstate"))
            ckpt = str(tmp_path_factory.mktemp(f"{label}_xckpt"))
            wounded = mk(state_dir)
            crashing = self._CrashAfterStateWrite(wounded, crash_batch=1)
            q = (file_events_source(spark, flat, schema=schema,
                                    max_files_per_trigger=1)
                 .writeStream.queryName(f"{label}_crash_drill")
                 .option("checkpointLocation", ckpt)
                 .foreachBatch(crashing.merge_batch).start())
            with pytest.raises(Exception) as excinfo:
                q.processAllAvailable()
            assert "injected crash" in str(excinfo.value), label
            q.stop()
            assert wounded.state.versions()[-1] == 1, label

            revived = mk(state_dir)
            q2 = (file_events_source(spark, flat, schema=schema,
                                     max_files_per_trigger=1)
                  .writeStream.queryName(f"{label}_crash_drill_resume")
                  .option("checkpointLocation", ckpt)
                  .foreachBatch(revived.merge_batch).start())
            try:
                q2.processAllAvailable()
            finally:
                q2.stop()
            assert revived.state.versions()[-1] == 2, label
            assert _rows(present(revived), exclude_sentinel=False) == want, (
                f"{label}: crash-mid-batch + restart diverged from the "
                f"uninterrupted run")


class TestTornStateWriteRecovery:
    """The other half of the write-crash window (companion to
    TestCrashMidBatchDurability): a crash DURING state.write — parquet
    directory created, _SUCCESS never committed. versions() must ignore
    the torn version, so a restart replays the batch from the previous
    good version and the overwrite-write heals the torn directory."""

    def test_torn_version_is_invisible_and_healed(self, spark, sf_dir,
                                                  tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalContingencyMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderpriority")
        slices = [orders.where(F.pmod(F.col("o_orderkey"), F.lit(2)) == i)
                  for i in range(2)]

        ref = IncrementalContingencyMaintainer(
            spark, str(tmp_path_factory.mktemp("torn_ref")))
        for i, sl in enumerate(slices):
            ref.merge_batch(sl, i)
        want = _rows(ref.current(), exclude_sentinel=False)

        state_dir = str(tmp_path_factory.mktemp("torn_state"))
        maint = IncrementalContingencyMaintainer(spark, state_dir)
        maint.merge_batch(slices[0], 0)
        maint.merge_batch(slices[1], 1)
        # tear v=1: the process died mid-write — data files may exist,
        # the _SUCCESS commit marker does not
        os.remove(os.path.join(state_dir, "v=1", "_SUCCESS"))
        assert maint.state.versions() == [0], (
            "torn version must be invisible")
        restarted = IncrementalContingencyMaintainer(spark, state_dir)
        # before the replay, the presentation serves the last GOOD state
        only_b0 = IncrementalContingencyMaintainer(
            spark, str(tmp_path_factory.mktemp("torn_b0")))
        only_b0.merge_batch(slices[0], 0)
        assert (_rows(restarted.current(), exclude_sentinel=False)
                == _rows(only_b0.current(), exclude_sentinel=False))
        # replay of batch 1 merges from v=0 and heals the torn dir
        restarted.merge_batch(slices[1], 1)
        assert restarted.state.versions() == [0, 1]
        assert _rows(restarted.current(), exclude_sentinel=False) == want


class TestRateSourceRestartUnderLoad:
    """VERDICT r13 item 5 — the closest sandbox proxy for the Kafka e2e
    gap (flink_stream_task1.py:13-19 parity): a LIVE rate-source stream
    stopped mid-run under load and restarted from its checkpoint must
    lose nothing and duplicate nothing, and the three task pipelines
    (task1 fixed-gap report, task2 alerts, task3 dynamic gaps) computed
    over everything that crossed the restart must match their batch
    twins exactly.

    Mechanics: the query archives each micro-batch to a batch_id-keyed
    parquet dir (overwrite — idempotent under the at-least-once replay),
    is stopped WITHOUT draining, and resumed on the same checkpoint. The
    rate source is deterministic given offsets (row k has value k), so
    exactly-once across the restart is checkable as perfect value
    contiguity: archived values == 0..max, each exactly once."""

    ROWS_PER_SECOND = 2000

    def _run_archiving_query(self, spark, archive: str, ckpt: str,
                             min_batches: int, deadline_s: float = 60.0):
        import glob
        import time

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            rate_events_source,
        )

        src = rate_events_source(spark,
                                 rows_per_second=self.ROWS_PER_SECOND)

        def archive_batch(df, batch_id):
            df.write.mode("overwrite").parquet(
                os.path.join(archive, f"batch={batch_id}"))

        q = (src.writeStream
             .queryName("rate_restart_drill")
             .option("checkpointLocation", ckpt)
             .foreachBatch(archive_batch)
             .start())
        t0 = time.time()
        try:
            while time.time() - t0 < deadline_s:
                done = len(glob.glob(os.path.join(archive, "batch=*")))
                if done >= min_batches:
                    break
                time.sleep(0.2)
            else:
                raise AssertionError(
                    f"rate source produced < {min_batches} batches in "
                    f"{deadline_s}s")
        finally:
            q.stop()  # stop under load — no drain, mid-batch is fine

    def test_stop_start_under_load_exactly_once_and_pipeline_parity(
            self, spark, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
            sessionize,
            sessionize_dynamic,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            streaming_alerts,
            streaming_sessionize,
            streaming_sessionize_dynamic,
        )

        archive = str(tmp_path_factory.mktemp("rate_archive"))
        ckpt = str(tmp_path_factory.mktemp("rate_ckpt"))

        # life 1: archive a few batches, then stop under load
        self._run_archiving_query(spark, archive, ckpt, min_batches=3)
        n_before = len(glob.glob(os.path.join(archive, "batch=*")))
        # life 2: resume the same checkpoint; the uncommitted batch (if
        # any) replays with identical offsets into the same overwrite dir
        self._run_archiving_query(spark, archive, ckpt,
                                  min_batches=n_before + 2)

        got = spark.read.parquet(os.path.join(archive, "batch=*"))
        # rate row k: transaction_id = k % 1_000_000 + 1 — recover k
        n = got.count()
        assert n >= 100, "drill produced too little data to be meaningful"
        assert n < 1_000_000, "value recovery assumes < 1M rows"
        vals = got.select((F.col("transaction_id") - 1).alias("v"))
        stats = vals.agg(
            F.count("v").alias("n"),
            F.countDistinct("v").alias("nd"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi")).collect()[0]
        assert (stats.n, stats.nd, stats.lo) == (stats.hi + 1,
                                                 stats.hi + 1, 0), (
            "restart lost or duplicated rows: "
            f"n={stats.n} distinct={stats.nd} range=[{stats.lo},{stats.hi}]")

        # deterministic replay timestamps from the value index: 1 s per
        # event with a 300 s jump every 100 values, so fixed 30 s gaps
        # AND every tier gap in play for users 1..14 (30 s / 2 min) break
        # sessions at the jumps — non-degenerate sessionization.
        events = got.select(
            F.timestamp_seconds(
                F.lit(1_700_000_000)
                + (F.col("transaction_id") - 1)
                + ((F.col("transaction_id") - 1) / 100).cast("long") * 300
            ).alias("ts"),
            "user_id",
            F.col("payload_value").alias("value"))

        # replay dir: data file then a far-future sentinel file (the
        # stream_dir fixture pattern) so append mode closes all sessions
        base = str(tmp_path_factory.mktemp("rate_replay"))
        events.orderBy("ts").coalesce(1).write.parquet(
            os.path.join(base, "data"))
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        spark.createDataFrame(
            [(max_ts, SENTINEL_USER, 0.0)],
            "ts TIMESTAMP, user_id BIGINT, value DOUBLE"
        ).select((F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
                 "user_id", "value") \
            .coalesce(1).write.parquet(os.path.join(base, "sentinel"))
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i, src_dir in enumerate(("data", "sentinel")):
            for j, f in enumerate(sorted(glob.glob(
                    os.path.join(base, src_dir, "*.parquet")))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}_{j:02d}.parquet"))

        def replay_stream():
            return file_events_source(
                spark, flat,
                schema="ts TIMESTAMP, user_id BIGINT, value DOUBLE",
                max_files_per_trigger=1)

        # task1: fixed-gap session report, stream == batch
        _run_stream(spark, streaming_sessionize(replay_stream()),
                    "rate_t1", None)
        got1 = _rows(spark.table("rate_t1"))
        want1 = _rows(sessionize(events))
        assert got1 == want1, "task1 parity"
        # non-degenerate: the 300 s jumps split sessions, so there must
        # be strictly more sessions than the 14 rate users
        assert len(got1) > 14, "replay produced degenerate sessionization"

        # task3: dynamic-gap sessions, stream == batch
        _run_stream(spark, streaming_sessionize_dynamic(replay_stream()),
                    "rate_t3", None)
        assert _rows(spark.table("rate_t3")) == _rows(
            sessionize_dynamic(events)), "task3 parity"

        # task2: big-customer alerts — same alerted-user set (emission
        # order differs between engines, so compare users like
        # test_alerts_stream_matches_batch_users does)
        threshold = 500.0
        _run_stream(spark,
                    streaming_alerts(replay_stream(), threshold=threshold),
                    "rate_t2", None)
        from windowsession_using_kafka_flink_docker_spark.operators.alerts import (
            big_customer_alerts,
        )
        got_users = {r.user_id for r in spark.table("rate_t2")
                     .select("user_id").collect()} - {SENTINEL_USER}
        want_users = {r.user_id for r in
                      big_customer_alerts(sessionize(events),
                                          threshold=threshold)
                      .select("user_id").collect()}
        assert got_users == want_users and want_users, "task2 parity"


class TestEmptyBatchMerges:
    """A trigger can fire with ZERO rows (idle source, watermark-only
    progress); every maintainer's merge must treat an empty batch as a
    state-preserving no-op — the report after (real, empty) must equal
    the report after just (real). Covers every maintainer on the shared
    partial-merge base class."""

    def test_empty_batch_is_a_noop(self, spark, sf_dir, tmp_path_factory):
        from functools import partial

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            BoundedQuantileMaintainer,
            IncrementalContingencyMaintainer,
            IncrementalCupedMaintainer,
            IncrementalDailyRevenueMaintainer,
            IncrementalDriftMaintainer,
            IncrementalEwmaMaintainer,
            IncrementalFeatureMomentsMaintainer,
            IncrementalHhiMaintainer,
            IncrementalHllMaintainer,
            IncrementalJpegFingerprintMaintainer,
            IncrementalOrderCountMaintainer,
            IncrementalProfitMaintainer,
            IncrementalRankTestMaintainer,
            IncrementalRollupMaintainer,
            IncrementalSetMembershipMaintainer,
            IncrementalSourceMixMaintainer,
            IncrementalTableStatsMaintainer,
            IncrementalTokenFrequencyMaintainer,
            IncrementalTrendMaintainer,
            IncrementalUserSpendMaintainer,
        )

        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice")
        events = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "value")
        docs = load_table(spark, sf_dir, "documents")
        all_orders = load_table(spark, sf_dir, "orders")
        all_events = load_table(spark, sf_dir, "events")
        lineitem = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part")
        customer = load_table(spark, sf_dir, "customer")
        cases = [
            ("quantile", BoundedQuantileMaintainer, orders),
            ("trend", IncrementalTrendMaintainer, events),
            ("moments", IncrementalFeatureMomentsMaintainer, docs),
            ("jpeg", IncrementalJpegFingerprintMaintainer,
             docs.select("doc_id")),
            ("mix", IncrementalSourceMixMaintainer,
             docs.select("doc_id", "text", "source", "lang")),
            ("ewma", IncrementalEwmaMaintainer, all_events),
            ("drift", IncrementalDriftMaintainer, all_events),
            ("revenue", IncrementalDailyRevenueMaintainer, all_orders),
            ("spend", IncrementalUserSpendMaintainer, all_events),
            ("tokens", IncrementalTokenFrequencyMaintainer, docs),
            ("tabstats", IncrementalTableStatsMaintainer, all_orders),
            ("contingency", IncrementalContingencyMaintainer, all_orders),
            ("hhi", partial(IncrementalHhiMaintainer, part=part), lineitem),
            ("setmember", IncrementalSetMembershipMaintainer, all_orders),
            ("ranktest", partial(IncrementalRankTestMaintainer,
                                 customer=customer), all_orders),
            ("ocount", partial(IncrementalOrderCountMaintainer,
                               customer=customer), all_orders),
            ("profit", partial(
                IncrementalProfitMaintainer, part=part,
                supplier=load_table(spark, sf_dir, "supplier"),
                nation=load_table(spark, sf_dir, "nation"),
                orders=all_orders), lineitem),
            ("cuped", IncrementalCupedMaintainer, all_orders),
            ("hll", IncrementalHllMaintainer, all_events),
            ("rollup", IncrementalRollupMaintainer, all_events),
        ]
        for label, cls, frame in cases:
            m = cls(spark, str(tmp_path_factory.mktemp(f"{label}_empty")))
            # revenue, spend and tokens present only through named
            # reports; their maintained partials are the report input
            present = getattr(m, "current", m.state.current)
            m.merge_batch(frame, 0)
            before = _rows(present(), exclude_sentinel=False)
            m.merge_batch(frame.where(F.lit(False)), 1)
            after = _rows(present(), exclude_sentinel=False)
            assert after == before, label
            assert m.state.versions()[-1] == 1, label  # version advanced


class TestStreamingHllMaintenance:
    """HLL register state (streaming/analytics_twins.py
    IncrementalHllMaintainer, #27): the maintained per-(event_type,
    bucket) registers must equal the batch register build bit-for-bit
    after user-sliced micro-batch arrival — per-bucket MAX is
    commutative, idempotent and associative, so ANY interleaving (and
    any replay) converges to the same state — and current() must equal
    the batch fold through the shared operators/hll.py code path."""

    def test_stream_equals_batch_registers_and_fold(
            self, spark, sf_dir, tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.operators.hll import (
            hll_fold,
            hll_registers,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalHllMaintainer,
            streaming_maintenance,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming.sources import (
            file_events_source,
        )

        base = str(tmp_path_factory.mktemp("hll_events"))
        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_type", "value")
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        for i in range(3):
            d = os.path.join(base, f"c{i}")
            ev.where(F.pmod(F.col("user_id"), F.lit(3)) == i) \
                .coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalHllMaintainer(
            spark, str(tmp_path_factory.mktemp("hll_state")))
        stream = file_events_source(
            spark, flat,
            schema="ts TIMESTAMP, user_id BIGINT, event_type STRING, "
                   "value DOUBLE",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("hll_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev

        got_regs = _rows(maint.state.current(), exclude_sentinel=False)
        want_regs = _rows(hll_registers(ev), exclude_sentinel=False)
        assert got_regs == want_regs

        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(hll_fold(hll_registers(ev)), exclude_sentinel=False)
        assert got == want

    def test_replay_is_idempotent_and_guarded(self, spark, sf_dir,
                                              tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalHllMaintainer,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "ts", "user_id", "event_type", "value")
        maint = IncrementalHllMaintainer(
            spark, str(tmp_path_factory.mktemp("hll_replay")))
        maint.merge_batch(ev, 0)
        maint.merge_batch(ev, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(ev, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(ev, 0)


class TestStreamingPackingMaintenance:
    """Training-sequence bins (streaming/analytics_twins.py
    IncrementalPackingMaintainer, #28): maintained bins must equal the
    batch from-scratch packing after doc_id-ASCENDING micro-batch
    arrival (the in-order contract — range slices, not modulo: a shard
    must never see a doc below its stored tail), replay must be
    idempotent behind the lifecycle guard, and an out-of-order batch
    must fail LOUDLY, never diverge silently."""

    def test_stream_equals_batch_bins(self, spark, sf_dir,
                                      tmp_path_factory):
        import glob
        import shutil

        from windowsession_using_kafka_flink_docker_spark.operators.packing import (
            bins_from_packed,
            pack_documents,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalPackingMaintainer,
            streaming_maintenance,
        )
        from windowsession_using_kafka_flink_docker_spark.streaming.sources import (
            file_events_source,
        )

        base = str(tmp_path_factory.mktemp("pack_docs"))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        hi = docs.agg(F.max("doc_id")).first()[0]
        cuts = (hi // 3, 2 * hi // 3)
        flat = os.path.join(base, "flat")
        os.makedirs(flat)
        slices = (
            F.col("doc_id") <= cuts[0],
            (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1]),
            F.col("doc_id") > cuts[1],
        )
        for i, cond in enumerate(slices):
            d = os.path.join(base, f"c{i}")
            docs.where(cond).coalesce(1).write.parquet(d)
            for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
                shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        maint = IncrementalPackingMaintainer(
            spark, str(tmp_path_factory.mktemp("pack_state")))
        stream = file_events_source(
            spark, flat, schema="doc_id BIGINT, text STRING",
            max_files_per_trigger=1)
        q = streaming_maintenance(
            stream, maint, str(tmp_path_factory.mktemp("pack_ckpt")))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(maint.state.versions()) == 2  # pruned to cur+prev

        got = _rows(maint.current(), exclude_sentinel=False)
        want = _rows(bins_from_packed(pack_documents(docs)),
                     exclude_sentinel=False)
        assert got == want

    def test_replay_idempotent_and_out_of_order_rejected(
            self, spark, sf_dir, tmp_path_factory):
        import pytest

        from windowsession_using_kafka_flink_docker_spark.streaming import (
            IncrementalPackingMaintainer,
        )

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text")
        hi = docs.agg(F.max("doc_id")).first()[0]
        lo_half = docs.where(F.col("doc_id") <= hi // 2)
        hi_half = docs.where(F.col("doc_id") > hi // 2)

        maint = IncrementalPackingMaintainer(
            spark, str(tmp_path_factory.mktemp("pack_replay")))
        maint.merge_batch(lo_half, 0)
        maint.merge_batch(hi_half, 1)
        once = _rows(maint.current(), exclude_sentinel=False)
        maint.merge_batch(hi_half, 1)  # crash-replay of batch 1
        assert _rows(maint.current(), exclude_sentinel=False) == once
        with pytest.raises(ValueError, match="reset together"):
            maint.merge_batch(hi_half, 0)

        # out-of-order: re-delivering the LOW half as a new batch must
        # fail loudly (every shard's tail is past those doc_ids)
        with pytest.raises(ValueError, match="ascending doc_id"):
            maint.merge_batch(lo_half, 2)
