"""Structured Streaming plane — the reference's native execution mode
(3 PyFlink streaming jobs) re-expressed as Spark streaming plans.

Sources (S1/S2), watermarks (W3), streaming session windows (W1/W2),
streaming dedup (D1), and sinks (O1/O2/O3) — see SURVEY.md §2 rows and the
per-module docstrings for reference file:line parity cites.
"""

from windowsession_using_kafka_flink_docker_spark.streaming.pipeline import (
    MONOTONOUS_DELAY,
    streaming_alerts,
    streaming_sessionize,
    streaming_sessionize_dynamic,
    streaming_sessionize_scd2,
    streaming_interval_join,
    streaming_windowed_counts,
)
from windowsession_using_kafka_flink_docker_spark.streaming.stateful import (
    streaming_capped_sessionize,
)
from windowsession_using_kafka_flink_docker_spark.streaming.rollup import (
    IncrementalRollupMaintainer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.joinview import (
    IncrementalJoinView,
)
from windowsession_using_kafka_flink_docker_spark.streaming.session_store import (
    IncrementalSessionStoreMaintainer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.bm25_index import (
    IncrementalBm25IndexMaintainer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.neardup_index import (
    IncrementalNearDupIndexMaintainer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.analytics_twins import (
    BoundedTokenFrequencyMaintainer,
    IncrementalContingencyMaintainer,
    IncrementalDriftMaintainer,
    IncrementalHhiMaintainer,
    IncrementalSourceMixMaintainer,
    IncrementalDailyRevenueMaintainer,
    IncrementalEwmaMaintainer,
    BoundedQuantileMaintainer,
    IncrementalOrderCountMaintainer,
    IncrementalProfitMaintainer,
    IncrementalRankTestMaintainer,
    IncrementalSetMembershipMaintainer,
    IncrementalCupedMaintainer,
    IncrementalFeatureMomentsMaintainer,
    IncrementalJpegFingerprintMaintainer,
    IncrementalTableStatsMaintainer,
    IncrementalTrendMaintainer,
    IncrementalHllMaintainer,
    IncrementalPackingMaintainer,
    IncrementalTokenFrequencyMaintainer,
    IncrementalUserSpendMaintainer,
    IncrementalLedgerMaintainer,
    streaming_maintenance,
)
from windowsession_using_kafka_flink_docker_spark.streaming.scd import (
    Scd2DimensionMaintainer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.sinks import (
    alert_grid_writer,
    console_sink,
    format_grid,
    format_report_rows,
    kafka_sink,
    memory_sink,
    parquet_sink,
    session_report_writer,
)
from windowsession_using_kafka_flink_docker_spark.streaming.sources import (
    EVENT_WIRE_SCHEMA,
    file_events_source,
    kafka_events_source,
    kafka_raw_source,
    parse_csv_events,
    rate_events_source,
)

__all__ = [
    "IncrementalJoinView",
    "MONOTONOUS_DELAY",
    "EVENT_WIRE_SCHEMA",
    "streaming_alerts",
    "streaming_sessionize",
    "streaming_sessionize_dynamic",
    "streaming_sessionize_scd2",
    "streaming_interval_join",
    "streaming_windowed_counts",
    "streaming_capped_sessionize",
    "IncrementalRollupMaintainer",
    "streaming_maintenance",
    "BoundedTokenFrequencyMaintainer",
    "IncrementalContingencyMaintainer",
    "IncrementalDailyRevenueMaintainer",
    "IncrementalHhiMaintainer",
    "IncrementalSourceMixMaintainer",
    "IncrementalEwmaMaintainer",
    "BoundedQuantileMaintainer",
    "IncrementalOrderCountMaintainer",
    "IncrementalProfitMaintainer",
    "IncrementalRankTestMaintainer",
    "IncrementalSetMembershipMaintainer",
    "IncrementalTableStatsMaintainer",
    "IncrementalHllMaintainer",
    "IncrementalPackingMaintainer",
    "IncrementalTokenFrequencyMaintainer",
    "IncrementalUserSpendMaintainer",
    "IncrementalDriftMaintainer",
    "IncrementalLedgerMaintainer",
    "IncrementalTrendMaintainer",
    "IncrementalCupedMaintainer",
    "IncrementalFeatureMomentsMaintainer",
    "IncrementalJpegFingerprintMaintainer",
    "Scd2DimensionMaintainer",
    "IncrementalSessionStoreMaintainer",
    "IncrementalBm25IndexMaintainer",
    "IncrementalNearDupIndexMaintainer",
    "file_events_source",
    "kafka_events_source",
    "kafka_raw_source",
    "parse_csv_events",
    "rate_events_source",
    "alert_grid_writer",
    "console_sink",
    "format_grid",
    "format_report_rows",
    "kafka_sink",
    "memory_sink",
    "parquet_sink",
    "session_report_writer",
]
