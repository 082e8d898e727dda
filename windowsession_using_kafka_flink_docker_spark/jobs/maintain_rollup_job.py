"""Continuous rollup-maintenance job: events stream → per-(type, day)
partial aggregates merged into a versioned parquet state table.

The production rendering of the driver-oracled incremental_rollup_merge
(plans/relational.py) — the reference keeps exactly this running
sum/count state per session (flink_stream_task1.py:51-62); here it is a
queryable maintained table updated from deltas, never recomputed from
the full fact table. Replay-idempotent by versioned batch-id writes
(streaming/rollup.py). Run from a file drop-dir (default) or Kafka:

    spark-submit maintain_rollup_job.py --source /data/incoming \
        --state /data/rollup_state --checkpoint /tmp/ckpt/rollup

    spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0 \
        maintain_rollup_job.py --bootstrap kafka:9092 --source kafka
"""

from __future__ import annotations

import argparse

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.streaming import (
    IncrementalRollupMaintainer,
    kafka_events_source,
    streaming_maintenance,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", default="/tmp/events_incoming",
                    help="parquet drop directory, or 'kafka'")
    ap.add_argument("--bootstrap", default="localhost:9092")
    ap.add_argument("--topic", default="events")
    ap.add_argument("--state", default="/tmp/rollup_state")
    ap.add_argument("--checkpoint", default="/tmp/ckpt/rollup")
    args = ap.parse_args()

    spark = get_spark("maintain-rollup-job")
    if args.source == "kafka":
        # The reference wire format carries no event_type — roll up the
        # whole stream under one key (the task1 report shape); a typed
        # topic would map its own type column here instead.
        from pyspark.sql import functions as F

        events = (kafka_events_source(spark, args.bootstrap, args.topic)
                  .withColumnRenamed("payload_value", "value")
                  .withColumn("event_type", F.lit("all")))
    else:
        events = (spark.readStream
                  .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
                  .parquet(args.source))
    maintainer = IncrementalRollupMaintainer(spark, args.state)
    query = streaming_maintenance(events, maintainer, args.checkpoint)
    query.awaitTermination()


if __name__ == "__main__":
    main()
