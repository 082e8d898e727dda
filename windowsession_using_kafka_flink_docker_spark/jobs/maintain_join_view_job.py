"""Continuous join-view maintenance job: two delta streams (facts +
dimension rows, union-tagged into one source) merged into a materialized
``orders ⋈ customer``-shaped view via two-sided delta IVM
(streaming/joinview.py).

The production rendering of the interleaving-independence property the
tests pin: every joinable pair enters the view exactly once, at the
batch where the later side arrives, so late dimension rows join facts
that streamed in hours earlier without any re-join of the full sides.

Drop parquet files into the source dir with a ``_src`` column ('a' for
facts, anything else for dimension rows) and each side's payload
columns nulled on the other side's rows:

    spark-submit maintain_join_view_job.py --source /data/tagged \
        --state /data/join_view_state --checkpoint /tmp/ckpt/jv \
        --key custkey --a-cols o_orderkey,o_totalprice --b-cols c_name
"""

from __future__ import annotations

import argparse

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.streaming import (
    IncrementalJoinView,
    streaming_maintenance,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", default="/tmp/tagged_incoming",
                    help="parquet drop directory of union-tagged deltas")
    ap.add_argument("--schema",
                    default=("_src STRING, custkey BIGINT, "
                             "o_orderkey BIGINT, o_totalprice DOUBLE, "
                             "c_name STRING"))
    ap.add_argument("--key", default="custkey")
    ap.add_argument("--a-cols", default="o_orderkey,o_totalprice")
    ap.add_argument("--b-cols", default="c_name")
    ap.add_argument("--state", default="/tmp/join_view_state")
    ap.add_argument("--checkpoint", default="/tmp/ckpt/jv")
    args = ap.parse_args()

    spark = get_spark("maintain-join-view-job")
    tagged = (spark.readStream.schema(args.schema).parquet(args.source))
    view = IncrementalJoinView(
        spark, args.state, key=args.key,
        a_cols=tuple(c for c in args.a_cols.split(",") if c),
        b_cols=tuple(c for c in args.b_cols.split(",") if c))
    query = streaming_maintenance(tagged, view, args.checkpoint)
    query.awaitTermination()


if __name__ == "__main__":
    main()
