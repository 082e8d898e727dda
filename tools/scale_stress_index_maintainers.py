#!/usr/bin/env python
"""Scale stress for the r15 additions: maintainers #25 (BM25 postings
index) and #26 (near-dup LSH index), BM25 compaction, and the session
store's dead-letter drain.

Protocol per maintainer: ingest the documents table as three
equal-thirds batches (timing each), then time the serving read (search
/ current_pairs). For #25 additionally time compact_index and the
post-compaction search (read-amplification recovered). For the drain:
build the quarantined two-batch scenario (time-late half first, early
half second => overlapping users quarantine) and time
repair_from_dead_letter.

Run once per scale factor and compare 10x ratios:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/scale_stress_index_maintainers.py
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1  python tools/scale_stress_index_maintainers.py

Prints one JSON line {step: sec}. Per-batch cost should track the
DELTA (flat thirds), serving reads should be near size-invariant
(pruned postings / capped buckets), and the drain should track the
quarantined slice, not the store.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table


def timed(out: dict, key: str, fn):
    t0 = time.perf_counter()
    r = fn()
    out[key] = round(time.perf_counter() - t0, 3)
    return r


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("scale-stress-index-maintainers")
    root = tempfile.mkdtemp(prefix="idx_stress_")
    out: dict[str, float] = {}

    from windowsession_using_kafka_flink_docker_spark.operators.bm25_index import (
        compact_index,
    )
    from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
        continuation_cutoff,
    )
    from windowsession_using_kafka_flink_docker_spark.streaming import (
        IncrementalBm25IndexMaintainer,
        IncrementalNearDupIndexMaintainer,
        IncrementalSessionStoreMaintainer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text") \
        .localCheckpoint()
    thirds = [docs.where(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
    terms = ("merge", "window", "hash")

    # ---- #25: BM25 postings index -------------------------------------
    bm = IncrementalBm25IndexMaintainer(spark, os.path.join(root, "bm25"))
    for i, third in enumerate(thirds):
        timed(out, f"bm25_append_b{i}", lambda: bm.merge_batch(third, i))
    timed(out, "bm25_search", lambda: bm.search(terms).collect())
    timed(out, "bm25_compact", lambda: compact_index(spark, bm.index_dir))
    timed(out, "bm25_search_post_compact",
          lambda: bm.search(terms).collect())

    # ---- #26: near-dup LSH index --------------------------------------
    nd = IncrementalNearDupIndexMaintainer(spark, os.path.join(root, "nd"))
    for i, third in enumerate(thirds):
        timed(out, f"neardup_batch_b{i}", lambda: nd.merge_batch(third, i))
    out["neardup_pairs_total"] = timed(
        out, "neardup_current_pairs", lambda: nd.current_pairs().count())

    # ---- #24 drain: quarantined scenario then repair ------------------
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    cutoff = continuation_cutoff(ev)
    sess = IncrementalSessionStoreMaintainer(
        spark, os.path.join(root, "sess"),
        dead_letter_dir=os.path.join(root, "dlq"))
    sess.merge_batch(ev.where(F.col("ts") >= F.lit(cutoff)), 0)
    timed(out, "drain_quarantining_merge",
          lambda: sess.merge_batch(ev.where(F.col("ts") < F.lit(cutoff)), 1))
    out["drain_backlog_rows"] = timed(
        out, "drain_backlog_check", lambda: sess.dead_letter_backlog())
    timed(out, "drain_repair", lambda: sess.repair_from_dead_letter())

    shutil.rmtree(root, ignore_errors=True)
    print("IDXSTRESS " + json.dumps({"sf_dir": sf_dir, **out}))


if __name__ == "__main__":
    main()
