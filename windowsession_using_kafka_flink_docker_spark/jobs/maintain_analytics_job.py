"""Continuous analytics-maintenance job: one process keeping the
statistics families fresh from streams, never recomputing from
the full fact tables.

Wires the analytics maintainer fleet (streaming/analytics_twins.py
plus streaming/session_store.py; see ``--bounded-tokens`` for the
fixed-memory token-state variant):

- ``IncrementalDailyRevenueMaintainer`` over an orders drop-dir —
  per-day cent partials serving the CUSUM change-point and the
  seasonal-naive backtest (the driver-oracled
  ``cusum_changepoint_daily_revenue`` / ``seasonal_naive_backtest``);
- ``IncrementalTableStatsMaintainer`` (#10) on the same orders stream —
  per-column counters/min-max/KMV distinct sketch serving the
  ANALYZE-TABLE report (``orders_column_ndv_kmv``);
- ``IncrementalOrderCountMaintainer`` (#18) on the same orders stream
  (with ``--customer``) — per-customer exact order counts re-deriving
  the Q13 order-count distribution (``q13_customer_order_distribution``);
- ``IncrementalRankTestMaintainer`` (#17) on the same orders stream
  (with ``--customer`` as the static dimension) — per-(segment, arm,
  cents) exact counts re-deriving the BH-FDR rank-test report
  (``bh_fdr_segment_spend``);
- ``IncrementalSetMembershipMaintainer`` (#16) on the same orders
  stream — per-customer epoch bits serving the KMV set-difference
  audit.
- ``BoundedQuantileMaintainer`` (#15) on the same orders stream — the
  bounded bottom-k-by-hash price sample presenting the per-priority
  sample median at fixed state.
- ``IncrementalContingencyMaintainer`` (#11) on the same orders stream —
  R x C cell counts serving the chi-square / Cramér's V report
  (``cramers_v_status_priority``);
- ``IncrementalHhiMaintainer`` (#12) over a lineitem drop-dir with the
  static part dimension broadcast into each micro-batch merge —
  per-(type, supplier) quantity partials serving the concentration
  report (``supplier_hhi_by_parttype``);
- ``IncrementalProfitMaintainer`` (#19) on the same lineitem stream
  (with ``--supplier``/``--nation``/``--orders-dim`` as static
  frames) — per-(nation, year) exact e-4 Q9-profit partials
  re-deriving the driver-oracled ``q9_product_type_profit``;
- ``IncrementalTokenFrequencyMaintainer`` over a documents drop-dir —
  corpus (token, n) counts serving the heavy-hitter and Zipf
  presentations (``heavy_hitter_tokens`` / ``zipf_rank_frequency``);
- ``IncrementalSourceMixMaintainer`` (#13) on the same documents stream —
  per-(source, lang) doc/token counts serving the domain-mix report
  (``source_mix_report``);
- ``IncrementalCupedMaintainer`` (#21) on the same orders stream — the
  per-customer pre/post epoch spend grid re-deriving the driver-oracled
  ``cuped_adjusted_ab`` variance-reduced A/B report;
- ``IncrementalFeatureMomentsMaintainer`` (#22) on the same documents
  stream — the 256-row hashed-feature standardization moments
  re-deriving the driver-oracled ``feature_bucket_moments``;
- ``IncrementalTrendMaintainer`` (#20) over an events drop-dir — the
  per-(user, day-index) daily-cents grid re-deriving the driver-oracled
  ``grouped_ols_trend`` regression report;
- ``IncrementalSessionStoreMaintainer`` (#24) on the same events
  stream — the 10-minute-gap session table maintained by per-user tail
  merge (streaming/session_store.py); late-arrival slices quarantine
  to a dead-letter dir so one late drop-file cannot wedge the job, the
  backlog is logged per batch and at startup, and the job DRAINS the
  quarantine through ``repair_from_dead_letter`` before each resume;
- ``IncrementalBm25IndexMaintainer`` (#25) on the same documents
  stream — the persisted BM25 postings index appended one versioned
  increment per batch (streaming/bm25_index.py); queries serve from
  the index alone with bucket-pruned postings reads;
- ``IncrementalNearDupIndexMaintainer`` (#26) on the same documents
  stream — continuous dedup: each batch probed against the
  MinHash-LSH index of everything ingested so far (near-dup pairs
  persisted per batch), then appended as its own increment
  (streaming/neardup_index.py);
- ``IncrementalUserSpendMaintainer`` over an events drop-dir —
  per-user spend partials serving the Gini inequality report and the
  Welch-t / Mann-Whitney experiment readouts
  (``gini_spend_inequality`` / ``welch_t_spend_ab`` /
  ``mann_whitney_spend_ab``);
- ``IncrementalHllMaintainer`` (#27) on the same events stream — the
  per-(event_type, bucket) HyperLogLog register state (mergeable by
  per-bucket max, bounded by |types| x 512 rows) serving the NDV
  presentation through the same operators/hll.py fold as the batch
  audit;
- ``IncrementalPackingMaintainer`` (#28) on the documents stream —
  training-sequence bins maintained as docs arrive (only a shard's
  last bin is open; closed bins immutable), the same
  operators/packing.py greedy fold as the batch entry, with a loud
  in-order guard (ascending doc_id per shard across batches).

All states are key-space-bounded (calendar days / column domain /
category grid / type x supplier / source x lang / users /
vocabulary), versioned by batch id, replay-idempotent, and
lifecycle-guarded. The analytics and session-store states are
``_VersionedState`` directories, like the rollup's, SCD2's and the join
view's (neither run here); the BM25 and near-dup indexes keep per-batch
increments with the same guard. Every query is wired by
``streaming_maintenance``, with its state under
``<state-root>/<name>`` and its checkpoint under
``<checkpoint-root>/<name>``. Run either side (or both) from file
drop-dirs:

    spark-submit maintain_analytics_job.py \
        --orders /data/orders_incoming --events /data/events_incoming \
        --state-root /data/analytics_state --checkpoint-root /tmp/ckpt
"""

from __future__ import annotations

import argparse
import os

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.streaming import (
    BoundedQuantileMaintainer,
    BoundedTokenFrequencyMaintainer,
    IncrementalOrderCountMaintainer,
    IncrementalProfitMaintainer,
    IncrementalRankTestMaintainer,
    IncrementalSetMembershipMaintainer,
    IncrementalContingencyMaintainer,
    IncrementalDailyRevenueMaintainer,
    IncrementalHhiMaintainer,
    IncrementalSourceMixMaintainer,
    IncrementalTableStatsMaintainer,
    IncrementalTokenFrequencyMaintainer,
    IncrementalCupedMaintainer,
    IncrementalFeatureMomentsMaintainer,
    IncrementalHllMaintainer,
    IncrementalPackingMaintainer,
    IncrementalBm25IndexMaintainer,
    IncrementalJpegFingerprintMaintainer,
    IncrementalNearDupIndexMaintainer,
    IncrementalSessionStoreMaintainer,
    IncrementalTrendMaintainer,
    IncrementalUserSpendMaintainer,
    streaming_maintenance,
)


def _resume_session_store(name: str, sess) -> None:
    """Drain dead letters left by a previous run BEFORE the stream
    resumes — the quiescent moment the crash-safe drain protocol is
    designed for (streaming/session_store.py: repair_from_dead_letter);
    the backlog is logged either way so a persistent late-arrival source
    is visible, never silent. Then fold the frozen increments."""
    pending = sess.dead_letter_backlog()
    if pending:
        drained = sess.repair_from_dead_letter()
        print(f"{name}: drained {drained} of {pending} "
              "quarantined late event(s) into the store before "
              "resuming (a remainder belongs to the newest batch — "
              "it defers one restart so a crash replay can never "
              "double-count)")
    else:
        print(f"{name}: dead-letter quarantine empty at start")
    try:
        folded = sess.compact_frozen()
        if folded:
            print(f"{name}: compacted {folded} frozen "
                  "increment(s) before resuming")
    except ValueError as e:
        # a torn LAST frozen increment is healed by the stream's
        # redelivery, not by failing the job before it can start
        print(f"{name}: skipping frozen compaction ({e}); "
              "the re-delivered batch will overwrite the torn "
              "increment")


def _compact_index(name: str, index) -> None:
    """Compact at the quiescent restart moment (same rationale as the
    session-store drain) — it also HEALS a torn mid-compaction state
    left by a crash, which the count trigger would otherwise hit as a
    fail-closed read on the next batch."""
    try:
        folded = index.compact()
        if folded:
            print(f"{name}: compacted {folded} increment(s) "
                  "before resuming")
    except ValueError as e:
        # a torn LAST batch is healed by the stream's redelivery,
        # not by failing the job before the stream can start
        print(f"{name}: skipping compaction ({e}); the "
              "re-delivered batch will overwrite the torn increment")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--orders", default=None,
                    help="orders parquet drop directory (o_orderdate, "
                         "o_totalprice); omit to skip the revenue side")
    ap.add_argument("--events", default=None,
                    help="events parquet drop directory (ts, user_id, "
                         "value); omit to skip the spend side")
    ap.add_argument("--docs", default=None,
                    help="documents parquet drop directory (doc_id, "
                         "text, source, lang); omit to skip the "
                         "token-frequency and domain-mix sides")
    ap.add_argument("--lineitem", default=None,
                    help="lineitem parquet drop directory (l_partkey, "
                         "l_suppkey, l_quantity); omit to skip the "
                         "concentration side")
    ap.add_argument("--part", default=None,
                    help="static part dimension parquet (p_partkey, "
                         "p_type); required with --lineitem")
    ap.add_argument("--customer", default=None,
                    help="customer dimension parquet (c_custkey, "
                         "c_mktsegment); enables maintainer #17 (the "
                         "rank-test counts state) on the orders stream")
    ap.add_argument("--supplier", default=None,
                    help="static supplier dimension parquet (s_suppkey, "
                         "s_nationkey); with --nation and --orders-dim "
                         "enables maintainer #19 (the Q9-profit state) "
                         "on the lineitem stream")
    ap.add_argument("--nation", default=None,
                    help="static nation dimension parquet (n_nationkey, "
                         "n_name); see --supplier")
    ap.add_argument("--orders-dim", default=None,
                    help="orders parquet read as a STATIC frame "
                         "(o_orderkey, o_orderdate) for the order-year "
                         "enrichment of maintainer #19; distinct from "
                         "the --orders drop-dir stream")
    ap.add_argument("--bounded-tokens", action="store_true",
                    help="use the fixed-memory CMS+pool token state "
                         "(maintainer #14) instead of the exact "
                         "vocabulary-bounded one — the extreme-scale "
                         "drop-in where even Heaps-law state is too big")
    ap.add_argument("--compact-every", type=int, default=16,
                    help="fold the serving indexes (#25/#26) whenever "
                         "their increment count reaches N — runs inside "
                         "the foreachBatch thread (the only writer, so "
                         "the compaction quiescence contract holds); "
                         "bounds per-query read amplification on a "
                         "long-running stream. 0 disables the trigger "
                         "(restart-only compaction)")
    ap.add_argument("--state-root", default="/tmp/analytics_state")
    ap.add_argument("--checkpoint-root", default="/tmp/ckpt/analytics")
    args = ap.parse_args()
    if not args.orders and not args.events and not args.docs \
            and not args.lineitem:
        ap.error("at least one of --orders / --events / --docs / "
                 "--lineitem is required")
    if args.lineitem and not args.part:
        ap.error("--lineitem requires --part (the static dimension)")

    spark = get_spark("maintain-analytics-job")
    queries = []
    compact_every = args.compact_every or None

    def maintain(stream, name, cls, *dims, prepare=None, **kwargs):
        """Build ``cls`` over ``<state-root>/<name>``, run its restart
        step ``prepare(name, maintainer)`` if any, then start its query
        with the checkpoint ``<checkpoint-root>/<name>``."""
        m = cls(spark, os.path.join(args.state_root, name), *dims, **kwargs)
        if prepare:
            prepare(name, m)
        queries.append(streaming_maintenance(
            stream, m, os.path.join(args.checkpoint_root, name)))

    if args.orders:
        orders = (spark.readStream
                  .schema("o_orderdate TIMESTAMP, o_totalprice DOUBLE, "
                          "o_custkey BIGINT, o_orderkey BIGINT, "
                          "o_orderstatus STRING, o_orderpriority STRING")
                  .parquet(args.orders))
        maintain(orders, "daily_revenue", IncrementalDailyRevenueMaintainer)
        # #10/#11: ANALYZE-TABLE column statistics and the status x
        # priority contingency state
        maintain(orders, "table_stats", IncrementalTableStatsMaintainer)
        maintain(orders, "contingency", IncrementalContingencyMaintainer)
        # #15: the bounded per-priority quantile sample
        maintain(orders, "quantile", BoundedQuantileMaintainer)
        if args.customer:
            # #17 per-(segment, arm, cents) rank-test counts and #18
            # per-customer order counts (the Q13 distribution) share the
            # static customer dimension
            customer = spark.read.parquet(args.customer)
            maintain(orders, "rank_test", IncrementalRankTestMaintainer,
                     customer)
            maintain(orders, "order_count", IncrementalOrderCountMaintainer,
                     customer)
        # #16: per-customer epoch membership bits
        maintain(orders, "set_membership",
                 IncrementalSetMembershipMaintainer)
        # #21: the per-customer CUPED unit grid (pre/post epoch cents)
        maintain(orders, "cuped", IncrementalCupedMaintainer)
    if args.events:
        events = (spark.readStream
                  .schema("ts TIMESTAMP, user_id BIGINT, value DOUBLE, "
                          "event_type STRING")
                  .parquet(args.events))
        maintain(events, "user_spend", IncrementalUserSpendMaintainer)
        # #27: the per-(event_type, bucket) HLL registers
        maintain(events, "hll_ndv", IncrementalHllMaintainer)
        # #20: the per-(user, day) daily-cents grid behind the OLS trend
        maintain(events, "trend", IncrementalTrendMaintainer)
        # #24: the incremental session store (10-minute-gap session
        # table kept current by per-user tail merge). A dead-letter dir
        # quarantines one late drop-file's late users' raw events
        # (b=<batch_id> parquet, replay-idempotent) instead of
        # crash-looping the query.
        maintain(events, "session_store", IncrementalSessionStoreMaintainer,
                 dead_letter_dir=os.path.join(args.state_root,
                                              "session_store_dead_letter"),
                 compact_every=compact_every, prepare=_resume_session_store)
    if args.docs:
        docs = (spark.readStream
                .schema("doc_id BIGINT, text STRING, source STRING, "
                        "lang STRING")
                .parquet(args.docs))
        if args.bounded_tokens:
            maintain(docs, "token_freq_bounded",
                     BoundedTokenFrequencyMaintainer)
        else:
            maintain(docs, "token_freq", IncrementalTokenFrequencyMaintainer)
        # #28: training-sequence bins from the per-shard tail
        maintain(docs, "packing", IncrementalPackingMaintainer)
        # #13: domain-mix state
        maintain(docs, "source_mix", IncrementalSourceMixMaintainer)
        # #22: the 256-row hashed-feature standardization moments
        maintain(docs, "feature_moments", IncrementalFeatureMomentsMaintainer)
        # #23: the JPEG aHash chunk-bucket membership
        maintain(docs, "jpeg_fingerprint",
                 IncrementalJpegFingerprintMaintainer)
        # #25: the BM25 postings index, one increment per batch
        # (queries serve from the index alone with bucket-pruned
        # postings reads); #26: continuous dedup — each batch probed
        # against the MinHash-LSH index of everything ingested so far,
        # then appended as its own increment
        maintain(docs, "bm25_index", IncrementalBm25IndexMaintainer,
                 compact_every=compact_every, prepare=_compact_index)
        maintain(docs, "neardup_index", IncrementalNearDupIndexMaintainer,
                 compact_every=compact_every, prepare=_compact_index)
    if args.lineitem:
        li = (spark.readStream
              .schema("l_partkey BIGINT, l_suppkey BIGINT, "
                      "l_quantity DOUBLE, l_orderkey BIGINT, "
                      "l_extendedprice DOUBLE, l_discount DOUBLE")
              .parquet(args.lineitem))
        part = spark.read.parquet(args.part)
        maintain(li, "hhi", IncrementalHhiMaintainer, part)
        # #19: per-(nation, year) exact Q9-profit partials (the
        # supplier/nation dimensions and the orders frame give the
        # order year; part is already required)
        if args.supplier and args.nation and args.orders_dim:
            maintain(li, "profit", IncrementalProfitMaintainer, part,
                     spark.read.parquet(args.supplier),
                     spark.read.parquet(args.nation),
                     spark.read.parquet(args.orders_dim))
    for q in queries:
        q.awaitTermination()


if __name__ == "__main__":
    main()
