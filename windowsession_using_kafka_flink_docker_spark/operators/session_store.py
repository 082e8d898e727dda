"""Session-store primitives: fixed-gap sessionization with exact
BIGINT cents, the store/delta tail merge, and the continuation-cutoff
derivation — shared by the streaming session-store maintainer
(streaming/session_store.py), the ``incremental_session_merge`` /
``late_event_session_repair`` catalog entries (plans/parity.py), and
their tests. Lives in operators/ so the runtime
maintainer never imports the plans layer (which would drag full
catalog registration into every streaming import).

Semantics: a session is a maximal run of same-user events with
inter-event gaps <= ``gap_s`` (boundary INCLUSIVE — Spark's
``session_window`` merges at exactly the gap, matching the DuckDB
oracles' ``> gap`` new-session test; probed empirically in
tests/test_maintenance_entries.py). The reference's 30 s gap
(flink_stream_task1.py:30-41) is widened to 10 minutes for the
maintenance family so multi-event sessions exist at every test SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    session_partials,
)

#: Maintenance-family session gap, seconds (see module docstring).
GAP_S = 600.0
_GAP_EXPR = "10 minutes"


def sessions_full(ev: DataFrame) -> DataFrame:
    """Fixed-gap sessions with first/last event ts + exact cent sums:
    (user_id, session_start, session_end, sum_cents, event_count). The
    session window is ``[first ts, last ts + gap)``, so its bounds give
    the first and last event ts without a min/max of their own."""
    return session_partials(ev, _GAP_EXPR).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        (F.col("session_window.end") - F.expr(f"INTERVAL {_GAP_EXPR}"))
        .alias("session_end"),
        F.col("_sc").alias("sum_cents"),
        "event_count")


def continuation_cutoff(ev: DataFrame, gap_s: float = GAP_S):
    """The latest event ts that CONTINUES a session (has a same-user
    predecessor within the gap), or None. Splitting the stream there
    guarantees at least one session straddles the split — the
    non-vacuity anchor shared by the merge entry and its tests."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cont = (ev.withColumn("_prev", F.lag("ts").over(w))
            .where(F.col("_prev").isNotNull()
                   & (F.col("ts").cast("double")
                      - F.col("_prev").cast("double") <= gap_s)))
    return cont.agg(F.max("ts")).first()[0]


def resessionize_atoms(atoms: DataFrame, gap_s: float = GAP_S) -> DataFrame:
    """Gaps-and-islands over session ATOMS — rows shaped like the store
    (user_id, session_start, session_end, sum_cents, event_count),
    where a raw event is the degenerate atom [ts, ts] with its own
    cents and count 1. Returns the same shape with overlapping /
    within-gap atoms fused (boundary inclusive, matching
    ``session_window``).

    This is the repair primitive the dead-letter drain needs: a store's
    sessions for one user are maximal runs separated by > gap, so
    re-sessionizing {stored atoms} ∪ {late-event atoms} equals
    re-sessionizing the user's full raw history — a late event can only
    extend a session, open its own, or bridge two (it can never SPLIT
    one), so no information beyond the stored partials is required.
    Proven against the full recompute in
    tests/test_session_store_stream.py.

    Scale: one shuffle on user_id; the window runs over per-user atom
    counts (store sessions + late events of that user — ingest-sized,
    never corpus-sized). Island detection uses the RUNNING MAX of
    prior ends, not lag, because a late atom can nest entirely inside
    a stored span."""
    w = Window.partitionBy("user_id").orderBy("session_start",
                                              "session_end")
    prev_max_end = F.max("session_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = atoms.withColumn(
        "_new",
        F.when(prev_max_end.isNull(), F.lit(1))
        .when(F.col("session_start").cast("double")
              - prev_max_end.cast("double") > gap_s, F.lit(1))
        .otherwise(F.lit(0)))
    islands = flagged.withColumn(
        "_sid", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy("user_id", "_sid")
            .agg(F.min("session_start").alias("session_start"),
                 F.max("session_end").alias("session_end"),
                 F.sum("sum_cents").alias("sum_cents"),
                 F.sum("event_count").cast("long").alias("event_count"))
            .drop("_sid"))


def merge_session_store(store: DataFrame, fresh: DataFrame,
                        gap_s: float = GAP_S) -> DataFrame:
    """Merge a persisted session store with the sessions of a strictly
    later event batch (every fresh event at/after every store event of
    its user). Per user at most ONE merge is possible — the store
    session with the latest end against the first fresh session
    (everything earlier in the store is > gap from any fresh event by
    construction; the second fresh session is > gap past the first by
    sessionization) — and the merged row combines BIGINT partials
    exactly. Equals full-recompute sessionization under the
    monotonicity precondition (cutoff-sweep + hypothesis property
    tests, tests/test_maintenance_entries.py)."""
    w_tail = Window.partitionBy("user_id").orderBy(F.desc("session_end"))
    tail = (store.withColumn("_rn", F.row_number().over(w_tail))
            .where(F.col("_rn") == 1).drop("_rn"))
    w_head = Window.partitionBy("user_id").orderBy("session_start")
    head = (fresh.withColumn("_rn", F.row_number().over(w_head))
            .where(F.col("_rn") == 1).drop("_rn"))

    joined = (tail.alias("s").join(head.alias("t"), "user_id")
              .where(F.col("t.session_start").cast("double")
                     - F.col("s.session_end").cast("double") <= gap_s))
    pairs = joined.select(
        "user_id",
        F.col("s.session_start").alias("old_start"),
        F.col("t.session_start").alias("new_start"),
        F.col("s.session_start").alias("session_start"),
        F.col("t.session_end").alias("session_end"),
        (F.col("s.sum_cents") + F.col("t.sum_cents")).alias("sum_cents"),
        (F.col("s.event_count") + F.col("t.event_count"))
        .alias("event_count"))

    keep_store = store.join(
        pairs.select("user_id", F.col("old_start").alias("session_start")),
        ["user_id", "session_start"], "left_anti")
    keep_fresh = fresh.join(
        pairs.select("user_id", F.col("new_start").alias("session_start")),
        ["user_id", "session_start"], "left_anti")
    cols = ["user_id", "session_start", "session_end", "sum_cents",
            "event_count"]
    return (keep_store.select(*cols)
            .unionByName(keep_fresh.select(*cols))
            .unionByName(pairs.select(*cols)))
