"""Behavior and plan-shape tests for the maintained-index / incremental
session family:

- ``event_type_crosscorr`` (plans/relational.py) — numpy-referenced
  Pearson on a crafted daily grid + plan-shape pin;
- ``incremental_session_merge`` / ``late_event_session_repair``
  (plans/parity.py) — cutoff-invariance, late-arrival shapes, audit
  conservation, plan shapes;
- ``incremental_neardup_probe`` / ``incremental_bm25_search``
  (plans/llm_pipeline.py) — persisted-index layout, combined bucket
  cap, partition-pruned postings reads, torn-export guards.

The oracle gate covers value parity, so these tests pin what the
oracle cannot see
(plan shapes, index layouts, crafted corner cases, randomized
cutoff-invariance).
"""

from __future__ import annotations

import pytest


def _collect_sessions(df):
    return sorted(
        (r.user_id, r.session_start, r.session_end, r.sum_cents,
         r.event_count) for r in df.collect())


def _plan(spark, df, mode="extended"):
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString(mode)
    return df._jdf.queryExecution().explainString(jm)


def test_crosscorr_plan_shape(spark, sf_dir):
    """Scale promises: no cartesian product, no Python stage."""
    from windowsession_using_kafka_flink_docker_spark.plans.relational import (
        event_type_crosscorr,
    )

    p = _plan(spark, event_type_crosscorr(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_crosscorr_matches_numpy_reference(spark):
    """event_type_crosscorr against an independent numpy Pearson on a
    crafted daily grid (injected through createDataFrame + a load_table
    shim): the floor-scaled e4 value must equal numpy's within one
    ulp-step of the floor boundary."""
    import datetime

    import numpy as np

    from windowsession_using_kafka_flink_docker_spark.plans import relational as M

    rng = np.random.RandomState(7)
    days = 40
    series = {
        "a": rng.randint(1, 500, size=days),
        # b tracks a at lag 1 with noise -> strong xcorr at lag 1
        "b": None,
        "c": rng.randint(1, 500, size=days),
    }
    series["b"] = np.roll(series["a"], 1) + rng.randint(0, 50, size=days)

    # build the real per-event frame, kept small: <= 30 events/day so
    # the materialized row count stays in the low thousands
    small = {t: np.clip(ys, 1, 30) for t, ys in series.items()}
    rows = []
    for t, ys in small.items():
        for x, y in enumerate(ys):
            d = datetime.date(2024, 1, 1) + datetime.timedelta(days=int(x))
            ts = datetime.datetime.combine(d, datetime.time(12))
            rows.extend([(ts, t)] * int(y))
    ev = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")

    orig = M.load_table
    M.load_table = lambda s, sf, name: ev
    try:
        got = {(r.type_a, r.type_b, r.lag): (r.m, r.xcorr_e4)
               for r in M.event_type_crosscorr(spark, "ignored").collect()}
    finally:
        M.load_table = orig

    types = sorted(small)
    for ta in types:
        for tb in types:
            if ta == tb:
                continue
            for lag in (0, 1, 2):
                a = small[ta][:days - lag].astype(np.float64)
                b = small[tb][lag:].astype(np.float64)
                m = len(a)
                d1 = m * (a * a).sum() - a.sum() ** 2
                d2 = m * (b * b).sum() - b.sum() ** 2
                if m < 8 or d1 <= 0 or d2 <= 0:
                    assert (ta, tb, lag) not in got
                    continue
                num = m * (a * b).sum() - a.sum() * b.sum()
                want = int(np.floor(num / np.sqrt(d1 * d2) * 10000))
                gm, ge4 = got[(ta, tb, lag)]
                assert gm == m, (ta, tb, lag)
                assert abs(ge4 - want) <= 1, (ta, tb, lag, ge4, want)
    # the planted lag-1 dependence must dominate: corr(a->b, lag1)
    # exceeds corr(a->c, lag1)
    assert got[("a", "b", 1)][1] > got[("a", "c", 1)][1]


def test_incremental_merge_equals_full_recompute_at_every_cutoff(spark):
    """Property: for EVERY possible cutoff position over a crafted event
    set — covering straddling sessions, exact-boundary gaps (Spark
    merges at exactly gap_s, probed empirically; the oracle's
    ``> gap`` and the merge's ``<= gap`` agree), old-only users,
    new-only users, and a fresh head that must NOT attach — the store
    merge equals sessionizing everything from scratch."""
    import datetime

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
        merge_session_store,
        sessions_full as _sessions_full,
    )

    base = datetime.datetime(2024, 1, 1)

    def t(s):
        return base + datetime.timedelta(seconds=s)

    rows = []
    eid = 0

    def ev(user, sec, cents):
        nonlocal eid
        eid += 1
        rows.append((eid, t(sec), user, cents / 100.0))

    # u1: one long session with intra-gaps 500/600/500 (600 = exact
    # boundary, still one session)
    for s, c in [(0, 101), (500, 202), (1100, 303), (1600, 404)]:
        ev(1, s, c)
    # u2: two sessions far apart
    for s, c in [(0, 11), (100, 22), (5000, 33), (5100, 44)]:
        ev(2, s, c)
    # u3: single event early; u4: single event late
    ev(3, 50, 55)
    ev(4, 5050, 66)
    # u5: head session may attach, second fresh session never chains
    for s, c in [(400, 77), (900, 88), (9000, 99)]:
        ev(5, s, c)

    all_ev = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
    want = _collect_sessions(_sessions_full(all_ev))

    secs = sorted({int((r[1] - base).total_seconds()) for r in rows})
    cutpoints = sorted({*secs, *(s + 1 for s in secs), *(s - 1 for s in secs)})
    for cut_s in cutpoints:
        cut = t(cut_s)
        store = _sessions_full(all_ev.where(F.col("ts") < F.lit(cut)))
        fresh = _sessions_full(all_ev.where(F.col("ts") >= F.lit(cut)))
        got = _collect_sessions(merge_session_store(store, fresh))
        assert got == want, f"cutoff at +{cut_s}s diverged"


def test_incremental_merge_entry_is_non_vacuous(spark, sf_dir):
    """The entry's derived cutoff (latest continuation event) must
    actually produce a straddling merged session at test scale — a
    cutoff that splits nothing would pass the oracle trivially."""
    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
        continuation_cutoff,
    )
    from windowsession_using_kafka_flink_docker_spark.plans.parity import (
        incremental_session_merge,
    )
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    cutoff = continuation_cutoff(load_table(spark, sf_dir, "events"))
    assert cutoff is not None, "no continuation events — widen the gap"
    straddlers = (incremental_session_merge(spark, sf_dir)
                  .where((F.col("session_start") < F.lit(cutoff))
                         & (F.col("session_end") >= F.lit(cutoff)))
                  .count())
    assert straddlers >= 1


def test_late_repair_audit_is_conserving(spark, sf_dir):
    """Internal consistency of the repair audit: cents_added must equal
    the late events' own cent sum per user (sessionization repartitions
    events, never creates or loses value), and repairing can only grow
    a user's event mass."""
    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.plans.parity import (
        _LATE_MOD,
        _LATE_OFF,
        late_event_session_repair,
    )
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    audit = late_event_session_repair(spark, sf_dir)
    late_cents = (load_table(spark, sf_dir, "events")
                  .where(F.col("event_id") % _LATE_MOD == _LATE_OFF)
                  .groupBy("user_id")
                  .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                       .alias("want_cents")))
    bad = (audit.join(late_cents, "user_id")
           .where(F.col("cents_added") != F.col("want_cents")).count())
    assert bad == 0
    # every affected user still has sessions, and each row is a real
    # late arrival (bridging may make sessions_after < sessions_before,
    # so no inequality between the two is asserted)
    assert audit.where(F.col("sessions_after") < 1).count() == 0
    assert audit.where(F.col("late_events") <= 0).count() == 0


def test_late_repair_bridges_extends_and_opens(spark):
    """The three late-arrival shapes, crafted: a late event that BRIDGES
    two store sessions (sessions_after < sessions_before — the case no
    tail merge can handle), one that OPENS a new session, and an
    untouched user who must not appear in the audit at all."""
    import datetime

    import windowsession_using_kafka_flink_docker_spark.plans.parity as M

    base = datetime.datetime(2024, 1, 1)

    def t(s):
        return base + datetime.timedelta(seconds=s)

    # _LATE_MOD=19, _LATE_OFF=3: ids 3 and 22 are late, others ontime
    rows = [
        # u1: ontime singletons at 0 and 1200 (gap 1200 > 600); late id=3
        # at 600 is within the gap of BOTH -> bridges to ONE session
        (1, t(0), 1, 1.00),
        (2, t(1200), 1, 2.00),
        (3, t(600), 1, 4.00),
        # u2: untouched control
        (4, t(0), 2, 8.00),
        # u3: ontime at 0; late id=22 far away -> opens a second session
        (5, t(0), 3, 16.00),
        (22, t(10_000), 3, 32.00),
    ]
    ev = spark.createDataFrame(
        rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE")

    orig = M.load_table
    M.load_table = lambda s, sf, name: ev
    try:
        audit = {r.user_id: (r.late_events, r.sessions_before,
                             r.sessions_after, r.cents_added)
                 for r in M.late_event_session_repair(spark, "x").collect()}
    finally:
        M.load_table = orig

    assert audit == {
        1: (1, 2, 1, 400),   # bridge: two sessions fuse into one
        3: (1, 1, 2, 3200),  # open: late event starts its own session
    }


@pytest.mark.usefixtures("spark")
class TestMergeProperties:
    """Randomized cutoff-invariance for merge_session_store: whatever
    the split point, store-tail merge equals from-scratch
    sessionization. Deltas biased around the 600 s boundary (equal
    merges, +1 splits — both engines agree, probed empirically)."""

    import datetime as _dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _BASE = _dt.datetime(2024, 3, 1, 9, 0, 0)
    _delta_s = st.one_of(
        st.integers(min_value=0, max_value=1800),
        st.sampled_from([599, 600, 601]),
    )
    _raw = st.lists(
        st.tuples(st.integers(min_value=1, max_value=3),   # user
                  _delta_s,
                  st.integers(min_value=-500, max_value=500)),  # cents
        min_size=1, max_size=25,
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(raw=_raw, cut_ratio=st.floats(min_value=0.0, max_value=1.0))
    def test_any_cutoff_merges_to_full_recompute(self, spark, raw,
                                                 cut_ratio):
        import datetime

        from pyspark.sql import functions as F

        from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
            merge_session_store,
            sessions_full as _sessions_full,
        )

        rows, clocks = [], {}
        for i, (uid, delta_s, cents) in enumerate(raw):
            clocks[uid] = clocks.get(uid, self._BASE) \
                + datetime.timedelta(seconds=delta_s)
            rows.append((i, clocks[uid], uid, cents / 100.0))
        ev = spark.createDataFrame(
            rows,
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE")

        times = sorted(r[1] for r in rows)
        cut = times[min(int(cut_ratio * len(times)), len(times) - 1)]
        store = _sessions_full(ev.where(F.col("ts") < F.lit(cut)))
        fresh = _sessions_full(ev.where(F.col("ts") >= F.lit(cut)))
        got = _collect_sessions(merge_session_store(store, fresh))
        want = _collect_sessions(_sessions_full(ev))
        assert got == want


def test_maintenance_plan_shapes(spark, sf_dir):
    """Scale shapes of the session-maintenance entries: no cartesian
    product anywhere; the merge entry's final plan reads the two
    checkpointed session-store sides as materialized blocks (the
    twice-consumed-frame discipline, SCALING.md r14-late); the repair
    entry stays semi/anti-join shaped (late users fetched by semi join,
    never a corpus-wide recompute)."""
    from windowsession_using_kafka_flink_docker_spark.plans.parity import (
        incremental_session_merge,
        late_event_session_repair,
    )

    p_merge = _plan(spark, incremental_session_merge(spark, sf_dir))
    assert "CartesianProduct" not in p_merge
    assert "ExistingRDD" in p_merge  # both sides materialized once

    p_repair = _plan(spark, late_event_session_repair(spark, sf_dir))
    assert "CartesianProduct" not in p_repair
    assert "LeftSemi" in p_repair  # affected-user fetch is a semi join


def test_neardup_probe_layout_and_nonvacuity(spark, sf_dir, tmp_path):
    """The persisted index must have the serving layout (band_id=
    partition dirs for pruned probe reads, a bucket-count ledger, the
    shingle store); the probe must produce >= 1 CROSS pair (a delta doc
    matched against the index — the path that matters) and an empty
    delta must probe to an empty result, not spurious corpus pairs."""
    import os

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators import (
        neardup_index as NI,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline as M
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    out = M.incremental_neardup_probe(spark, sf_dir)
    assert out.where("is_cross").count() >= 1

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % M._DELTA_MOD != M._DELTA_OFF)
    path = str(tmp_path / "ndidx")
    M.neardup_index_export(spark, corpus, path)
    assert sorted(os.listdir(path)) == ["bands", "bucket_counts", "shingles"]
    # the corpus lands as a committed increment 0 (versioned layout,
    # operators/neardup_index.py) with band_id= partition dirs inside
    band_dirs = [d for d in os.listdir(
                     os.path.join(path, "bands", "inc=00000"))
                 if d.startswith("band_id=")]
    assert len(band_dirs) == NI.MH_BANDS

    empty_delta = docs.where(F.lit(False))
    assert NI.neardup_index_probe(spark, path, empty_delta).count() == 0


def test_neardup_probe_rejects_torn_export(spark, sf_dir, tmp_path):
    """An export interrupted between components must be rejected before
    any probe math runs — a missing counts ledger would silently
    under-prune; a missing shingle store would silently drop pairs."""
    import os

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators import (
        neardup_index as NI,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline as M
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % M._DELTA_MOD != M._DELTA_OFF)
    delta = docs.where(F.col("doc_id") % M._DELTA_MOD == M._DELTA_OFF)
    path = str(tmp_path / "torn")
    M.neardup_index_export(spark, corpus, path)
    os.remove(os.path.join(path, "bucket_counts", "inc=00000", "_SUCCESS"))
    with pytest.raises(ValueError, match="bucket_counts"):
        NI.neardup_index_probe(spark, path, delta)


def test_neardup_probe_combined_bucket_cap(spark, tmp_path):
    """The cap must count INDEX + DELTA members together: a bucket
    under cap corpus-only that overflows once the delta lands must be
    pruned, exactly as a from-scratch run over corpus+delta would
    prune it. Crafted: 3 identical corpus docs + 1 identical delta doc
    share every bucket; cap=3 -> combined size 4 overflows -> no pairs;
    cap=4 -> pairs appear."""
    from windowsession_using_kafka_flink_docker_spark.operators import (
        neardup_index as NI,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline as M

    text = ("the quick brown fox jumps over the lazy dog again and "
            "again for this crafted bucket test " * 3)
    corpus = spark.createDataFrame(
        [(10, text), (20, text), (30, text)], "doc_id BIGINT, text STRING")
    # id 17 % 10 == _DELTA_OFF -> a delta-classified id
    delta = spark.createDataFrame([(17, text)], "doc_id BIGINT, text STRING")

    path = str(tmp_path / "capidx")
    M.neardup_index_export(spark, corpus, path)

    orig = NI.MH_CAP
    try:
        NI.MH_CAP = 3
        assert NI.neardup_index_probe(spark, path, delta).count() == 0
        NI.MH_CAP = 4
        got = NI.neardup_index_probe(spark, path, delta)
        pairs = {(r.id_a, r.id_b) for r in got.collect()}
        assert pairs == {(10, 17), (17, 20), (17, 30)}
        assert all(r.jaccard == 1.0 for r in got.collect())
    finally:
        NI.MH_CAP = orig


def test_bm25_index_pruning_increment_and_torn_guard(spark, sf_dir,
                                                     tmp_path):
    """The index query must prune the postings scan to the query
    terms' bucket partitions (PartitionFilters on the bucket column,
    <= |terms| values); the delta increment must actually land in the
    persisted postings as its OWN committed inc=<n> directory; a torn
    export (missing commit marker) AND a torn append (postings
    increment landed, doclens increment missing — the r14 ADVICE
    failure mode) must both be rejected."""
    import os
    import re
    import shutil

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators.bm25_index import (
        bm25_from_index,
        bm25_index_append,
        bm25_index_export,
        increments,
    )
    from windowsession_using_kafka_flink_docker_spark.plans import llm_pipeline as M
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % M._BM_DELTA_MOD != M._BM_DELTA_OFF)
    delta = docs.where(F.col("doc_id") % M._BM_DELTA_MOD == M._BM_DELTA_OFF)
    path = str(tmp_path / "bm25idx")
    bm25_index_export(spark, corpus, path)
    bm25_index_append(spark, path, delta)

    # increments are versioned: base + delta, each with its own marker
    assert increments(path, "postings") == ["inc=00000", "inc=00001"]
    assert increments(path, "doclens") == ["inc=00000", "inc=00001"]

    # increment landed: delta docs have postings rows
    postings = spark.read.parquet(os.path.join(path, "postings"))
    assert postings.where(
        F.col("doc_id") % M._BM_DELTA_MOD == M._BM_DELTA_OFF).count() > 0

    df = bm25_from_index(spark, path, M._BM_TERMS, M._BM_K)
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jm)
    pf = re.findall(r"PartitionFilters: \[bucket#\d+ IN \(([^)]*)\)\]", plan)
    assert pf, plan[:2000]
    assert all(len(v.split(",")) <= len(M._BM_TERMS) for v in pf)

    # torn APPEND: delta postings committed but its doclens increment
    # never landed — the guard must catch the mismatch (previously this
    # silently served stale N/avgdl)
    shutil.rmtree(os.path.join(path, "doclens", "inc=00001"))
    with pytest.raises(ValueError, match="mismatched increments"):
        bm25_from_index(spark, path, M._BM_TERMS, M._BM_K)

    # torn WRITE: increment directory exists but its commit marker is
    # missing (interrupted mid-write)
    bm25_index_append(spark, path, delta, inc=1)
    os.remove(os.path.join(path, "doclens", "inc=00001", "_SUCCESS"))
    with pytest.raises(ValueError, match="doclens/inc=00001"):
        bm25_from_index(spark, path, M._BM_TERMS, M._BM_K)
