"""Maintainer #24 (streaming/session_store.py): the incremental session
store under time-ordered micro-batch arrival. stream==batch parity,
cross-batch tail merge non-vacuity, restart resume on the same
checkpoint+state, and the late-arrival guard."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
    sessions_full as _sessions_full,
)
from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (
    increments,
)
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table
from windowsession_using_kafka_flink_docker_spark.streaming import (
    IncrementalSessionStoreMaintainer,
    file_events_source,
    streaming_maintenance,
)

_SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE"
_COLS = ["event_id", "ts", "user_id", "value"]


def _rows(df):
    return sorted(tuple(str(v) for v in r)
                  for r in df.select(*sorted(df.columns)).collect())


def _straddle_cutoff(spark, sf_dir):
    """The latest session-continuation event's ts — splitting there
    guarantees at least one session straddles the file boundary, so the
    tail-merge path provably executes (THE SAME helper the staged
    incremental_session_merge entry uses — one derivation, no drift)."""
    from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
        continuation_cutoff,
    )

    cutoff = continuation_cutoff(load_table(spark, sf_dir, "events"))
    assert cutoff is not None
    return cutoff


def _write_chunks(spark, sf_dir, base, bounds):
    """Split events into time-ordered files at the given ts bounds
    (len(bounds)+1 chunks); returns the flat dir for maxFilesPerTrigger
    replay. Chunk i holds [bounds[i-1], bounds[i])."""
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    lo = None
    for i, hi in enumerate([*bounds, None]):
        chunk = ev
        if lo is not None:
            chunk = chunk.where(F.col("ts") >= F.lit(lo))
        if hi is not None:
            chunk = chunk.where(F.col("ts") < F.lit(hi))
        d = os.path.join(base, f"c{i}")
        chunk.coalesce(1).write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
        lo = hi
    return flat


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_equals_batch_with_straddling_boundary(
        spark, sf_dir, tmp_path_factory):
    """Three time-ordered batches, one boundary planted at the latest
    continuation event: the maintained store must equal sessionizing
    all events from scratch, and the straddling session must exist in
    the final store (the merge path demonstrably ran)."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    mid = ev.where(F.col("ts") < F.lit(cutoff)).agg(
        F.percentile_approx(F.col("ts").cast("double"), 0.5)).first()[0]
    import datetime
    mid_ts = datetime.datetime.fromtimestamp(mid)

    base = str(tmp_path_factory.mktemp("sess_store"))
    flat = _write_chunks(spark, sf_dir, base, [mid_ts, cutoff])

    maint = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("sess_state")))
    q = streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1),
        maint, str(tmp_path_factory.mktemp("sess_ckpt")))
    _drain(q)

    got = _rows(maint.current())
    want = _rows(_sessions_full(ev.select(*_COLS)))
    assert len(got) == len(want) and got == want
    straddlers = (maint.current()
                  .where((F.col("session_start") < F.lit(cutoff))
                         & (F.col("session_end") >= F.lit(cutoff)))
                  .count())
    assert straddlers >= 1, "boundary session did not merge"


def test_restart_resumes_on_same_checkpoint(spark, sf_dir,
                                            tmp_path_factory):
    """Process the first file, stop, add the second file, resume with a
    FRESH maintainer instance on the same checkpoint+state: final store
    equals from-scratch sessionization."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    base = str(tmp_path_factory.mktemp("sess_restart"))
    flat = _write_chunks(spark, sf_dir, base, [cutoff])
    # hold file 01 back
    held = os.path.join(base, "held.parquet")
    os.rename(os.path.join(flat, "01.parquet"), held)

    state_dir = str(tmp_path_factory.mktemp("sess_state2"))
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt2"))

    maint = IncrementalSessionStoreMaintainer(spark, state_dir)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint, ckpt))
    assert maint.current().count() > 0

    os.rename(held, os.path.join(flat, "01.parquet"))
    maint2 = IncrementalSessionStoreMaintainer(spark, state_dir)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint2, ckpt))

    got = _rows(maint2.current())
    want = _rows(_sessions_full(
        load_table(spark, sf_dir, "events").select(*_COLS)))
    assert len(got) == len(want) and got == want


def test_late_arrival_raises_instead_of_corrupting(spark, sf_dir,
                                                   tmp_path_factory):
    """Files replayed in REVERSED time order violate the per-user
    monotonicity precondition; the guard must fail the query rather
    than silently mis-merge, and the store must still hold only the
    first (valid) batch's sessions."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    base = str(tmp_path_factory.mktemp("sess_late"))
    flat = _write_chunks(spark, sf_dir, base, [cutoff])
    # swap file order: late half first. FileStreamSource orders by
    # MODIFICATION TIME (not name), so set mtimes explicitly.
    import time
    a, b = os.path.join(flat, "00.parquet"), os.path.join(flat, "01.parquet")
    tmp = os.path.join(base, "tmp.parquet")
    os.rename(a, tmp); os.rename(b, a); os.rename(tmp, b)
    now = time.time()
    os.utime(a, (now - 100, now - 100))  # late half arrives first
    os.utime(b, (now, now))              # early half arrives second

    maint = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("sess_state3")))
    q = streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1),
        maint, str(tmp_path_factory.mktemp("sess_ckpt3")))
    from pyspark.errors.exceptions.captured import StreamingQueryException
    with pytest.raises(StreamingQueryException, match="late arrival"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # the valid first batch landed; the poisoned batch did not
    ev = load_table(spark, sf_dir, "events")
    want_first = _rows(_sessions_full(
        ev.where(F.col("ts") >= F.lit(cutoff)).select(*_COLS)))
    assert _rows(maint.current()) == want_first


def test_empty_batch_is_value_preserving(spark, sf_dir,
                                         tmp_path_factory):
    """An empty micro-batch must not change the maintained values
    (fleet-wide invariant, see test_streaming.py empty-batch suite)."""
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    maint = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("sess_state4")))
    maint.merge_batch(ev, 0)
    before = _rows(maint.current())
    maint.merge_batch(ev.where(F.lit(False)), 1)
    assert _rows(maint.current()) == before


def test_late_arrival_dead_letter_quarantines_and_continues(
        spark, sf_dir, tmp_path_factory):
    """With a dead_letter_dir configured (the continuous-job wiring),
    a late-arrival batch must NOT fail the query: the late users' raw
    batch events quarantine to b=<batch_id> parquet, their store rows
    stay exactly as before the batch, and clean users still merge."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    base = str(tmp_path_factory.mktemp("sess_dlq"))
    flat = _write_chunks(spark, sf_dir, base, [cutoff])
    # reversed arrival, as in the fail-fast test
    import time
    a, b = os.path.join(flat, "00.parquet"), os.path.join(flat, "01.parquet")
    tmp = os.path.join(base, "tmp.parquet")
    os.rename(a, tmp); os.rename(b, a); os.rename(tmp, b)
    now = time.time()
    os.utime(a, (now - 100, now - 100))
    os.utime(b, (now, now))

    dlq = str(tmp_path_factory.mktemp("sess_dlq_dir"))
    maint = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("sess_state5")),
        dead_letter_dir=dlq)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1),
        maint, str(tmp_path_factory.mktemp("sess_ckpt5"))))

    ev = load_table(spark, sf_dir, "events")
    late_half = ev.where(F.col("ts") >= F.lit(cutoff))   # batch 0
    early_half = ev.where(F.col("ts") < F.lit(cutoff))   # batch 1 (late!)
    batch0_users = {r.user_id for r in
                    late_half.select("user_id").distinct().collect()}

    # quarantine = batch-1 events of users already in the store
    got_dlq = spark.read.parquet(os.path.join(dlq, "b=1"))
    want_dlq = early_half.where(F.col("user_id").isin(batch0_users))
    assert _rows(got_dlq.select(*_COLS)) == _rows(want_dlq.select(*_COLS))

    # store = batch-0 sessions for quarantined users (unchanged) plus
    # batch-1 sessions of users the store had never seen
    clean_early = early_half.where(~F.col("user_id").isin(batch0_users))
    want = _rows(_sessions_full(late_half.select(*_COLS)).unionByName(
        _sessions_full(clean_early.select(*_COLS))))
    assert _rows(maint.current()) == want


def _cents_atoms(df):
    """Raw events as degenerate session atoms [ts, ts]."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return df.select(
        "user_id", F.col("ts").alias("session_start"),
        F.col("ts").alias("session_end"), cents.alias("sum_cents"),
        F.lit(1).cast("long").alias("event_count"))


def _quarantined_maintainer(spark, sf_dir, tmp_path_factory):
    """Store from the time-late half (batch 0), then the early half
    (batch 1) arrives late: overlapping users quarantine. Returns
    (maintainer, all-events frame)."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    late_half = ev.where(F.col("ts") >= F.lit(cutoff))
    early_half = ev.where(F.col("ts") < F.lit(cutoff))
    maint = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("drain_state")),
        dead_letter_dir=str(tmp_path_factory.mktemp("drain_dlq")))
    maint.merge_batch(late_half, 0)
    maint.merge_batch(early_half, 1)   # overlapping users -> quarantine
    return maint, ev


def test_resessionize_atoms_equals_full_recompute(spark, sf_dir):
    """The drain's repair primitive: stored sessions (from the ontime
    subset) re-sessionized together with the withheld events as
    interval atoms must equal sessionizing ALL events from scratch —
    including events nesting inside stored spans and bridge events
    (every 19th event withheld, the late_event_session_repair plant)."""
    from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
        resessionize_atoms,
    )

    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    is_late = F.col("event_id") % 19 == 3
    store = _sessions_full(ev.where(~is_late))
    atoms = store.unionByName(_cents_atoms(ev.where(is_late)))
    assert _rows(resessionize_atoms(atoms)) == _rows(_sessions_full(ev))


def test_dead_letter_drain_restores_full_recompute(spark, sf_dir,
                                                   tmp_path_factory):
    """repair_from_dead_letter drains the quarantine back into the
    store: backlog is visible beforehand (disk-derived, so a FRESH
    maintainer instance sees it too), the drained store equals
    sessionizing every event from scratch, and the drain is a no-op
    once the quarantine is empty."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)

    backlog = maint.dead_letter_backlog()
    assert backlog > 0
    # a restarted job sees the same backlog from disk
    fresh = IncrementalSessionStoreMaintainer(
        spark, maint.state.state_dir, dead_letter_dir=maint.dead_letter_dir)
    assert fresh.dead_letter_backlog() == backlog

    drained = maint.repair_from_dead_letter()
    assert drained == backlog
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert maint.dead_letter_backlog() == 0
    assert maint.repair_from_dead_letter() == 0
    assert _rows(maint.current()) == _rows(_sessions_full(ev))


def test_drain_crash_after_commit_never_double_counts(spark, sf_dir,
                                                      tmp_path_factory):
    """Step-4 crash: the repaired v=N committed but the letters and the
    pre-drain backup survived. Re-draining must recognize the letters
    as already folded (backup beside a committed target) and ONLY clean
    up — re-applying them would double-count every late event's cents."""
    import shutil as sh

    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    letters = maint._dead_letter_batches()
    saved = str(tmp_path_factory.mktemp("saved_letters"))
    for d in letters:
        sh.copytree(os.path.join(maint.dead_letter_dir, d),
                    os.path.join(saved, d))

    assert maint.repair_from_dead_letter() > 0
    want = _rows(_sessions_full(ev))
    assert _rows(maint.current()) == want

    # resurrect the crash state: letters back + backup (with its fold
    # manifest, as a real step-5 crash leaves it) beside committed v=N
    for d in letters:
        sh.copytree(os.path.join(saved, d),
                    os.path.join(maint.dead_letter_dir, d))
    versions = maint.state.versions()
    pre = os.path.join(maint.state.state_dir,
                       f"pre_drain_v={versions[-1]}")
    sh.copytree(os.path.join(maint.state.state_dir, f"v={versions[-1]}"),
                pre)
    with open(os.path.join(pre, "_folded.txt"), "w") as fh:
        fh.write("\n".join(letters))

    assert maint.repair_from_dead_letter() == 0  # folded already
    assert _rows(maint.current()) == want        # no double count
    assert maint.dead_letter_backlog() == 0
    assert maint._pre_drain_leaf() is None


def test_drain_crash_mid_write_recovers_from_backup(spark, sf_dir,
                                                    tmp_path_factory):
    """Step-3 crash: the newest version was renamed to the pre-drain
    backup and the repaired write never committed. Re-draining must
    repair FROM THE BACKUP (current() alone would silently drop the
    last merged batch) and converge to the full recompute."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    versions = maint.state.versions()
    os.rename(os.path.join(maint.state.state_dir, f"v={versions[-1]}"),
              os.path.join(maint.state.state_dir,
                           f"pre_drain_v={versions[-1]}"))
    assert maint.state.versions() != versions  # target torn/missing

    assert maint.repair_from_dead_letter() > 0
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert maint.dead_letter_backlog() == 0
    assert maint._pre_drain_leaf() is None


@pytest.mark.usefixtures("spark")
class TestAtomRepairProperties:
    """Randomized equivalence for resessionize_atoms: for ANY event set
    and ANY late subset, {sessions of the ontime events} ∪ {late events
    as degenerate atoms} re-sessionized must equal sessionizing all
    events from scratch. Deltas biased around the 600 s gap boundary
    and a nesting-heavy shape (tiny deltas put late events INSIDE
    stored spans — the case the running-max window exists for)."""

    import datetime as _dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _BASE = _dt.datetime(2024, 5, 1, 6, 0, 0)
    _delta_s = st.one_of(
        st.integers(min_value=0, max_value=1800),
        st.sampled_from([0, 1, 5, 599, 600, 601]),
    )
    _raw = st.lists(
        st.tuples(st.integers(min_value=1, max_value=3),    # user
                  _delta_s,
                  st.integers(min_value=-500, max_value=500),  # cents
                  st.booleans()),                          # is_late
        min_size=1, max_size=25,
    )

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(raw=_raw)
    def test_any_late_subset_repairs_to_full_recompute(self, spark, raw):
        import datetime

        from windowsession_using_kafka_flink_docker_spark.operators.session_store import (
            resessionize_atoms,
            sessions_full,
        )

        rows, clocks = [], {}
        for i, (uid, delta_s, cents, late) in enumerate(raw):
            clocks[uid] = clocks.get(uid, self._BASE) \
                + datetime.timedelta(seconds=delta_s)
            rows.append((i, clocks[uid], uid, cents / 100.0, late))
        ev = spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                  "value DOUBLE, late BOOLEAN")
        ontime = ev.where(~F.col("late")).drop("late")
        late = ev.where(F.col("late")).drop("late")
        if ontime.isEmpty():
            ontime = ev.limit(0).drop("late")  # all-late degenerate case

        atoms = sessions_full(ontime).unionByName(_cents_atoms(late))
        got = _rows(resessionize_atoms(atoms))
        want = _rows(sessions_full(ev.drop("late")))
        assert got == want


def test_drain_defers_letters_of_uncommitted_batches(spark, sf_dir,
                                                     tmp_path_factory):
    """r15 review finding: a letter whose batch's state version never
    committed belongs to a batch the stream will RE-DELIVER; draining
    it first would let the replay re-quarantine the same users and a
    second drain double-count them. The drain must DEFER such letters
    (backlog still reports them) and fold them once their version
    exists."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    # resurrect the pre-write crash: b=1 exists but v=1 does not
    import shutil as sh
    sh.rmtree(os.path.join(maint.state.state_dir, "v=1"))

    pending = maint.dead_letter_backlog()
    assert pending > 0
    assert maint.repair_from_dead_letter() == 0  # deferred, not folded
    assert maint.dead_letter_backlog() == pending  # letter untouched

    # the stream re-delivers batch 1: overwrites its own quarantine and
    # commits v=1 — now the letter is drainable exactly once
    cutoff = _straddle_cutoff(spark, sf_dir)
    maint.merge_batch(ev.where(F.col("ts") < F.lit(cutoff)), 1)
    assert maint.repair_from_dead_letter() == pending
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert maint.dead_letter_backlog() == 0


def test_replay_after_drain_preserves_repaired_store(spark, sf_dir,
                                                     tmp_path_factory):
    """r15 ADVICE (high): crash between state.write(N) and the
    streaming checkpoint commit, so the restart-moment drain folds
    older letters (b=K, K<N) into v=N and deletes them — and THEN the
    stream re-delivers batch N. The replayed merge must be a no-op
    (v=N already committed; it may be the repaired version): the old
    recompute-from-v=N-1 overwrote the repair, and the deleted letters'
    late events were silently and permanently lost."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    # batch 2: strictly later events for every user (clean tail merge);
    # v=2 commits but — in this scenario — the checkpoint does not
    batch2 = ev.select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
        "user_id", "value").localCheckpoint()
    maint.merge_batch(batch2, 2)

    # restart-moment drain: b=1 (K=1 < N=2) folds into v=2 and is gone
    assert maint.repair_from_dead_letter() > 0
    want = _rows(_sessions_full(ev).unionByName(_sessions_full(batch2)))
    assert _rows(maint.current()) == want
    assert maint.dead_letter_backlog() == 0

    # the stream re-delivers batch 2 with identical data: the repaired
    # v=2 must survive (the old code recomputed from v=1 and lost b=1)
    maint.merge_batch(batch2, 2)
    assert _rows(maint.current()) == want
    assert maint.dead_letter_backlog() == 0
    assert maint.repair_from_dead_letter() == 0


def test_stream_crash_drain_replay_lifecycle(spark, sf_dir,
                                             tmp_path_factory):
    """The r15 ADVICE (high) scenario end-to-end through a REAL
    checkpointed query (the checkpoint's offset/commit split is the
    thing under test, not a hand-driven replay): batch 0 ingests the
    time-late half, batch 1's early half quarantines (b=1), batch 2
    merges clean later events but the job CRASHES between
    state.write(v=2) and the checkpoint commit. The restart-moment
    drain folds b=1 into v=2 and deletes the letter; the stream then
    resumes on the same checkpoint and RE-DELIVERS batch 2 — whose
    merge must skip (v=2 committed), preserving the repaired store.
    The pre-r16 recompute-from-v=1 lost the folded letter forever."""
    import time

    from tests.test_streaming import TestCrashMidBatchDurability as TC

    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    late_half = ev.where(F.col("ts") >= F.lit(cutoff))
    early_half = ev.where(F.col("ts") < F.lit(cutoff))
    c_new = ev.select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
        "user_id", "value").localCheckpoint()

    base = str(tmp_path_factory.mktemp("crash_drain"))
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    for i, chunk in enumerate((late_half, early_half, c_new)):
        d = os.path.join(base, f"c{i}")
        chunk.coalesce(1).write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
    now = time.time()  # FileStreamSource orders by modification time
    for i in range(3):
        os.utime(os.path.join(flat, f"{i:02d}.parquet"),
                 (now + i, now + i))

    state = str(tmp_path_factory.mktemp("crash_drain_state"))
    dlq = str(tmp_path_factory.mktemp("crash_drain_dlq"))
    ckpt = str(tmp_path_factory.mktemp("crash_drain_ckpt"))

    maint = IncrementalSessionStoreMaintainer(spark, state,
                                              dead_letter_dir=dlq)
    crashing = TC._CrashAfterStateWrite(maint, crash_batch=2)
    q = (file_events_source(spark, flat, schema=_SCHEMA,
                            max_files_per_trigger=1)
         .writeStream.queryName("crash_drain_drill")
         .option("checkpointLocation", ckpt)
         .foreachBatch(crashing.merge_batch).start())
    import pytest as _pytest
    with _pytest.raises(Exception):
        q.processAllAvailable()
    q.stop()
    assert 2 in maint.state.versions()      # the orphaned version landed
    assert maint.dead_letter_backlog() > 0  # b=1 still quarantined

    # the restart moment: drain folds b=1 into the orphaned v=2
    maint2 = IncrementalSessionStoreMaintainer(spark, state,
                                               dead_letter_dir=dlq)
    assert maint2.repair_from_dead_letter() > 0
    want = _rows(_sessions_full(ev.unionByName(c_new)))
    assert _rows(maint2.current()) == want

    # resume on the SAME checkpoint: Spark re-delivers batch 2; the
    # replay must not clobber the repaired v=2
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint2, ckpt))
    assert _rows(maint2.current()) == want
    assert maint2.dead_letter_backlog() == 0


def test_orphan_backup_never_deletes_unfolded_letters(spark, sf_dir,
                                                      tmp_path_factory):
    """r15 review finding: a step-5 crash after all letters were
    deleted but before the backup was — then NEW letters arrive — must
    not blind-delete the new letters on the next drain (the old code
    rmtree'd every b=* dir when it saw a committed target beside a
    backup). The fold manifest confines deletion to exactly the folded
    set; the new letter must drain normally afterwards."""
    import shutil as sh

    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    assert maint.repair_from_dead_letter() > 0
    # orphan backup with an EMPTY manifest (its letters were all
    # deleted before the crash), beside the committed target
    versions = maint.state.versions()
    pre = os.path.join(maint.state.state_dir,
                       f"pre_drain_v={versions[-1]}")
    sh.copytree(os.path.join(maint.state.state_dir, f"v={versions[-1]}"),
                pre)
    with open(os.path.join(pre, "_folded.txt"), "w") as fh:
        fh.write("")

    # a NEW late batch quarantines after the crash (disjoint users, so
    # the expected post-drain store is simply the union)
    new_late = (load_table(spark, sf_dir, "events").select(
        "event_id", "ts",
        (F.col("user_id") + 10_000_000).alias("user_id"), "value")
        .orderBy("ts").limit(500).localCheckpoint())
    (new_late.write.mode("overwrite")
     .parquet(os.path.join(maint.dead_letter_dir, "b=0")))
    n_new = new_late.count()

    drained = maint.repair_from_dead_letter()
    assert drained == n_new  # the new letter survived the cleanup
    want = _rows(_sessions_full(ev).unionByName(_sessions_full(new_late)))
    assert _rows(maint.current()) == want
    assert maint.dead_letter_backlog() == 0
    assert maint._pre_drain_leaf() is None


def test_torn_quarantine_dir_is_ignored_not_fatal(spark, sf_dir,
                                                  tmp_path_factory):
    """r15 review finding: a crash mid-quarantine leaves a b=<id> dir
    with no _SUCCESS (possibly no readable footer at all); the backlog
    check and the drain must IGNORE it — reading it would crash-loop
    the job at startup — and the re-delivered batch overwrites it."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    torn = os.path.join(maint.dead_letter_dir, "b=9")
    os.makedirs(os.path.join(torn, "_temporary"))

    pending = maint.dead_letter_backlog()  # must not raise
    assert pending > 0
    assert maint.repair_from_dead_letter() == pending
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert os.path.isdir(torn)  # left for the redelivery to overwrite


def test_stream_quarantine_drain_resume_lifecycle(spark, sf_dir,
                                                  tmp_path_factory):
    """The continuous job's real lifecycle end-to-end: a stream with a
    dead-letter dir ingests a LATE file mid-stream (quarantines its
    overlapping users), stops; the restart-moment drain folds the
    quarantine (all letter versions committed by then); the stream then
    RESUMES on the same checkpoint with a brand-new later file and
    keeps maintaining the repaired store. Final store == sessionizing
    every event ever ingested."""
    import time

    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    c_mid = ev.where((F.col("ts") >= F.lit(lo + span))
                     & (F.col("ts") < F.lit(lo + 2 * span)))
    c_early = ev.where(F.col("ts") < F.lit(lo + span))      # arrives LATE
    c_last = ev.where(F.col("ts") >= F.lit(lo + 2 * span))

    base = str(tmp_path_factory.mktemp("lifecycle"))
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    for i, chunk in enumerate((c_mid, c_early, c_last)):
        d = os.path.join(base, f"c{i}")
        chunk.coalesce(1).write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
    now = time.time()  # FileStreamSource orders by modification time
    for i in range(3):
        os.utime(os.path.join(flat, f"{i:02d}.parquet"),
                 (now + i, now + i))

    dlq = str(tmp_path_factory.mktemp("lifecycle_dlq"))
    state = str(tmp_path_factory.mktemp("lifecycle_state"))
    ckpt = str(tmp_path_factory.mktemp("lifecycle_ckpt"))
    maint = IncrementalSessionStoreMaintainer(spark, state,
                                              dead_letter_dir=dlq)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint, ckpt))
    assert maint.dead_letter_backlog() > 0  # the early file quarantined

    # the job-restart moment: drain, then resume on the SAME checkpoint
    drained = maint.repair_from_dead_letter()
    assert drained > 0
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert maint.dead_letter_backlog() == 0

    # a brand-new later file arrives; the resumed stream merges it
    # against the REPAIRED store
    import datetime
    c_new = ev.where(F.col("ts") >= F.lit(lo + 2 * span)).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 40 DAYS")).alias("ts"),
        "user_id", "value").localCheckpoint()
    c_new.coalesce(1).write.parquet(os.path.join(base, "c3"))
    for f in sorted(glob.glob(os.path.join(base, "c3", "*.parquet"))):
        shutil.copy(f, os.path.join(flat, "03.parquet"))
    os.utime(os.path.join(flat, "03.parquet"), (now + 10, now + 10))

    maint2 = IncrementalSessionStoreMaintainer(spark, state,
                                               dead_letter_dir=dlq)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint2, ckpt))
    want = _rows(_sessions_full(ev.unionByName(c_new)))
    assert _rows(maint2.current()) == want
    assert maint2.dead_letter_backlog() == 0


# ---------------------------------------------------------------------
# r17 frozen/tail split (the write-amplification fix): per batch only
# the frozen increment (batch-sized) and the per-user tail are written
# — never the whole history — with the tail version as the commit
# point and reads scoped to committed-tail-covered increments.


def _frozen_listing(state_dir, leaf):
    d = os.path.join(state_dir, "frozen", leaf)
    return sorted((f, os.path.getsize(os.path.join(d, f)))
                  for f in os.listdir(d) if not f.startswith("."))


def test_frozen_increments_are_immutable_and_tail_is_per_user(
        spark, sf_dir, tmp_path_factory):
    """Write-amplification contract: batch K's frozen increment is
    never rewritten by later batches (byte-listing identical), the tail
    holds exactly one row per user, and frozen ∪ tail equals the full
    recompute."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    mid = ev.where(F.col("ts") < F.lit(cutoff)).agg(
        F.percentile_approx(F.col("ts").cast("double"), 0.5)).first()[0]
    import datetime
    mid_ts = datetime.datetime.fromtimestamp(mid)
    b0 = ev.where(F.col("ts") < F.lit(mid_ts))
    b1 = ev.where((F.col("ts") >= F.lit(mid_ts))
                  & (F.col("ts") < F.lit(cutoff)))
    b2 = ev.where(F.col("ts") >= F.lit(cutoff))

    state = str(tmp_path_factory.mktemp("frozen_state"))
    maint = IncrementalSessionStoreMaintainer(spark, state)
    maint.merge_batch(b0, 0)
    frozen0 = _frozen_listing(state, "inc=00000")
    maint.merge_batch(b1, 1)
    assert _frozen_listing(state, "inc=00000") == frozen0
    frozen1 = _frozen_listing(state, "inc=00001")
    maint.merge_batch(b2, 2)
    assert _frozen_listing(state, "inc=00000") == frozen0
    assert _frozen_listing(state, "inc=00001") == frozen1

    tail = maint.state.current()
    assert tail.groupBy("user_id").count().where("count > 1").count() == 0
    assert _rows(maint.current()) == _rows(_sessions_full(ev))


def test_orphan_frozen_increment_is_invisible_until_redelivery(
        spark, sf_dir, tmp_path_factory):
    """Crash between the frozen write and the tail write leaves a
    committed orphan ``frozen/inc=K`` with no ``v=K``: reads must scope
    it out (serving exactly the batch-(K-1) state), and the re-delivered
    batch K overwrites it and commits the tail — converging to the full
    recompute."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    b0 = ev.where(F.col("ts") < F.lit(cutoff))
    b1 = ev.where(F.col("ts") >= F.lit(cutoff))

    state = str(tmp_path_factory.mktemp("orphan_state"))
    maint = IncrementalSessionStoreMaintainer(spark, state)
    maint.merge_batch(b0, 0)
    after_b0 = _rows(maint.current())
    maint.merge_batch(b1, 1)
    # resurrect the crash point: v=1 gone, frozen inc=00001 committed
    shutil.rmtree(os.path.join(state, "v=1"))
    assert "inc=00001" in increments(maint.state.state_dir, "frozen")
    assert _rows(maint.current()) == after_b0  # orphan invisible

    maint.merge_batch(b1, 1)  # redelivery overwrites + commits
    assert _rows(maint.current()) == _rows(_sessions_full(ev))


def test_drain_beside_orphan_increment_leaves_it_for_redelivery(
        spark, sf_dir, tmp_path_factory):
    """A dead-letter drain while an orphan ``frozen/inc=<target+1>``
    exists (crash between batch 2's frozen write and its tail commit):
    the shared swap folds only the leaves <= the drain target, so the
    drained store equals the full recompute of the committed batches,
    and the orphan survives until batch 2's redelivery overwrites it
    and commits."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    state = maint.state.state_dir
    # batch 2: strictly later events for every user (clean tail merge)
    batch2 = ev.select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"),
        "user_id", "value").localCheckpoint()
    maint.merge_batch(batch2, 2)
    shutil.rmtree(os.path.join(state, "v=2"))  # the crash point
    assert increments(state, "frozen")[-1] == "inc=00002"

    assert maint.repair_from_dead_letter() > 0  # drains b=1 into v=1
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert increments(state, "frozen") == ["inc=00000", "inc=00002"]
    assert maint.dead_letter_backlog() == 0

    maint.merge_batch(batch2, 2)  # redelivery overwrites + commits
    want = _rows(_sessions_full(ev).unionByName(_sessions_full(batch2)))
    assert _rows(maint.current()) == want


def test_compact_every_folds_in_stream_and_preserves_values(
        spark, sf_dir, tmp_path_factory):
    """The count trigger folds frozen increments inside merge_batch
    (leaf count bounded), the maintained table stays exact, and the
    drain protocol still works on a compacted store."""
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 6
    slices = [ev.where((F.col("ts") >= F.lit(lo + i * span))
                       & (F.col("ts") < F.lit(lo + (i + 1) * span))
                       if i < 5 else (F.col("ts") >= F.lit(lo + i * span)))
              for i in range(6)]

    state = str(tmp_path_factory.mktemp("trig_state"))
    maint = IncrementalSessionStoreMaintainer(spark, state,
                                              compact_every=3)
    for i, sl in enumerate(slices):
        maint.merge_batch(sl, i)
        assert len(increments(maint.state.state_dir, "frozen")) <= 3
    assert _rows(maint.current()) == _rows(_sessions_full(ev))


def test_drain_swap_crash_resumes_frozen_fold(spark, sf_dir,
                                              tmp_path_factory):
    """Step-5a crash: tail v=N committed, the staged ``repair_tmp``
    (committed, with its fold manifest) and the backup both survive.
    The next drain must finish the frozen swap — delete exactly the
    manifested leaves, rename the staging to inc=00000 — and converge;
    re-repairing would be wrong only if it double-counted, so the final
    store is pinned against the full recompute."""
    import shutil as sh

    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    state = maint.state.state_dir
    letters = maint._dead_letter_batches()
    saved = str(tmp_path_factory.mktemp("saved_letters2"))
    for d in letters:
        sh.copytree(os.path.join(maint.dead_letter_dir, d),
                    os.path.join(saved, d))
    pre_leaves = increments(maint.state.state_dir, "frozen")

    assert maint.repair_from_dead_letter() > 0
    want = _rows(_sessions_full(ev))
    assert _rows(maint.current()) == want

    # resurrect the step-5a crash: letters back, tail backup (with
    # letters manifest) beside committed v=N, and the frozen staging
    # still present as a committed repair_tmp whose manifest names the
    # pre-drain leaves. The post-drain inc=00000 plays the staged
    # content (identical by construction); the pre-drain leaves are
    # fabricated empties to prove deletion is manifest-confined.
    for d in letters:
        sh.copytree(os.path.join(saved, d),
                    os.path.join(maint.dead_letter_dir, d))
    versions = maint.state.versions()
    pre = os.path.join(state, f"pre_drain_v={versions[-1]}")
    sh.copytree(os.path.join(state, f"v={versions[-1]}"), pre)
    with open(os.path.join(pre, "_folded.txt"), "w") as fh:
        fh.write("\n".join(letters))
    tmp = os.path.join(state, "frozen", "repair_tmp")
    os.rename(os.path.join(state, "frozen", "inc=00000"), tmp)
    with open(os.path.join(tmp, "_folded.txt"), "w") as fh:
        fh.write("\n".join(pre_leaves))
    for leaf in pre_leaves:  # fabricated stale leaves the swap must fold
        d = os.path.join(state, "frozen", leaf)
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame([], maint._SCHEMA).write.mode(
            "overwrite").parquet(d)

    assert maint.repair_from_dead_letter() == 0  # cleanup only
    assert _rows(maint.current()) == want
    assert not os.path.isdir(tmp)
    assert increments(maint.state.state_dir, "frozen") == ["inc=00000"]
    assert maint.dead_letter_backlog() == 0
    assert maint._pre_drain_leaf() is None


def test_stale_repair_staging_is_discarded(spark, sf_dir,
                                           tmp_path_factory):
    """Step-1b crash (staging written, no tail backup yet): the next
    drain must discard the stale ``repair_tmp`` — nothing was deleted,
    so redoing the repair from live state is exact."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    tmp = os.path.join(maint.state.state_dir, "frozen", "repair_tmp")
    spark.createDataFrame([], maint._SCHEMA).write.parquet(tmp)
    with open(os.path.join(tmp, "_folded.txt"), "w") as fh:
        fh.write("\n".join(increments(maint.state.state_dir, "frozen")))

    assert maint.repair_from_dead_letter() > 0
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert not os.path.isdir(tmp)


def test_import_clears_stale_frozen_leaves(spark, sf_dir,
                                           tmp_path_factory):
    """A snapshot import must replace the target's ENTIRE frozen
    component: a pre-existing leaf absent from the snapshot (divergent
    earlier run) would otherwise survive the copy and double-serve its
    rows."""
    cutoff = _straddle_cutoff(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    b0 = ev.where(F.col("ts") < F.lit(cutoff))
    b1 = ev.where(F.col("ts") >= F.lit(cutoff))

    donor = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("imp_donor")))
    donor.merge_batch(b0, 0)
    donor.merge_batch(b1, 1)
    snap = str(tmp_path_factory.mktemp("imp_snap"))
    assert donor.export_to(snap) == 1
    want = _rows(donor.current())

    # divergent target: its own batch-0 life left a frozen leaf the
    # snapshot does not carry (different slicing -> different content)
    target = IncrementalSessionStoreMaintainer(
        spark, str(tmp_path_factory.mktemp("imp_target")))
    target.merge_batch(ev.orderBy("ts").limit(400), 0)
    # the stale leaf exists
    assert increments(target.state.state_dir, "frozen")
    shutil.rmtree(os.path.join(target.state.state_dir, "v=0"))
    # (behind the snapshot, so the versioned-state guard accepts it)

    assert target.import_from(snap) == 1
    assert _rows(target.current()) == want


# ---------------------------------------------------------------------
# A swap stopped between deleting its manifested leaves and renaming
# the staging to inc=00000. The frozen log has one component, so the
# mismatched-increments guard can never fire; the staging's manifest
# naming a deleted leaf is what makes the read fail closed.


def _crash_on_rename(monkeypatch, staging):
    """Make the rename of ``staging`` into place raise, as if the
    process died right after finish_swap deleted the folded leaves."""
    from windowsession_using_kafka_flink_docker_spark.operators import (
        versioned_index,
    )

    real = os.rename

    def rename(src, dst):
        if os.path.basename(src) == staging:
            raise OSError(f"simulated crash before renaming {src}")
        return real(src, dst)

    monkeypatch.setattr(versioned_index.os, "rename", rename)


def test_torn_compaction_swap_fails_closed_until_compact_frozen(
        spark, sf_dir, tmp_path_factory, monkeypatch):
    """compact_tmp: three batches, the fold of the first two dies after
    deleting inc=00000 and inc=00001. current() must raise and name
    compact_frozen(); compact_frozen() (re-entrant) finishes the swap
    and every row is served again."""
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    state = str(tmp_path_factory.mktemp("torn_compact"))
    maint = IncrementalSessionStoreMaintainer(spark, state)
    for i in range(3):
        sl = ev.where(F.col("ts") >= F.lit(lo + i * span))
        if i < 2:
            sl = sl.where(F.col("ts") < F.lit(lo + (i + 1) * span))
        maint.merge_batch(sl, i)
    want = _rows(_sessions_full(ev))
    assert _rows(maint.current()) == want

    with monkeypatch.context() as m:
        _crash_on_rename(m, "compact_tmp")
        with pytest.raises(OSError, match="simulated crash"):
            maint.compact_frozen()
    assert increments(state, "frozen") == ["inc=00002"]

    with pytest.raises(ValueError, match=r"compact_frozen\(\)"):
        maint.current()
    # ingest never reads the frozen rows, so it is not blocked

    assert maint.compact_frozen() == 2
    assert increments(state, "frozen") == ["inc=00000", "inc=00002"]
    assert _rows(maint.current()) == want


def test_torn_drain_swap_fails_closed_until_redrain(
        spark, sf_dir, tmp_path_factory, monkeypatch):
    """repair_tmp: the drain commits the repaired tail, then dies
    after deleting the frozen leaves its staging replaces. current()
    must raise and name repair_from_dead_letter(); the re-drain
    finishes the swap without re-applying the letters."""
    maint, ev = _quarantined_maintainer(spark, sf_dir, tmp_path_factory)
    state = maint.state.state_dir

    with monkeypatch.context() as m:
        _crash_on_rename(m, "repair_tmp")
        with pytest.raises(OSError, match="simulated crash"):
            maint.repair_from_dead_letter()
    assert increments(state, "frozen") == []

    with pytest.raises(ValueError, match=r"repair_from_dead_letter\(\)"):
        maint.current()

    assert maint.repair_from_dead_letter() == 0  # cleanup only
    assert _rows(maint.current()) == _rows(_sessions_full(ev))
    assert maint.dead_letter_backlog() == 0
    assert maint._pre_drain_leaf() is None
