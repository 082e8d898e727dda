"""Maintainer #26 (streaming/neardup_index.py): continuous dedup — the
MinHash-LSH index maintained probe-then-append over a document stream.
stream==batch pair parity (N-batch vs 1-batch invariance), restart
resume, replay idempotence with the before_inc view restriction, torn
batch detect+heal, empty-batch neutrality, and ad-hoc probe serving."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table
from windowsession_using_kafka_flink_docker_spark.streaming import (
    IncrementalNearDupIndexMaintainer,
    file_events_source,
    streaming_maintenance,
)

_SCHEMA = "doc_id BIGINT, text STRING"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(str(v) for v in r)
                  for r in df.select("id_a", "id_b", "jaccard").collect())


def _chunks(spark, sf_dir, base, n=3):
    docs = _docs(spark, sf_dir)
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    for i in range(n):
        d = os.path.join(base, f"c{i}")
        docs.where(F.pmod("doc_id", F.lit(n)) == i).coalesce(1) \
            .write.parquet(d)
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"{i:02d}.parquet"))
    return flat


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _from_scratch_pairs(spark, sf_dir, tmp_path_factory):
    """Reference: ALL documents in one batch — every pair surfaces in
    that single within-batch self-join."""
    ref = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_ref")))
    ref.merge_batch(_docs(spark, sf_dir), 0)
    return _rows(ref.current_pairs())


def test_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    """Three streamed batches: the union of per-batch probe findings
    must equal the from-scratch pairs over all documents — every pair
    has a latest member whose batch probed it, so batching is
    invisible. Cross pairs must exist (the index path provably ran)."""
    base = str(tmp_path_factory.mktemp("nd_stream"))
    flat = _chunks(spark, sf_dir, base)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_idx")))
    q = streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1),
        maint, str(tmp_path_factory.mktemp("nd_ckpt")))
    _drain(q)

    assert q.name == "near_dup_index_maintenance"
    assert len(maint.committed_increments()) == 3
    assert maint.current_pairs().where("is_cross").count() >= 1
    assert _rows(maint.current_pairs()) == \
        _from_scratch_pairs(spark, sf_dir, tmp_path_factory)


def test_restart_resumes_on_same_checkpoint(spark, sf_dir,
                                            tmp_path_factory):
    base = str(tmp_path_factory.mktemp("nd_restart"))
    flat = _chunks(spark, sf_dir, base)
    held = os.path.join(base, "held.parquet")
    os.rename(os.path.join(flat, "02.parquet"), held)

    idx = str(tmp_path_factory.mktemp("nd_idx2"))
    ckpt = str(tmp_path_factory.mktemp("nd_ckpt2"))
    maint = IncrementalNearDupIndexMaintainer(spark, idx)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint, ckpt))
    assert len(maint.committed_increments()) == 2

    os.rename(held, os.path.join(flat, "02.parquet"))
    maint2 = IncrementalNearDupIndexMaintainer(spark, idx)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint2, ckpt))
    assert len(maint2.committed_increments()) == 3
    assert _rows(maint2.current_pairs()) == \
        _from_scratch_pairs(spark, sf_dir, tmp_path_factory)


def test_replayed_batch_recomputes_identical_pairs(spark, sf_dir,
                                                   tmp_path_factory):
    """A crash-replayed batch finds its OWN increment already indexed;
    before_inc=batch_id must hide it, so the recomputed pairs (and the
    overwritten increments) are identical — no self-pairs, no
    duplicated cross pairs."""
    docs = _docs(spark, sf_dir)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_idx3")))
    d0 = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    d1 = docs.where(F.pmod("doc_id", F.lit(3)) == 1)
    maint.merge_batch(d0, 0)
    maint.merge_batch(d1, 1)
    once = _rows(maint.current_pairs())
    maint.merge_batch(d1, 1)  # crash-replay of batch 1
    assert len(maint.committed_increments()) == 2
    got = maint.current_pairs()
    assert _rows(got) == once
    assert got.where("id_a = id_b").count() == 0


def test_count_triggered_compaction_is_invisible(spark, sf_dir,
                                                 tmp_path_factory):
    """compact_every=2 (r16: the continuous job's in-stream read-amp
    control): the fold runs inside merge_batch after each append once
    the increment count reaches the threshold — the increment list
    stays bounded, and the maintained pairs still equal the
    from-scratch single-batch run. Then a crash-replay of the LAST
    batch after an inline compact: before_inc=batch_id now resolves to
    the folded inc=00000 — a value-identical view of 'everything
    strictly below me' — so the recomputed pairs are unchanged."""
    docs = _docs(spark, sf_dir)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_cmp_every")),
        compact_every=2)
    parts = [docs.where(F.pmod("doc_id", F.lit(4)) == i)
             for i in range(4)]
    for i, p in enumerate(parts):
        maint.merge_batch(p, i)
        assert len(maint.committed_increments()) <= 2
    once = _rows(maint.current_pairs())
    assert once == _from_scratch_pairs(spark, sf_dir, tmp_path_factory)

    maint.merge_batch(parts[3], 3)  # crash-replay after the fold
    assert _rows(maint.current_pairs()) == once
    assert maint.current_pairs().where("id_a = id_b").count() == 0


def test_torn_batch_detected_then_healed(spark, sf_dir,
                                         tmp_path_factory):
    """A batch interrupted between the pair write and the index append
    (or between index components) must fail closed on read, then heal
    when the batch is re-delivered."""
    docs = _docs(spark, sf_dir)
    idx = str(tmp_path_factory.mktemp("nd_idx4"))
    maint = IncrementalNearDupIndexMaintainer(spark, idx)
    d0 = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    d1 = docs.where(F.pmod("doc_id", F.lit(3)) == 1)
    maint.merge_batch(d0, 0)
    maint.merge_batch(d1, 1)
    want = _rows(maint.current_pairs())

    # crash between pairs write and index append: drop the index half
    for comp in ("bands", "bucket_counts", "shingles"):
        shutil.rmtree(os.path.join(idx, comp, "inc=00001"))
    with pytest.raises(ValueError, match="pairs"):
        maint.current_pairs()

    maint.merge_batch(d1, 1)  # redelivery heals all components
    assert _rows(maint.current_pairs()) == want

    # crash between index components: counts increment missing
    shutil.rmtree(os.path.join(idx, "bucket_counts", "inc=00001"))
    with pytest.raises(ValueError, match="mismatched increments"):
        maint.current_pairs()
    maint.merge_batch(d1, 1)
    assert _rows(maint.current_pairs()) == want


def test_empty_batch_is_invisible(spark, sf_dir, tmp_path_factory):
    docs = _docs(spark, sf_dir)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_idx5")))
    maint.merge_batch(docs, 0)
    before = _rows(maint.current_pairs())
    maint.merge_batch(docs.where(F.lit(False)), 1)
    assert len(maint.committed_increments()) == 1
    assert _rows(maint.current_pairs()) == before


def test_adhoc_probe_serves_without_appending(spark, sf_dir,
                                              tmp_path_factory):
    """probe() answers 'are these near-dups of the corpus?' without
    mutating the index — same increments before and after, and a probe
    of an already-ingested document finds its corpus twin as a cross
    pair."""
    docs = _docs(spark, sf_dir)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_idx6")))
    maint.merge_batch(docs, 0)

    # re-probe a doc that IS in the corpus under a fresh id: its
    # shingle set is identical, so the probe must emit a jaccard-1.0
    # cross pair against the corpus copy
    some = docs.orderBy("doc_id").limit(1)
    twin = some.select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                       "text")
    found = maint.probe(twin)
    assert found.where("is_cross AND jaccard = 1.0").count() >= 1
    assert len(maint.committed_increments()) == 1


class TestNearDupCompaction:
    """maintainer.compact() folds all-but-newest increments across ALL
    FOUR components in lockstep (shared tmp-then-swap protocol,
    operators/versioned_index.py). Pairs, probe results, and ad-hoc
    serving must be unchanged across compaction, and the crash points
    must re-enter cleanly."""

    def _ingested(self, spark, sf_dir, tmp_path_factory, n=4):
        docs = _docs(spark, sf_dir)
        maint = IncrementalNearDupIndexMaintainer(
            spark, str(tmp_path_factory.mktemp("nd_cpt")))
        for i in range(n):
            maint.merge_batch(
                docs.where(F.pmod("doc_id", F.lit(n)) == i), i)
        return maint

    def test_compact_preserves_pairs_and_serving(self, spark, sf_dir,
                                                 tmp_path_factory):
        maint = self._ingested(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.current_pairs())
        assert maint.committed_increments() == [
            "inc=00000", "inc=00001", "inc=00002", "inc=00003"]

        assert maint.compact() == 3
        assert maint.committed_increments() == ["inc=00000", "inc=00003"]
        assert _rows(maint.current_pairs()) == want
        assert maint.compact() == 0  # idempotent no-op

        # post-compaction ingest + probe still serve correctly
        docs = _docs(spark, sf_dir)
        some = docs.orderBy("doc_id").limit(1)
        twin = some.select((F.col("doc_id") + 20_000_000).alias("doc_id"),
                           "text")
        assert maint.probe(twin).where(
            "is_cross AND jaccard = 1.0").count() >= 1

    def test_compact_crash_points_reenter(self, spark, sf_dir,
                                          tmp_path_factory):
        """Committed-tmp resume and mid-rename fail-closed-then-heal,
        on the four-component layout (the rename sequence is longer
        than BM25's, so the suffix-resume path is exercised for real)."""
        import os as _os

        maint = self._ingested(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.current_pairs())
        idx = maint.index_dir

        # crash after the first TWO component renames: resurrect by
        # compacting for real, then moving the LAST two components'
        # compacted inc=00000 back to committed tmps
        assert maint.compact() == 3
        for comp in ("shingles", "pairs"):
            _os.rename(_os.path.join(idx, comp, "inc=00000"),
                       _os.path.join(idx, comp, "compact_tmp"))
            # a real mid-rename crash leaves the fold manifest inside
            # the tmp (removed only after the rename commits)
            with open(_os.path.join(idx, comp, "compact_tmp",
                                    "_folded.txt"), "w") as fh:
                fh.write("\n".join(["inc=00000", "inc=00001",
                                    "inc=00002"]))
        with pytest.raises(ValueError, match="mismatched increments"):
            maint.current_pairs()
        assert maint.compact() == 0  # finishes the remaining renames
        assert maint.committed_increments() == ["inc=00000", "inc=00003"]
        assert _rows(maint.current_pairs()) == want

    def test_half_written_tmp_prefix_is_discarded(self, spark, sf_dir,
                                                  tmp_path_factory):
        """A committed tmp PREFIX (crash between tmp writes — the
        ambiguity that would wedge a naive resume: nothing was deleted
        yet, so resuming the rename would desync the components) must
        be discarded and compaction restarted from the intact
        increments."""
        import os as _os

        from windowsession_using_kafka_flink_docker_spark.operators import (
            neardup_index as NI,
        )
        from windowsession_using_kafka_flink_docker_spark.operators.versioned_index import (
            read_component,
        )

        maint = self._ingested(spark, sf_dir, tmp_path_factory, n=3)
        want = _rows(maint.current_pairs())
        idx = maint.index_dir

        # build a COMMITTED tmp for the first component only (bands),
        # exactly as a crash between tmp writes leaves it
        incs = NI.check_index_committed(idx)
        folded = incs[:-1]
        bands = read_component(spark, idx, "bands", folded)
        (bands.write.mode("overwrite").partitionBy("band_id")
         .parquet(_os.path.join(idx, "bands", "compact_tmp")))

        assert maint.compact() == 2  # discarded the prefix, ran fresh
        assert maint.committed_increments() == ["inc=00000", "inc=00002"]
        assert _rows(maint.current_pairs()) == want


def test_reset_checkpoint_against_kept_index_fails_fast(
        spark, sf_dir, tmp_path_factory):
    """r15 review finding: a reset checkpoint restarts batch ids at 0;
    without a guard, batch 0 would probe an artificially empty
    before_inc=0 view (missing every cross pair) and overwrite
    inc=00000. Replay of the newest batch must still pass."""
    docs = _docs(spark, sf_dir)
    maint = IncrementalNearDupIndexMaintainer(
        spark, str(tmp_path_factory.mktemp("nd_guard")))
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 0), 0)
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 1), 1)
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 1), 1)
    with pytest.raises(ValueError, match="reset together"):
        maint.merge_batch(docs, 0)
