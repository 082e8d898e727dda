"""Maintainer #25 (streaming/bm25_index.py): the BM25 postings index
kept live from a document stream. stream==batch parity against both a
one-shot index and the batch bm25_topk operator, restart resume on the
same checkpoint, replay idempotence keyed on batch_id, torn-increment
detection + heal-by-redelivery, and empty-batch neutrality."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.bm25_index import (
    bm25_from_index,
    bm25_index_export,
    increments,
)
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table
from windowsession_using_kafka_flink_docker_spark.streaming import (
    IncrementalBm25IndexMaintainer,
    file_events_source,
    streaming_maintenance,
)

_SCHEMA = "doc_id BIGINT, text STRING"
_TERMS = ("merge", "window", "hash")
_K = 10


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _chunks(spark, sf_dir, base, n=3):
    """documents split into n disjoint files by doc_id (no time order to
    respect — index increments are disjoint doc sets by construction)."""
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


def _rows(df):
    return sorted(tuple(str(v) for v in r)
                  for r in df.select(*sorted(df.columns)).collect())


def _drain(q):
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_equals_batch_and_one_shot_index(spark, sf_dir,
                                                tmp_path_factory):
    """Three streamed document batches: the maintained index must serve
    the SAME top-k as (a) a one-shot index over all documents and (b)
    the batch bm25_topk operator — the index increments are invisible
    in the result."""
    from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
        bm25_topk,
    )

    base = str(tmp_path_factory.mktemp("bm25_stream"))
    flat = _chunks(spark, sf_dir, base)
    maint = IncrementalBm25IndexMaintainer(
        spark, str(tmp_path_factory.mktemp("bm25_idx")))
    q = streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1),
        maint, str(tmp_path_factory.mktemp("bm25_ckpt")))
    _drain(q)

    assert q.name == "bm25_index_maintenance"
    assert len(maint.committed_increments()) == 3
    got = _rows(maint.search(_TERMS, _K))

    one_shot = str(tmp_path_factory.mktemp("bm25_oneshot"))
    bm25_index_export(spark, _docs(spark, sf_dir), one_shot)
    assert got == _rows(bm25_from_index(spark, one_shot, _TERMS, _K))
    assert got == _rows(bm25_topk(_docs(spark, sf_dir), _TERMS, k=_K))


def test_restart_resumes_on_same_checkpoint(spark, sf_dir,
                                            tmp_path_factory):
    """Process two files, stop, add the third, resume with a FRESH
    maintainer on the same checkpoint+index: the final search equals
    the one-shot index over everything."""
    base = str(tmp_path_factory.mktemp("bm25_restart"))
    flat = _chunks(spark, sf_dir, base)
    held = os.path.join(base, "held.parquet")
    os.rename(os.path.join(flat, "02.parquet"), held)

    idx = str(tmp_path_factory.mktemp("bm25_idx2"))
    ckpt = str(tmp_path_factory.mktemp("bm25_ckpt2"))
    maint = IncrementalBm25IndexMaintainer(spark, idx)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint, ckpt))
    assert len(maint.committed_increments()) == 2

    os.rename(held, os.path.join(flat, "02.parquet"))
    maint2 = IncrementalBm25IndexMaintainer(spark, idx)
    _drain(streaming_maintenance(
        file_events_source(spark, flat, schema=_SCHEMA,
                           max_files_per_trigger=1), maint2, ckpt))
    assert len(maint2.committed_increments()) == 3

    one_shot = str(tmp_path_factory.mktemp("bm25_oneshot2"))
    bm25_index_export(spark, _docs(spark, sf_dir), one_shot)
    assert _rows(maint2.search(_TERMS, _K)) == \
        _rows(bm25_from_index(spark, one_shot, _TERMS, _K))


def test_replayed_batch_overwrites_its_own_increment(spark, sf_dir,
                                                     tmp_path_factory):
    """A re-delivered batch (crash between foreachBatch and checkpoint
    commit) re-appends under the SAME inc=batch_id — the overwrite
    leaves the increment set and the served scores unchanged."""
    docs = _docs(spark, sf_dir)
    d0 = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    d1 = docs.where(F.pmod("doc_id", F.lit(3)) == 1)
    maint = IncrementalBm25IndexMaintainer(
        spark, str(tmp_path_factory.mktemp("bm25_idx3")))
    maint.merge_batch(d0, 0)
    maint.merge_batch(d1, 1)
    once = _rows(maint.search(_TERMS, _K))
    maint.merge_batch(d1, 1)  # crash-replay of batch 1
    assert maint.committed_increments() == ["inc=00000", "inc=00001"]
    assert _rows(maint.search(_TERMS, _K)) == once


def test_torn_increment_detected_then_healed_by_redelivery(
        spark, sf_dir, tmp_path_factory):
    """An append interrupted between components (postings increment
    landed, doclens increment missing) must fail the guard on read —
    and the re-delivered batch must HEAL the index by overwriting both
    components of its increment."""
    docs = _docs(spark, sf_dir)
    d0 = docs.where(F.pmod("doc_id", F.lit(3)) == 0)
    d1 = docs.where(F.pmod("doc_id", F.lit(3)) == 1)
    idx = str(tmp_path_factory.mktemp("bm25_idx4"))
    maint = IncrementalBm25IndexMaintainer(spark, idx)
    maint.merge_batch(d0, 0)
    maint.merge_batch(d1, 1)
    want = _rows(maint.search(_TERMS, _K))

    shutil.rmtree(os.path.join(idx, "doclens", "inc=00001"))
    with pytest.raises(ValueError, match="mismatched increments"):
        maint.search(_TERMS, _K)

    maint.merge_batch(d1, 1)  # redelivery heals both components
    assert _rows(maint.search(_TERMS, _K)) == want


def test_empty_batch_writes_no_increment(spark, sf_dir,
                                         tmp_path_factory):
    docs = _docs(spark, sf_dir)
    maint = IncrementalBm25IndexMaintainer(
        spark, str(tmp_path_factory.mktemp("bm25_idx5")))
    maint.merge_batch(docs, 0)
    before = _rows(maint.search(_TERMS, _K))
    maint.merge_batch(docs.where(F.lit(False)), 1)
    assert increments(maint.index_dir, "postings") == ["inc=00000"]
    assert _rows(maint.search(_TERMS, _K)) == before


class TestCompaction:
    """compact_index folds all increments but the newest (the only one
    a crash-replayed batch can overwrite) into inc=00000 — the
    read-amplification control for a long-running stream. Scores must
    be bit-identical across compaction, and every crash point of the
    tmp-then-swap protocol must re-enter cleanly."""

    def _indexed(self, spark, sf_dir, tmp_path_factory, n=4):
        docs = _docs(spark, sf_dir)
        maint = IncrementalBm25IndexMaintainer(
            spark, str(tmp_path_factory.mktemp("bm25_cmp")))
        for i in range(n):
            maint.merge_batch(
                docs.where(F.pmod("doc_id", F.lit(n)) == i), i)
        return maint

    def test_compact_preserves_scores_and_layout(self, spark, sf_dir,
                                                 tmp_path_factory):
        from windowsession_using_kafka_flink_docker_spark.operators.bm25_index import (
            compact_index,
        )

        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.search(_TERMS, _K))
        assert maint.committed_increments() == [
            "inc=00000", "inc=00001", "inc=00002", "inc=00003"]

        assert maint.compact() == 3
        assert maint.committed_increments() == ["inc=00000", "inc=00003"]
        assert _rows(maint.search(_TERMS, _K)) == want

        # idempotent: a second compact folds the (already single)
        # non-newest increment set — a no-op
        assert compact_index(spark, maint.index_dir) == 0
        assert _rows(maint.search(_TERMS, _K)) == want

    def test_append_after_compact_keeps_serving(self, spark, sf_dir,
                                                tmp_path_factory):
        """Post-compaction appends (higher batch ids) coexist with the
        folded increment; the final scores equal a never-compacted
        one-shot index over everything."""
        docs = _docs(spark, sf_dir)
        maint = IncrementalBm25IndexMaintainer(
            spark, str(tmp_path_factory.mktemp("bm25_cmp2")))
        for i in range(3):
            maint.merge_batch(
                docs.where(F.pmod("doc_id", F.lit(4)) == i), i)
        maint.compact()
        maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(4)) == 3), 3)
        assert maint.committed_increments() == [
            "inc=00000", "inc=00002", "inc=00003"]

        one_shot = str(tmp_path_factory.mktemp("bm25_cmp_ref"))
        bm25_index_export(spark, docs, one_shot)
        assert _rows(maint.search(_TERMS, _K)) == \
            _rows(bm25_from_index(spark, one_shot, _TERMS, _K))

    def test_count_triggered_compaction_is_invisible(
            self, spark, sf_dir, tmp_path_factory):
        """compact_every=2 (r16: the continuous job's in-stream
        read-amp control): the fold runs inside merge_batch once the
        increment count reaches the threshold — the increment list
        stays bounded, scores are unchanged vs a never-compacted
        one-shot index, and a crash-replay of the LAST batch after an
        inline fold overwrites its still-unfolded increment."""
        docs = _docs(spark, sf_dir)
        maint = IncrementalBm25IndexMaintainer(
            spark, str(tmp_path_factory.mktemp("bm25_cmp_every")),
            compact_every=2)
        parts = [docs.where(F.pmod("doc_id", F.lit(4)) == i)
                 for i in range(4)]
        for i, p in enumerate(parts):
            maint.merge_batch(p, i)
            assert len(maint.committed_increments()) <= 2

        one_shot = str(tmp_path_factory.mktemp("bm25_cmp_every_ref"))
        bm25_index_export(spark, docs, one_shot)
        want = _rows(bm25_from_index(spark, one_shot, _TERMS, _K))
        assert _rows(maint.search(_TERMS, _K)) == want

        maint.merge_batch(parts[3], 3)  # crash-replay after the fold
        assert _rows(maint.search(_TERMS, _K)) == want

    def test_crash_with_committed_tmp_resumes(self, spark, sf_dir,
                                              tmp_path_factory):
        """Crash after the tmp pair committed but before any delete /
        rename: the next compact call must finish the swap without
        re-reading the corpus, and scores are unchanged."""
        from windowsession_using_kafka_flink_docker_spark.operators import (
            bm25_index as B,
        )

        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.search(_TERMS, _K))
        idx = maint.index_dir

        # build the tmp pair exactly as compact would, then "crash"
        incs = B.check_index_committed(idx)
        folded = incs[:-1]
        postings = (spark.read
                    .option("basePath", os.path.join(idx, "postings"))
                    .parquet(*[os.path.join(idx, "postings", x)
                               for x in folded]).drop("inc"))
        doclens = (spark.read
                   .option("basePath", os.path.join(idx, "doclens"))
                   .parquet(*[os.path.join(idx, "doclens", x)
                              for x in folded]).drop("inc"))
        (postings.write.mode("overwrite").partitionBy("bucket")
         .parquet(os.path.join(idx, "postings", "compact_tmp")))
        (doclens.write.mode("overwrite")
         .parquet(os.path.join(idx, "doclens", "compact_tmp")))
        for comp in ("postings", "doclens"):  # the fold manifest (r16)
            with open(os.path.join(idx, comp, "compact_tmp",
                                   "_folded.txt"), "w") as fh:
                fh.write("\n".join(folded))

        assert B.compact_index(spark, idx) == 3
        assert maint.committed_increments() == ["inc=00000", "inc=00003"]
        assert _rows(maint.search(_TERMS, _K)) == want

    def test_crash_mid_rename_fails_closed_then_heals(self, spark,
                                                      sf_dir,
                                                      tmp_path_factory):
        """Crash between the postings rename and the doclens rename:
        the components mismatch, so queries FAIL CLOSED (never silently
        mis-score), and the next compact call completes the doclens
        half and restores identical scores."""
        from windowsession_using_kafka_flink_docker_spark.operators import (
            bm25_index as B,
        )

        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.search(_TERMS, _K))
        idx = maint.index_dir
        # run a REAL compaction, then resurrect the mid-rename state:
        # move postings/inc=00000 back to "renamed already", and
        # reconstruct doclens as {folded dirs deleted, tmp committed}
        # by moving its compacted inc=00000 back to compact_tmp
        assert maint.compact() == 3
        os.rename(os.path.join(idx, "doclens", "inc=00000"),
                  os.path.join(idx, "doclens", "compact_tmp"))
        # a real mid-rename crash leaves the fold manifest inside the
        # tmp (it is removed only after the rename commits)
        with open(os.path.join(idx, "doclens", "compact_tmp",
                               "_folded.txt"), "w") as fh:
            fh.write("\n".join(["inc=00000", "inc=00001", "inc=00002"]))

        with pytest.raises(ValueError, match="mismatched increments"):
            maint.search(_TERMS, _K)

        assert B.compact_index(spark, idx) == 0  # finishes the rename
        assert maint.committed_increments() == ["inc=00000", "inc=00003"]
        assert _rows(maint.search(_TERMS, _K)) == want

    def test_increment_landed_mid_compaction_self_heals(
            self, spark, sf_dir, tmp_path_factory):
        """r15 ADVICE: an ingest that lands between the fold and the
        finish (a violated quiescence contract) must never be rmtree'd
        — the pre-r16 finish deleted 'all but newest' and silently
        dropped the previously-newest UNFOLDED increment. r16 ADVICE
        refinement: since the violation is detected BEFORE anything is
        deleted, the stale committed tmps are discarded (not a
        permanent ValueError that re-raises on every later compact,
        failing the wired streaming job on every run) — increments all
        survive, queries keep serving the full corpus, and the NEXT
        compact folds everything including the mid-flight ingest."""
        from windowsession_using_kafka_flink_docker_spark.operators import (
            bm25_index as B,
        )

        docs = _docs(spark, sf_dir)
        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        idx = maint.index_dir

        # committed tmp pair with manifests, exactly as a crash between
        # the fold and the finish leaves it
        incs = B.check_index_committed(idx)
        folded = incs[:-1]
        for comp, parts in (("postings", ("bucket",)), ("doclens", ())):
            df = (spark.read.option("basePath", os.path.join(idx, comp))
                  .parquet(*[os.path.join(idx, comp, x) for x in folded])
                  .drop("inc"))
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.parquet(os.path.join(idx, comp, "compact_tmp"))
            with open(os.path.join(idx, comp, "compact_tmp",
                                   "_folded.txt"), "w") as fh:
                fh.write("\n".join(folded))

        # the quiescence violation: a new ingest lands before the swap
        maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(7)) == 0), 4)
        want = _rows(maint.search(_TERMS, _K))

        # the violated swap is aborted: stale tmps discarded, nothing
        # deleted, every increment survives and serves
        assert B.compact_index(spark, idx) == 0
        for comp in ("postings", "doclens"):
            assert not os.path.isdir(
                os.path.join(idx, comp, "compact_tmp"))
        assert maint.committed_increments() == [
            "inc=00000", "inc=00001", "inc=00002", "inc=00003",
            "inc=00004"]
        assert _rows(maint.search(_TERMS, _K)) == want

        # self-heal: the next compact folds everything including the
        # mid-flight ingest (5 leaves -> fold the 4 oldest)
        assert B.compact_index(spark, idx) == 4
        assert maint.committed_increments() == ["inc=00000", "inc=00004"]
        assert _rows(maint.search(_TERMS, _K)) == want

    def test_violation_discovered_mid_rename_fails_loudly(
            self, spark, sf_dir, tmp_path_factory):
        """The one quiescence violation that CANNOT self-heal: extras
        discovered after some components already renamed (their
        manifested leaves are gone) — discarding the pending tmp would
        leave the components permanently mismatched, so the finish must
        raise with the manual recovery spelled out."""
        import shutil

        from windowsession_using_kafka_flink_docker_spark.operators import (
            bm25_index as B,
        )

        docs = _docs(spark, sf_dir)
        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        idx = maint.index_dir

        incs = B.check_index_committed(idx)
        folded = incs[:-1]
        for comp, parts in (("postings", ("bucket",)), ("doclens", ())):
            df = (spark.read.option("basePath", os.path.join(idx, comp))
                  .parquet(*[os.path.join(idx, comp, x) for x in folded])
                  .drop("inc"))
            w = df.write.mode("overwrite")
            if parts:
                w = w.partitionBy(*parts)
            w.parquet(os.path.join(idx, comp, "compact_tmp"))
            with open(os.path.join(idx, comp, "compact_tmp",
                                   "_folded.txt"), "w") as fh:
                fh.write("\n".join(folded))

        # complete the FIRST component's rename by hand (mid-rename
        # crash point), then let an ingest land
        for leaf in folded:
            shutil.rmtree(os.path.join(idx, "postings", leaf))
        os.rename(os.path.join(idx, "postings", "compact_tmp"),
                  os.path.join(idx, "postings", "inc=00000"))
        os.remove(os.path.join(idx, "postings", "inc=00000",
                               "_folded.txt"))
        maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(7)) == 0), 4)

        with pytest.raises(ValueError, match="mid-rename"):
            B.compact_index(spark, idx)

    def test_search_on_fresh_empty_index_returns_empty(
            self, spark, tmp_path_factory):
        """r15 ADVICE: bm25_from_index on a fresh index (no increments
        yet) must return an empty typed frame, not crash on a
        zero-path parquet read — matching the neardup maintainer's
        current_pairs empty-case contract."""
        maint = IncrementalBm25IndexMaintainer(
            spark, str(tmp_path_factory.mktemp("bm25_empty")))
        got = maint.search(_TERMS, _K)
        assert got.columns == ["doc_id", "bm25"]
        assert got.count() == 0

    def test_half_written_tmp_is_discarded(self, spark, sf_dir,
                                           tmp_path_factory):
        """A tmp pair without commit markers (crash mid-build) is
        discarded and compaction restarts from the intact increments."""
        from windowsession_using_kafka_flink_docker_spark.operators import (
            bm25_index as B,
        )

        maint = self._indexed(spark, sf_dir, tmp_path_factory)
        want = _rows(maint.search(_TERMS, _K))
        idx = maint.index_dir
        for comp in ("postings", "doclens"):
            os.makedirs(os.path.join(idx, comp, "compact_tmp"))
        assert B.compact_index(spark, idx) == 3
        assert _rows(maint.search(_TERMS, _K)) == want


def test_reset_checkpoint_against_kept_index_fails_fast(
        spark, sf_dir, tmp_path_factory):
    """r15 review finding: a reset checkpoint restarts batch ids at 0;
    without a guard, batch 0 would overwrite inc=00000 — which after a
    compaction holds the folded FULL history — silently dropping the
    older corpus from every search. Replay of the newest batch must
    still pass."""
    docs = _docs(spark, sf_dir)
    maint = IncrementalBm25IndexMaintainer(
        spark, str(tmp_path_factory.mktemp("bm25_guard")))
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 0), 0)
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 1), 1)
    maint.merge_batch(docs.where(F.pmod("doc_id", F.lit(2)) == 1), 1)
    with pytest.raises(ValueError, match="reset together"):
        maint.merge_batch(docs, 0)
