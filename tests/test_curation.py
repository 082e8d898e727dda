"""Data-curation operator tests: boilerplate removal must restore the
pre-plant text exactly, quality flags must be internally consistent,
sampling must be deterministic with rates honored, quantization must meet
its reconstruction-error bound, token-budget packing must respect its
budget and resume across batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
from windowsession_using_kafka_flink_docker_spark.plans.curation import (
    DEFAULT_RATE,
    SAMPLE_RATES,
    _hex_threshold,
    boilerplate_removal,
)
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table


class TestBoilerplateRemoval:
    def test_removal_restores_original_text(self, spark, sf_dir):
        """The catalog query plants footers then strips them: for EVERY
        doc the cleaned digest must equal md5 of the original (period-free)
        text, and n_removed must equal the number of planted footers."""
        out = {r.doc_id: r for r in
               CATALOG["boilerplate_removal"].spark(spark, sf_dir).collect()}
        orig = {r.doc_id: r.digest for r in
                load_table(spark, sf_dir, "documents")
                .select("doc_id", F.md5("text").alias("digest")).collect()}
        assert set(out) == set(orig)
        for doc_id, r in out.items():
            want_removed = (doc_id % 3 == 0) + (doc_id % 4 == 0)
            assert r.n_removed == want_removed, (doc_id, r)
            assert r.clean_digest == orig[doc_id], doc_id
        assert sum(r.n_removed for r in out.values()) > 0  # non-vacuous

    def test_rare_sentences_survive(self, spark):
        """A sentence unique to few docs must NOT be stripped; one shared
        by >= min_docs must."""
        docs = spark.createDataFrame(
            [(i, f"unique content {i}. subscribe now") for i in range(12)]
            + [(100, "only here. rare footer")],
            "doc_id BIGINT, text STRING",
        )
        out = {r.doc_id: r for r in
               boilerplate_removal(docs, min_docs=10).collect()}
        assert all(out[i].n_removed == 1 for i in range(12))  # footer stripped
        assert out[100].n_removed == 0                        # rare kept


class TestGopherQualityFlags:
    def test_flags_internally_consistent(self, spark, sf_dir):
        rows = CATALOG["gopher_quality_flags"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            want = (50 <= r.n_words <= 100_000 and 3 <= r.mean_word_len <= 10
                    and r.alpha_frac > 0.8 and r.symbol_ratio < 0.1
                    and r.n_stopwords >= 2)
            assert r.keep == want, r
            assert 0 <= r.alpha_frac <= 1 and 0 <= r.symbol_ratio <= 1

    def test_gate_discriminates(self, spark):
        """A clean paragraph passes; word-soup without stopwords and a
        too-short doc fail."""
        docs = spark.createDataFrame(
            [(1, "the quality of the data pipeline depends on careful "
                 "filtering and honest measurement of every heuristic "
                 "that we apply to the corpus before training starts " * 3),
             (2, "zz " * 60),          # no stopwords, mean len 2
             (3, "short doc")],         # 2 words
            "doc_id BIGINT, text STRING",
        ).withColumn("lang", F.lit("en"))
        # the registered builder reads from parquet; assert the gate's
        # component expressions directly on the literal frame
        toks = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
        n = F.size("w")
        got = {r.doc_id: r for r in toks.select(
            "doc_id", n.alias("n_words"),
            (F.aggregate("w", F.lit(0), lambda a, x: a + F.length(x)) / n).alias("mwl"),
        ).collect()}
        assert got[1].n_words >= 50 and 3 <= got[1].mwl <= 10
        assert got[2].mwl < 3
        assert got[3].n_words < 50


class TestStratifiedSample:
    def test_deterministic_and_rates_honored(self, spark, sf_dir):
        a = CATALOG["stratified_sample"].spark(spark, sf_dir).collect()
        b = CATALOG["stratified_sample"].spark(spark, sf_dir).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # same set, always
        docs = load_table(spark, sf_dir, "documents")
        totals = {r.lang: r.n for r in
                  docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        kept: dict[str, int] = {}
        for r in a:
            kept[r.lang] = kept.get(r.lang, 0) + 1
        for lang, total in totals.items():
            rate = SAMPLE_RATES.get(lang, DEFAULT_RATE)
            got = kept.get(lang, 0) / total
            # binomial tolerance on small strata
            assert abs(got - rate) < 0.2, (lang, got, rate, total)

    def test_threshold_hex_monotone(self):
        assert _hex_threshold(0.0) == "00000000"
        assert _hex_threshold(1.0) == "ffffffff"
        assert _hex_threshold(0.25) < _hex_threshold(0.5) < _hex_threshold(0.9)


class TestEmbeddingQuantization:
    def test_reconstruction_error_bound(self, spark, sf_dir):
        """Symmetric max-abs int8: |x - q*scale| <= scale/2 everywhere
        (round-to-nearest), and the checksum pins the quantized values."""
        rows = CATALOG["embedding_quantize_int8"].spark(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r.scale_r >= 0
            # max_abs_err is rounded to 4; allow that rounding as slack
            assert r.max_abs_err <= r.scale_r / 2 + 5e-4, r

    def test_zero_vector_safe(self, spark):
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            embedding_quantize_int8,
        )
        # the registered builder reads parquet; exercise the zero-vector
        # edge through the same expressions on a literal frame
        df = spark.createDataFrame(
            [(1, [0.0] * 4), (2, [1.0, -2.0, 0.5, 0.25])],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        e = F.transform("embedding", lambda x: x.cast("double"))
        s = df.select(
            "vec_id", e.alias("e"),
            (F.array_max(F.transform(e, F.abs)) / 127.0).alias("scale"),
        )
        q = s.withColumn(
            "qv",
            F.when(F.col("scale") == 0,
                   F.transform("e", lambda x: F.lit(0).cast("long")))
            .otherwise(F.transform("e", lambda x: F.round(x / F.col("scale"), 0).cast("long"))),
        ).collect()
        z = [r for r in q if r.vec_id == 1][0]
        assert z.qv == [0, 0, 0, 0] and z.scale == 0.0
        nz = [r for r in q if r.vec_id == 2][0]
        assert max(abs(v) for v in nz.qv) == 127


class TestDecontamination:
    def test_planted_leaks_flagged(self, spark, sf_dir):
        """Every train doc carrying a planted leak passage must be flagged;
        eval docs must be absent from the output; coverage is all train
        docs."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            _EVAL_MOD, _LEAK1_MOD, _LEAK2_MOD,
        )
        out = {r.doc_id: r for r in
               CATALOG["decontaminate_train_set"].spark(spark, sf_dir).collect()}
        all_ids = [r.doc_id for r in
                   load_table(spark, sf_dir, "documents").select("doc_id").collect()]
        train = {i for i in all_ids if i % _EVAL_MOD != 0}
        assert set(out) == train
        planted = {i for i in train
                   if i % _LEAK1_MOD == 0 or i % _LEAK2_MOD == 0}
        assert planted, "fixture too small to plant leakage"
        for i in planted:
            assert out[i].contaminated and out[i].n_gram_hits >= 1, out[i]
        # flags and counts agree everywhere
        for r in out.values():
            assert r.contaminated == (r.n_gram_hits > 0), r

    def test_clean_corpus_all_negative(self, spark):
        """Disjoint-vocabulary train and eval sets share no n-grams."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            decontaminate,
        )
        train = spark.createDataFrame(
            [(i, " ".join(f"tr{i}w{j}" for j in range(12))) for i in range(5)],
            "doc_id BIGINT, text STRING",
        )
        ev = spark.createDataFrame(
            [(100, " ".join(f"evw{j}" for j in range(12)))],
            "doc_id BIGINT, text STRING",
        )
        rows = decontaminate(train, ev).collect()
        assert len(rows) == 5
        assert all(not r.contaminated and r.n_gram_hits == 0 for r in rows)

    def test_exact_copy_hit_count(self, spark):
        """A train doc that IS an eval doc verbatim hits every one of its
        n-grams: 12 words -> 5 distinct 8-grams; short docs (<8 words)
        produce no grams and never match."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            decontaminate,
        )
        words = " ".join(f"w{j}" for j in range(12))
        train = spark.createDataFrame(
            [(1, words), (2, "too short doc")],
            "doc_id BIGINT, text STRING",
        )
        ev = spark.createDataFrame([(9, words)], "doc_id BIGINT, text STRING")
        out = {r.doc_id: r for r in decontaminate(train, ev).collect()}
        assert out[1].n_gram_hits == 5 and out[1].contaminated
        assert out[2].n_gram_hits == 0 and not out[2].contaminated


class TestSequencePacking:
    def test_partition_of_corpus_and_budget_respected(self, spark, sf_dir):
        """Packing is a partition of the corpus: doc counts and token
        totals across sequences equal the corpus totals, and every
        sequence except possibly the last of its shard STARTS within
        budget (concat-and-chop: a sequence's first token offset is
        seq_id * budget)."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            PACK_SHARDS, SEQ_BUDGET,
        )
        rows = CATALOG["sequence_packing"].spark(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        n_tokens = docs.select(
            F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("t")
        ).collect()[0].t
        assert sum(r.n_docs for r in rows) == n_docs
        assert sum(r.seq_tokens for r in rows) == n_tokens
        # multiple sequences per shard at this budget (non-vacuous)
        assert len(rows) > 5 * PACK_SHARDS
        for r in rows:
            assert 0 <= r.shard < PACK_SHARDS
            assert r.seq_id >= 0
            assert r.first_doc <= r.last_doc
            # a doc can straddle the boundary, but a sequence holding more
            # than one doc can't START more than one doc past its budget:
            # all but the largest doc fit inside budget + max_doc_tokens
            assert r.seq_tokens < SEQ_BUDGET + 200, r  # max doc ~100 tokens

    def test_deterministic_and_contiguous(self, spark):
        """Same input -> same packing; within a shard, sequences cover
        contiguous id ranges in order."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            pack_sequences,
        )
        docs = spark.createDataFrame(
            [(i, "en", " ".join(f"w{j}" for j in range(30))) for i in range(40)],
            "doc_id BIGINT, lang STRING, text STRING",
        )
        a = sorted(map(tuple, pack_sequences(docs, budget=100, n_shards=2).collect()))
        b = sorted(map(tuple, pack_sequences(docs, budget=100, n_shards=2).collect()))
        assert a == b
        # 30 tokens/doc, budget 100: sequences start at offsets 0,100,...
        # -> docs per sequence alternate 4,3,3,... per shard; check totals
        per_shard: dict[int, list] = {}
        for (lang, shard, seq_id, n_docs, seq_tokens, first, last) in a:
            per_shard.setdefault(shard, []).append((seq_id, first, last))
        for shard, seqs in per_shard.items():
            seqs.sort()
            for (s1, f1, l1), (s2, f2, l2) in zip(seqs, seqs[1:]):
                assert s2 == s1 + 1 and f2 > l1  # ordered, non-overlapping


class TestRepetitionSignals:
    def test_known_repetition_fractions(self, spark):
        """Hand-computable fixtures: a fully repeated doc, a repeat-free
        doc, and a doc below the gram width."""
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            repetition_signals,
        )
        docs = spark.createDataFrame(
            [(1, "ab ab ab ab"),       # 2-gram "ab ab" x3, 3-gram x2
             (2, "aa bb cc dd"),       # no repeats
             (3, "xy zz")],            # no 3-grams possible
            "doc_id BIGINT, text STRING",
        )
        out = {r.doc_id: r for r in repetition_signals(docs).collect()}
        # doc 1: chars=8; top 2-gram mass = 3 occurrences * 4 chars = 12
        assert out[1].top2_char_frac == round(12 / 8, 4)
        # duplicated 3-gram "ab ab ab": 2 * 6 = 12 chars
        assert out[1].dup3_char_frac == round(12 / 8, 4)
        assert out[2].top2_char_frac == round(4 / 8, 4)  # every 2-gram once
        assert out[2].dup3_char_frac == 0.0
        assert out[3].dup3_char_frac == 0.0
        assert out[3].n_words == 2

    def test_corpus_coverage_and_bounds(self, spark, sf_dir):
        rows = CATALOG["repetition_signals"].spark(spark, sf_dir).collect()
        n = load_table(spark, sf_dir, "documents").count()
        assert len(rows) == n
        for r in rows:
            assert r.top2_char_frac >= 0 and r.dup3_char_frac >= 0


class TestSourceMixReport:
    def test_shares_partition_unity(self, spark, sf_dir):
        rows = CATALOG["source_mix_report"].spark(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        assert len(rows) == docs.select("source").distinct().count()
        assert sum(r.n_docs for r in rows) == docs.count()
        assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-3
        for r in rows:
            assert 1 <= r.n_langs <= 5


class TestCurateCorpusJob:
    def test_end_to_end_chain(self, spark, sf_dir, tmp_path):
        """The composed curation job must shrink monotonically through the
        dedup/decontamination stages, keep only canonical docs, and write a
        readable partitioned corpus."""
        from windowsession_using_kafka_flink_docker_spark.jobs.curate_corpus_job import curate

        stats = curate(spark, sf_dir, str(tmp_path / "corpus"))
        assert stats["input_docs"] >= stats["after_exact_dedup"]
        assert stats["after_exact_dedup"] >= stats["after_neardup_clusters"]
        # train is a subset of post-cluster docs minus eval minus contaminated
        assert stats["after_neardup_clusters"] >= (
            stats["train_after_decontamination"] + stats["eval_docs"])
        assert stats["train_after_decontamination"] > 0
        assert stats["packed_sequences"] > 0
        out = spark.read.parquet(stats["out_dir"])
        assert out.count() == stats["train_after_decontamination"]
        # iterdir order is fs-arbitrary and the dir also holds _SUCCESS
        assert any("lang=" in p.name for p in (tmp_path / "corpus").iterdir())


class TestCurationPipelineE2E:
    """The composition entry's funnel must stay non-vacuous at EVERY
    stage — the oracle hash would catch a wrong survivor set, but these
    count pins localize WHICH stage broke (and prove the plants do
    their job: gate drops docs, exact dedup collapses the planted
    variant groups, near-dedup drops cross-variant survivors,
    decontamination drops leak carriers)."""

    def test_funnel_counts_and_stage_nonvacuity(self, spark, sf_dir):
        from windowsession_using_kafka_flink_docker_spark.operators import dedup as D
        from windowsession_using_kafka_flink_docker_spark.plans.curation import (
            _EVAL_MOD,
            _e2e_text,
            _E2E_MIN_STOPWORDS,
            _STOPWORDS,
            decontaminate,
        )
        from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", _e2e_text().alias("text"),
            (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"))
        train = docs.where(~F.col("is_eval")).drop("is_eval")
        eval_docs = docs.where(F.col("is_eval")).drop("is_eval")
        n_train = train.count()

        w = F.split(F.trim("text"), r"\s+")
        toks = train.select("doc_id", "lang", "text", w.alias("_w"))
        n = F.size("_w")
        stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
        gated = toks.where(
            n.between(50, 100_000)
            & (F.aggregate("_w", F.lit(0), lambda a, x: a + F.length(x)) / n)
            .between(3, 10)
            & (F.size(F.filter("_w", lambda x: x.rlike("[a-zA-Z]"))) / n
               > 0.8)
            & (F.size(F.filter("_w", lambda x: (x == "#") | (x == "...")))
               / n < 0.1)
            & (F.size(F.array_distinct(F.filter(
                "_w", lambda x: F.array_contains(stop_arr, F.lower(x)))))
               >= _E2E_MIN_STOPWORDS)
        ).select("doc_id", "lang", "text")
        n_gated = gated.count()
        assert 0 < n_gated < n_train, "gate must drop some and keep some"

        keepers = D.exact_dedup(gated).select(
            F.col("keep_id").alias("doc_id"))
        exact = gated.join(keepers, "doc_id", "left_semi")
        n_exact = exact.count()
        assert n_exact < n_gated, "planted dup groups must collapse"

        pairs = D.ngram_jaccard_pairs(exact)
        near = exact.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id", "left_anti")
        n_near = near.count()
        assert n_near < n_exact, "cross-variant near-dups must drop"

        flags = decontaminate(near, eval_docs)
        n_contam = flags.where(F.col("contaminated")).count()
        assert n_contam > 0, "planted leaks must be flagged"
        survivors = near.join(
            flags.where(~F.col("contaminated")).select("doc_id"),
            "doc_id", "left_semi")
        assert 0 < survivors.count() == n_near - n_contam


def test_token_packing_respects_budget_and_isolates_oversized(spark):
    """The packing invariants the oracle cannot see directly: every
    multi-doc bin holds <= budget tokens; an oversized doc sits ALONE
    in its bin; bin ids are contiguous from 0 per shard; packing is
    order-preserving (first_doc/last_doc ranges of consecutive bins
    never interleave)."""
    import windowsession_using_kafka_flink_docker_spark.plans.curation as M

    # shard = doc_id % 16; keep everything in shard 0 for determinism
    docs = [
        (0, "tok " * 1000),     # 1000 tokens
        (16, "tok " * 1000),    # fits with previous (2000 <= 2048)
        (32, "tok " * 100),     # would overflow -> opens bin 1
        (48, "tok " * 5000),    # oversized -> isolates into bin 2
        (64, "tok " * 10),      # bin 3 (previous bin oversized)
        (80, "tok " * 10),      # joins bin 3
        (65, "tok " * 3),       # shard 1: its own fold, bin 0
    ]
    ev = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    orig = M.load_table
    M.load_table = lambda s, sf, name: ev
    try:
        out = {(r.shard, r.bin_id): (r.n_docs, r.bin_tokens,
                                     r.first_doc, r.last_doc)
               for r in M.token_budget_packing(spark, "x").collect()}
    finally:
        M.load_table = orig

    assert out == {
        (0, 0): (2, 2000, 0, 16),
        (0, 1): (1, 100, 32, 32),
        (0, 2): (1, 5000, 48, 48),
        (0, 3): (2, 20, 64, 80),
        (1, 0): (1, 3, 65, 65),
    }


def test_greedy_fold_resumption_property():
    """The algebra maintainer #28 rides: folding a token sequence in
    two parts — the second resumed from the first's returned tail —
    must equal folding it at once, for EVERY split point. Randomized
    over sizes spanning far-below to far-above the budget (oversized
    docs included)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from windowsession_using_kafka_flink_docker_spark.operators.packing import (
        greedy_fold,
    )

    toks = st.lists(st.integers(min_value=0, max_value=5000),
                    min_size=0, max_size=60)

    @settings(max_examples=200, deadline=None)
    @given(xs=toks, frac=st.floats(min_value=0.0, max_value=1.0))
    def check(xs, frac):
        k = int(frac * len(xs))
        full, fb, fc, ff = greedy_fold(xs)
        a, b1, c1, f1 = greedy_fold(xs[:k])
        b, b2, c2, f2 = greedy_fold(xs[k:], b1, c1, f1)
        assert a + b == full
        assert (b2, c2, f2) == (fb, fc, ff)

    check()
