"""Sketch invariants beyond the oracle row. Count-min: the estimate NEVER
undercounts, and partition-local sketches merge losslessly. HyperLogLog:
the corrected estimate meets its error bound, and the register build
partial-aggregates before its one exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.cms import (
    cms_build,
    cms_estimate,
)


def _tokens(spark, n=2000, vocab=37):
    # skewed synthetic stream over `vocab` distinct tokens: pmod(id*id)
    # concentrates mass on the quadratic-residue tokens
    return spark.range(n).select(
        F.concat(F.lit("tok"), (F.col("id") * F.col("id")) % vocab)
        .alias("token"))


def test_never_undercounts(spark):
    toks = _tokens(spark)
    sketch = cms_build(toks, depth=3, width=8).localCheckpoint()
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_estimate(exact, sketch, depth=3, width=8)
    bad = est.where(F.col("cms_n") < F.col("exact_n")).count()
    assert bad == 0
    # width 8 over 37 tokens must actually collide somewhere
    assert est.where(F.col("cms_n") > F.col("exact_n")).count() > 0


def test_partitioned_build_equals_global_build(spark):
    """The sketch built over arbitrarily partitioned data equals the
    single-partition build — the cell-wise-sum merge property that makes
    the same plan valid across 1000 executors or streaming batches."""
    toks = _tokens(spark, n=999)
    a = cms_build(toks.repartition(13), depth=4, width=16)
    b = cms_build(toks.coalesce(1), depth=4, width=16)
    rows_a = sorted(tuple(r) for r in a.collect())
    rows_b = sorted(tuple(r) for r in b.collect())
    assert rows_a == rows_b


def test_total_mass_per_row(spark):
    """Each sketch row partitions all occurrences: its cells sum to N."""
    toks = _tokens(spark, n=1234)
    sketch = cms_build(toks, depth=4, width=16)
    sums = {r["r"]: r["total"] for r in
            sketch.groupBy("r").agg(F.sum("n").alias("total")).collect()}
    assert sums == {0: 1234, 1: 1234, 2: 1234, 3: 1234}


def test_streaming_build_equals_batch(spark, tmp_path_factory):
    """cms_build is a plain groupBy, so it runs unchanged as a streaming
    complete-mode aggregate — the micro-batch sketch merge is the same
    cell-wise sum as the partitioned batch merge."""
    import os

    base = str(tmp_path_factory.mktemp("cms_stream"))
    toks = _tokens(spark, n=1500)
    for i, part in enumerate((toks.where(F.col("token") < "tok3"),
                              toks.where(F.col("token") >= "tok3"))):
        part.coalesce(1).write.parquet(os.path.join(base, f"c{i}"))
    flat = os.path.join(base, "flat")
    os.makedirs(flat)
    import glob
    import shutil
    n = 0
    for i in range(2):
        for f in sorted(glob.glob(os.path.join(base, f"c{i}", "*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"{n:02d}.parquet"))
            n += 1
    from windowsession_using_kafka_flink_docker_spark.streaming import (
        file_events_source,
    )
    stream = file_events_source(spark, flat, schema="token STRING",
                                max_files_per_trigger=1)
    q = (cms_build(stream, depth=3, width=8)
         .writeStream.outputMode("complete")
         .format("memory").queryName("cms_stream_sketch").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("cms_stream_sketch").collect())
    want = sorted(tuple(r) for r in
                  cms_build(toks, depth=3, width=8).collect())
    assert got == want


def test_unseen_tokens_still_estimated(spark):
    """A queried token absent from the sketched stream must get a row
    with the min-cell estimate (0 unless every cell collides), not be
    silently dropped by the estimate join."""
    toks = _tokens(spark, n=500)
    sketch = cms_build(toks, depth=3, width=64).localCheckpoint()
    items = spark.createDataFrame(
        [("tok1",), ("never-sketched-xyz",)], "token STRING")
    rows = {r.token: r.cms_n
            for r in cms_estimate(items, sketch, depth=3, width=64).collect()}
    assert set(rows) == {"tok1", "never-sketched-xyz"}
    assert rows["tok1"] > 0
    assert rows["never-sketched-xyz"] == 0  # w=64, 37 tokens: some cell empty


def test_hll_registers_within_expected_error(spark, sf_dir):
    """Beyond oracle parity (both engines compute identical registers):
    the CORRECTED estimate must actually be good. The entry pins only
    integer-exact columns (raw harmonic estimate + register fill
    count); the consumer-side small-range correction — linear counting
    m*ln(m/v) when raw <= 2.5m and empty registers remain — is applied
    here in Python, and the result must sit within 3.3 sigma of HLL's
    standard error (1.04/sqrt(512) = 4.6% -> 15%). Register-state
    consistency: filled_buckets <= min(m, n_exact)."""
    import math

    from windowsession_using_kafka_flink_docker_spark.operators.hll import (
        HLL_M as _HLL_M,
    )
    from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
        hll_ndv_by_event_type,
    )

    rows = hll_ndv_by_event_type(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_exact > 0
        assert 0 < r.filled_buckets <= min(_HLL_M, r.n_exact)
        v = _HLL_M - r.filled_buckets
        if r.ndv_hll_raw <= 2.5 * _HLL_M and v > 0:
            est = _HLL_M * math.log(_HLL_M / v)   # linear counting
        else:
            est = float(r.ndv_hll_raw)
        assert abs(est - r.n_exact) <= 0.15 * r.n_exact, (
            r.event_type, r.n_exact, r.filled_buckets, r.ndv_hll_raw, est)


def test_hll_register_build_is_partial_aggregated(spark, sf_dir):
    """The 100 TB claim the SCALING entry makes: the register build
    plans ONE hash exchange with a partial max BEFORE it — the shuffle
    carries per-task register states (<= |types| x 512 rows), never
    raw keys. No Python anywhere."""
    from windowsession_using_kafka_flink_docker_spark.operators.hll import (
        hll_registers,
    )
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    plan = (hll_registers(load_table(spark, sf_dir, "events"))
            ._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("simple")))
    assert plan.count("Exchange hashpartitioning") == 1
    pre_exchange = plan.split("Exchange hashpartitioning")[1]
    assert "partial_max" in pre_exchange
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
