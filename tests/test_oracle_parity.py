"""Mirror of the driver's correctness gate: every catalog query with an
oracle must match DuckDB on the test parquet; oracle-less queries must at
least execute and return a stable schema."""

from __future__ import annotations

import pytest

from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
from tests.oracle import compare

ORACLED = sorted(n for n, s in CATALOG.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in CATALOG.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_matches_oracle(spark, sf_dir, name):
    spec = CATALOG[name]
    ok, msg = compare(spec.spark(spark, sf_dir), spec.oracle, sf_dir)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_executes(spark, sf_dir, name):
    spec = CATALOG[name]
    df = spec.spark(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.schema.fieldNames()


def test_no_half_cent_rounding_ties_at_driver_scale(spark, sf_dir):
    """Tripwire for the sf0.1 sweep's penny-tie finding (BASELINE round
    13 close): Spark's round(x, 2) rounds the shortest decimal
    representation half-up while DuckDB rounds the binary double, so a
    session average landing on an exact .xx5 decimal boundary splits by
    one cent between the engines. No such tie exists in the driver's
    sf0.01 data today — this test fails LOUDLY (before the driver does)
    if data or sessionization changes ever produce one."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
        sessionize,
    )
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    ev = load_table(spark, sf_dir, "events")
    raw = sessionize(ev).select(
        (F.col("session_sum") / F.greatest(F.lit(1), F.col("event_count")))
        .alias("avg_raw")).collect()
    ties = []
    for r in raw:
        v = r.avg_raw
        string_half_up = Decimal(str(v)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP)
        binary_round = Decimal(repr(round(v, 2)))
        if string_half_up != binary_round:
            ties.append(v)
    assert not ties, (
        f"{len(ties)} session averages land on half-cent ties "
        f"(e.g. {ties[:3]}); Spark and DuckDB will round these apart — "
        "see BASELINE.md 'Round 13 (close)' before certifying")


def test_quality_scores_exact_matches_python_rational(spark, sf_dir):
    """The r16 exact-e4 quality_scores entry (landed after the sf0.1
    sweep found a .xxxx5 ROUND(x,4) boundary split) must emit TRUE
    half-up 4-decimal rounding of the exact rational score — verified
    here against Python Fraction arithmetic, an oracle independent of
    BOTH engines' float paths.
    The feature counts (n, a, p, toks) come from the same Spark
    expressions the entry uses (regex parity between the engines is
    the DuckDB oracle's job); this test pins the rounding arithmetic,
    the class the old double pipeline got wrong on ties."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from windowsession_using_kafka_flink_docker_spark.operators.text_analysis import (
        token_count,
    )
    from windowsession_using_kafka_flink_docker_spark.plans.catalog import (
        CATALOG as _CAT,
    )
    from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_ = F.length(t).cast("long")
    feats = docs.select(
        "doc_id", n_.alias("n"),
        (n_ - F.length(F.regexp_replace(t, r"[A-Za-z]", "")))
        .cast("long").alias("a"),
        (n_ - F.length(F.regexp_replace(t, r"[^\w\s]", "")))
        .cast("long").alias("p"),
        token_count(t).cast("long").alias("toks")).collect()

    want = {}
    for r in feats:
        if r.n == 0:
            q_e4 = 3000
        else:
            L = 0 if r.n < 20 else (1 if r.n < 100 else 2)
            W = 2 if (r.toks > 0 and 3 * r.toks <= r.n <= 12 * r.toks) \
                else 1
            score = Fraction(3 * L * r.n + 6 * r.a
                             + 4 * (r.n - min(5 * r.p, r.n))
                             + 2 * W * r.n, 20 * r.n)
            scaled = score * 10_000
            # true half-up: floor(x + 1/2) on the exact rational
            q_e4 = (scaled + Fraction(1, 2)).__floor__()
        if q_e4 >= 5000:
            want[r.doc_id] = q_e4

    got = {r.doc_id: round(r.quality * 10_000)
           for r in _CAT["quality_scores"].spark(spark, sf_dir).collect()}
    assert got == want
