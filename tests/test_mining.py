"""Brute-force cross-checks for the round-5 composites, independent of
the DuckDB oracles: plain-Python reimplementations on small data must
agree with the distributed plans."""

from __future__ import annotations

import datetime
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    present_sessions,
    session_partials,
)
from windowsession_using_kafka_flink_docker_spark.plans.catalog import CATALOG
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table


def test_copurchase_matches_bruteforce(spark, sf_dir):
    """Same thresholds as the catalog entry (item support >= 20, basket
    cap 50, pair support >= 2), recomputed in plain Python over the
    collected lineitem pairs."""
    li = [(r.l_orderkey, r.l_partkey) for r in
          load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").collect()]
    baskets = defaultdict(set)
    for o, p in li:
        baskets[o].add(p)
    item_sup = Counter(p for parts in baskets.values() for p in parts)
    freq = {p for p, n in item_sup.items() if n >= 20}
    pair_counts: Counter = Counter()
    for parts in baskets.values():
        kept = sorted(p for p in parts if p in freq)
        if not 2 <= len(kept) <= 50:
            continue
        for i, a in enumerate(kept):
            for b in kept[i + 1:]:
                pair_counts[(a, b)] += 1
    want = sorted((a, b, n) for (a, b), n in pair_counts.items() if n >= 2)
    got = sorted((r.part_a, r.part_b, r.n_orders) for r in
                 CATALOG["copurchase_pairs"].spark(spark, sf_dir).collect())
    assert got == want


def test_basket_stage_is_shared_and_releasable(spark, sf_dir):
    """r18 internals pin (VERDICT r17 item 7): copurchase_pairs and
    association_rules consume ONE memoized basket stage per (app, sf) —
    the second call must return the identical persisted frames, and
    clear_basket_cache must release them deterministically (the bench
    clears between passes, so no pass ever reads a prior pass's cache)."""
    from windowsession_using_kafka_flink_docker_spark.plans.relational import (
        basket_stage, clear_basket_cache,
    )
    clear_basket_cache()
    st1 = basket_stage(spark, sf_dir)
    st2 = basket_stage(spark, sf_dir)
    assert st1["arrs"] is st2["arrs"] and st1["freq"] is st2["freq"]
    lvl = st1["arrs"].storageLevel
    assert lvl.useMemory and lvl.useDisk  # spillable persist
    lvl_f = st1["freq"].storageLevel
    assert lvl_f.useMemory and lvl_f.useDisk  # eager-filled (2 racing consumers)
    clear_basket_cache()
    assert not st1["arrs"].storageLevel.useMemory
    assert not st1["freq"].storageLevel.useMemory


def _brute_sessions(events):
    """Union-of-intervals sessionization: events = [(user, ts_us, gap_s,
    value)]; returns {(user, start_us, end_us): (sum, count)}. New session
    iff ts strictly exceeds the running max reach (merge-on-equal)."""
    out = {}
    by_user = defaultdict(list)
    for u, ts, gap, v in events:
        by_user[u].append((ts, gap, v))
    for u, evs in by_user.items():
        evs.sort()
        cur = None
        for ts, gap, v in evs:
            end = ts + gap * 1_000_000
            if cur is None or ts > cur[1]:
                if cur is not None:
                    out[(u, cur[0], cur[1])] = (cur[2], cur[3])
                cur = [ts, end, v, 1]
            else:
                cur[1] = max(cur[1], end)
                cur[2] += v
                cur[3] += 1
        out[(u, cur[0], cur[1])] = (cur[2], cur[3])
    return out


def test_dynamic_gap_sessions_are_interval_unions(spark):
    """Per-event gaps varying WITHIN a key: Spark's session_window must
    merge by interval union — an early long-gap event bridges over a
    later short-gap one (the case a lag-based check would miss, planted
    explicitly below), and session_end is max(ts+gap)."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # planted bridge: t=0 gap 300s, t=10 gap 5s, t=20 — one session,
    # end = t0 + 300
    for ts_s, gap_s in ((0, 300), (10, 5), (20, 5)):
        rows.append((1, base + datetime.timedelta(seconds=ts_s), gap_s, 1.0))
    # seeded pseudo-random stream for user 2 (deterministic, no random())
    t = 0
    for i in range(60):
        t += ((i * 37) % 90) + 1
        rows.append((2, base + datetime.timedelta(seconds=t),
                     (10, 45, 120)[(i * 13) % 3], float(i % 7)))
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, gap_s INT, value DOUBLE")
    gap = F.concat(F.col("gap_s").cast("string"), F.lit(" seconds"))
    # Spark returns naive datetimes denoting session-TZ (UTC) wall time;
    # interpret BOTH sides as UTC explicitly — bare .timestamp() on a
    # naive datetime uses the host OS timezone and would skew `got` by
    # the UTC offset on any non-UTC machine.
    utc = datetime.timezone.utc
    got = {
        (r.user_id,
         int(r.session_start.replace(tzinfo=utc).timestamp() * 1_000_000),
         int(r.session_end.replace(tzinfo=utc).timestamp() * 1_000_000)):
        (float(r.session_sum), r.event_count)
        for r in present_sessions(
            session_partials(df, gap, "user_id", "ts", "value")).collect()
    }
    epoch = utc  # ts are naive; use UTC-consistent µs
    events = [(u, int(ts.replace(tzinfo=epoch).timestamp() * 1_000_000),
               g, v) for u, ts, g, v in rows]
    want = {k: (round(s, 2), c)
            for k, (s, c) in _brute_sessions(events).items()}
    got = {k: (round(s, 2), c) for k, (s, c) in got.items()}
    assert got == want
    # the planted bridge really exercised union semantics
    assert (1, events[0][1], events[0][1] + 300_000_000) in want


def test_association_rules_match_bruteforce(spark, sf_dir):
    """Directional rules recomputed in plain Python with the same
    thresholds (item >= 20, basket cap 50, pair >= 3), including the
    floored confidence/lift scaling."""
    import math

    li = [(r.l_orderkey, r.l_partkey) for r in
          load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").collect()]
    baskets = defaultdict(set)
    for o, p in li:
        baskets[o].add(p)
    n_baskets = len(baskets)
    item_sup = Counter(p for parts in baskets.values() for p in parts)
    freq = {p: n for p, n in item_sup.items() if n >= 20}
    pair_counts: Counter = Counter()
    for parts in baskets.values():
        kept = sorted(p for p in parts if p in freq)
        if not 2 <= len(kept) <= 50:
            continue
        for a in kept:
            for b in kept:
                if a != b:
                    pair_counts[(a, b)] += 1
    want = sorted(
        (a, b, n, freq[a],
         math.floor(n / freq[a] * 10000),
         math.floor(n * n_baskets / (freq[a] * freq[b]) * 10000))
        for (a, b), n in pair_counts.items() if n >= 3)
    got = sorted(
        (r.antecedent, r.consequent, r.n_both, r.n_antecedent,
         r.confidence_e4, r.lift_e4)
        for r in CATALOG["association_rules"].spark(spark, sf_dir).collect())
    assert got == want


def test_ewma_matches_sequential_recurrence(spark, sf_dir):
    """The one-pass geometric-weight aggregation must equal the literal
    sequential recurrence E_n = y_n/2 + E_{n-1}/2 run day by day in
    Python (exact integer halving via fractions to avoid FP drift)."""
    import math
    from fractions import Fraction

    ev = (load_table(spark, sf_dir, "events")
          .groupBy("user_id", F.to_date("ts").alias("d"))
          .agg(F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
          .collect())
    series = defaultdict(list)
    for r in ev:
        series[r.user_id].append((r.d, r.cents))
    want = {}
    for u, days in series.items():
        e = None
        for _, cents in sorted(days):
            e = Fraction(cents) if e is None else (Fraction(cents) + e) / 2
        want[u] = (len(days), math.floor(e))
    got = {r.user_id: (r.n_days, r.ewma_cents) for r in
           CATALOG["ewma_daily_spend"].spark(spark, sf_dir).collect()}
    assert got == want


def test_ewma_long_horizon_matches_recurrence(spark):
    """VERDICT r6 item 3: the clamped-exponent form must stay correct far
    past the old silent-overflow bound (~63 days of unbounded 2^(i-2)
    weights). Exact equality with the Fraction recurrence for series up
    to EWMA_HORIZON+1 days; beyond that the truncated tail may shift the
    floor by at most one cent (tail < max_daily_cents / 2^HORIZON)."""
    import math
    import random
    from fractions import Fraction

    from windowsession_using_kafka_flink_docker_spark.plans.analytics import (
        EWMA_HORIZON,
        ewma_from_daily,
    )

    rng = random.Random(7)
    rows, want = [], {}
    for uid, n_days in enumerate(
            [1, 2, EWMA_HORIZON, EWMA_HORIZON + 1, EWMA_HORIZON + 2,
             63, 64, 120, 200]):
        # spiky series incl. zero days and near-2^31-cent days — the old
        # form's weights alone would overflow int64 past day 63
        cents = [rng.choice([0, 1, 999, 10_000_000, 2_000_000_000])
                 for _ in range(n_days)]
        for i, c in enumerate(cents):
            rows.append((uid, f"2024-01-01 d{i:03d}", c))
        e = None
        for c in cents:
            e = Fraction(c) if e is None else (Fraction(c) + e) / 2
        want[uid] = (n_days, math.floor(e))
    daily = spark.createDataFrame(rows, "user_id LONG, d STRING, cents LONG")
    got = {r.user_id: (r.n_days, r.ewma_cents)
           for r in ewma_from_daily(daily).collect()}
    assert set(got) == set(want)
    for uid, (n_days, exact) in want.items():
        g_n, g_e = got[uid]
        assert g_n == n_days
        if n_days <= EWMA_HORIZON + 1:
            assert g_e == exact, f"uid={uid}: exact domain diverged"
        else:
            # truncation drops only sub-cent tail mass; floor can shift
            # down by at most 1
            assert exact - 1 <= g_e <= exact, f"uid={uid}: {g_e} vs {exact}"
