"""Relational extension queries (SURVEY.md §2.11 checklist).

The reference has no joins, sorts, set ops, ranking windows, or grouping
sets; these make the engine a complete analytics surface on the star
schema. Every query is a declarative DataFrame plan — Catalyst handles
pushdown/pruning; dimension joins broadcast (region/nation/customer are
tiny relative to fact tables at any SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    cents,
    present_sessions,
    session_partials,
    tier_gap_expr,
)
from windowsession_using_kafka_flink_docker_spark.plans.catalog import register
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

#: Application-scoped scratch roots already registered for atexit cleanup.
_SCRATCH_REGISTERED: set[str] = set()


def _scratch_path(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Per-(app, sf) scratch dir for layout-roundtrip entries, under ONE
    app-scoped root that is removed at interpreter exit (VERDICT r6
    item 7 — the per-session orc/partition/compaction layouts used to
    leak under /tmp). The app id in the path keeps concurrent sessions
    on one host from clobbering each other mid-query."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"windowsession_scratch_{spark.sparkContext.applicationId}")
    if root not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(
        root, f"{name}_{os.path.basename(sf_dir.rstrip('/'))}")


@register(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 2) AS avg_qty,
       ROUND(AVG(l_extendedprice), 2) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    description="TPC-H Q1-style pricing summary: scan→filter→agg with "
                "pushdown; map-side partial aggregation",
    bench=True,
    tags=("relational", "aggregate"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
SELECT n_name, r_name,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
""",
    description="3-way dimension join (orders⋈customer⋈nation⋈region) with "
                "broadcast of every dim side; no fact-side shuffle before agg",
    bench=True,
    tags=("relational", "join"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = F.broadcast(load_table(spark, sf_dir, "customer"))
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3
""",
    description="Window top-k: top 3 orders per customer (ranking window "
                "function; deterministic via orderkey tiebreak)",
    tags=("relational", "window_function", "topk"),
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("o_totalprice"), "rnk")
    )


@register(
    "order_priority_rollup",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
    description="ROLLUP grouping sets over priority×status",
    tags=("relational", "grouping_sets"),
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "event_type_cube",
    oracle="""
SELECT event_type, strftime(date_trunc('month', ts), '%Y-%m') AS month,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY CUBE (event_type, month)
""",
    description="CUBE over event_type × month with date_trunc bucketing",
    tags=("relational", "grouping_sets", "datetime"),
)
def event_type_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("month", F.date_format(F.date_trunc("month", "ts"), "yyyy-MM"))
        .cube("event_type", "month")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "distinct_users_by_type",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
    description="Exact distinct aggregation (count distinct users per type)",
    tags=("relational", "aggregate", "distinct"),
)
def distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL) — the scale path for distinct
    counting; sketch mergeable across partitions.

    Retired from the catalog (VERDICT r7 item 3 consolidation): the
    rows-only registration added no signal once ``kmv_distinct_audit``
    + ``sketch_accuracy_report`` hash-pinned the sketch-distinct
    quality gates under driver oracles; accuracy stays pinned by
    tests/test_text_ops.py."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    )


@register(
    "percentile_values",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 2) AS p50,
       ROUND(quantile_cont(value, 0.9), 2) AS p90,
       ROUND(quantile_cont(value, 0.99), 2) AS p99
FROM events
GROUP BY event_type
""",
    description="Exact continuous percentiles per group (percentile / "
                "quantile_cont parity)",
    tags=("relational", "aggregate", "percentile"),
)
def percentile_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 2).alias("p50"),
        F.round(F.percentile("value", 0.9), 2).alias("p90"),
        F.round(F.percentile("value", 0.99), 2).alias("p99"),
    )


@register(
    "purchasers_minus_errorers",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    description="Set operation: EXCEPT (users who purchased but never errored)",
    tags=("relational", "setop"),
)
def purchasers_minus_errorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchasers = ev.where("event_type = 'purchase'").select("user_id")
    errorers = ev.where("event_type = 'error'").select("user_id")
    return purchasers.subtract(errorers)


@register(
    "engaged_users_intersect",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'view'
""",
    description="Set operation: INTERSECT (users with both purchase and view)",
    tags=("relational", "setop"),
)
def engaged_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.where("event_type = 'purchase'").select("user_id")
    b = ev.where("event_type = 'view'").select("user_id")
    return a.intersect(b)


@register(
    "top100_orders",
    oracle="""
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    description="Global sort + limit (TakeOrderedAndProject — no full sort "
                "materialization at scale)",
    tags=("relational", "sort", "limit"),
)
def top100_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey",
                F.round("o_totalprice", 2).alias("o_totalprice"))
        .limit(100)
    )


@register(
    "customer_order_analytics",
    oracle="""
SELECT o_custkey, o_orderkey,
       rank() OVER w AS order_rank,
       ROUND(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS UNBOUNDED PRECEDING), 2) AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    description="Analytic window functions: rank, lag delta, running sum "
                "per customer ordered by order date",
    tags=("relational", "window_function"),
)
def customer_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey", "o_orderkey",
        F.rank().over(w).alias("order_rank"),
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
        F.round(F.sum("o_totalprice").over(wsum), 2).alias("running_total"),
    )


@register(
    "json_props_extract",
    oracle=r"""
SELECT user_id,
       CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k_value,
       event_type
FROM events
WHERE regexp_extract(props, '"k":\s*(\d+)', 1) <> ''
""",
    description="Scalar JSON/string functions: extract numeric field from "
                "the props JSON column (SURVEY.md §2.11 scalar-funcs row)",
    tags=("relational", "scalar", "json"),
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return (
        ev.where(k != "")
        .select("user_id", k.cast("bigint").alias("k_value"), "event_type")
    )


@register(
    "stream_static_enrichment",
    oracle="""
WITH tiers AS (
  SELECT 9999 AS user_id, 'vip' AS tier
  UNION ALL SELECT i, 'tier_a' FROM range(2, 10) t(i)
  UNION ALL SELECT i, 'tier_b' FROM range(100, 201) t(i)
)
SELECT COALESCE(tier, 'default') AS tier,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM events LEFT JOIN tiers USING (user_id)
GROUP BY 1
""",
    description="Stream-static enrichment join: the task3 user-tier table "
                "(flink_stream_task3.py:54-62) materialized as a genuinely "
                "static 110-row dimension, broadcast left-join + coalesce "
                "default — the fact side never shuffles for the join and "
                "nothing unbounded reaches the driver",
    tags=("relational", "join", "parity"),
)
def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Static dimension straight from the reference's tier rules — bounded
    # and known a priori (unlike a distinct() over the fact table, whose
    # cardinality is unbounded at scale).
    rows = ([(9999, "vip")]
            + [(u, "tier_a") for u in range(2, 10)]
            + [(u, "tier_b") for u in range(100, 201)])
    tiers = spark.createDataFrame(rows, "user_id BIGINT, tier STRING")
    return (
        ev.join(F.broadcast(tiers), "user_id", "left")
        .withColumn("tier", F.coalesce(F.col("tier"), F.lit("default")))
        .groupBy("tier")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "interval_join_attribution",
    oracle="""
SELECT p.user_id,
       p.ts AS purchase_ts,
       ROUND(p.value, 2) AS purchase_value,
       v.ts AS view_ts,
       ROUND(v.value, 2) AS view_value
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 60 MINUTE
 AND v.ts < p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
""",
    description="Event-time interval join: each purchase matches the same "
                "user's view events in the preceding 60 minutes (ALL of "
                "them, unlike the as-of join's latest-only). Batch form of "
                "streaming_interval_join, whose two-sided time bound keeps "
                "stream-stream join state proportional to rate x lookback",
    bench=True,
    tags=("relational", "join", "interval"),
)
def interval_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), F.col("value").alias("purchase_value")
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uid"), F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return (
        p.join(
            v,
            (F.col("user_id") == F.col("v_uid"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 60 MINUTES"))
            & (F.col("view_ts") < F.col("purchase_ts")),
        )
        .select(
            "user_id",
            "purchase_ts",
            F.round("purchase_value", 2).alias("purchase_value"),
            "view_ts",
            F.round("view_value", 2).alias("view_value"),
        )
    )


def _asof_attribution(spark: SparkSession, sf_dir: str, join_fn) -> DataFrame:
    """Shared purchase->latest-prior-view plan for the flat and bucketed
    as-of variants (one definition, one oracle, provably in sync)."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("view_value"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = join_fn(
        purchases, views, on=["user_id"], ts="ts",
        right_cols={"view_value": "view_value"}, right_ts_name="view_ts",
    )
    return joined.select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
        "view_ts",
        "view_value",
    )


@register(
    "asof_purchase_attribution",
    oracle="""
WITH v AS (
  SELECT user_id, ts, ROUND(MAX(value), 2) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.ts AS purchase_ts,
       ROUND(p.value, 2) AS purchase_value,
       v.ts AS view_ts,
       v.view_value
FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    description="As-of (point-in-time) join: each purchase event picks the "
                "user's most recent prior-or-simultaneous view event — "
                "union-merge implementation (one shuffle + running "
                "last-value window), not a quadratic range join; oracled "
                "against DuckDB's native ASOF JOIN",
    bench=True,
    tags=("relational", "join", "asof"),
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.asof import asof_join
    return _asof_attribution(spark, sf_dir, asof_join)


@register(
    "asof_purchase_attribution_bucketed",
    oracle="""
WITH v AS (
  SELECT user_id, ts, ROUND(MAX(value), 2) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.ts AS purchase_ts,
       ROUND(p.value, 2) AS purchase_value,
       v.ts AS view_ts,
       v.view_value
FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""",
    description="Hot-key-parallel as-of join (same semantics and oracle as "
                "asof_purchase_attribution): heavy work partitions on "
                "(key, 1h time bucket) with per-bucket last-row handoff, so "
                "a key owning most of the input no longer serializes into "
                "one window task",
    tags=("relational", "join", "asof", "skew"),
)
def asof_purchase_attribution_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.asof import (
        asof_join_bucketed,
    )
    return _asof_attribution(spark, sf_dir, asof_join_bucketed)


@register(
    "salted_skew_aggregation",
    oracle="""
SELECT user_id,
       ROUND(SUM(value), 2) AS total_value,
       CAST(COUNT(value) AS BIGINT) AS n_events,
       ROUND(MAX(value), 2) AS max_value
FROM events
GROUP BY user_id
""",
    description="Two-stage salted aggregation over a skewed key: identical "
                "result to a plain groupBy (the salt is internal), but the "
                "hot key's rows spread over n_salts reducers in stage 1 — "
                "the classic mitigation when one key owns a large share of "
                "the input (reference phase-4 funnels 100k events into one "
                "user, generator1.py:51)",
    bench=True,
    tags=("relational", "aggregate", "skew"),
)
def salted_skew_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.skew import salted_agg
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev, ["user_id"],
        {"total_value": ("sum", "value"),
         "n_events": ("count", "value"),
         "max_value": ("max", "value")},
    )
    return out.select(
        "user_id",
        F.round("total_value", 2).alias("total_value"),
        F.col("n_events"),
        F.round("max_value", 2).alias("max_value"),
    )


def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx sketch (mergeable across partitions) — the scale
    path for quantiles next to the exact percentile_values query: one
    pass, fixed-size state per group, no full sort.

    Retired from the catalog (VERDICT r6 item 1 consolidation): the
    rows-only registration added no signal once ``percentile_sketch_audit``
    hash-pinned the sketch's realized rank error — that entry runs this
    same aggregate and is the driver-checked quality gate; value accuracy
    stays pinned by tests/test_text_ops.py::
    test_approx_percentiles_close_to_exact."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    )


@register(
    "percentile_sketch_audit",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, 0.5), 2) AS exact_p50,
       ROUND(quantile_cont(value, 0.9), 2) AS exact_p90,
       ROUND(quantile_cont(value, 0.99), 2) AS exact_p99,
       TRUE AS p50_rank_ok,
       TRUE AS p90_rank_ok,
       TRUE AS p99_rank_ok
FROM events
GROUP BY event_type
""",
    description="Hash-checkable audit of the percentile_approx sketch "
                "(the KMV discipline applied to quantiles, VERDICT r5 "
                "item 5): the sketch estimate itself is merge-order-"
                "specific so it stays OUT of the hashed columns; what IS "
                "hashed is the exact per-group quantiles plus one boolean "
                "per estimate asserting its realized rank error — "
                "|count(value <= est)/n - q| — sits within the sketch's "
                "documented bound (1/accuracy, with generous slack for "
                "tie/boundary semantics). The oracle pins the booleans "
                "TRUE, so a sketch drifting outside its bound breaks the "
                "driver hash. Two passes over events (sketch+exact agg, "
                "then a broadcast of the per-group estimates back over "
                "the scan for rank counting) — both map-side-combined "
                "groupBys, no shuffle of fact rows beyond the agg keys.",
    tags=("relational", "aggregate", "approx", "audit"),
)
def percentile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    acc = 10000
    est = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, acc).alias("est_p50"),
        F.percentile_approx("value", 0.9, acc).alias("est_p90"),
        F.percentile_approx("value", 0.99, acc).alias("est_p99"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", 0.5), 2).alias("exact_p50"),
        F.round(F.percentile("value", 0.9), 2).alias("exact_p90"),
        F.round(F.percentile("value", 0.99), 2).alias("exact_p99"),
    )
    # realized rank of each estimate: one more pass over events with the
    # tiny per-group estimate table broadcast onto it
    ranked = (ev.join(F.broadcast(est), "event_type")
              .groupBy("event_type")
              .agg(*[F.sum((F.col("value") <= F.col(f"est_p{q}"))
                           .cast("long")).alias(f"rank_p{q}")
                     for q in (50, 90, 99)]))
    # GK-sketch guarantee is rank error <= n/accuracy; ties make
    # count(<=) an upper rendering of the rank, so allow 0.005 absolute
    # quantile slack on top — still ~tight enough that a broken sketch
    # (or a wrong merge) trips the booleans and with them the hash.
    slack = 1.0 / acc + 0.005
    audited = est.join(F.broadcast(ranked), "event_type")
    return audited.select(
        "event_type", "n", "exact_p50", "exact_p90", "exact_p99",
        *[(F.abs(F.col(f"rank_p{q}") / F.col("n") - F.lit(q / 100.0))
           <= slack).alias(f"p{q}_rank_ok")
          for q in (50, 90, 99)],
    )


@register(
    "scd2_loyalty_tiers",
    oracle="""
WITH p AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS n
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       CASE WHEN n >= 5 THEN 'gold' WHEN n >= 3 THEN 'silver'
            ELSE 'bronze' END AS tier,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, n) AS valid_to,
       CAST(n AS BIGINT) AS n_purchases
FROM p
""",
    description="SCD2 (slowly-changing-dimension type 2) builder: each "
                "purchase advances the user's loyalty tier; validity "
                "intervals come from lead() over the change events "
                "(valid_to NULL = current row). Consumed point-in-time via "
                "the as-of join. One window shuffle on the key.",
    tags=("relational", "window_function", "scd2"),
)
def scd2_loyalty_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("n", F.row_number().over(w))
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "n")
    return p.select(
        "user_id",
        F.when(F.col("n") >= 5, "gold")
        .when(F.col("n") >= 3, "silver")
        .otherwise("bronze")
        .alias("tier"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(wn).alias("valid_to"),
        F.col("n").cast("long").alias("n_purchases"),
    )


@register(
    "semi_join_late_orders",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""",
    description="EXISTS / left-semi join (TPC-H Q4 shape): orders with at "
                "least one lineitem shipped after the order date, counted "
                "by priority. The fact side is pre-aggregated to one "
                "MAX(l_shipdate) row per order before the semi join "
                "(EXISTS(l_shipdate > d) == MAX(l_shipdate) > d, both "
                "null-rejecting): the map-side partial aggregate shrinks "
                "the shuffled/broadcast side from every line to one slim "
                "row per order (r17 optimization — previously the planner "
                "broadcast a hash relation of the whole 2-column lineitem "
                "projection, a fact-table broadcast that cannot fire at "
                "100 TB).",
    bench=True,
    tags=("relational", "join", "semi"),
)
def semi_join_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # EXISTS(line shipped after order date) depends only on the latest
    # ship date per order: aggregate lineitem first (partial aggregation
    # collapses ~4 lines/order map-side), then ONE slim row per order
    # crosses the exchange. max() ignores NULLs and a NULL comparison
    # rejects the row in both forms, so the rewrite is exactly EXISTS.
    mx = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_shipdate")
          .groupBy("l_orderkey")
          .agg(F.max("l_shipdate").alias("_max_ship")))
    late = orders.join(
        mx,
        (orders.o_orderkey == mx.l_orderkey) & (mx._max_ship > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "anti_join_no_urgent_customers",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
    description="NOT EXISTS / left-anti join: customers who never placed "
                "a 1-URGENT order, aggregated by market segment. The "
                "anti-join side is pre-filtered to the URGENT slice so the "
                "result is non-vacuous on the test data (203 customers at "
                "sf0.01, 1986 at sf0.1) — every-customer-has-orders made "
                "the previous no-orders predicate return 0 rows and hence "
                "verify nothing.",
    tags=("relational", "join", "anti"),
)
def anti_join_no_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    idle = cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


@register(
    "pivot_order_status",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
FROM orders
GROUP BY o_orderpriority
""",
    description="Pivot (long -> wide): order counts per priority with one "
                "column per status. Explicit pivot values keep the plan a "
                "single pass (no distinct-values pre-query).",
    tags=("relational", "pivot"),
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    zero = F.lit(0).cast("long")
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), zero).alias("n_open"),
        F.coalesce(F.col("F"), zero).alias("n_filled"),
        F.coalesce(F.col("P"), zero).alias("n_pending"),
    )


_BRAND_PREMIUM_SQL = """
SELECT p_brand, COUNT(*) AS n_premium,
       ROUND(MAX(p_retailprice), 2) AS max_price
FROM {part} p
WHERE p_retailprice > (SELECT ROUND(1.01 * AVG(p2.p_retailprice), 2)
                       FROM {part} p2 WHERE p2.p_brand = p.p_brand)
GROUP BY p_brand
"""


@register(
    "brand_premium_parts",
    oracle=_BRAND_PREMIUM_SQL.format(part="part"),
    description="Correlated scalar subquery through the SQL front door: "
                "parts priced >1% above their brand's average. Catalyst "
                "de-correlates to an aggregate + join; threshold rounded "
                "to cents on both sides so engine summation order cannot "
                "flip a boundary row. 1.01x (not 1.2x) because the test "
                "data's per-brand price spread is narrow — 1.2x returned "
                "0 rows at every SF and verified nothing; 1.01x yields "
                "7/25/25 brands at sf0.001/0.01/0.1.",
    tags=("relational", "subquery", "sql"),
)
def brand_premium_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_part_v")
    return spark.sql(_BRAND_PREMIUM_SQL.format(part="_part_v"))


@register(
    "rolling_purchase_features",
    oracle="""
SELECT event_id, user_id,
       ROUND(AVG(value) OVER w3, 4) AS avg_last3,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING), 2) AS cum_value,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
FROM events
WHERE event_type = 'purchase'
WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
    description="Per-user time-series features with explicit ROWS frames: "
                "3-event moving average, running total, sequence number. "
                "(ts, event_id) ordering makes the frame total -> "
                "deterministic across engines.",
    tags=("relational", "window", "frame"),
)
def rolling_purchase_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-2, 0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "event_id", "user_id",
        F.round(F.avg("value").over(w3), 4).alias("avg_last3"),
        F.round(F.sum("value").over(wcum), 2).alias("cum_value"),
        F.row_number().over(w).alias("seq"),
    )


@register(
    "event_value_histogram",
    oracle="""
SELECT event_type,
       LEAST(GREATEST(CAST(FLOOR(value / 25) AS BIGINT), 0), 15) AS bucket,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS bucket_sum
FROM events
GROUP BY 1, 2
""",
    description="Equi-width histogram (16 x 25-unit buckets, clamped) of "
                "event values per type — closed-form bucket expression, "
                "single agg shuffle, no per-bucket subqueries.",
    tags=("relational", "histogram"),
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 25).cast("long"), F.lit(0).cast("long")),
        F.lit(15).cast("long"),
    )
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("bucket_sum"),
    )


@register(
    "conversion_funnel",
    oracle="""
WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
SELECT '1_view' AS step, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click_after_view', COUNT(*) FROM c
UNION ALL SELECT '3_purchase_after_click', COUNT(*) FROM p
""",
    description="Strict sequential conversion funnel view -> click -> "
                "purchase: each step is a per-user MIN over events after "
                "the previous step's timestamp. The step frames have "
                "user-level cardinality, so they are NOT force-broadcast: "
                "the per-step joins shuffle on user_id (correct at 100x "
                "users) and AQE downgrades to broadcast at runtime when a "
                "step frame is small enough; the event scan is filtered "
                "per step.",
    bench=True,
    tags=("relational", "funnel", "analytics"),
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (ev.where(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (ev.where(F.col("event_type") == "click")
         .join(v, "user_id").where(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    p = (ev.where(F.col("event_type") == "purchase")
         .join(c, "user_id").where(F.col("ts") > F.col("t2"))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    def _n(df, label):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("step"), "n_users")
    return _n(v, "1_view").unionAll(_n(c, "2_click_after_view")).unionAll(
        _n(p, "3_purchase_after_click"))


@register(
    "retention_cohorts",
    oracle="""
WITH act AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
             FROM events),
first AS (SELECT user_id, MIN(d) AS cohort_day FROM act GROUP BY user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, d) AS day_offset,
       COUNT(*) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY 1, 2
""",
    description="Daily cohort retention matrix: cohort = first active "
                "day per user; one distinct + two agg shuffles, output "
                "long (cohort, offset, users) — the classic retention "
                "triangle.",
    bench=True,
    tags=("relational", "cohort", "analytics"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    act = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = act.groupBy("user_id").agg(F.min("d").alias("_cd"))
    return (
        act.join(first, "user_id")
        .groupBy(
            F.date_format("_cd", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "_cd").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


@register(
    "user_spend_deciles",
    oracle="""
WITH spend AS (
  SELECT user_id, ROUND(SUM(value), 2) AS total_spend
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT NTILE(10) OVER (ORDER BY total_spend, user_id) AS decile,
       user_id, total_spend
FROM spend
""",
    description="NTILE(10) spend deciles over per-user purchase totals; "
                "(total_spend, user_id) ordering keeps tile assignment "
                "engine-deterministic. NTILE is rank-based, so a global "
                "window (one exchange) is inherent — applied only to the "
                "pre-aggregated per-user frame (cardinality << events); "
                "for billion-key frames use approx-quantile bucket "
                "boundaries instead (value-based, fully parallel).",
    tags=("relational", "window_function", "ntile"),
)
def user_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_spend"))
    )
    w = Window.orderBy("total_spend", "user_id")
    return spend.select(
        F.ntile(10).over(w).alias("decile"), "user_id", "total_spend")


@register(
    "latest_event_per_user",
    oracle="""
SELECT user_id,
       arg_max(event_type, ts) AS last_type,
       MAX(ts) AS last_ts,
       arg_max(value, ts) AS last_value,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
    description="Argmax aggregation (max_by / arg_max): each user's most "
                "recent event type and value in ONE aggregation pass — no "
                "self-join, no window sort; ts is unique per user in this "
                "data so the argmax is deterministic.",
    tags=("relational", "aggregate", "argmax"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_type"),
        F.max("ts").alias("last_ts"),
        F.max_by("value", "ts").alias("last_value"),
        F.count("*").alias("n_events"),
    )


@register(
    "json_parse_roundtrip",
    oracle="""
WITH j AS (
  SELECT to_json(struct_pack(user_id := user_id,
                             event_type := event_type,
                             value := ROUND(value, 2))) AS js
  FROM events
),
p AS (
  SELECT CAST(js->>'$.user_id' AS BIGINT) AS user_id,
         js->>'$.event_type' AS event_type,
         CAST(js->>'$.value' AS DOUBLE) AS value
  FROM j
)
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM p
WHERE user_id IS NOT NULL
GROUP BY event_type
""",
    description="Schema'd JSON wire-format roundtrip (to_json -> from_json "
                "-> aggregate), the JSON sibling of csv_parse_roundtrip: "
                "typed extraction with casts, no Python UDF; value rounded "
                "before serialization so both engines parse identical "
                "decimal literals.",
    tags=("relational", "json", "format"),
)
def json_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    j = ev.select(
        F.to_json(
            F.struct(
                F.col("user_id"),
                F.col("event_type"),
                F.round("value", 2).alias("value"),
            )
        ).alias("js")
    )
    parsed = j.select(
        F.from_json("js", "user_id BIGINT, event_type STRING, value DOUBLE").alias("r")
    ).select("r.*")
    return (
        parsed.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@register(
    "unpivot_order_counts",
    # Metamorphic inverse of pivot_order_status: Spark runs a real
    # wide->long unpivot over the pivoted frame; the oracle never pivots —
    # it cross-joins priorities x measure names and picks the count, so a
    # broken unpivot (dropped zeros, swapped measures) cannot hash-match.
    oracle="""
WITH c AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
  FROM orders GROUP BY o_orderpriority
),
m AS (SELECT UNNEST(['n_open', 'n_filled', 'n_pending']) AS status_col)
SELECT o_orderpriority, status_col,
       CASE status_col WHEN 'n_open' THEN n_open
                       WHEN 'n_filled' THEN n_filled
                       ELSE n_pending END AS n_orders
FROM c, m
""",
    description="UNPIVOT (wide -> long): melts the pivoted per-status "
                "count columns back to (priority, status, count) rows "
                "with Spark's native unpivot/melt — zeros survive the "
                "roundtrip; generator-side row explosion, no shuffle "
                "beyond the pivot's own aggregation.",
    tags=("relational", "unpivot"),
)
def unpivot_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = pivot_order_status(spark, sf_dir)
    return wide.unpivot(
        "o_orderpriority",
        ["n_open", "n_filled", "n_pending"],
        "status_col",
        "n_orders",
    )


@register(
    "orc_roundtrip_revenue",
    # Format-independence metamorphic check: Spark writes a lineitem
    # projection to ORC and aggregates the read-back; the oracle computes
    # the same aggregate straight off the parquet, so any ORC
    # serialization drift (type mangling, row loss) breaks the hash.
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
GROUP BY l_returnflag
""",
    description="ORC sink + source roundtrip (native Spark ORC, "
                "zlib-compressed): write a pruned lineitem projection, "
                "read it back, aggregate — the columnar-format sibling of "
                "csv/json_parse_roundtrip; oracle aggregates the original "
                "parquet so the two storage paths must agree bit-for-bit.",
    tags=("relational", "format", "orc"),
)
def orc_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice")
    path = _scratch_path(spark, "orc_rt", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "fuzzy_prefix_pairs",
    # Edit-distance is exactly defined, so both engines must agree on the
    # integer distance — full hash parity on a *fuzzy* operator.
    oracle="""
WITH d AS (SELECT doc_id, lang, substr(text, 1, 40) AS p,
                  len(substr(text, 1, 40)) AS pl
           FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.p, b.p) AS INTEGER) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
 AND abs(a.pl - b.pl) <= 8
WHERE levenshtein(a.p, b.p) <= 8
""",
    description="Edit-distance fuzzy duplicate pairs (levenshtein <= 8 on "
                "the 40-char prefix): the character-level member of the "
                "dedup family. Blocked by lang and pre-filtered by the "
                "length-difference lower bound (|len_a - len_b| <= "
                "threshold, a provable levenshtein bound) so the "
                "quadratic distance only runs inside bands — at corpus "
                "scale the band predicate prunes before the O(n*m) "
                "distance, and lang is the join/partition key.",
    tags=("relational", "fuzzy", "dedup"),
)
def fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.substring("text", 1, 40).alias("p"))
        .withColumn("pl", F.length("p"))
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.pl") - F.col("b.pl")) <= 8),
        )
        .where(F.levenshtein(F.col("a.p"), F.col("b.p")) <= 8)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.p"), F.col("b.p")).alias("edit_dist"),
        )
    )


_GROUPING_SETS_SQL = """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM {orders}
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@register(
    "grouping_sets_revenue",
    oracle=_GROUPING_SETS_SQL.format(orders="orders"),
    description="Explicit GROUPING SETS — the irregular grouping shape "
                "rollup/cube can't express ((priority), (status), ()): "
                "one pass, three aggregation granularities, COALESCE "
                "labels (both grouping columns are non-null in the data "
                "so 'ALL' is unambiguous). Spark expands to a single "
                "Expand + hash aggregate — no per-set re-scan.",
    tags=("relational", "grouping_sets", "sql"),
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_gs_v")
    return spark.sql(_GROUPING_SETS_SQL.format(orders="_orders_gs_v"))


@register(
    "scd2_customer_upsert",
    # The change batch is derived deterministically from the data itself:
    # real updates (acctbal+100 for custkey%10=3), a no-op full-feed
    # resend slice (custkey%10=7, identical values — MUST be dropped by
    # the checksum compare), and brand-new keys (custkey%50=0 shifted by
    # 1M). The oracle replays the same three-leg merge in SQL.
    oracle="""
WITH base AS (SELECT c_custkey, ROUND(c_acctbal, 2) AS c_acctbal,
                     c_mktsegment, TIMESTAMP '2020-01-01' AS valid_from
              FROM customer),
chg AS (
  SELECT c_custkey, ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 10 = 3
  UNION ALL
  SELECT c_custkey, ROUND(c_acctbal, 2), c_mktsegment
  FROM customer WHERE c_custkey % 10 = 7
  UNION ALL
  SELECT c_custkey + 1000000, ROUND(c_acctbal, 2), c_mktsegment
  FROM customer WHERE c_custkey % 50 = 0
),
eff AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment
        FROM base s JOIN chg c USING (c_custkey)
        WHERE s.c_acctbal IS DISTINCT FROM c.c_acctbal
           OR s.c_mktsegment IS DISTINCT FROM c.c_mktsegment),
newk AS (SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment FROM chg c
         WHERE NOT EXISTS (SELECT 1 FROM base s
                           WHERE s.c_custkey = c.c_custkey))
SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment, s.valid_from,
       TIMESTAMP '2024-06-01' AS valid_to, FALSE AS is_current
FROM base s JOIN eff e USING (c_custkey)
UNION ALL
SELECT c_custkey, c_acctbal, c_mktsegment,
       TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), TRUE
FROM (SELECT * FROM eff UNION ALL SELECT * FROM newk)
UNION ALL
SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment, s.valid_from,
       CAST(NULL AS TIMESTAMP), TRUE
FROM base s WHERE NOT EXISTS (SELECT 1 FROM eff e
                              WHERE e.c_custkey = s.c_custkey)
""",
    description="SCD type-2 dimension upsert (the lakehouse MERGE "
                "pattern, format-free): one change batch versioned into "
                "the customer dimension — updated keys expire with "
                "valid_to, effective changes and new keys open as "
                "current, no-op resends are dropped by the null-safe "
                "checksum compare. Three key-shuffle join legs (inner/"
                "anti), no window, no driver state.",
    tags=("relational", "scd2", "merge"),
)
def scd2_customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.scd import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    snapshot = cust.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
    )
    rounded = cust.select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment")
    changes = (
        rounded.where(F.col("c_custkey") % 10 == 3)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100, 2))
        .unionByName(rounded.where(F.col("c_custkey") % 10 == 7))
        .unionByName(
            rounded.where(F.col("c_custkey") % 50 == 0)
            .withColumn("c_custkey", F.col("c_custkey") + 1_000_000))
    )
    return scd2_apply(
        snapshot, changes, key="c_custkey",
        batch_ts=F.lit("2024-06-01").cast("timestamp"),
        attr_cols=("c_acctbal", "c_mktsegment"),
    )


@register(
    "sketch_accuracy_report",
    # The sketch VALUES are engine-specific (HLL register layout, GK/
    # KLL quantile internals differ between Spark and DuckDB), which is
    # why approx_distinct_users/approx_percentiles are rows-only — but the
    # ACCURACY CONTRACT is checkable: Spark computes sketch and exact side
    # by side and emits pass/fail booleans against the documented error
    # bounds; the oracle recomputes the exact values and pins the booleans
    # TRUE. A regressed sketch config (or a broken approx path) flips a
    # boolean and breaks the hash.
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS distinct_within_5pct,
       TRUE AS p50_within_1
FROM events
GROUP BY event_type
""",
    description="Sketch-accuracy gate: approx_count_distinct (HLL, 1% "
                "target) must land within 5% of the exact distinct count "
                "and approx_percentile(0.5, acc=10000) within 1.0 of the "
                "exact median, per event_type — the hard-signal companion "
                "to the rows-only sketch queries; one aggregation pass "
                "computes sketch and exact together.",
    tags=("relational", "aggregate", "approx", "quality"),
)
def sketch_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(F.approx_count_distinct("user_id", 0.01)
                  - F.countDistinct("user_id"))
            <= 0.05 * F.countDistinct("user_id")
        ).alias("distinct_within_5pct"),
        (
            F.abs(F.expr("approx_percentile(value, 0.5, 10000)")
                  - F.expr("percentile(value, 0.5)")) <= 1.0
        ).alias("p50_within_1"),
    )


_TIME_RANGE_SQL = """
SELECT event_id, user_id,
       ROUND(SUM(value) OVER w1h, 2) AS sum_1h,
       CAST(COUNT(*) OVER w1h AS BIGINT) AS n_1h
FROM {events}
WHERE event_type = 'purchase'
WINDOW w1h AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


@register(
    "rolling_time_range_features",
    oracle=_TIME_RANGE_SQL.format(events="events"),
    description="Time-based window frame (RANGE BETWEEN INTERVAL 1 HOUR "
                "PRECEDING): trailing-hour purchase sum/count per user — "
                "the value-based frame ROWS frames can't express (rows "
                "in the hour vary per event). One sort per user "
                "partition, frame bounds advance by timestamp "
                "arithmetic; the sibling of rolling_purchase_features.",
    tags=("relational", "window", "frame", "time"),
)
def rolling_time_range_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_events_tr_v")
    return spark.sql(_TIME_RANGE_SQL.format(events="_events_tr_v"))


@register(
    "null_semantics_report",
    # Nulls derived deterministically (NULLIF under a value threshold) so
    # the engines' null-handling contract is the thing under test:
    # COUNT(*) vs COUNT(col), null-skipping SUM/AVG/MIN/MAX, and COALESCE
    # fallbacks must all agree.
    oracle="""
WITH e AS (SELECT event_type, user_id,
                  CASE WHEN value < 10 THEN NULL ELSE value END AS v
           FROM events)
SELECT event_type,
       COUNT(*) AS n_rows,
       COUNT(v) AS n_nonnull,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       ROUND(SUM(v), 2) AS sum_v,
       ROUND(AVG(v), 4) AS avg_v,
       ROUND(MIN(v), 2) AS min_v,
       ROUND(SUM(COALESCE(v, 0.0)), 2) AS sum_coalesced
FROM e
GROUP BY event_type
""",
    description="Null-semantics parity report: COUNT(*) vs COUNT(col), "
                "null-skipping SUM/AVG/MIN and COALESCE fallback over a "
                "deterministically NULLIF'd value column — locks the "
                "aggregate null contract both engines must share.",
    tags=("relational", "aggregate", "nulls"),
)
def null_semantics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("value"))
    e = ev.select("event_type", v.alias("v"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_nonnull"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long")
         .alias("n_null"),
        F.round(F.sum("v"), 2).alias("sum_v"),
        F.round(F.avg("v"), 4).alias("avg_v"),
        F.round(F.min("v"), 2).alias("min_v"),
        F.round(F.sum(F.coalesce(F.col("v"), F.lit(0.0))), 2)
         .alias("sum_coalesced"),
    )


@register(
    "decimal_ledger_totals",
    # Money must not ride in doubles at 100 TB: DECIMAL(18,2) sums are
    # EXACT and associativity-independent, so this is the one aggregate
    # family where the hash gate needs no ROUND discipline at all.
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
         AS total_price,
       ROUND(CAST(AVG(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE), 4)
         AS avg_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
    description="Exact decimal money aggregation: o_totalprice cast to "
                "DECIMAL(18,2) before summing, so the totals are exact "
                "integers-of-cents regardless of partitioning or "
                "summation order — the ledger-grade aggregate path. Only "
                "the OUTPUT edge casts to double (cent totals << 2^53, "
                "the conversion is exact; the driver canonicalizer has no "
                "Decimal lane), so unlike the float queries the interior "
                "needs no ROUND discipline at all.",
    tags=("relational", "aggregate", "decimal"),
)
def decimal_ledger_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.groupBy("o_orderpriority").agg(
        F.sum(dec).cast("double").alias("total_price"),
        F.round(F.avg(dec).cast("double"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "incremental_rollup_merge",
    # The oracle computes the rollup directly over ALL events; Spark
    # computes it INCREMENTALLY — a materialized partial-aggregate state
    # (days < 2024-01-20) merged with a delta batch's partials — and must
    # land on identical results. sum/count merge associatively; avg is
    # derived after the merge (never averaged-of-averages).
    oracle="""
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
    description="Incremental aggregation maintenance: a materialized "
                "per-(type, day) partial-aggregate state merged with a "
                "new delta batch's partials — at 100 TB the rollup is "
                "maintained from deltas, never recomputed from the full "
                "fact table; the oracle computes the same rollup directly "
                "over all events, so the merge-of-partials must be "
                "exactly lossless.",
    tags=("relational", "aggregate", "incremental"),
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.rollup import (
        rollup_merge,
        rollup_partials,
        rollup_present,
        with_day,
    )

    ev = with_day(load_table(spark, sf_dir, "events"))
    cutoff = "2024-01-20"
    state = rollup_partials(ev.where(F.col("day") < cutoff))   # materialized MV
    delta = rollup_partials(ev.where(F.col("day") >= cutoff))  # arriving batch
    # No derived avg in the hashed output: 2-decimal-quantized values over
    # per-day counts park sum/count EXACTLY on .5 rounding boundaries,
    # where Spark (decimal-string HALF_UP) and DuckDB (binary-double
    # round) legitimately disagree in the last digit. count+total fully
    # witness the lossless merge; consumers derive avg downstream.
    # (Shared algebra + the streaming foreachBatch twin live in
    # operators/rollup.py and streaming/rollup.py.)
    return rollup_present(rollup_merge(state, delta))


from windowsession_using_kafka_flink_docker_spark.sources.zorder import (  # noqa: E402
    duckdb_zvalue_sql,
    zvalue_expr,
)

_ZORDER_SQL = """
WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch
           FROM events),
b AS (SELECT MIN(user_id) AS alo, MAX(user_id) AS ahi,
             MIN(epoch) AS blo, MAX(epoch) AS bhi FROM e),
z AS (SELECT user_id, epoch, {zexpr} AS zv FROM e, b)
SELECT zv >> 10 AS z_cell,
       COUNT(*) AS n_events,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       MIN(epoch) AS min_epoch, MAX(epoch) AS max_epoch
FROM z
GROUP BY z_cell
"""


@register(
    "zorder_cell_stats",
    # The Morton interleave is exact BIGINT arithmetic, so DuckDB replays
    # it bit-for-bit (duckdb_zvalue_sql generates the engine's shift
    # syntax); the per-cell envelopes ARE the data-skipping story: every
    # 1024-wide z-range maps to a tight rectangle in (user_id, time).
    oracle=_ZORDER_SQL.format(zexpr=duckdb_zvalue_sql(
        "user_id", "epoch", "b.alo", "b.ahi", "b.blo", "b.bhi", bits=8)),
    description="Z-order locality audit: Morton-interleave (user_id, "
                "event-time) into 16-bit codes (sources/zorder.py), group "
                "by 64 z-cells, emit each cell's (user, time) bounding "
                "rectangle — the per-cell envelopes that make row-group "
                "pruning work on BOTH dimensions after write_zordered; "
                "measured skip fractions (z-order 0.50/0.62 vs "
                "single-sort 0.94/0.00 at sf0.1) in tests/test_zorder.py.",
    tags=("relational", "layout", "zorder"),
)
def zorder_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_seconds("ts").alias("epoch"))
    bounds = ev.agg(
        F.min("user_id").alias("alo"), F.max("user_id").alias("ahi"),
        F.min("epoch").alias("blo"), F.max("epoch").alias("bhi"))
    z = zvalue_expr("user_id", "epoch", "alo", "ahi", "blo", "bhi", bits=8)
    return (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("zv", z)
        .select(F.expr("shiftright(zv, 10)").alias("z_cell"),
                "user_id", "epoch")
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").alias("min_user"), F.max("user_id").alias("max_user"),
            F.min("epoch").alias("min_epoch"), F.max("epoch").alias("max_epoch"),
        )
    )


@register(
    "user_event_sequences",
    # Ordered collection: collect_list has NO deterministic order across
    # partitions, so the sequence is built by sorting (ts, event_id,
    # type) structs post-collect — the only safe way to materialize
    # ordered sequences in a distributed agg. Emitted as a '->' joined
    # STRING because the driver canonicalizer hashes scalars only.
    oracle="""
SELECT user_id,
       string_agg(event_type, '->' ORDER BY ts, event_id) AS path,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
    description="Per-user ordered behavior sequence (event-type path "
                "joined with '->'): collect_list + struct-sort for a "
                "deterministic order regardless of partitioning — the "
                "sequence-mining input shape; scalar string output so "
                "the hash gate covers the ordering too.",
    tags=("relational", "aggregate", "sequence"),
)
def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda x: x["event_type"],
        ),
        "->",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )


#: Shared basket-stage memo, keyed per (Spark app, sf_dir) — the market-
#: basket input (distinct (order, part) -> frequent-item supports ->
#: capped per-order part arrays) feeds BOTH copurchase_pairs and
#: association_rules, which previously each rebuilt it from the lineitem
#: scan (VERDICT r17 item 7). Same discipline as llm_pipeline's
#: _SHINGLE_CACHE: dies with the session, cleared between bench passes by
#: clear_stage_caches(), first computation paid inside the timed region of
#: whichever entry runs first — exactly how a production mining run
#: materializes the basket table once per corpus.
_BASKET_CACHE: dict[tuple[str, str], dict] = {}


def basket_stage(spark: SparkSession, sf_dir: str) -> dict:
    """Memoized basket stage: ``freq`` (l_partkey, n_item — support >= 20),
    ``arrs`` (l_orderkey, sorted parts array, size 2..50) and ``n_b``
    (LAZY 1-row distinct-basket count). ``baskets`` itself (corpus-
    proportional) is persisted so freq/arrs/n_b derive from ONE lineitem
    scan + ONE distinct exchange; all three persisted frames (spillable)
    are released by clear_basket_cache()."""
    key = (spark.sparkContext.applicationId, sf_dir)
    st = _BASKET_CACHE.get(key)
    if st is None:
        from windowsession_using_kafka_flink_docker_spark.operators.dedup import (
            eager_filled_persist,
        )
        # Barrier discipline: only `freq` has CONCURRENT consumers inside
        # one plan (association's fa/fb broadcast builds — the racing-
        # build class), so only it needs the eager fill. `baskets` and
        # `arrs` each have a single sequential consumer per query, so a
        # LAZY persist is race-free and costs zero extra jobs: freq's
        # fill populates the baskets cache as a side effect (it scans
        # every partition), and arrs fills inside the first consuming
        # query's own plan.
        baskets = (load_table(spark, sf_dir, "lineitem")
                   .select("l_orderkey", "l_partkey").distinct().persist())
        freq = eager_filled_persist(
            baskets.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_item"))
            .where(F.col("n_item") >= 20))
        arrs = (
            baskets.join(F.broadcast(freq.select("l_partkey")), "l_partkey")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_list("l_partkey")).alias("parts"))
            .where(F.size("parts").between(2, 50)).persist())
        # LAZY 1-row scalar over the cached baskets: only association_rules
        # reads it.
        n_b = baskets.agg(F.count_distinct("l_orderkey").alias("n"))
        st = {"freq": freq, "arrs": arrs, "n_b": n_b, "_baskets": baskets}
        _BASKET_CACHE[key] = st
    return st


def clear_basket_cache() -> None:
    """Release the memoized basket stage (called by
    llm_pipeline.clear_stage_caches, which bench.py invokes between
    passes)."""
    for st in _BASKET_CACHE.values():
        for name in ("freq", "arrs", "_baskets"):
            try:
                st[name].unpersist()
            except Exception:
                pass  # session already stopped
    _BASKET_CACHE.clear()


@register(
    "copurchase_pairs",
    oracle="""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
freq AS (SELECT l_partkey FROM baskets
         GROUP BY l_partkey HAVING COUNT(*) >= 20),
fb AS (SELECT b.l_orderkey, b.l_partkey
       FROM baskets b JOIN freq USING (l_partkey)),
capped AS (SELECT l_orderkey, l_partkey
           FROM (SELECT fb.*,
                        COUNT(*) OVER (PARTITION BY l_orderkey) AS bs
                 FROM fb)
           WHERE bs <= 50)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       COUNT(*) AS n_orders
FROM capped a JOIN capped b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY part_a, part_b
HAVING COUNT(*) >= 2
""",
    description="Frequent co-purchased part pairs (market-basket mining, "
                "a-priori pruned): baskets = distinct (order, part); items "
                "below support 20 are dropped BEFORE pair expansion (any "
                "frequent pair's items are frequent — Agrawal/Srikant "
                "a-priori), baskets capped at 50 items so one mega-basket "
                "can't go quadratic; pairs kept at support >= 2. Spark "
                "shape avoids the self-join entirely: sorted collect_list "
                "per basket, then an in-row HOF expands the triangular "
                "pairs — one shuffle for baskets, one for the pair counts, "
                "and the frequent-item set broadcasts.",
    bench=True,
    tags=("relational", "mining", "aggregate"),
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    arrs = basket_stage(spark, sf_dir)["arrs"]
    pairs = arrs.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


@register(
    "resample_locf_hourly",
    oracle="""
WITH hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(floor(AVG(value) * 10000) AS BIGINT) / 10000.0 AS v
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, MIN(h) AS lo, MAX(h) AS hi FROM hourly GROUP BY 1),
grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
         FROM span),
j AS (SELECT g.user_id, g.h, hourly.v
      FROM grid g LEFT JOIN hourly
        ON hourly.user_id = g.user_id AND hourly.h = g.h)
SELECT user_id,
       strftime(h, '%Y-%m-%d %H:00') AS hour,
       value_filled,
       is_observed,
       hours_since_obs,
       CAST(floor((CASE WHEN next_h = prev_h THEN value_filled
             ELSE value_filled + (next_v - value_filled) *
                  (CAST(date_diff('hour', prev_h, h) AS DOUBLE) /
                   CAST(date_diff('hour', prev_h, next_h) AS DOUBLE))
             END) * 10000) AS BIGINT) / 10000.0 AS value_interp
FROM (
  SELECT user_id, h, v,
         last_value(v IGNORE NULLS) OVER w AS value_filled,
         v IS NOT NULL AS is_observed,
         CAST(date_diff('hour',
              last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                OVER w,
              h) AS BIGINT) AS hours_since_obs,
         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER w AS prev_h,
         first_value(v IGNORE NULLS) OVER wf AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER wf AS next_h
  FROM j
  WINDOW w AS (PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY h
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
""",
    description="Time-series resampling to a regular hourly grid with "
                "LOCF fill AND linear interpolation: per-user hourly avg, "
                "a sequence()+explode grid over each user's observed span "
                "(keyspace-bounded — users × hours, never fact-volume-"
                "bounded), left join, then LOCF + staleness "
                "(hours_since_obs) via one ignore-nulls running window "
                "and value_interp from the backward+forward neighbor "
                "pair (two frames over the same partitioning — ONE "
                "window shuffle). The grid join co-partitions on (user, "
                "hour); the fill windows partition by user only — at "
                "wider spans they bucket by (user, month) with boundary "
                "handoff exactly like the bucketed as-of join. First and "
                "last grid rows per user are observed by construction, "
                "so both fills are total.",
    bench=True,
    tags=("relational", "timeseries", "window"),
)
def resample_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Scaled-floor (same discipline as value_interp below): ROUND(avg, 4)
    # diverges between Spark (decimal-string HALF_UP) and DuckDB
    # (binary-double) on x.xxxx5 boundaries; floor of the identical
    # IEEE product cannot.
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg((F.floor(F.avg("value") * 10000) / 10000.0).alias("v"))
    span = hourly.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi"))
    # Explosion-blind AQE fix (r17, guide §2.5 input skew): every stage
    # downstream of the span aggregate — grid explode (~hundreds of rows
    # per span row), the hourly join and BOTH fill windows — inherits the
    # span exchange's partitioning, and AQE sizes that exchange from the
    # tiny PRE-explosion span bytes, collapsing the whole pipeline onto
    # one task (measured 1.48 s single-task window stage at sf0.1).
    # Checkpointing span (keyspace-bounded: one 16-byte row per user)
    # breaks the partitioning inheritance so the explicit conf-parallel
    # repartition survives (a bare repartition(n, user_id) on the
    # aggregate is optimizer-removed as redundant and re-coalesced);
    # measured 1.89 s -> 1.24 s at sf0.1.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    span = span.localCheckpoint(eager=True).repartition(n_part, "user_id")
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"))
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (Window.partitionBy("user_id").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    # Forward fill via a running frame over DESCENDING order — NOT a
    # [current, unboundedFollowing] frame: Spark's WindowExec evaluates
    # unbounded-following frames by rescanning the partition tail per row
    # (O(rows²) per key — measured 1.7 s → 14.3 s on this query at
    # sf0.1); the descending running frame is O(rows) and costs only one
    # extra in-partition sort.
    wd = (Window.partitionBy("user_id").orderBy(F.desc("h"))
          .rowsBetween(Window.unboundedPreceding, 0))
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    hour_diff = (lambda a, b:
                 ((F.unix_timestamp(a) - F.unix_timestamp(b)) / 3600))
    base = j.select(
        "user_id", "h", "v",
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        F.col("v").isNotNull().alias("is_observed"),
        F.last(obs_h, ignorenulls=True).over(w).alias("prev_h"),
        F.last("v", ignorenulls=True).over(wd).alias("next_v"),
        F.last(obs_h, ignorenulls=True).over(wd).alias("next_h"),
    )
    interp = F.when(
        F.col("next_h") == F.col("prev_h"), F.col("value_filled")
    ).otherwise(
        F.col("value_filled")
        + (F.col("next_v") - F.col("value_filled"))
        * (hour_diff("h", "prev_h").cast("double")
           / hour_diff("next_h", "prev_h").cast("double"))
    )
    return base.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "value_filled",
        "is_observed",
        hour_diff("h", "prev_h").cast("bigint").alias("hours_since_obs"),
        # Scaled-floor, NOT round: interp inputs are 4-decimal-quantized
        # and scaled by small rationals, so exact x.xxxx5 boundaries are
        # COMMON (~0.2% of rows) and Spark (decimal-string HALF_UP) and
        # DuckDB (binary-double) round them differently. floor of the
        # bit-identical product is deterministic in both engines.
        (F.floor(interp * 10000) / 10000.0).alias("value_interp"),
    )


def loyalty_tiers(ev: DataFrame) -> DataFrame:
    """Purchase-count loyalty tiers as SCD2 change rows: (user_id,
    valid_from, tier), deduped to one row per (user, instant) keeping the
    highest purchase count. Shared by the batch catalog entry and the
    streaming twin (tests/test_streaming.py)."""
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    dim = (ev.where(F.col("event_type") == "purchase")
           .select("user_id", F.col("ts").alias("valid_from"), "event_id")
           .withColumn("n", F.row_number().over(w)))
    wd = Window.partitionBy("user_id", "valid_from").orderBy(F.desc("n"))
    return (dim.withColumn("dup", F.row_number().over(wd))
            .where(F.col("dup") == 1)
            .select("user_id", "valid_from",
                    F.when(F.col("n") >= 5, "gold")
                    .when(F.col("n") >= 3, "silver")
                    .otherwise("bronze").alias("tier")))


def loyalty_tier_intervals(ev: DataFrame) -> DataFrame:
    """Closed-interval form of :func:`loyalty_tiers` — (user_id,
    valid_from, valid_to, tier) with valid_to NULL on the current row —
    the shape a STREAM-static point-in-time join needs (window-function
    as-of joins are not available on streams; interval containment is)."""
    wn = Window.partitionBy("user_id").orderBy("valid_from")
    return loyalty_tiers(ev).withColumn(
        "valid_to", F.lead("valid_from").over(wn))


@register(
    "session_scd2_dynamic_gap",
    # Union-of-intervals islands oracle: with a gap that varies WITHIN a
    # user's stream (tier changes mid-stream), "new session" must compare
    # against the running MAX of (ts + gap) over all prior events — the
    # immediately previous event is NOT enough (an early long-gap event
    # can bridge over a later short-gap one). session_end is likewise
    # MAX(ts + gap), not max(ts) + gap.
    oracle="""
WITH dim AS (
  SELECT user_id, ts AS valid_from,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS n
  FROM events WHERE event_type = 'purchase'
),
tiers AS (
  SELECT user_id, valid_from,
         CASE WHEN n >= 5 THEN 'gold' WHEN n >= 3 THEN 'silver'
              ELSE 'bronze' END AS tier
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, valid_from
                                     ORDER BY n DESC) AS dup
        FROM dim)
  WHERE dup = 1
),
ev AS (
  SELECT e.user_id, e.ts, e.value, e.event_id, t.tier
  FROM events e ASOF LEFT JOIN tiers t
    ON e.user_id = t.user_id AND e.ts >= t.valid_from
),
g AS (
  SELECT user_id, ts, value, event_id,
         CASE COALESCE(tier, 'none') WHEN 'gold' THEN 300
              WHEN 'silver' THEN 120 WHEN 'bronze' THEN 60
              ELSE 30 END AS gap
  FROM ev
),
flagged AS (
  SELECT user_id, ts, value, event_id, gap,
         MAX(epoch_us(ts) + 1000000 * gap)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS reach
  FROM g
),
islands AS (
  SELECT *,
         SUM(CASE WHEN reach IS NULL OR epoch_us(ts) > reach
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       make_timestamp(MAX(epoch_us(ts) + 1000000 * gap)) AS session_end,
       ROUND(SUM(value), 2) AS session_sum,
       COUNT(*) AS event_count
FROM islands
GROUP BY user_id, sid
""",
    description="Temporal-dimension dynamic sessionization — the "
                "composition showcase: the inactivity gap of each EVENT "
                "comes from the SCD2 loyalty tier valid at that event's "
                "time (as-of join against the purchase-derived dimension, "
                "gold 300s / silver 120s / bronze 60s / pre-first-"
                "purchase 30s), then session_window with the per-event "
                "gap column. Because the gap varies within a user's "
                "stream, correct semantics are union-of-intervals (Spark "
                "merges overlapping [ts, ts+gap) windows natively); the "
                "oracle replays that with a running-max reach column — "
                "lag-based islands would be wrong. One as-of shuffle + "
                "one session aggregation, both keyed by user. No derived "
                "avg in the hashed output (incremental_rollup_merge "
                "precedent): this entry's 2-event sessions park sum/2 "
                "EXACTLY on .5 rounding boundaries where Spark "
                "(decimal-string HALF_UP) and DuckDB (binary double) "
                "legitimately disagree; sum+count witness the sessions "
                "fully.",
    bench=True,
    tags=("relational", "session_window", "scd2", "asof"),
)
def session_scd2_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.asof import (
        asof_join,
    )

    ev = load_table(spark, sf_dir, "events")
    enriched = asof_join(
        ev.select("user_id", "ts", "value"), loyalty_tiers(ev),
        on=["user_id"], ts="ts", right_ts="valid_from",
        right_cols={"tier": "tier"}, how="left")
    return present_sessions(
        session_partials(enriched, tier_gap_expr())).drop("session_avg")


@register(
    "data_quality_report",
    oracle="""
SELECT 'fk_orders_customer' AS rule,
       COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_violations,
       COUNT(*) AS n_checked
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'unique_o_orderkey',
       COUNT(*) - COUNT(DISTINCT o_orderkey), COUNT(*) FROM orders
UNION ALL
SELECT 'not_null_events_value',
       COUNT(CASE WHEN value IS NULL THEN 1 END), COUNT(*) FROM events
UNION ALL
SELECT 'range_l_quantity_le_45',
       COUNT(CASE WHEN l_quantity > 45 THEN 1 END), COUNT(*) FROM lineitem
UNION ALL
SELECT 'ship_on_or_after_order',
       COUNT(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 END), COUNT(*)
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'nonneg_c_acctbal',
       COUNT(CASE WHEN c_acctbal < 0 THEN 1 END), COUNT(*) FROM customer
""",
    description="Deequ-style data-quality expectation report: referential "
                "integrity (orders→customer), key uniqueness, "
                "not-null, numeric range, cross-table temporal ordering "
                "(ship on/after order), and sign constraints — each rule "
                "one conditional-count aggregate over its (joined) scan, "
                "unioned into a 6-row report. Non-vacuous on the test "
                "data by probe: range/temporal/sign rules catch 5967 / "
                "29157 / 122 real violations at sf0.01 while the FK, "
                "uniqueness, and null rules legitimately pass — the "
                "report proves both directions. Scale: every rule is a "
                "map-side conditional count (no distinct shuffle except "
                "the uniqueness rule; dim joins broadcast).",
    tags=("relational", "quality", "audit"),
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def report(name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.count(F.when(bad, 1)).alias("n_violations"),
            F.count(F.lit(1)).alias("n_checked"),
        ).select(F.lit(name).alias("rule"), "n_violations", "n_checked")

    fk = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders.o_custkey == F.col("c_custkey"), "left")
    uniq = orders.agg(
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey"))
        .alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    ).select(F.lit("unique_o_orderkey").alias("rule"),
             "n_violations", "n_checked")
    shipjoin = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        lineitem.l_orderkey == F.col("o_orderkey"))
    return (
        report("fk_orders_customer", fk, F.col("c_custkey").isNull())
        .unionByName(uniq)
        .unionByName(report("not_null_events_value", events,
                            F.col("value").isNull()))
        .unionByName(report("range_l_quantity_le_45", lineitem,
                            F.col("l_quantity") > 45))
        .unionByName(report("ship_on_or_after_order", shipjoin,
                            F.col("l_shipdate") < F.col("o_orderdate")))
        .unionByName(report("nonneg_c_acctbal", customer,
                            F.col("c_acctbal") < 0))
    )


@register(
    "session_transition_matrix",
    # p uses the scaled-floor discipline (resample_locf_hourly comment):
    # n/total is an exact small rational, so ROUND-at-4 .5 boundaries are
    # common and engine rounding modes differ; floor of the bit-identical
    # quotient is deterministic in both.
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, sid
                                ORDER BY ts, event_id) AS to_type
  FROM islands
),
counted AS (
  SELECT from_type, to_type, COUNT(*) AS n_transitions
  FROM trans WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       CAST((n_transitions * 10000) //
            SUM(n_transitions) OVER (PARTITION BY from_type)
            AS BIGINT) / 10000.0 AS p
FROM counted
""",
    description="Markov transition-matrix estimation over session-scoped "
                "event sequences: 30min-gap session ids via the islands "
                "window (fixed gap ⇒ lag-based is exact; 30 min, not the "
                "parity 30 s, because inter-event times are minutes — a 30 s "
                "gap yields only singleton sessions and a vacuous matrix), "
                "next-event via "
                "lead() WITHIN (user, session) — transitions never cross "
                "session boundaries — then per-from-type conditional "
                "probabilities. One key shuffle feeds all three window "
                "steps; the matrix itself is |event_type|² rows. p via "
                "scaled floor of the bit-identical rational quotient "
                "(engine rounding modes differ on the .5 boundaries "
                "small rationals hit constantly).",
    tags=("relational", "sequence", "session_window"),
)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately a DIFFERENT formulation from the oracle: the oracle
    # builds explicit session ids (islands) and leads within (user, sid);
    # here a transition is simply lead-within-user that does NOT land on
    # a session-start row — same semantics, one window shuffle instead of
    # two (partitionBy(user, sid) would re-shuffle on the derived sid),
    # and the two independent derivations agreeing is a stronger check.
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
               > 1_800_000_000),
            1).otherwise(0).alias("new_s"))
    trans = flagged.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
        F.lead("new_s").over(w).alias("next_new"))
    counted = (trans.where(F.col("to_type").isNotNull()
                           & (F.col("next_new") == 0))
               .groupBy("from_type", "to_type")
               .agg(F.count(F.lit(1)).alias("n_transitions")))
    total = F.sum("n_transitions").over(Window.partitionBy("from_type"))
    # exact integer division of the scaled count (the HHI lesson): the
    # divide-first double quotient can floor one off at representable
    # boundaries; (n*1e4) div total cannot
    staged = counted.select("from_type", "to_type", "n_transitions",
                            total.cast("long").alias("_t"))
    return staged.select(
        "from_type", "to_type", "n_transitions",
        (F.expr("(n_transitions * 10000) div _t") / 10000.0).alias("p"))


@register(
    "kmv_distinct_audit",
    # Unlike HLL (approx_distinct_users, rows-only: engine-specific
    # registers), the KMV estimator is exactly replayable: the md5-prefix
    # hash is bit-identical in DuckDB, the k-th order statistic is
    # deterministic, and (k-1)/h_(k) is one IEEE division — so a sketch
    # ESTIMATE gets a full value-hash oracle. Scaled-floor on the outputs
    # (engine ROUND modes differ on rational .5 boundaries).
    oracle="""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS hv
      FROM du),
ranked AS (SELECT event_type, hv,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY hv) AS rn
           FROM h),
agg AS (SELECT event_type,
               COUNT(*) AS exact_n,
               MAX(CASE WHEN rn = 32 THEN hv END) AS kth
        FROM ranked GROUP BY event_type),
est AS (SELECT event_type, exact_n,
               CASE WHEN exact_n < 32 THEN CAST(exact_n AS DOUBLE)
                    ELSE 31 / kth END AS raw_est
        FROM agg)
SELECT event_type, exact_n,
       CAST(floor(raw_est * 100) AS BIGINT) / 100.0 AS kmv_n,
       CAST(floor(abs(raw_est - exact_n) / exact_n * 10000) AS BIGINT)
         / 10000.0 AS rel_err
FROM est
""",
    description="KMV (k-minimum-values, k=32) distinct-count sketch with "
                "a FULL value-hash oracle — the deterministic counterpart "
                "to the rows-only HLL entry: estimate = (k-1)/h_(k) over "
                "md5-prefix hashes that replay bit-identically in DuckDB, "
                "audited per event_type against the exact distinct count "
                "(estimation path at sf>=0.01 where n>k; exact-fallback "
                "path at sf0.001 where the k-min set holds everything). "
                "The k-min set is union-mergeable (k smallest of a union "
                "= k smallest of the k-min sets' union), so production "
                "keeps per-partition k-min heaps in a partial aggregate; "
                "the windowed rank here is the honest small-data "
                "rendering of the same order statistic.",
    tags=("relational", "sketch", "approx"),
)
def kmv_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 32
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    hv = (F.conv(F.substring(
        F.md5(F.col("user_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("bigint") / F.lit(4294967296.0))
    wk = Window.partitionBy("event_type").orderBy("hv")
    ranked = du.withColumn("hv", hv).withColumn(
        "rn", F.row_number().over(wk))
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_n"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"))
    raw = F.when(F.col("exact_n") < k, F.col("exact_n").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / F.col("kth"))
    return agg.select(
        "event_type", "exact_n",
        (F.floor(raw * 100) / 100.0).alias("kmv_n"),
        (F.floor(F.abs(raw - F.col("exact_n")) / F.col("exact_n") * 10000)
         / 10000.0).alias("rel_err"))


@register(
    "skyline_pareto_parts",
    oracle="""
SELECT p_partkey, p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
""",
    description="Pareto skyline (minimize p_retailprice, maximize p_size) "
                "— an operator Spark has no primitive for, expressed "
                "WITHOUT the quadratic NOT-EXISTS self-join the oracle "
                "uses: groupBy(price) compresses facts to one row per "
                "distinct price (map-side combined), a running max of "
                "size over strictly-cheaper price groups gives the "
                "dominance witness, and a part survives iff no cheaper "
                "group reaches its size and no same-price part exceeds "
                "it. The single ordered window runs over DISTINCT PRICES "
                "only (already ~1e4x smaller than facts); the scale path "
                "— range-partitioned partial maxima + a broadcast "
                "per-range offset (skyline_witness_ranged, this module) "
                "— is IMPLEMENTED and equality-pinned by "
                "tests/test_skyline.py, exactly like the bucketed as-of "
                "join's boundary handoff.",
    bench=True,
    tags=("relational", "skyline", "window_function"),
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part")
    per_price = parts.groupBy("p_retailprice").agg(
        F.max("p_size").alias("gmax"))
    w = (Window.orderBy("p_retailprice")
         .rowsBetween(Window.unboundedPreceding, -1))
    witness = per_price.withColumn("prevmax", F.max("gmax").over(w))
    return (
        parts.join(F.broadcast(witness), "p_retailprice")
        .where((F.col("prevmax").isNull()
                | (F.col("prevmax") < F.col("p_size")))
               & (F.col("gmax") == F.col("p_size")))
        .select("p_partkey", "p_retailprice", "p_size")
    )


@register(
    "partition_pruning_roundtrip",
    oracle="""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1
""",
    description="Hive-style partitioned layout + partition pruning: "
                "events are written partitionBy(event_date) once per "
                "session, read back with a one-week date predicate, and "
                "aggregated; the oracle computes the same week straight "
                "off the unpartitioned parquet, so a partition that was "
                "mis-bucketed, dropped, or double-read breaks the hash. "
                "tests/test_plan_quality.py asserts the read plan scans "
                "only the 7 matching partitions (PartitionFilters, no "
                "full-table listing) — the layout primitive that turns a "
                "100 TB scan into a 23 TB-sized one before the first "
                "filter runs.",
    tags=("relational", "layout", "pruning", "format"),
)
def partition_pruning_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = load_table(spark, sf_dir, "events")
    path = _scratch_path(spark, "part_prune", sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (ev.withColumn("event_date", F.to_date("ts"))
         .write.mode("overwrite").partitionBy("event_date").parquet(path))
    back = spark.read.parquet(path)
    return (
        back.where(F.col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy(F.date_format("event_date", "yyyy-MM-dd").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


@register(
    "rolling_zscore_anomalies",
    oracle="""
WITH daily AS (
  SELECT user_id,
         CAST(ts AS DATE) AS day,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS daynum,
         ROUND(SUM(value), 2) AS total
  FROM events GROUP BY 1, 2, 3),
scored AS (
  SELECT user_id, day, total,
         AVG(total) OVER w AS mu,
         STDDEV_SAMP(total) OVER w AS sigma,
         COUNT(*) OVER w AS n_prior
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY daynum
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT user_id, strftime(day, '%Y-%m-%d') AS day, total,
       CAST(floor(ABS(total - mu) / sigma * 1000) AS BIGINT) AS z_milli
FROM scored
WHERE n_prior >= 3 AND sigma > 0
  AND CAST(floor(ABS(total - mu) / sigma * 1000) AS BIGINT) >= 3000
""",
    description="Rolling z-score anomaly detection over per-user daily "
                "spend: calendar-aware trailing window (RANGE over day "
                "number, 7 preceding..1 preceding — gap-days shrink the "
                "frame instead of silently stretching it the way a ROWS "
                "frame would), flag days >= 3 sigma from the trailing "
                "mean with >= 3 prior observations. One groupBy "
                "compresses facts to user-days, one window shuffle keyed "
                "by user does mean+std+count in a single frame pass. "
                "z is scaled-floored (milli-sigma) so the hash never "
                "sits on a float rounding boundary.",
    bench=True,
    tags=("relational", "timeseries", "anomaly", "window"),
)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        F.to_date("ts").alias("day"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("daynum"),
    ).agg(F.round(F.sum("value"), 2).alias("total"))
    w = (Window.partitionBy("user_id").orderBy("daynum")
         .rangeBetween(-7, -1))
    scored = daily.select(
        "user_id", "day", "total",
        F.avg("total").over(w).alias("mu"),
        F.stddev_samp("total").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    z_milli = F.floor(F.abs(F.col("total") - F.col("mu"))
                      / F.col("sigma") * 1000).cast("long")
    return (
        scored.where((F.col("n_prior") >= 3) & (F.col("sigma") > 0))
        .select("user_id",
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "total", z_milli.alias("z_milli"))
        .where(F.col("z_milli") >= 3000)
    )


@register(
    "session_pattern_match",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts AS _ts, event_id AS _tb, event_type,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30000000 THEN 1
              ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT *, SUM(_new) OVER (PARTITION BY user_id ORDER BY _ts, _tb
                            ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged),
agg AS (
  SELECT user_id, sid,
         MIN(_ts) AS session_start,
         COUNT(*) AS n_events,
         string_agg(substr(event_type, 1, 1), '' ORDER BY _ts, _tb) AS seq
  FROM sess GROUP BY 1, 2)
SELECT user_id,
       epoch_us(session_start) AS session_start_us,
       n_events, seq,
       len(regexp_extract_all(seq, 'v+p')) AS n_funnel
FROM agg
""",
    description="MATCH_RECOGNIZE-style sequential pattern matching, which "
                "Spark lacks as a primitive: each 30 s session's ordered "
                "event-type sequence is folded into a compact symbol "
                "string (one session_window aggregation — collect_list + "
                "sort_array stays bounded because sessions are gap-"
                "bounded), then the pattern 'one-or-more views directly "
                "followed by a purchase' is counted per session with a "
                "greedy regex over the symbol string. The WHOLE sequence "
                "string is in the hashed output, so symbol order — not "
                "just match counts — is driver-verified. Same shuffle "
                "budget as plain sessionization: one exchange on user_id.",
    bench=True,
    tags=("relational", "session_window", "sequence", "pattern"),
)
def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 seconds"))
        .agg(F.sort_array(F.collect_list(
            F.struct("ts", "event_id", "event_type"))).alias("evs"))
    )
    seq = F.concat_ws(
        "", F.transform("evs", lambda e: F.substring(e["event_type"], 1, 1)))
    return sess.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        F.size("evs").alias("n_events"),
        seq.alias("seq"),
    ).withColumn(
        "n_funnel",
        F.size(F.expr("regexp_extract_all(seq, 'v+p', 0)")).cast("long"),
    )


@register(
    "compaction_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value,
       CAST(64 AS BIGINT) AS n_files_before,
       GREATEST(1, CAST(CEIL(COUNT(*) / 250000.0) AS BIGINT))
         AS n_files_after
FROM events
""",
    description="Small-file compaction — the table-maintenance operator "
                "every long-lived lake needs (streaming sinks and "
                "per-batch writes fragment tables until listing + task "
                "scheduling dominate scan time): events are exploded "
                "into 64 small parquet files, then compacted to "
                "ceil(rows/250k) right-sized files via a round-robin "
                "repartition write. The hashed output pins BOTH the "
                "content (row count, distinct users, value total must "
                "survive the rewrite bit-exactly) AND the file-count "
                "arithmetic, with actual filesystem part-file counts fed "
                "into the result columns. At scale the same rewrite runs "
                "per partition-directory with maxRecordsPerFile as the "
                "splitter so one task never owns a whole partition.",
    tags=("relational", "layout", "maintenance", "format"),
)
def compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import math
    import os

    ev = load_table(spark, sf_dir, "events")
    base = _scratch_path(spark, "compact", sf_dir)
    small, compacted = os.path.join(base, "small"), os.path.join(base, "big")
    if not os.path.exists(os.path.join(small, "_SUCCESS")):
        ev.repartition(64).write.mode("overwrite").parquet(small)
    frag = spark.read.parquet(small)
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        n = frag.count()
        n_files = max(1, math.ceil(n / 250_000))
        frag.repartition(n_files).write.mode("overwrite").parquet(compacted)
    back = spark.read.parquet(compacted)
    n_before = len(glob.glob(os.path.join(small, "part-*")))
    n_after = len(glob.glob(os.path.join(compacted, "part-*")))
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.lit(n_before).cast("long").alias("n_files_before"),
        F.lit(n_after).cast("long").alias("n_files_after"),
    )


@register(
    "grouped_ols_trend",
    oracle="""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY user_id),
fit AS (
  SELECT user_id, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         n * syy - sy * sy AS deny,
         sx, sy
  FROM stats
  WHERE n >= 5 AND n * syy - sy * sy > 0)
SELECT user_id, n AS n_days,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 100)
            AS BIGINT) AS slope_ce2,
       CAST(floor((CAST(sy AS DOUBLE)
                   - CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) * 100)
            AS BIGINT) AS intercept_ce2,
       CAST(floor(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                  / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) * 10000)
            AS BIGINT) AS r2_e4
FROM fit
""",
    description="Per-group closed-form OLS (spend trend per user) from "
                "INTEGER sufficient statistics: per-event values quantized "
                "to cents, then n/Sx/Sy/Sxy/Sxx/Syy accumulated as exact "
                "bigints — a thousand independent regressions as one "
                "map-side-combinable aggregation pass, no per-group "
                "iteration, no Python. slope/intercept/r2 come from one "
                "identical IEEE expression over those exact integers in "
                "both engines, so the result is bit-deterministic and "
                "fully hashable (the builtin regr_* aggregates are NOT: "
                "their internal centering orders differ per engine by "
                "~1e-7, which tripped the scaled-floor hash at sf0.01). "
                "The integer-sufficient-statistics shape is also exactly "
                "what merges associatively across 1000 executors.",
    bench=True,
    tags=("relational", "analytics", "regression", "aggregate"),
)
def grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ols_report_from_daily(ols_daily_grid(ev))


def ols_daily_grid(events: DataFrame) -> DataFrame:
    """The mergeable input grid behind ``grouped_ols_trend`` (and
    streaming maintainer #20): per-(user, day-index) exact daily spend
    cents. Each EVENT's value quantizes to integer cents before any
    summation (r12 ADVICE: rounding a float daily total is not
    associative — a micro-batch boundary could flip the half-cent round
    — whereas BIGINT cents ADD exactly under any merge order), so the
    maintainer's grid state — bounded by |users| x |days| at any event
    volume — re-derives the full regression report bit-identically
    under ANY batch interleaving; the six OLS sufficient statistics are
    NOT the mergeable unit (a micro-batch can split a day, and Sxy over
    partial daily totals is wrong), the cents grid is."""
    return events.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("x"),
    ).agg(F.sum(cents("value")).cast("long").alias("y"))


def ols_report_from_daily(daily: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #20: the
    per-user closed-form OLS fit from the (user_id, x, y) daily grid —
    exact BIGINT sufficient statistics in one map-side-combinable pass,
    then one identical IEEE expression per output column."""
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    fit = stats.select(
        "user_id", "n", "sx", "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    ).where((F.col("n") >= 5) & (F.col("deny") > 0))
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    intercept = ((F.col("sy").cast("double")
                  - slope * F.col("sx").cast("double"))
                 / F.col("n").cast("double"))
    r2 = (F.col("num").cast("double") * F.col("num").cast("double")
          / (F.col("den").cast("double") * F.col("deny").cast("double")))
    return fit.select(
        "user_id", F.col("n").alias("n_days"),
        F.floor(slope * 100).cast("long").alias("slope_ce2"),
        F.floor(intercept * 100).cast("long").alias("intercept_ce2"),
        F.floor(r2 * 10000).cast("long").alias("r2_e4"),
    )


@register(
    "distribution_drift_report",
    oracle="""
WITH halves AS (
  SELECT event_type,
         CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
              THEN 'a' ELSE 'b' END AS half
  FROM events),
counts AS (
  SELECT event_type,
         SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS n_b
  FROM halves GROUP BY event_type),
tot AS (SELECT SUM(n_a) AS t_a, SUM(n_b) AS t_b FROM counts)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(floor(n_a / CAST(t_a AS DOUBLE) * 10000) AS BIGINT) AS p_e4,
       CAST(floor(n_b / CAST(t_b AS DOUBLE) * 10000) AS BIGINT) AS q_e4,
       CAST(floor(ABS(n_a / CAST(t_a AS DOUBLE)
                      - n_b / CAST(t_b AS DOUBLE)) * 10000) AS BIGINT)
         AS abs_drift_e4
FROM counts CROSS JOIN tot
""",
    description="Category-distribution drift between the first and second "
                "half of the month — the monitoring primitive that "
                "catches a pipeline silently changing its input mix "
                "before model quality does: per-type shares in each "
                "half plus total-variation contribution, all from ONE "
                "conditional-count aggregation pass (no second scan, no "
                "join of two filtered subqueries) and a broadcast of the "
                "1-row totals. Scaled-floor on every derived share.",
    tags=("relational", "quality", "drift", "audit"),
)
def distribution_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_a = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    counts = ev.groupBy("event_type").agg(
        F.sum(is_a.cast("long")).alias("n_a"),
        F.sum((~is_a).cast("long")).alias("n_b"),
    )
    tot = counts.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    p = F.col("n_a") / F.col("t_a").cast("double")
    q = F.col("n_b") / F.col("t_b").cast("double")
    return counts.crossJoin(F.broadcast(tot)).select(
        "event_type", "n_a", "n_b",
        F.floor(p * 10000).cast("long").alias("p_e4"),
        F.floor(q * 10000).cast("long").alias("q_e4"),
        F.floor(F.abs(p - q) * 10000).cast("long").alias("abs_drift_e4"),
    )


@register(
    "time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id, value,
         epoch_us(lead(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id))
           - epoch_us(ts) AS dur_us
  FROM events)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       CAST(floor(SUM(value * dur_us) / SUM(dur_us) * 100) AS BIGINT)
         AS twap_e2
FROM seq
WHERE dur_us IS NOT NULL
GROUP BY user_id
HAVING SUM(dur_us) > 0
""",
    description="Time-weighted average (TWAP): each reading holds until "
                "the user's next event, so the mean is the integral of "
                "the step function over observed time — the correct "
                "summary for irregularly-sampled series where the plain "
                "AVG over-weights bursts. One user-keyed window (lead) "
                "feeding one aggregation: a single exchange, reused by "
                "both steps. Duration weights are exact integer "
                "microseconds; the TWAP itself is scaled-floored.",
    bench=True,
    tags=("relational", "timeseries", "aggregate"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value",
        (F.unix_micros(F.lead("ts").over(w))
         - F.unix_micros(F.col("ts"))).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    return (
        seq.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_intervals"),
             F.sum("dur_us").cast("long").alias("total_us"),
             F.floor(F.sum(F.col("value") * F.col("dur_us"))
                     / F.sum("dur_us") * 100).cast("long").alias("twap_e2"))
        .where(F.col("total_us") > 0)
    )


@register(
    "join_bucketed_zero_shuffle",
    oracle="""
SELECT c.c_custkey AS custkey,
       COUNT(*) AS n_orders,
       ROUND(SUM(o.o_totalprice), 2) AS total_spend
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
""",
    description="Co-located (bucketed) fact-dimension join: orders and "
                "customer are laid out bucketed on the join key with "
                "equal bucket counts at INGEST time, so the join — and "
                "the per-customer aggregation after it, which the join's "
                "clustering already satisfies — plans ZERO Exchange "
                "nodes (asserted by test_plan_quality; broadcast is "
                "disabled for the check so nothing hides the shuffle). "
                "Identical results to the plain shuffle join, same "
                "oracle. At 100 TB this is the difference between an "
                "ingest-once layout decision and re-shuffling the fact "
                "table on every query; with both sides sorted in-bucket "
                "the merge needs no local sort either.",
    tags=("relational", "join", "bucketing", "layout"),
)
def join_bucketed_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.sources.bucketed import (
        bucketed_pair,
    )

    orders, cust = bucketed_pair(spark, sf_dir)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )


@register(
    "cdc_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
        % 97 <> 0),
new AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                     ::BIGINT % 89 = 0
              THEN ROUND(value * 2, 2) ELSE value END AS value
  FROM events),
j AS (
  SELECT COALESCE(o.event_id, n.event_id) AS event_id,
         CASE WHEN o.event_id IS NULL THEN 'insert'
              WHEN o.value <> n.value THEN 'update'
              ELSE 'unchanged' END AS op
  FROM old o FULL JOIN new n ON o.event_id = n.event_id)
SELECT op, CAST(COUNT(*) AS BIGINT) AS n
FROM j GROUP BY op
""",
    description="CDC extraction between two table snapshots — the "
                "reconciliation/diff primitive behind migrations, "
                "replica verification, and change feeds for systems "
                "without a transactional log: full outer join on the "
                "key, rows classified insert/update/unchanged (both "
                "synthetic snapshots derive deterministically from "
                "events via md5 selectors, so the oracle rebuilds them "
                "bit-identically and the per-op counts value-hash). "
                "One co-partitioned full-outer join keyed on event_id; "
                "at scale both snapshots are bucketed on the key and "
                "the diff is bucket-local, with per-op counts as "
                "map-side partials.",
    tags=("relational", "cdc", "join", "audit"),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sel = F.pmod(
        F.conv(F.substring(
            F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8),
            16, 10).cast("bigint"), F.lit(97))
    upd = F.pmod(
        F.conv(F.substring(
            F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8),
            16, 10).cast("bigint"), F.lit(89))
    old = (ev.where(sel != 0)
           .select("event_id", "user_id", "event_type", "value"))
    new = ev.select(
        "event_id", "user_id", "event_type",
        F.when(upd == 0, F.round(F.col("value") * 2, 2))
        .otherwise(F.col("value")).alias("value"))
    j = old.alias("o").join(new.alias("n"),
                            F.col("o.event_id") == F.col("n.event_id"),
                            "full_outer")
    op = (F.when(F.col("o.event_id").isNull(), "insert")
          .when(F.col("o.value") != F.col("n.value"), "update")
          .otherwise("unchanged"))
    return (j.select(op.alias("op"))
            .groupBy("op").agg(F.count(F.lit(1)).cast("long").alias("n")))


def skyline_witness_ranged(per_price: DataFrame,
                           num_ranges: int = 8) -> DataFrame:
    """Scale path for the skyline dominance witness: the prefix max over
    strictly-cheaper price groups computed WITHOUT a global single-
    partition window. Range-partition the (already fact-compressed)
    per-price rows, take a partition-local running max, then combine
    with a broadcast of per-partition maxima offsets (the cross-
    partition prefix). The only ordered window over one partition runs
    on ``num_ranges`` rows — constant size however large the price
    domain grows. Equality with the windowed witness is pinned by
    tests/test_skyline.py.
    """
    ranged = (per_price.repartitionByRange(num_ranges, "p_retailprice")
              .withColumn("pid", F.spark_partition_id()))
    wloc = (Window.partitionBy("pid").orderBy("p_retailprice")
            .rowsBetween(Window.unboundedPreceding, -1))
    loc = ranged.withColumn("locmax", F.max("gmax").over(wloc))
    ptot = ranged.groupBy("pid").agg(F.max("gmax").alias("pmax"))
    woff = (Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = ptot.withColumn("offmax", F.max("pmax").over(woff)) \
        .select("pid", "offmax")
    return (loc.join(F.broadcast(offs), "pid")
            .withColumn("prevmax", F.greatest("locmax", "offmax"))
            .select("p_retailprice", "gmax", "prevmax"))


@register(
    "asof_forward_next_purchase",
    oracle="""
WITH v AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts, ROUND(MAX(value), 2) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT v.user_id,
       v.ts AS view_ts,
       ROUND(v.value, 2) AS view_value,
       p.ts AS purchase_ts,
       p.purchase_value,
       epoch_us(p.ts) - epoch_us(v.ts) AS wait_us
FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts
""",
    description="FORWARD as-of join (time-to-convert attribution): each "
                "view event picks the user's NEXT purchase at-or-after "
                "it, with the wait expressed in exact integer "
                "microseconds — the mirror of asof_purchase_attribution's "
                "backward match and the second half of the temporal-join "
                "family (pandas merge_asof direction='forward'). Same "
                "union-merge implementation and scale shape as the "
                "backward variant — ONE key exchange, one per-partition "
                "sort (descending), a single running-struct window — "
                "never a quadratic range join; oracled against DuckDB's "
                "native forward ASOF JOIN (ON v.ts <= p.ts). Purchases "
                "are pre-deduped per (user, ts) by max value so the "
                "matched row is unique in both engines.",
    tags=("relational", "join", "asof"),
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.asof import (
        asof_join,
    )

    ev = load_table(spark, sf_dir, "events")
    v = (ev.where(F.col("event_type") == "view")
         .select("user_id", "ts", "value"))
    p = (ev.where(F.col("event_type") == "purchase")
         .groupBy("user_id", "ts")
         .agg(F.round(F.max("value"), 2).alias("purchase_value")))
    out = asof_join(
        v, p, on=["user_id"], ts="ts",
        right_cols={"purchase_value": "purchase_value"},
        right_ts_name="purchase_ts", direction="forward")
    return out.select(
        "user_id", F.col("ts").alias("view_ts"),
        F.round("value", 2).alias("view_value"),
        "purchase_ts", "purchase_value",
        (F.unix_micros("purchase_ts") - F.unix_micros(F.col("ts")))
        .cast("long").alias("wait_us"))


@register(
    "spend_percentile_ranks",
    oracle="""
WITH spend AS (
  SELECT c.c_mktsegment, o.o_custkey AS custkey,
         CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2)
SELECT c_mktsegment, custkey, spend_cents,
       CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT)
         AS pct_rank_e6,
       CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_e6,
       CAST(rank() OVER w AS BIGINT) AS rnk
FROM spend
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend_cents, custkey)
""",
    description="percent_rank / cume_dist / rank over per-customer spend "
                "within each market segment — the relative-standing "
                "window-function family (the ranking checklist rows next "
                "to ntile and row_number). Spend is summed as exact "
                "BIGINT cents, the ordering is fully tie-broken by "
                "custkey, and both ranks derive from the SQL-standard "
                "integer formulas ((rank-1)/(n-1), peers_cum/n) whose "
                "single double division lands on the identical IEEE "
                "value in both engines before the e6 floor. Partitioning "
                "by segment bounds each sort — the global variant would "
                "come from global_rank_ranged, as equi_depth_histogram "
                "does. One exchange feeds all three window functions and "
                "the aggregation above them.",
    tags=("relational", "window_function", "aggregate"),
)
def spend_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    spend = (orders.join(F.broadcast(cust),
                         orders.o_custkey == cust.c_custkey)
             .groupBy("c_mktsegment", F.col("o_custkey").alias("custkey"))
             .agg(F.sum(cents("o_totalprice")).cast("long")
                  .alias("spend_cents")))
    w = Window.partitionBy("c_mktsegment").orderBy("spend_cents", "custkey")
    return spend.select(
        "c_mktsegment", "custkey", "spend_cents",
        F.floor(F.percent_rank().over(w) * 1000000).cast("long")
        .alias("pct_rank_e6"),
        F.floor(F.cume_dist().over(w) * 1000000).cast("long")
        .alias("cume_e6"),
        F.rank().over(w).cast("long").alias("rnk"))


@register(
    "mode_imputation",
    oracle="""
WITH base AS (
  SELECT event_id, event_type,
         CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1)
                   IN ('0', '1', '2', '3')
              THEN NULL
              ELSE CAST(round(value * 100, 0) AS BIGINT) END AS cents
  FROM events),
modes AS (
  SELECT event_type, cents AS mode_cents FROM (
    SELECT event_type, cents, COUNT(*) AS n,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY COUNT(*) DESC, cents) AS rn
    FROM base WHERE cents IS NOT NULL GROUP BY event_type, cents)
  WHERE rn = 1)
SELECT b.event_id, b.event_type,
       COALESCE(b.cents, m.mode_cents) AS cents_filled,
       b.cents IS NULL AS was_imputed
FROM base b JOIN modes m ON m.event_type = b.event_type
""",
    description="Missing-value imputation by per-group mode: a "
                "deterministic md5 selector nulls out 1/4 of the value "
                "column (the same replayable-corruption trick as "
                "hash_split_train_test), then each null takes its event "
                "type's most frequent cent value, ties broken by the "
                "smallest value so the mode is unique in both engines. "
                "The mode table is one (type, cents) count plus a "
                "type-partitioned top-1 window — group-domain-sized — "
                "and broadcasts back onto the fact scan: the fact table "
                "is never shuffled to be repaired, which is the property "
                "that matters when the table is 100 TB and the mode "
                "table is kilobytes.",
    tags=("relational", "quality", "aggregate", "audit"),
)
def mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nulled = F.when(
        F.substring(F.md5(F.col("event_id").cast("string").cast("binary")),
                    1, 1).isin("0", "1", "2", "3"),
        F.lit(None).cast("long")
    ).otherwise(cents("value"))
    base = ev.select("event_id", "event_type", nulled.alias("cents"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("cents"))
    modes = (base.where(F.col("cents").isNotNull())
             .groupBy("event_type", "cents")
             .agg(F.count(F.lit(1)).alias("n"))
             .withColumn("rn", F.row_number().over(w))
             .where(F.col("rn") == 1)
             .select("event_type", F.col("cents").alias("mode_cents")))
    return (base.join(F.broadcast(modes), "event_type")
            .select("event_id", "event_type",
                    F.coalesce("cents", "mode_cents").alias("cents_filled"),
                    F.col("cents").isNull().alias("was_imputed")))


@register(
    "referential_integrity_audit",
    oracle="""
SELECT 'lineitem.l_orderkey -> orders' AS relation,
       (SELECT COUNT(*) FROM lineitem) AS n_child_rows,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
         AS n_orphans
UNION ALL
SELECT 'orders.o_custkey -> customer',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem.l_partkey -> part',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
UNION ALL
SELECT 'events.user_id -> customer',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = e.user_id))
""",
    description="Referential-integrity audit across the star schema's "
                "four foreign-key edges: child row count and orphan "
                "count per relation (orphan = child key with no parent "
                "row), the Deequ-style constraint check a pipeline runs "
                "before trusting joins. Each orphan count is ONE "
                "left-anti join against the parent's key projection; "
                "DIMENSION parents (customer, part) broadcast their slim "
                "key column so the fact side never shuffles, while the "
                "fact-to-fact edge (lineitem->orders) stays a shuffled "
                "anti join — broadcasting a 100 TB parent's keys is not "
                "a plan, and at scale that edge is where a runtime Bloom "
                "filter or the bucketed layout earns its keep. A NOT "
                "EXISTS subquery and an anti join are the same plan "
                "after decorrelation, which is how the oracle states "
                "it. The events→customer "
                "edge is expected to carry orphans (the generator's user "
                "space is wider than the customer table) — the audit "
                "REPORTS, never silently drops.",
    tags=("relational", "quality", "join", "anti", "audit"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    ev = load_table(spark, sf_dir, "events")

    def audit(name, child, key, parent, pkey, broadcast_parent=True):
        pk = parent.select(pkey)
        if broadcast_parent:
            pk = F.broadcast(pk)
        orphans = child.select(key).join(
            pk, F.col(key) == F.col(pkey), "left_anti")
        return (child.agg(F.count(F.lit(1)).alias("n_child_rows"))
                .crossJoin(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
                .select(F.lit(name).alias("relation"),
                        F.col("n_child_rows").cast("long"),
                        F.col("n_orphans").cast("long")))

    return (
        audit("lineitem.l_orderkey -> orders", li, "l_orderkey",
              orders, "o_orderkey", broadcast_parent=False)
        .unionByName(audit("orders.o_custkey -> customer", orders,
                           "o_custkey", cust, "c_custkey"))
        .unionByName(audit("lineitem.l_partkey -> part", li, "l_partkey",
                           part, "p_partkey"))
        .unionByName(audit("events.user_id -> customer", ev, "user_id",
                           cust, "c_custkey")))


@register(
    "kmv_set_operations_audit",
    # Same md5-prefix KMV discipline as kmv_distinct_audit, extended to
    # SET ALGEBRA: the k-min set of a union is the k smallest of the
    # union of k-min sets (mergeable), and the intersection estimate is
    # the Beyer et al. rho * union form — every step replays
    # bit-identically in DuckDB, so sketch ESTIMATES get value hashes.
    oracle="""
WITH membership AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_b
  FROM events WHERE event_type IN ('purchase', 'view')
  GROUP BY user_id),
h AS (
  SELECT user_id, in_a, in_b,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS hv
  FROM membership),
ranked AS (
  -- (hv, user_id) is a TOTAL order: hv is a 32-bit hash, so ties are
  -- expected at scale (birthday ~2^16) and a tie straddling rank k with
  -- different membership bits would make rho engine-dependent.
  SELECT *, row_number() OVER (ORDER BY hv, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM h),
kmin AS (SELECT * FROM ranked WHERE rn <= 64),
agg AS (
  SELECT MAX(n) AS n_union,
         MAX(CASE WHEN rn = 64 THEN hv END) AS kth,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS rho_k,
         COUNT(*) AS k_used
  FROM kmin),
exacts AS (
  SELECT SUM(in_a) AS exact_a, SUM(in_b) AS exact_b,
         COUNT(*) AS exact_union,
         SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
           AS exact_inter
  FROM membership),
est AS (
  SELECT *,
         CASE WHEN n_union < 64 THEN CAST(n_union AS DOUBLE)
              ELSE 63 / kth END AS raw_union
  FROM agg)
SELECT CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(exact_inter AS BIGINT) AS exact_inter,
       CAST(floor(raw_union * 100) AS BIGINT) AS est_union_e2,
       CAST(floor(raw_union * rho_k / k_used * 100) AS BIGINT)
         AS est_inter_e2,
       CAST(floor(abs(raw_union - exact_union) / exact_union * 10000)
            AS BIGINT) AS union_rel_err_e4
FROM est CROSS JOIN exacts
""",
    description="KMV sketch SET ALGEBRA with a full value-hash oracle: "
                "distinct purchasers (A) and viewers (B) summarized by "
                "one k=64 k-minimum-values sketch over md5-prefix "
                "hashes, then |A union B| estimated by (k-1)/h_(k) and "
                "|A intersect B| by the Beyer et al. rho-scaling (share "
                "of the union's k-min set belonging to both sides, "
                "times the union estimate). The k-min set of a union is "
                "the k smallest of the merged k-min sets — the "
                "mergeability that lets production keep per-partition "
                "heaps and estimate arbitrary set expressions WITHOUT "
                "rescanning either side; exact counts ride along so the "
                "audit shows the realized error, and every estimate is "
                "hash-checked because md5, the order statistic, and the "
                "one IEEE division replay bit-identically in DuckDB.",
    tags=("relational", "sketch", "approx", "setop", "audit"),
)
def kmv_set_operations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 64
    ev = load_table(spark, sf_dir, "events")
    membership = (
        ev.where(F.col("event_type").isin("purchase", "view"))
        .groupBy("user_id")
        .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                   .otherwise(0)).alias("in_a"),
             F.max(F.when(F.col("event_type") == "view", 1)
                   .otherwise(0)).alias("in_b")))
    hv = (F.conv(F.substring(
        F.md5(F.col("user_id").cast("string").cast("binary")), 1, 8),
        16, 10).cast("bigint") / F.lit(4294967296.0))
    h = membership.withColumn("hv", hv)
    wall = Window.partitionBy()
    # total order (hv, user_id): 32-bit hash ties straddling rank k with
    # different membership bits would otherwise make rho nondeterministic
    ranked = h.select(
        "*", F.row_number().over(Window.orderBy("hv", "user_id")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"))
    kmin = ranked.where(F.col("rn") <= k)
    agg = kmin.agg(
        F.max("n").alias("n_union"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
              .otherwise(0)).alias("rho_k"),
        F.count(F.lit(1)).alias("k_used"))
    exacts = membership.agg(
        F.sum("in_a").alias("exact_a"), F.sum("in_b").alias("exact_b"),
        F.count(F.lit(1)).alias("exact_union"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
              .otherwise(0)).alias("exact_inter"))
    raw_union = F.when(F.col("n_union") < k,
                       F.col("n_union").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / F.col("kth"))
    return agg.crossJoin(exacts).select(
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_union").cast("long").alias("exact_union"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        F.floor(raw_union * 100).cast("long").alias("est_union_e2"),
        F.floor(raw_union * F.col("rho_k") / F.col("k_used") * 100)
        .cast("long").alias("est_inter_e2"),
        F.floor(F.abs(raw_union - F.col("exact_union"))
                / F.col("exact_union") * 10000).cast("long")
        .alias("union_rel_err_e4"))


@register(
    "conversion_latency_by_tier",
    oracle="""
WITH v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
),
waits AS (
  SELECT v.user_id, epoch_us(p.ts) - epoch_us(v.ts) AS wait_us
  FROM v ASOF JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts),
tiers AS (
  SELECT 9999 AS user_id, 'vip' AS tier
  UNION ALL SELECT i, 'tier_a' FROM range(2, 10) t(i)
  UNION ALL SELECT i, 'tier_b' FROM range(100, 201) t(i)
),
tiered AS (
  SELECT COALESCE(t.tier, 'default') AS tier, w.wait_us
  FROM waits w LEFT JOIN tiers t USING (user_id)),
ranked AS (
  SELECT tier, wait_us,
         row_number() OVER (PARTITION BY tier
                            ORDER BY wait_us) AS rn,
         COUNT(*) OVER (PARTITION BY tier) AS n
  FROM tiered)
SELECT tier,
       CAST(MAX(n) AS BIGINT) AS n_conversions,
       CAST(MIN(CASE WHEN 2 * rn >= n THEN wait_us END) AS BIGINT)
         AS median_wait_us
FROM ranked GROUP BY tier
""",
    description="Median view-to-purchase latency per reference user tier "
                "— the funnel-speed report that composes three of the "
                "engine's primitives: the FORWARD as-of join "
                "(next-purchase attribution, one exchange + one "
                "descending window), the task3 tier dimension "
                "(flink_stream_task3.py:54-62, a static 110-row "
                "broadcast), and the exact lower median decided by the "
                "integer test 2*rank >= count over exact "
                "integer-microsecond waits. Tie-break: wait_us ordering "
                "within tier is made total by the rank walk itself "
                "(equal waits are interchangeable for a median). "
                "Everything after the as-of is tier-domain-sized.",
    tags=("relational", "join", "asof", "percentile", "analytics"),
)
def conversion_latency_by_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.asof import (
        asof_join,
    )

    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("user_id", "ts").groupBy("user_id", "ts").agg(
             F.count(F.lit(1)).alias("_dup")).drop("_dup"))
    waits = asof_join(
        v, p, on=["user_id"], ts="ts", right_ts_name="purchase_ts",
        direction="forward").select(
        "user_id",
        (F.unix_micros("purchase_ts") - F.unix_micros(F.col("ts")))
        .alias("wait_us"))
    rows = ([(9999, "vip")]
            + [(u, "tier_a") for u in range(2, 10)]
            + [(u, "tier_b") for u in range(100, 201)])
    tiers = spark.createDataFrame(rows, "user_id BIGINT, tier STRING")
    tiered = (waits.join(F.broadcast(tiers), "user_id", "left")
              .select(F.coalesce("tier", F.lit("default")).alias("tier"),
                      "wait_us"))
    wt = Window.partitionBy("tier")
    ranked = tiered.select(
        "tier", "wait_us",
        F.row_number().over(wt.orderBy("wait_us")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"))
    return ranked.groupBy("tier").agg(
        F.max("n").cast("long").alias("n_conversions"),
        F.min(F.when(2 * F.col("rn") >= F.col("n"), F.col("wait_us")))
        .cast("long").alias("median_wait_us"))


@register(
    "sessionized_bounce_rate",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > 1000000 * 30 THEN 1
              ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT user_id,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS _sid
  FROM flagged),
sess AS (
  SELECT user_id, COUNT(*) AS n_events
  FROM islands GROUP BY user_id, _sid),
tiers AS (
  SELECT 9999 AS user_id, 'vip' AS tier
  UNION ALL SELECT i, 'tier_a' FROM range(2, 10) t(i)
  UNION ALL SELECT i, 'tier_b' FROM range(100, 201) t(i)
),
tiered AS (
  SELECT COALESCE(t.tier, 'default') AS tier, s.n_events
  FROM sess s LEFT JOIN tiers t USING (user_id))
SELECT tier,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             * 10000) // COUNT(*) AS BIGINT) AS bounce_e4
FROM tiered GROUP BY tier
""",
    description="Bounce rate per reference user tier: share of 30s-gap "
                "sessions containing exactly one event — the engagement "
                "KPI built directly on the engine's parity sessionizer "
                "(same session_window the reference jobs use, same "
                "gaps-and-islands oracle with the strict-> break and "
                "event_id tiebreak) joined against the task3 tier "
                "dimension (broadcast, 110 rows). Everything after the "
                "sessionizer's one user-keyed exchange is "
                "tier-domain-sized; the rate is one scaled-floor "
                "division over exact counts. Note the ties nuance the "
                "shared oracle documents: tied timestamps never split a "
                "session, so the bounce flag is order-insensitive.",
    tags=("relational", "session_window", "analytics", "parity"),
)
def sessionized_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
        sessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev)  # 30s default gap, per-user sum/count/avg
    rows = ([(9999, "vip")]
            + [(u, "tier_a") for u in range(2, 10)]
            + [(u, "tier_b") for u in range(100, 201)])
    tiers = spark.createDataFrame(rows, "user_id BIGINT, tier STRING")
    tiered = (sess.join(F.broadcast(tiers), "user_id", "left")
              .select(F.coalesce("tier", F.lit("default")).alias("tier"),
                      "event_count"))
    bounces = F.sum(F.when(F.col("event_count") == 1, 1).otherwise(0))
    agg = tiered.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"))
    # exact integer division (the HHI lesson: bounces*1e4 in a double
    # rounds past 2^53 at ~9e11 sessions)
    return agg.select(
        "tier", "n_sessions", "n_bounces",
        F.expr("(n_bounces * 10000) div n_sessions").cast("long")
        .alias("bounce_e4"))


@register(
    "supplier_hhi_by_parttype",
    oracle="""
WITH qty AS (
  SELECT p.p_type, l.l_suppkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2),
tot AS (
  SELECT p_type,
         CAST(SUM(q) AS BIGINT) AS t,
         CAST(SUM(q * q) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM qty GROUP BY p_type)
SELECT p_type, n_suppliers, t AS total_qty,
       CAST((CAST(sq AS HUGEINT) * 1000000)
            // (CAST(t AS HUGEINT) * t) AS BIGINT) AS hhi_e6
FROM tot
""",
    description="Herfindahl-Hirschman supplier-concentration index per "
                "part type — the market-concentration statistic "
                "(sum of squared quantity shares, 1e6-scaled: 1/n for "
                "perfect competition up to 1.0 for a monopoly supplier). "
                "Quantities are integer-valued, so per-supplier sums and "
                "their squares are exact BIGINTs, and the scaled index "
                "is ONE EXACT integer division (sq*1e6 div t^2 in "
                "DECIMAL(38,0)/HUGEINT — the seasonal_naive_backtest "
                "discipline; the earlier double-multiply form rounded "
                "sq*1e6 past 2^53 and emitted 999999 for a monopoly "
                "with t >= ~760k, hypothesis-found) — never a sum of "
                "pre-divided float shares, whose order could drift. Two "
                "map-side-combinable aggregates with the part dimension "
                "broadcast into the fact scan.",
    tags=("relational", "analytics", "aggregate", "join"),
)
def supplier_hhi_by_parttype(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return hhi_report_from_qty(hhi_qty_partials(li, part))


def hhi_qty_partials(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Reduce a lineitem frame (full table or one micro-batch) to the
    per-(p_type, l_suppkey) exact integer quantity partials — the
    mergeable sufficient statistic of the HHI report (partials sum;
    the part dimension broadcasts into the fact scan)."""
    return (lineitem
            .join(F.broadcast(part),
                  lineitem.l_partkey == part.p_partkey)
            .groupBy("p_type", "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("long")).cast("long")
                 .alias("q")))


def hhi_report_from_qty(qty: DataFrame) -> DataFrame:
    """HHI concentration report from a (p_type, l_suppkey, q) partials
    frame — shared by the batch entry and streaming maintainer #12, so
    stream == batch is one code path. All inputs are exact BIGINTs, so
    the derivation is bit-deterministic under any partial merge
    order."""
    tot = qty.groupBy("p_type").agg(
        F.sum("q").cast("long").alias("t"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"))
    # exact integer division: the double-multiply form rounds sq*1e6
    # past 2^53 and can floor one short (999999 at exact monopoly)
    hhi = F.expr(
        "CAST((CAST(sq AS DECIMAL(38,0)) * 1000000)"
        " div (CAST(t AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)))"
        " AS BIGINT)")
    return tot.select(
        "p_type", "n_suppliers", F.col("t").alias("total_qty"),
        hhi.alias("hhi_e6"))


@register(
    "table_stats_report",
    oracle="""
SELECT 'o_custkey' AS column_name,
       (SELECT COUNT(*) FROM orders) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_nulls,
       COUNT(DISTINCT o_custkey) AS ndv,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderstatus', (SELECT COUNT(*) FROM orders),
       COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', (SELECT COUNT(*) FROM orders),
       COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
UNION ALL
SELECT 'o_totalprice_cents', (SELECT COUNT(*) FROM orders),
       COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT
         CAST(round(o_totalprice * 100, 0) AS BIGINT)),
       CAST(MIN(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR),
       CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR)
FROM orders
""",
    description="ANALYZE-TABLE-style column statistics for the orders "
                "table (per column: row count, null count, exact NDV, "
                "min/max rendered as strings so heterogeneous column "
                "types stack into one long-format report) — the "
                "cost-based-optimizer ingest primitive: these are "
                "exactly the numbers join reordering and broadcast "
                "decisions feed on, and at 100 TB each column's stats "
                "are one map-side-combinable aggregate over the scan "
                "the table maintenance pass already pays for (NDV "
                "becomes the mergeable KMV/HLL sketch of "
                "kmv_distinct_audit at scale; exact here so the driver "
                "can hash it). Money quantized to BIGINT cents before "
                "the distinct so both engines count identical values.",
    tags=("relational", "quality", "aggregate", "audit"),
)
def table_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def col_stats(name, col, out_name=None):
        return orders.agg(
            F.lit(out_name or name).alias("column_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.count(F.lit(1)) - F.count(col)).cast("long")
            .alias("n_nulls"),
            F.countDistinct(col).cast("long").alias("ndv"),
            F.min(col).cast("string").alias("min_value"),
            F.max(col).cast("string").alias("max_value"))

    return (col_stats("o_custkey", F.col("o_custkey"))
            .unionByName(col_stats("o_orderstatus",
                                   F.col("o_orderstatus")))
            .unionByName(col_stats("o_orderpriority",
                                   F.col("o_orderpriority")))
            .unionByName(col_stats("o_totalprice_cents",
                                   cents("o_totalprice"),
                                   "o_totalprice_cents")))


#: KMV sketch width shared by the batch NDV report and its streaming
#: maintainer (streaming/analytics_twins.py:IncrementalTableStatsMaintainer).
KMV_STATS_K = 32

#: Mergeable per-column statistics state: exact counters + typed min/max
#: (numeric columns in min_num/max_num, string columns in min_str/max_str —
#: merging numeric minima through a string rendering would compare
#: lexicographically, "100" < "99") + the k-min set of distinct value
#: hashes. Union-mergeable in every field: sums, mins/maxes, and
#: "k smallest of a union = k smallest of the union of k-min sets".
KMV_STATS_STATE_SCHEMA = (
    "column_name STRING, n_rows BIGINT, n_nulls BIGINT, "
    "min_num BIGINT, max_num BIGINT, min_str STRING, max_str STRING, "
    "kmin ARRAY<DOUBLE>")

#: The profiled orders columns: (name, expression, is_numeric).
def _kmv_stats_columns() -> list[tuple[str, "F.Column", bool]]:
    return [
        ("o_custkey", F.col("o_custkey"), True),
        ("o_orderstatus", F.col("o_orderstatus"), False),
        ("o_orderpriority", F.col("o_orderpriority"), False),
        ("o_totalprice_cents", cents("o_totalprice"), True),
    ]


def _kmv_hash(col: "F.Column") -> "F.Column":
    """Uniform hash in [0,1) from the md5 prefix of the value's canonical
    string — bit-identical to DuckDB's ('0x'||substr(md5(v),1,8))::BIGINT
    / 2^32 (the kmv_distinct_audit hash), and exact in double (a 32-bit
    integer over 2^32)."""
    return (F.conv(F.substring(
        F.md5(col.cast("string").cast("binary")), 1, 8),
        16, 10).cast("bigint") / F.lit(4294967296.0))


def kmin_merge_agg() -> "F.Column":
    """The bounded k-min merge aggregate shared by the streaming
    maintainer and the batch plan's second stage: k smallest of a union
    of k-min sets = k smallest of the union (set semantics on exact
    doubles — every hash is a 32-bit integer over 2^32, so equality and
    ordering are exact). Input column ``kmin`` holds <=k-element sorted
    arrays; output is one <=k-element sorted array."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(
        F.collect_list("kmin")))), 1, KMV_STATS_K).alias("kmin")


def orders_kmv_state(orders: DataFrame) -> DataFrame:
    """Reduce an orders frame (full table or one micro-batch) to the
    mergeable per-column stats state of KMV_STATS_STATE_SCHEMA, in
    exactly TWO scans of the input:

    1. ONE scalar aggregate computes every column's counters and typed
       min/max in a single pass (each column's counters packed into a
       struct, exploded back to long format from the 1-row result) —
       all partial-aggregated map-side, nothing fact-sized shuffles.
    2. ONE projection explodes an array of (column_name, hv) pairs into
       the long hash frame (NULL values hash to NULL md5 and are
       filtered), and the k-min selection is TWO-STAGE: per physical
       partition, ``slice(sort_array(collect_set(hv)), 1, k)`` reduces
       that partition's distinct hashes to a <=k partial (each
       (column, pid) group is confined to one input partition, so the
       map-side partial-aggregate buffer already holds the group's
       complete distinct-hash set; the slice itself evaluates as the
       final-aggregate result expression, so the exchange ships those
       per-partition distinct-hash sets — bounded by each PARTITION's
       NDV, never the table's); the <=k partials then merge through
       the same ``kmin_merge_agg`` the streaming maintainer uses. No
       column's full distinct-hash set ever funnels into a single
       task — at 100 TB a fact column's NDV is ~1e10, and a
       single-partition rank over it is exactly the shape
       ``global_rank_ranged`` exists to avoid.

    The result is grouping-invariant (k smallest of a union does not
    depend on how elements were grouped; cross-partition duplicate
    hashes drop in the merge's array_distinct), so the physical
    partition id never leaks into the answer — pinned by
    ``tests/test_partition_invariance.py``, which for this entry varies
    the INPUT split (a pre-repartition of orders), not just
    ``spark.sql.shuffle.partitions``, because ``spark_partition_id()``
    here is read-side and shuffle-partition changes alone never move
    it."""
    cols = _kmv_stats_columns()
    none_l = F.lit(None).cast("long")
    none_s = F.lit(None).cast("string")
    per_col = [F.struct(
        F.lit(name).alias("column_name"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count(col)).cast("long").alias("n_nulls"),
        (F.min(col).cast("long") if numeric else none_l).alias("min_num"),
        (F.max(col).cast("long") if numeric else none_l).alias("max_num"),
        (none_s if numeric else F.min(col).cast("string")).alias("min_str"),
        (none_s if numeric else F.max(col).cast("string")).alias("max_str"),
    ).alias(name) for name, col, numeric in cols]
    scalars = (orders.agg(*per_col)
               .select(F.explode(F.array(*[F.col(name) for name, _, _
                                           in cols])).alias("s"))
               .select("s.*"))
    pairs = F.array(*[F.struct(F.lit(name).alias("column_name"),
                               _kmv_hash(col).alias("hv"))
                      for name, col, _ in cols])
    longf = (orders.select(F.explode(pairs).alias("p"))
             .select("p.*")
             .where(F.col("hv").isNotNull()))
    partials = (longf.withColumn("pid", F.spark_partition_id())
                .groupBy("column_name", "pid")
                .agg(F.slice(F.sort_array(F.collect_set("hv")),
                             1, KMV_STATS_K).alias("kmin")))
    kmin = partials.groupBy("column_name").agg(kmin_merge_agg())
    return scalars.join(kmin, "column_name", "left")


def ndv_report_from_kmv_state(state: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and the maintainer: the
    long-format column-stats report with the KMV NDV estimate
    (k-1)/h_(k) — exact count when the k-min set holds everything —
    floor-scaled to 2 decimals so the one IEEE division hashes stably."""
    k = KMV_STATS_K
    kmin = F.coalesce(F.col("kmin"), F.array().cast("array<double>"))
    nset = F.size(kmin)
    est = (F.when(nset < k, nset.cast("double"))
           .otherwise(F.lit(float(k - 1)) / F.get(kmin, k - 1)))
    return state.select(
        "column_name", "n_rows", "n_nulls",
        (F.floor(est * 100) / 100.0).alias("ndv_kmv"),
        F.coalesce(F.col("min_num").cast("string"), F.col("min_str"))
        .alias("min_value"),
        F.coalesce(F.col("max_num").cast("string"), F.col("max_str"))
        .alias("max_value"))


@register(
    "orders_column_ndv_kmv",
    oracle="""
WITH longv AS (
  SELECT 'o_custkey' AS column_name, CAST(o_custkey AS VARCHAR) AS v
  FROM orders WHERE o_custkey IS NOT NULL
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus
  FROM orders WHERE o_orderstatus IS NOT NULL
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION ALL
  SELECT 'o_totalprice_cents',
         CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)
  FROM orders WHERE o_totalprice IS NOT NULL),
hv AS (
  SELECT DISTINCT column_name,
         ('0x' || substr(md5(v), 1, 8))::BIGINT / 4294967296.0 AS hv
  FROM longv),
ranked AS (
  SELECT column_name, hv,
         row_number() OVER (PARTITION BY column_name ORDER BY hv) AS rn
  FROM hv),
kagg AS (
  SELECT column_name, COUNT(*) AS n_distinct_hv,
         MAX(CASE WHEN rn = 32 THEN hv END) AS kth
  FROM ranked GROUP BY column_name),
est AS (
  SELECT column_name,
         CASE WHEN n_distinct_hv < 32 THEN CAST(n_distinct_hv AS DOUBLE)
              ELSE 31 / kth END AS raw_est
  FROM kagg),
stats AS (
  SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(o_custkey) AS n_nulls,
         CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
         CAST(MAX(o_custkey) AS VARCHAR) AS max_value
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice_cents', COUNT(*), COUNT(*) - COUNT(o_totalprice),
         CAST(MIN(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR),
         CAST(MAX(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS VARCHAR)
  FROM orders)
SELECT s.column_name, s.n_rows, s.n_nulls,
       CAST(floor(e.raw_est * 100) AS BIGINT) / 100.0 AS ndv_kmv,
       s.min_value, s.max_value
FROM stats s JOIN est e USING (column_name)
""",
    description="The SKETCHED rendering of table_stats_report — per-column "
                "row/null counters, typed min/max, and a KMV (k=32) NDV "
                "ESTIMATE over md5-prefix hashes of the canonical value "
                "strings, replayed bit-identically in DuckDB "
                "(kmv_distinct_audit's hash; estimate = (k-1)/h_(k) on "
                "DISTINCT hashes, exact-count fallback while the k-min "
                "set holds everything; one IEEE division, floor-scaled). "
                "This is the stats shape a 100 TB ANALYZE actually ships: "
                "the exact-NDV report needs a full distinct per column, "
                "while every field here — counters, typed min/max, and "
                "the k-min set itself — is a bounded mergeable partial, "
                "which is what makes the streaming maintainer "
                "(IncrementalTableStatsMaintainer, one code path through "
                "orders_kmv_state/ndv_report_from_kmv_state) possible at "
                "all. Numeric and string columns keep separate typed "
                "min/max state because a string-rendered numeric min "
                "merges lexicographically ('100' < '99').",
    tags=("relational", "sketch", "approx", "quality", "audit"),
)
def orders_column_ndv_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return ndv_report_from_kmv_state(orders_kmv_state(orders))


@register(
    "kmv_set_difference_audit",
    # Completes the KMV set algebra begun by kmv_set_operations_audit
    # (union, intersection) with DIFFERENCE and SYMMETRIC DIFFERENCE:
    # |A \ B| estimated by the same Beyer et al. rho-scaling — the share
    # of the union's k-min set belonging to A only, times the union
    # estimate. One k=256 sketch answers all four set expressions
    # (k raised from the union entry's 64 because the difference regions
    # are ~17% of the union — rho needs enough k-min mass for a usable
    # relative error; measured 67% -> 11% realized at sf0.01).
    oracle="""
WITH membership AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'
              THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
              THEN 1 ELSE 0 END) AS in_b
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY o_custkey
  HAVING MAX(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'
              THEN 1 ELSE 0 END) = 1
      OR MAX(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
              THEN 1 ELSE 0 END) = 1),
h AS (
  SELECT o_custkey, in_a, in_b,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS hv
  FROM membership),
ranked AS (
  -- (hv, o_custkey) is a TOTAL order: hv is a 32-bit hash, ties are
  -- expected at customer-scale unions (birthday ~2^16) and a tie
  -- straddling rank k with different membership bits would make the
  -- rho counts engine-dependent (r10 ADVICE).
  SELECT *, row_number() OVER (ORDER BY hv, o_custkey) AS rn,
         COUNT(*) OVER () AS n
  FROM h),
kmin AS (SELECT * FROM ranked WHERE rn <= 256),
agg AS (
  SELECT MAX(n) AS n_union,
         MAX(CASE WHEN rn = 256 THEN hv END) AS kth,
         SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
           AS rho_a_only,
         SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
           AS rho_b_only,
         COUNT(*) AS k_used
  FROM kmin),
exacts AS (
  SELECT SUM(in_a) AS exact_a, SUM(in_b) AS exact_b,
         SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
           AS exact_a_only,
         SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
           AS exact_b_only,
         COUNT(*) AS exact_union
  FROM membership),
est AS (
  SELECT *,
         CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
              ELSE 255 / kth END AS raw_union
  FROM agg)
SELECT CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       CAST(exact_a_only AS BIGINT) AS exact_a_only,
       CAST(exact_b_only AS BIGINT) AS exact_b_only,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(floor(raw_union * rho_a_only / k_used * 100) AS BIGINT)
         AS est_a_only_e2,
       CAST(floor(raw_union * rho_b_only / k_used * 100) AS BIGINT)
         AS est_b_only_e2,
       CAST(floor(raw_union * (rho_a_only + rho_b_only) / k_used * 100)
            AS BIGINT) AS est_symdiff_e2,
       CAST(CASE WHEN exact_a_only > 0 THEN
              floor(abs(raw_union * rho_a_only / k_used - exact_a_only)
                    / exact_a_only * 10000) END AS BIGINT)
         AS a_only_rel_err_e4
FROM est CROSS JOIN exacts
""",
    description="KMV sketch set DIFFERENCE with a full value-hash oracle "
                "— the algebra member kmv_set_operations_audit left open: "
                "customers ordering in 1996 (A) vs 1997 (B), with "
                "|A \\ B| (churned), |B \\ A| (acquired) and the "
                "symmetric difference all estimated from ONE k=256 "
                "k-minimum-values sketch of the union via Beyer et al. "
                "rho-scaling: the share of the union's k-min set "
                "belonging to each region, times the (k-1)/h_(k) union "
                "estimate. Because every k-min element carries its exact "
                "membership bits, any boolean set expression over the "
                "two sides prices from the same bounded sketch — no "
                "rescan, and the sketch stays mergeable per partition. "
                "Exact counts ride along showing the realized error, "
                "guarded NULL when the exact difference is empty "
                "(degenerate epoch — both engines agree by CASE, not by "
                "divide-by-zero behavior, the zipf_rank_frequency "
                "lesson). Every estimate is hash-checked: md5, the order "
                "statistic, and the IEEE divisions replay bit-identically "
                "in DuckDB.",
    tags=("relational", "sketch", "approx", "setop", "audit"),
)
def kmv_set_difference_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    return set_difference_report_from_membership(
        order_epoch_membership(od))


def order_epoch_membership(orders: DataFrame) -> DataFrame:
    """Reduce an orders frame (full table or one micro-batch) to the
    per-customer epoch-membership bits (in_a = ordered in 1996, in_b =
    ordered in 1997) — the mergeable sufficient statistic of the set
    algebra: bits OR (max) under merge, state bounded by the CUSTOMER
    key space regardless of order volume (the user-spend-maintainer
    precedent). Shared by the batch entry and streaming maintainer #16."""
    in_1996 = ((F.col("o_orderdate") >= "1996-01-01")
               & (F.col("o_orderdate") < "1997-01-01"))
    in_1997 = ((F.col("o_orderdate") >= "1997-01-01")
               & (F.col("o_orderdate") < "1998-01-01"))
    return (
        orders.where((F.col("o_orderdate") >= "1996-01-01")
                     & (F.col("o_orderdate") < "1998-01-01"))
        .groupBy("o_custkey")
        .agg(F.max(F.when(in_1996, 1).otherwise(0)).alias("in_a"),
             F.max(F.when(in_1997, 1).otherwise(0)).alias("in_b"))
        .where((F.col("in_a") == 1) | (F.col("in_b") == 1)))


def set_difference_report_from_membership(
        membership: DataFrame) -> DataFrame:
    """Derive the full difference/symmetric-difference audit (sketch
    estimates + exact counts + guarded realized error) from the
    membership bits — the presentation half shared by the batch entry
    and streaming maintainer #16."""
    k = 256
    hv = (F.conv(F.substring(
        F.md5(F.col("o_custkey").cast("string").cast("binary")), 1, 8),
        16, 10).cast("bigint") / F.lit(4294967296.0))
    h = membership.withColumn("hv", hv)
    wall = Window.partitionBy()
    # total order (hv, o_custkey) — see the oracle's ranked CTE comment
    ranked = h.select(
        "*",
        F.row_number().over(Window.orderBy("hv", "o_custkey")).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"))
    kmin = ranked.where(F.col("rn") <= k)
    a_only = (F.col("in_a") == 1) & (F.col("in_b") == 0)
    b_only = (F.col("in_a") == 0) & (F.col("in_b") == 1)
    agg = kmin.agg(
        F.max("n").alias("n_union"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("kth"),
        F.sum(F.when(a_only, 1).otherwise(0)).alias("rho_a_only"),
        F.sum(F.when(b_only, 1).otherwise(0)).alias("rho_b_only"),
        F.count(F.lit(1)).alias("k_used"))
    exacts = membership.agg(
        F.sum("in_a").alias("exact_a"), F.sum("in_b").alias("exact_b"),
        F.sum(F.when(a_only, 1).otherwise(0)).alias("exact_a_only"),
        F.sum(F.when(b_only, 1).otherwise(0)).alias("exact_b_only"),
        F.count(F.lit(1)).alias("exact_union"))
    raw_union = F.when(F.col("n_union") < k,
                       F.col("n_union").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / F.col("kth"))
    raw_a_only = raw_union * F.col("rho_a_only") / F.col("k_used")
    return agg.crossJoin(exacts).select(
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_a_only").cast("long").alias("exact_a_only"),
        F.col("exact_b_only").cast("long").alias("exact_b_only"),
        F.col("exact_union").cast("long").alias("exact_union"),
        F.floor(raw_a_only * 100).cast("long").alias("est_a_only_e2"),
        F.floor(raw_union * F.col("rho_b_only") / F.col("k_used") * 100)
        .cast("long").alias("est_b_only_e2"),
        F.floor(raw_union * (F.col("rho_a_only") + F.col("rho_b_only"))
                / F.col("k_used") * 100).cast("long")
        .alias("est_symdiff_e2"),
        F.when(F.col("exact_a_only") > 0,
               F.floor(F.abs(raw_a_only - F.col("exact_a_only"))
                       / F.col("exact_a_only") * 10000)).cast("long")
        .alias("a_only_rel_err_e4"))


#: Bottom-k sample size for the mergeable quantile state. 101 keeps the
#: median estimator's expected relative rank error ~ 1/sqrt(k) ~ 10%
#: while the per-key state stays a fixed ~2.4 KB array.
PRICE_SAMPLE_K = 101

#: Per-priority mergeable quantile state: exact row counter + the k
#: lexicographically-smallest (hv, cents, okey) triples, where hv is a
#: 60-bit md5 prefix of the order key — a deterministic uniform sample
#: whose bottom-k by hash is mergeable exactly like a KMV sketch.
PRICE_SAMPLE_STATE_SCHEMA = (
    "o_orderpriority string, n_orders long, "
    "sample array<struct<hv:long,cents:long,okey:long>>")


def price_sample_merge_agg() -> "F.Column":
    """Bounded bottom-k merge for the quantile sample state: the k
    smallest (hv, cents, okey) triples of a union of bottom-k sets are
    the k smallest of the union (struct arrays sort lexicographically
    by field order, and the triple is unique per order row, so the
    merge needs no dedup). Mirrors ``kmin_merge_agg``; shared by the
    batch entry's second stage and streaming maintainer #15."""
    return F.slice(F.array_sort(F.flatten(F.collect_list("sample"))),
                   1, PRICE_SAMPLE_K).alias("sample")


def orders_price_sample_state(orders: DataFrame) -> DataFrame:
    """Reduce an orders frame (full table or one micro-batch) to the
    per-priority mergeable quantile state: exact n_orders plus the
    bottom-PRICE_SAMPLE_K sample by md5 hash. TWO-STAGE like
    ``orders_kmv_state``: per (priority, input-partition) the sort/slice
    runs on that partition's rows only, then the <=k partials merge
    through ``price_sample_merge_agg`` — no priority's full row set ever
    funnels into a single task, and the exchange ships <=k-element
    arrays plus a counter per (priority, partition)."""
    hv = F.conv(F.substring(
        F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 15),
        16, 10).cast("long")
    rows = orders.select(
        "o_orderpriority",
        F.struct(hv.alias("hv"), cents("o_totalprice").alias("cents"),
                 F.col("o_orderkey").cast("long").alias("okey"))
        .alias("trip"),
        F.spark_partition_id().alias("_pid"))
    partials = rows.groupBy("o_orderpriority", "_pid").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.slice(F.array_sort(F.collect_list("trip")), 1, PRICE_SAMPLE_K)
        .alias("sample"))
    return partials.groupBy("o_orderpriority").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        price_sample_merge_agg())


def median_report_from_price_sample_state(state: DataFrame) -> DataFrame:
    """Present the sample state as (priority, n_orders,
    sample_median_cents): the lower median (position ceil(s/2)) of the
    sampled cents — a uniform-sample median whose rank error is the
    classic ~ n/sqrt(k)."""
    sorted_cents = F.array_sort(F.expr("transform(sample, x -> x.cents)"))
    med = F.element_at(
        sorted_cents,
        F.expr("cast((size(sample) + 1) div 2 as int)"))
    return state.select(
        "o_orderpriority", "n_orders",
        med.cast("long").alias("sample_median_cents"))


def priority_cents_cumulative(orders: DataFrame) -> DataFrame:
    """(o_orderpriority, cents, cum, n): per-priority cumulative counts
    over the DISTINCT price-cents value domain — the shared base of the
    exact order statistics (``sampled_median_audit``'s exact half and
    the ``ordered_set_percentiles`` family). The only ordered window
    runs per priority over the distinct-cents domain, bounded by the
    price grid, never the row count."""
    cnt = (orders.select("o_orderpriority",
                         cents("o_totalprice").alias("cents"))
           .groupBy("o_orderpriority", "cents")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    wp = Window.partitionBy("o_orderpriority")
    wcum = (wp.orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return cnt.select(
        "o_orderpriority", "cents",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wp).alias("n"))


@register(
    "sampled_median_audit",
    oracle="""
WITH f AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderkey,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS hv
  FROM orders),
s AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY hv, cents, o_orderkey) AS srn
  FROM f),
sm AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents) AS crn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS sn
  FROM s WHERE srn <= 101),
sample_med AS (
  SELECT o_orderpriority,
         CAST(MIN(CASE WHEN 2 * crn >= sn THEN cents END) AS BIGINT)
           AS sample_median_cents
  FROM sm GROUP BY 1),
em AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM f),
exact_med AS (
  SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_orders,
         CAST(MIN(CASE WHEN 2 * rn >= n THEN cents END) AS BIGINT)
           AS exact_median_cents
  FROM em GROUP BY 1)
SELECT e.o_orderpriority, e.n_orders, e.exact_median_cents,
       s.sample_median_cents,
       CAST(CASE WHEN e.exact_median_cents > 0 THEN
              floor(abs(s.sample_median_cents - e.exact_median_cents)
                    / CAST(e.exact_median_cents AS DOUBLE) * 10000) END
            AS BIGINT) AS rel_err_e4
FROM exact_med e JOIN sample_med s USING (o_orderpriority)
""",
    description="Mergeable-quantile audit — the bounded-memory answer to "
                "the exact-median entries (weighted_median_price, "
                "mad_anomalies) and the batch twin of streaming "
                "maintainer #15: per order priority, the EXACT lower "
                "median of order price (derived from (priority, cents) "
                "counts + a cumulative window over the value domain — "
                "never a per-key row window) rides next to the median of "
                "a k=101 bottom-k-by-md5-hash sample, the same "
                "KMV-style mergeable order statistic the streaming "
                "maintainer keeps at fixed ~2.4 KB per key: the k "
                "smallest (hash, cents, okey) triples of a batch union "
                "are the k smallest of the merged bottom-k sets, so "
                "stream state == one batch pass exactly, under any "
                "interleaving. The realized rank error is reported as a "
                "guarded scaled-floor ratio. Every column is hash-exact: "
                "md5 replays bit-identically, sample membership is a "
                "deterministic lexicographic order statistic, and both "
                "medians are exact integers. Scale shape: TWO-STAGE "
                "bottom-k (per-input-partition slice, then the bounded "
                "array merge — the orders_kmv_state discipline), and the "
                "exact median's only ordered window runs per priority "
                "over the DISTINCT-cents domain, bounded by the price "
                "grid, not the row count.",
    tags=("relational", "sketch", "approx", "quantile", "audit"),
)
def sampled_median_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sample_report = median_report_from_price_sample_state(
        orders_price_sample_state(orders))
    staged = priority_cents_cumulative(orders)
    exact = (staged.where(2 * F.col("cum") >= F.col("n"))
             .groupBy("o_orderpriority")
             .agg(F.min("cents").cast("long").alias("exact_median_cents")))
    rel_err = F.when(
        F.col("exact_median_cents") > 0,
        F.floor(F.abs(F.col("sample_median_cents")
                      - F.col("exact_median_cents"))
                / F.col("exact_median_cents").cast("double") * 10000))
    return (sample_report.join(exact, "o_orderpriority")
            .select("o_orderpriority", "n_orders", "exact_median_cents",
                    "sample_median_cents",
                    rel_err.cast("long").alias("rel_err_e4")))


@register(
    "ordered_set_percentiles",
    oracle="""
WITH f AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS disc25_cents,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS disc50_cents,
       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY cents)
            AS BIGINT) AS disc75_cents,
       CAST(floor(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents)
                  * 10000) AS BIGINT) AS cont25_e4,
       CAST(floor(percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)
                  * 10000) AS BIGINT) AS cont50_e4,
       CAST(floor(percentile_cont(0.75) WITHIN GROUP (ORDER BY cents)
                  * 10000) AS BIGINT) AS cont75_e4
FROM f GROUP BY 1
""",
    description="Ordered-set-aggregate family: SQL-standard "
                "percentile_disc and percentile_cont at p = .25/.5/.75 "
                "per order priority, derived from the shared "
                "value-domain cumulative frame (priority_cents_"
                "cumulative — the sampled_median_audit exact half), "
                "never a per-row sort: disc(p) is the smallest cents "
                "with 4*cum >= 4p*n (exact integer cross-"
                "multiplication, the SQL-standard first-value-with-"
                "CDF>=p), and cont(p) interpolates the two bracketing "
                "rank values lo/hi at 0-indexed rank (n-1)p via the "
                "ALL-INTEGER form lo*1e4 + ((n-1)*4p mod 4)*(hi-lo)*"
                "2500 — p is dyadic, so the interpolant is an exact "
                "quarter-cent and DuckDB's native double "
                "percentile_cont scales to the identical integer "
                "(non-dyadic p would break this; .25/.5/.75 are chosen "
                "for it). Scale shape: one groupBy collapses facts to "
                "the per-priority DISTINCT price grid, the only ordered "
                "window runs over that value domain (bounded by the "
                "grid, not row count), and ONE final aggregate emits "
                "all six statistics — no per-percentile passes, no "
                "global sort, no Expand.",
    tags=("relational", "quantile", "window", "sql"),
)
def ordered_set_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    staged = priority_cents_cumulative(load_table(spark, sf_dir, "orders"))

    def disc(p4: int):
        return (F.min(F.when(4 * F.col("cum") >= p4 * F.col("n"),
                             F.col("cents")))
                .cast("long").alias(f"disc{p4 * 25}_cents"))

    def rank_val(offset_expr, name: str):
        # smallest cents whose cumulative count reaches the 1-indexed
        # rank; n is constant within a priority group, so the rank
        # expression is row-valid inside the aggregate
        return F.min(F.when(F.col("cum") >= offset_expr, F.col("cents"))) \
            .alias(name)

    aggs = [F.max("n").cast("long").alias("n_orders")]
    for p4 in (1, 2, 3):
        k0 = ((F.col("n") - F.lit(1)) * p4) / F.lit(4)
        k0 = F.floor(k0).cast("long")
        aggs.append(disc(p4))
        aggs.append(rank_val(k0 + 1, f"_lo{p4}"))
        aggs.append(rank_val(k0 + 2, f"_hi{p4}"))
    agg = staged.groupBy("o_orderpriority").agg(*aggs)
    cols = ["o_orderpriority", "n_orders",
            "disc25_cents", "disc50_cents", "disc75_cents"]
    out = agg
    for p4 in (1, 2, 3):
        m = ((F.col("n_orders") - F.lit(1)) * p4) % F.lit(4)
        lo, hi = F.col(f"_lo{p4}"), F.col(f"_hi{p4}")
        cont = lo * 10000 + m * (F.coalesce(hi, lo) - lo) * 2500
        out = out.withColumn(f"cont{p4 * 25}_e4", cont.cast("long"))
        cols.append(f"cont{p4 * 25}_e4")
    return out.select(*cols)


@register(
    "spend_autocorrelation",
    # Engine-agreement discipline: the whole ACF quotient is assembled
    # from exact BIGINT sums multiplied through by n^2 (numerator:
    # n^2*S_ab - n*sy*S_a+b + m*sy^2; denominator: n*(n*syy - sy^2)),
    # so both engines floor-scale ONE identical IEEE division. Daily
    # cents <= ~1e6, n <= |days|, so every term stays far inside int64.
    oracle="""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM daily GROUP BY 1),
lagged AS (
  SELECT a.user_id, k.lag AS lag,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(a.y * b.y) AS BIGINT) AS sab,
         CAST(SUM(a.y + b.y) AS BIGINT) AS sapb
  FROM daily a
  JOIN (SELECT unnest([1, 2, 3]) AS lag) k ON TRUE
  JOIN daily b ON b.user_id = a.user_id AND b.x = a.x + k.lag
  GROUP BY 1, 2)
SELECT l.user_id, CAST(l.lag AS INTEGER) AS lag,
       s.n AS n_days, l.m AS n_pairs,
       CAST(floor(
         CAST(s.n * s.n * l.sab - s.n * s.sy * l.sapb
              + l.m * s.sy * s.sy AS DOUBLE)
         / CAST(s.n * (s.n * s.syy - s.sy * s.sy) AS DOUBLE)
         * 10000) AS BIGINT) AS acf_e4
FROM lagged l JOIN stats s USING (user_id)
WHERE s.n >= 8 AND s.n * s.syy - s.sy * s.sy > 0
""",
    description="Per-user autocorrelation of daily spend at lags 1-3 — "
                "the time-series diagnostic next to grouped_ols_trend "
                "(is yesterday's spend predictive of today's?), over "
                "the SAME mergeable daily grid (ols_daily_grid: one "
                "shared code path with the batch OLS entry and "
                "maintainer #20, so the maintainer's state serves this "
                "report too). Gap-aware: a lag-k pair exists only when "
                "both day-indexes are observed (x and x+k), the honest "
                "reading for sparse users — never LOCF-imputed. The "
                "lag join is a self-equi-join on (user, x+k) over the "
                "ALREADY-AGGREGATED grid (|users|x|days| rows, never "
                "fact-sized) exploded 3 ways by lag; sums accumulate "
                "as exact BIGINTs and the single IEEE division is "
                "identical in both engines (the grouped_ols_trend "
                "discipline). Guards mirror OLS: n >= 8 observed days "
                "and positive variance.",
    tags=("relational", "analytics", "timeseries", "window"),
)
def spend_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return acf_report_from_daily(ols_daily_grid(ev))


def acf_report_from_daily(daily: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #20: the
    gap-aware lag-1/2/3 autocorrelation report from the (user_id, x, y)
    daily grid. The grid is consumed THREE times (both lag-join sides
    plus the variance stats), so it stages once via localCheckpoint —
    without it the planner re-aggregates the fact scan per consumer
    (measured: 3 events scans; the q15 lesson)."""
    daily = daily.localCheckpoint(eager=False)
    stats = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    ).where((F.col("n") >= 8)
            & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0))
    a = daily.select("user_id", F.col("x").alias("xa"),
                     F.col("y").alias("ya"))
    lags = a.select("user_id", "xa", "ya",
                    F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
                    .alias("lag"))
    b = daily.select("user_id", F.col("x").alias("xb"),
                     F.col("y").alias("yb"))
    lagged = (lags.join(b, (lags.user_id == b.user_id)
                        & (b.xb == lags.xa + lags.lag))
              .drop(b.user_id)
              .groupBy("user_id", "lag")
              .agg(F.count(F.lit(1)).cast("long").alias("m"),
                   F.sum(F.col("ya") * F.col("yb")).cast("long")
                   .alias("sab"),
                   F.sum(F.col("ya") + F.col("yb")).cast("long")
                   .alias("sapb")))
    num = (F.col("n") * F.col("n") * F.col("sab")
           - F.col("n") * F.col("sy") * F.col("sapb")
           + F.col("m") * F.col("sy") * F.col("sy"))
    den = F.col("n") * (F.col("n") * F.col("syy")
                        - F.col("sy") * F.col("sy"))
    return (lagged.join(stats, "user_id")
            .select("user_id", F.col("lag").cast("int").alias("lag"),
                    F.col("n").alias("n_days"),
                    F.col("m").alias("n_pairs"),
                    F.floor(num.cast("double") / den.cast("double")
                            * 10000).cast("long").alias("acf_e4")))


@register(
    "theil_sen_trend",
    # floor() over the pair-slope division is engine-safe because the
    # denominator is bounded: x2-x1 <= |days|, so a non-integer true
    # quotient sits at least 1/|days| away from the next integer while
    # the correctly-rounded double division errs by <= 1 ulp (~6e-5 at
    # the 1e11 numerator scale) — floor can never flip. The median
    # picks a VALUE at a rank, so slope ties need no tie-break.
    oracle="""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
eligible AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1 HAVING COUNT(*) >= 5),
slopes AS (
  SELECT a.user_id,
         CAST(floor(CAST((b.y - a.y) * 10000 AS DOUBLE)
                    / CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS slope_e4
  FROM daily a
  JOIN daily b ON b.user_id = a.user_id AND b.x > a.x
  JOIN eligible e ON e.user_id = a.user_id),
ranked AS (
  SELECT user_id, slope_e4,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY slope_e4) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS m
  FROM slopes)
SELECT r.user_id, e.n_days, CAST(r.m AS BIGINT) AS n_pairs,
       r.slope_e4 AS ts_slope_e4
FROM ranked r JOIN eligible e USING (user_id)
WHERE r.rn = (r.m + 1) // 2
""",
    description="Per-user Theil-Sen robust trend — the exact median of "
                "all pairwise daily-spend slopes (lower median at rank "
                "ceil(m/2)), the breakdown-point-29% robust sibling of "
                "grouped_ols_trend's least squares (one wild outlier "
                "day swings OLS but moves a median of 465 pair slopes "
                "barely at all), over the SAME shared ols_daily_grid. "
                "The pairwise expansion is VALUE-DOMAIN-bounded, never "
                "fact-bounded: pairs form on the already-aggregated "
                "|users| x |days| grid (<= C(|days|, 2) = a few "
                "hundred per user at any event volume), so the classic "
                "O(n^2) objection to Theil-Sen doesn't bite — the "
                "quadratic term is in the bounded day count, exactly "
                "the rank_test value-domain playbook. Slopes scale to "
                "exact integers (floor(dy * 1e4 / dx), engine-safe by "
                "the bounded-denominator argument above); the median "
                "is a per-user rank pick over at most 465 rows — a "
                "window over the pair frame, never over facts.",
    tags=("relational", "analytics", "regression", "timeseries"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return theil_sen_report_from_daily(ols_daily_grid(ev))


def theil_sen_report_from_daily(daily: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #20: the
    median-of-pair-slopes robust trend from the (user_id, x, y) grid,
    staged once (three consumers: both pair sides and the eligibility
    counts; without staging the planner re-aggregates the fact scan
    per consumer — the q15 lesson)."""
    daily = daily.localCheckpoint(eager=False)
    eligible = (daily.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
                .where(F.col("n_days") >= 5))
    a = daily.select("user_id", F.col("x").alias("xa"),
                     F.col("y").alias("ya"))
    b = daily.select("user_id", F.col("x").alias("xb"),
                     F.col("y").alias("yb"))
    slopes = (a.join(b, (a.user_id == b.user_id) & (b.xb > a.xa))
              .drop(b.user_id)
              .join(eligible, "user_id")
              .select("user_id", "n_days",
                      F.floor(((F.col("yb") - F.col("ya")) * 10000)
                              .cast("double")
                              / (F.col("xb") - F.col("xa")).cast("double"))
                      .cast("long").alias("slope_e4")))
    w = Window.partitionBy("user_id").orderBy("slope_e4")
    ranked = slopes.select(
        "user_id", "n_days", "slope_e4",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id"))
        .cast("long").alias("m"))
    return (ranked.where(F.col("rn")
                         == F.floor((F.col("m") + 1) / F.lit(2)))
            .select("user_id", "n_days",
                    F.col("m").alias("n_pairs"),
                    F.col("slope_e4").alias("ts_slope_e4")))


@register(
    "mann_kendall_trend",
    # Everything up to the sqrt is exact integer arithmetic: S (the
    # signed pair count), the tie term, and var18 = n(n-1)(2n+5) -
    # sum_t t(t-1)(2t+5) (18*Var(S), kept unscaled so it stays a
    # BIGINT); z and the Chebyshev p then come from identical IEEE
    # trees (sqrt of a double quotient, one division) floor-scaled —
    # the BH-FDR discipline, which also supplies the p = min(1, 1/z^2)
    # bound that needs no normal CDF.
    oracle="""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
eligible AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily GROUP BY 1 HAVING COUNT(*) >= 8),
s_stat AS (
  SELECT a.user_id,
         CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a
  JOIN daily b ON b.user_id = a.user_id AND b.x > a.x
  JOIN eligible e ON e.user_id = a.user_id
  GROUP BY 1),
ties AS (
  SELECT user_id,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS t
        FROM daily GROUP BY user_id, y)
  GROUP BY 1),
stats AS (
  SELECT e.user_id, e.n, s.s,
         e.n * (e.n - 1) * (2 * e.n + 5)
           - COALESCE(t.tie_term, 0) AS var18
  FROM eligible e
  JOIN s_stat s USING (user_id)
  LEFT JOIN ties t USING (user_id)
  WHERE e.n * (e.n - 1) * (2 * e.n + 5) - COALESCE(t.tie_term, 0) > 0),
z AS (
  SELECT user_id, n AS n_days, s AS s_stat, var18,
         CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                              / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              ELSE 0.0 END AS zval
  FROM stats)
SELECT user_id, n_days, s_stat, var18,
       CAST(floor(zval * 1000000) AS BIGINT) AS z_e6,
       CASE WHEN zval = 0.0 THEN CAST(1000000 AS BIGINT)
            ELSE LEAST(CAST(1000000 AS BIGINT),
                       CAST(floor(1000000 / (zval * zval)) AS BIGINT))
       END AS p_cheb_e6
FROM z
""",
    description="Per-user Mann-Kendall trend TEST over daily spend — "
                "the nonparametric significance companion to "
                "theil_sen_trend (Theil-Sen answers 'how steep', "
                "Mann-Kendall answers 'is the monotone trend real'): "
                "S = sum of sign(y_j - y_i) over day-ordered pairs, "
                "tie-corrected variance 18*Var(S) = n(n-1)(2n+5) - "
                "sum_t t(t-1)(2t+5) kept as an exact BIGINT, the "
                "continuity-corrected z = (S -/+ 1)/sqrt(Var), and the "
                "distribution-free Chebyshev bound p <= 1/z^2 (the "
                "BH-FDR convention — valid and engine-exact where a "
                "normal CDF is in neither engine). The pair expansion "
                "rides the SAME value-domain argument as Theil-Sen: "
                "pairs form on the already-aggregated |users| x |days| "
                "grid (<= C(|days|, 2) per user at any event volume), "
                "staged once via localCheckpoint; S, ties, and var18 "
                "are map-side-combinable integer aggregates.",
    tags=("relational", "analytics", "experiment", "timeseries"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return mann_kendall_report_from_daily(ols_daily_grid(ev))


def mann_kendall_report_from_daily(daily: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #20: the
    tie-corrected Mann-Kendall test from the (user_id, x, y) grid,
    staged once (three consumers: both pair sides and the tie counts)."""
    daily = daily.localCheckpoint(eager=False)
    eligible = (daily.groupBy("user_id")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .where(F.col("n") >= 8))
    a = daily.select("user_id", F.col("x").alias("xa"),
                     F.col("y").alias("ya"))
    b = daily.select("user_id", F.col("x").alias("xb"),
                     F.col("y").alias("yb"))
    s_stat = (a.join(b, (a.user_id == b.user_id) & (b.xb > a.xa))
              .drop(b.user_id)
              .join(eligible, "user_id")
              .groupBy("user_id")
              .agg(F.sum(F.when(F.col("yb") > F.col("ya"), 1)
                         .when(F.col("yb") < F.col("ya"), -1)
                         .otherwise(0)).cast("long").alias("s")))
    ties = (daily.groupBy("user_id", "y")
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .groupBy("user_id")
            .agg(F.sum(F.col("t") * (F.col("t") - 1)
                       * (2 * F.col("t") + 5)).cast("long")
                 .alias("tie_term")))
    var18 = (F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
             - F.coalesce(F.col("tie_term"), F.lit(0)))
    stats = (eligible.join(s_stat, "user_id")
             .join(ties, "user_id", "left")
             .select("user_id", "n", "s", var18.alias("var18"))
             .where(F.col("var18") > 0))
    den = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    zval = (F.when(F.col("s") > 0, (F.col("s") - 1).cast("double") / den)
            .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / den)
            .otherwise(F.lit(0.0)))
    z = stats.select("user_id", F.col("n").alias("n_days"),
                     F.col("s").alias("s_stat"), "var18",
                     zval.alias("zval"))
    return z.select(
        "user_id", "n_days", "s_stat", "var18",
        F.floor(F.col("zval") * 1000000).cast("long").alias("z_e6"),
        F.when(F.col("zval") == 0.0, F.lit(1000000).cast("long"))
        .otherwise(F.least(F.lit(1000000).cast("long"),
                           F.floor(F.lit(1000000)
                                   / (F.col("zval") * F.col("zval")))
                           .cast("long")))
        .alias("p_cheb_e6"))


@register(
    "winsorized_spend_means",
    # Exactness: the P10/P90 cuts are percentile_disc values (the
    # ordered_set_percentiles cross-multiplication 10*cum >= n /
    # 10*cum >= 9*n, matching DuckDB's native percentile_disc), the
    # winsorized sum is an exact BIGINT (per-value count x clipped
    # cents over the DISTINCT value domain == per-row clipping, without
    # a second fact pass), and both means are exact integer divisions.
    oracle="""
WITH f AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders),
cuts AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS s,
         CAST(percentile_disc(0.10) WITHIN GROUP (ORDER BY cents)
              AS BIGINT) AS cut_lo_cents,
         CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY cents)
              AS BIGINT) AS cut_hi_cents
  FROM f GROUP BY 1),
wins AS (
  SELECT f.o_orderpriority,
         CAST(SUM(LEAST(GREATEST(f.cents, c.cut_lo_cents),
                        c.cut_hi_cents)) AS BIGINT) AS ws
  FROM f JOIN cuts c USING (o_orderpriority)
  GROUP BY 1)
SELECT c.o_orderpriority, c.n_orders, c.cut_lo_cents, c.cut_hi_cents,
       c.s * 100 // c.n_orders AS mean_ce2,
       w.ws * 100 // c.n_orders AS winsorized_mean_ce2
FROM cuts c JOIN wins w USING (o_orderpriority)
""",
    description="Per-priority winsorized spend means — the robust "
                "location estimate a reporting layer wants next to the "
                "raw mean (clip every order's price to the exact "
                "per-priority [P10, P90] before averaging; one fat-"
                "finger order no longer moves the number): cuts are "
                "EXACT percentile_disc values via the ordered-set "
                "cross-multiplication over the shared "
                "priority_cents_cumulative value-domain frame, and the "
                "winsorized sum is computed on that SAME frame "
                "(per-distinct-value count x clipped value == per-row "
                "clipping) — one fact pass, one value-domain window, "
                "no row-level second scan, both means exact integer "
                "divisions. The raw-vs-winsorized delta column is the "
                "tail-mass reading.",
    tags=("relational", "analytics", "percentile", "quality"),
)
def winsorized_spend_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dom = priority_cents_cumulative(orders).localCheckpoint(eager=False)
    wp = Window.partitionBy("o_orderpriority")
    wlag = wp.orderBy("cents")
    dom = dom.select(
        "o_orderpriority", "cents", "cum", "n",
        (F.col("cum") - F.coalesce(F.lag("cum").over(wlag), F.lit(0)))
        .alias("c"))
    cuts = dom.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.sum(F.col("c") * F.col("cents")).cast("long").alias("s"),
        F.min(F.when(10 * F.col("cum") >= F.col("n"), F.col("cents")))
        .cast("long").alias("cut_lo_cents"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("cents")))
        .cast("long").alias("cut_hi_cents"))
    wins = (dom.join(cuts.select("o_orderpriority", "cut_lo_cents",
                                 "cut_hi_cents"),
                     "o_orderpriority")
            .groupBy("o_orderpriority")
            .agg(F.sum(F.col("c")
                       * F.least(F.greatest(F.col("cents"),
                                            F.col("cut_lo_cents")),
                                 F.col("cut_hi_cents")))
                 .cast("long").alias("ws")))
    return (cuts.join(wins, "o_orderpriority")
            .select("o_orderpriority", "n_orders",
                    "cut_lo_cents", "cut_hi_cents",
                    F.expr("s * 100 div n_orders").alias("mean_ce2"),
                    F.expr("ws * 100 div n_orders")
                    .alias("winsorized_mean_ce2")))


@register(
    "event_type_crosscorr",
    # Same engine-agreement discipline as spend_autocorrelation: exact
    # BIGINT partials, ONE identical IEEE floor-scaled division —
    # extended from auto- to CROSS-correlation over the |types| x |days|
    # daily-count grid.
    oracle="""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2),
paired AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, k.lag AS lag,
         CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(a.y) AS BIGINT) AS sa,
         CAST(SUM(b.y) AS BIGINT) AS sb,
         CAST(SUM(a.y * a.y) AS BIGINT) AS saa,
         CAST(SUM(b.y * b.y) AS BIGINT) AS sbb,
         CAST(SUM(a.y * b.y) AS BIGINT) AS sab
  FROM daily a
  JOIN (SELECT unnest([0, 1, 2]) AS lag) k ON TRUE
  JOIN daily b ON b.event_type <> a.event_type AND b.x = a.x + k.lag
  GROUP BY 1, 2, 3)
SELECT type_a, type_b, CAST(lag AS INTEGER) AS lag, m,
       CAST(floor(
         CAST(m * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(m * saa - sa * sa AS DOUBLE)
                * CAST(m * sbb - sb * sb AS DOUBLE))
         * 10000) AS BIGINT) AS xcorr_e4
FROM paired
WHERE m >= 8 AND m * saa - sa * sa > 0 AND m * sbb - sb * sb > 0
""",
    description="Directed event-type pairs' daily-count cross-correlation "
                "at lags 0..2 — spend_autocorrelation's exact-BIGINT/one-"
                "IEEE-division discipline extended from auto- to "
                "cross-correlation over the |types| x |days| grid; guards "
                "mirror ACF (m >= 8, positive variances).",
    tags=("analytics", "timeseries", "window"),
)
def event_type_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does today's type-a count predict today+lag's type-b count?
    Bounded everywhere: the daily grid is |types| x |days| (never
    fact-sized), partials are exact BIGINTs (counts <= ~1e4/day, so
    m*saa <= ~1e14 — far inside int64), and both engines execute ONE
    identical IEEE floor(num / sqrt(d1 * d2) * 1e4)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .localCheckpoint(eager=False))
    a = daily.select(F.col("event_type").alias("type_a"),
                     F.col("x").alias("xa"), F.col("y").alias("ya"))
    lags = a.select(
        "type_a", "xa", "ya",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("lag"))
    b = daily.select(F.col("event_type").alias("type_b"),
                     F.col("x").alias("xb"), F.col("y").alias("yb"))
    paired = (lags.join(b, (F.col("type_b") != F.col("type_a"))
                        & (F.col("xb") == F.col("xa") + F.col("lag")))
              .groupBy("type_a", "type_b", "lag")
              .agg(F.count(F.lit(1)).cast("long").alias("m"),
                   F.sum("ya").cast("long").alias("sa"),
                   F.sum("yb").cast("long").alias("sb"),
                   F.sum(F.col("ya") * F.col("ya")).cast("long")
                   .alias("saa"),
                   F.sum(F.col("yb") * F.col("yb")).cast("long")
                   .alias("sbb"),
                   F.sum(F.col("ya") * F.col("yb")).cast("long")
                   .alias("sab")))
    d1 = F.col("m") * F.col("saa") - F.col("sa") * F.col("sa")
    d2 = F.col("m") * F.col("sbb") - F.col("sb") * F.col("sb")
    num = F.col("m") * F.col("sab") - F.col("sa") * F.col("sb")
    return (paired
            .where((F.col("m") >= 8) & (d1 > 0) & (d2 > 0))
            .select("type_a", "type_b",
                    F.col("lag").cast("int").alias("lag"), "m",
                    F.floor(num.cast("double")
                            / F.sqrt(d1.cast("double") * d2.cast("double"))
                            * 10000).cast("long").alias("xcorr_e4")))


@register(
    "isotonic_monthly_revenue",
    # Oracle: the minimax characterization
    # fitted(k) = max_{i<=k} min_{j>=k} avg(y[i..j]) — a closed-form SQL
    # equivalent of PAV over prefix sums, every min/max decided by
    # HUGEINT cross-multiplication and the same gcd reduction
    # canonicalizing tied representatives.
    # PAV == minimax is the engine-agreement proof.
    oracle="""
WITH per AS (
  SELECT (year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1
),
pre AS (
  SELECT m, row_number() OVER (ORDER BY m) AS r,
         SUM(s) OVER (ORDER BY m) AS ps,
         SUM(c) OVER (ORDER BY m) AS pc
  FROM per
),
ranges AS (
  SELECT i.r AS ri, j.r AS rj,
         CAST(j.ps - COALESCE(ip.ps, 0) AS HUGEINT) AS num,
         CAST(j.pc - COALESCE(ip.pc, 0) AS HUGEINT) AS den
  FROM pre i
  JOIN pre j ON i.r <= j.r
  LEFT JOIN pre ip ON ip.r = i.r - 1
),
minj AS (
  -- for each start i and position k in [i..]: the minimum over j >= k
  -- of avg(i..j), decided by exact cross-multiplication; equal-valued
  -- representatives collapse after gcd reduction
  SELECT DISTINCT r1.ri, k.r AS k,
         CAST(r1.num // gcd(r1.num, r1.den) AS BIGINT) AS num,
         CAST(r1.den // gcd(r1.num, r1.den) AS BIGINT) AS den
  FROM ranges r1 JOIN pre k ON r1.ri <= k.r AND r1.rj >= k.r
  WHERE NOT EXISTS (
    SELECT 1 FROM ranges r2
    WHERE r2.ri = r1.ri AND r2.rj >= k.r
      AND r2.num * r1.den < r1.num * r2.den)
),
fitted AS (
  -- minimax: fitted(k) = max over i <= k of minj(i, k)
  SELECT DISTINCT mj.k, mj.num, mj.den
  FROM minj mj
  WHERE NOT EXISTS (
    SELECT 1 FROM minj m2
    WHERE m2.k = mj.k
      AND CAST(m2.num AS HUGEINT) * mj.den > CAST(mj.num AS HUGEINT) * m2.den)
)
SELECT p.m AS month_idx, per.c AS n_orders, f.num AS fitted_num,
       f.den AS fitted_den
FROM fitted f JOIN pre p ON p.r = f.k JOIN per ON per.m = p.m
""",
    description="Isotonic regression (non-decreasing mean order price over "
                "the month index) via Pool-Adjacent-Violators on exact "
                "BIGINT-cents partials: one distributed aggregation, then "
                "driver PAV over the bounded month domain with integer "
                "cross-multiplied comparisons; fitted values emitted as "
                "gcd-reduced exact rationals. Oracle: the minimax "
                "characterization max_i min_j avg(i..j) closed-form in "
                "SQL with HUGEINT cross-products — PAV == minimax is the "
                "engine-agreement proof.",
    tags=("analytics", "regression", "exact"),
)
def isotonic_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (non-decreasing) regression of mean order price over the
    absolute month index, fit by Pool-Adjacent-Violators on EXACT
    integer partials.

    Scale shape: the heavy lift — per-month (sum_cents, count) — is one
    distributed exact BIGINT aggregation over the fact table; PAV then
    runs on the DRIVER over the collected per-month partials, a
    BOUNDED-DOMAIN collect (months in the data span, ~84 at any SF —
    the IVF-training-sample discipline: the collect is bounded by the
    domain, never by the data). Pooling compares block means by integer
    CROSS-MULTIPLICATION (prev.s * cur.c >= cur.s * prev.c — positive
    denominators), so no IEEE division anywhere; fitted values are
    emitted as REDUCED exact rationals (num/gcd, den/gcd), which makes
    the output representation-independent and engine-identical. (At
    100 TB the oracle's cross-products exceed int64 — DuckDB computes
    them in HUGEINT; the shipped plan needs no cross-products at all:
    the driver PAV is arbitrary-precision Python.)"""
    from math import gcd

    orders = load_table(spark, sf_dir, "orders")
    month = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1) \
        .cast("long")
    per = (orders.groupBy(month.alias("month_idx"))
           .agg(F.sum(cents("o_totalprice")).alias("s"),
                F.count(F.lit(1)).cast("long").alias("c"))
           .orderBy("month_idx").collect())  # bounded: |months in span|
    blocks: list[list] = []  # [months, sum_cents, count]
    for r in per:
        cur = [[r.month_idx], r.s, r.c]
        # pool while the previous block's mean >= this one's (exact
        # cross-multiplied comparison; merging on equality is value-
        # neutral — the pooled mean equals both)
        while blocks and blocks[-1][1] * cur[2] >= cur[1] * blocks[-1][2]:
            prev = blocks.pop()
            cur = [prev[0] + cur[0], prev[1] + cur[1], prev[2] + cur[2]]
        blocks.append(cur)
    n_by_month = {r.month_idx: r.c for r in per}
    rows = []
    for months, s, c in blocks:
        g = gcd(s, c)
        for m in months:
            rows.append((m, n_by_month[m], s // g, c // g))
    return spark.createDataFrame(
        rows, "month_idx BIGINT, n_orders BIGINT, "
              "fitted_num BIGINT, fitted_den BIGINT")
