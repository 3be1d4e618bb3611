"""Relational operator coverage — one named query per SURVEY.md §2 primitive
family that the reference exercises (plus the standard-agg generalizations it
lists as trivially available: countDistinct, avg/min/max/stddev, rollup,
top-k-per-key windows).

All queries are deterministic: any LIMIT / row_number is fully tie-broken.
Derived double aggregates use engine-portable rounding
(functions.portable.rnd, see that module for the boundary analysis); raw
stored doubles are projected unrounded — they are bit-identical across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd, rnd_sql
from music_recommendation_service_spark.operators.topk import topk, topk_per_key
from music_recommendation_service_spark.plans import register
from music_recommendation_service_spark.sources.catalog import (
    EVENT_TYPES as _EVENT_TYPES,
    load_table as _t,
)


# ---------------------------------------------------------------------------
# q06 — pricing summary (TPC-H Q1 shape): partial+final hash agg with
# multiple aggregates per group (A1/A4 generalized; SURVEY.md §2.4).
# ---------------------------------------------------------------------------
@register(
    "q06_pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {rnd_sql("sum(l_quantity)", 2)}                         AS sum_qty,
           {rnd_sql("sum(l_extendedprice)", 2)}                    AS sum_base_price,
           {rnd_sql("sum(l_extendedprice * (1 - l_discount))", 2)} AS sum_disc_price,
           {rnd_sql("avg(l_quantity)", 6)}                         AS avg_qty,
           {rnd_sql("avg(l_extendedprice)", 6)}                    AS avg_price,
           {rnd_sql("avg(l_discount)", 6)}                         AS avg_disc,
           CAST(count(*) AS BIGINT)                                AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
    tags=("A1", "A4", "P4"),
)
def q06_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rnd(F.sum("l_quantity"), 2).alias("sum_qty"),
            rnd(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            rnd(F.avg("l_quantity"), 6).alias("avg_qty"),
            rnd(F.avg("l_extendedprice"), 6).alias("avg_price"),
            rnd(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q07 — global top-k by sort+limit (O2/O5) -> TakeOrderedAndProject, no
# global sort shuffle. Fully tie-broken ordering.
# ---------------------------------------------------------------------------
@register(
    "q07_top_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("O2",),
)
def q07_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return topk(o, 10, F.desc("o_totalprice"), F.asc("o_orderkey")).select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("total_price")
    )


# ---------------------------------------------------------------------------
# q08 — projection + rename + derived column + compound predicate
# (P1,P2,P3,P4,P5,F2). Filters and pruned columns reach the parquet scan.
# ---------------------------------------------------------------------------
@register(
    "q08_filter_project",
    oracle="""
    SELECT o_orderkey,
           o_custkey                        AS customer_id,
           o_totalprice                     AS total_price,
           CAST(year(o_orderdate) AS INT)   AS order_year,
           CAST(month(o_orderdate) AS INT)  AS order_month
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_totalprice > 150000
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("P1", "P2", "P3", "P4", "P5", "F2"),
)
def q08_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") > 150000)
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("customer_id"),
            F.col("o_totalprice").alias("total_price"),
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
    )


# ---------------------------------------------------------------------------
# q09 — distinct projection (P6).
# ---------------------------------------------------------------------------
@register(
    "q09_distinct_custkeys",
    oracle="SELECT DISTINCT o_custkey FROM orders",
    tags=("P6",),
)
def q09_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select("o_custkey").distinct()


# ---------------------------------------------------------------------------
# q10 — dim-chain enrichment joins (J1): fact -> customer -> nation -> region.
# nation/region are broadcast; customer-side join is AQE's call at scale.
# ---------------------------------------------------------------------------
@register(
    "q10_join_enrich",
    oracle="""
    SELECT o.o_orderkey,
           c.c_name  AS customer_name,
           n.n_name  AS nation_name,
           r.r_name  AS region_name,
           o.o_totalprice AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'O'
    """,
    bench=True,
    tags=("J1",),
)
def q10_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(
            "o_orderkey",
            F.col("c_name").alias("customer_name"),
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.col("o_totalprice").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q11/q12 — semi & anti joins (J4/J8). Semi/anti never widen rows, so they
# shuffle only the keys — the scalable form of IN / NOT IN.
# ---------------------------------------------------------------------------
@register(
    "q11_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("J4",),
)
def q11_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q12_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("J8",),
)
def q12_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# q13 — left join + zero-fill (J5/P7), the analyze_listening_data.py:32-33
# pattern generalized.
# ---------------------------------------------------------------------------
@register(
    "q13_left_join_fill",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(o.n, 0) AS order_count
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
    tags=("J5", "P7", "A3"),
)
def q13_left_join_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("order_count"))
    return (
        c.join(counts, c.c_custkey == counts.o_custkey, "left")
        .select("c_custkey", "order_count")
        .na.fill(0, ["order_count"])
    )


# ---------------------------------------------------------------------------
# q14 — union + distinct (U1), the analyze_listening_data.py:19-21 pattern.
# ---------------------------------------------------------------------------
@register(
    "q14_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    tags=("U1",),
)
def q14_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# ---------------------------------------------------------------------------
# q15 — top-k per key via window (SURVEY.md §2.5's noted generalization):
# one shuffle on the partition key, rank fully tie-broken.
# ---------------------------------------------------------------------------
@register(
    "q15_top_orders_per_customer",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           o_totalprice      AS total_price,
           CAST(rnk AS INT)  AS rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
    tags=("window", "O5"),
)
def q15_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return topk_per_key(
        o, ["o_custkey"], 3, F.desc("o_totalprice"), F.asc("o_orderkey")
    ).select(
        "o_custkey",
        "o_orderkey",
        F.col("o_totalprice").alias("total_price"),
        "rank",
    )


# ---------------------------------------------------------------------------
# q16 — full aggregate battery (§2.4 generalizations): count, countDistinct,
# min/max/avg/stddev.
# ---------------------------------------------------------------------------
@register(
    "q16_agg_stats",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)                    AS n_customers,
           CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           {rnd_sql("avg(c_acctbal)", 4)}              AS avg_bal,
           min(c_acctbal)                              AS min_bal,
           max(c_acctbal)                              AS max_bal,
           {rnd_sql("stddev_samp(c_acctbal)", 4)}      AS std_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("A1", "A3", "countDistinct"),
)
def q16_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        rnd(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
        rnd(F.stddev_samp("c_acctbal"), 4).alias("std_bal"),
    )


# ---------------------------------------------------------------------------
# q17 — date derivations + daily rollup of the event stream (P3,F1-F5).
# ---------------------------------------------------------------------------
@register(
    "q17_daily_event_stats",
    oracle=f"""
    SELECT CAST(ts AS DATE)              AS event_date,
           CAST(year(ts) AS INT)         AS year,
           CAST(month(ts) AS INT)        AS month,
           event_type,
           CAST(count(*) AS BIGINT)      AS n_events,
           {rnd_sql("sum(value)", 2)}    AS total_value
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    bench=True,
    tags=("P3", "F1", "F2", "A1"),
)
def q17_daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("event_date", F.to_date("ts"))
        .withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .groupBy("event_date", "year", "month", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# q18 — JSON extraction (F7/F8): the stream-parse pattern
# (process_recommendation_events.py:66-67) on the events.props payload.
# ---------------------------------------------------------------------------
@register(
    "q18_json_extract",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT)                            AS n,
           CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY 1
    """,
    tags=("F7", "F8"),
)
def q18_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# q19 — conditional bucketing (CASE WHEN) + aggregation.
# ---------------------------------------------------------------------------
@register(
    "q19_price_buckets",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                ELSE 'large' END             AS bucket,
           CAST(count(*) AS BIGINT)          AS n_orders,
           {rnd_sql("sum(o_totalprice)", 2)} AS total
    FROM orders
    GROUP BY 1
    """,
    tags=("P4", "case"),
)
def q19_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# q20 — rollup (grouping-sets family; "not present" in the reference,
# SURVEY.md §2.4, exposed as the engine generalization).
# ---------------------------------------------------------------------------
@register(
    "q20_rollup_orders",
    oracle=f"""
    SELECT c.c_mktsegment,
           o.o_orderstatus,
           CAST(count(*) AS BIGINT)            AS n_orders,
           {rnd_sql("sum(o.o_totalprice)", 2)} AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY ROLLUP (c.c_mktsegment, o.o_orderstatus)
    """,
    tags=("rollup",),
)
def q20_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .rollup("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# q40 — approximate aggregates (HLL distinct, approximate percentiles):
# sketch-based, so NO cross-engine oracle (Spark's HLL++/GK differ from
# DuckDB's sketches by design); accuracy is bounds-tested against exact
# values in tests/test_approx.py. At 100 TB these replace exact distincts:
# fixed-size sketch state, one pass, mergeable partials.
# ---------------------------------------------------------------------------
@register(
    "q40_approx_stats",
    oracle=None,  # approximate by design; see tests/test_approx.py bounds
    doc="approx_count_distinct + approx_percentile per event_type "
    "(sketch aggregates; rows-only driver check, bounds-tested in pytest). "
    "Percentiles emitted as two scalar columns, not an array, so the "
    "driver's row-hash comparator can hash every cell.",
    tags=("approx", "sketch"),
)
def q40_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("value", 0.95, 10000).alias("approx_p95"),
    )


# ---------------------------------------------------------------------------
# q41 — set operations the reference lacks (SURVEY.md §2.7 "not present"):
# INTERSECT / EXCEPT as engine generalizations of U1.
# ---------------------------------------------------------------------------
@register(
    "q41_setops",
    oracle="""
    SELECT 'both' AS which, nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    UNION ALL
    SELECT 'only_building', nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    """,
    tags=("setops", "U1"),
)
def q41_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("nationkey")
    )
    m = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_nationkey").alias("nationkey")
    )
    # subtract == SQL EXCEPT (set semantics); exceptAll is bag difference
    # and would keep keys present in BOTH sides when the left has more.
    return b.intersect(m).select(F.lit("both").alias("which"), "nationkey").unionByName(
        b.subtract(m).select(F.lit("only_building").alias("which"), "nationkey")
    )


# ---------------------------------------------------------------------------
# q42 — conditional pivot (CASE-based, fully portable): event-type counts as
# columns per day. One scan, one group-by shuffle — the scalable pivot form
# (Spark's pivot() needs a distinct-values pass or an explicit list anyway).
# ---------------------------------------------------------------------------


@register(
    "q42_pivot_event_types",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date,
           {", ".join(
               f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY 1
    """,
    tags=("pivot",),
)
def q42_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    return e.groupBy(F.to_date("ts").alias("event_date")).agg(*aggs)


# ---------------------------------------------------------------------------
# q43 — exact interpolated percentiles (Spark percentile == DuckDB
# quantile_cont on DOUBLE input).
# ---------------------------------------------------------------------------
@register(
    "q43_percentiles",
    oracle=f"""
    SELECT event_type,
           {rnd_sql("quantile_cont(CAST(value AS DOUBLE), 0.5)", 6)}  AS p50,
           {rnd_sql("quantile_cont(CAST(value AS DOUBLE), 0.95)", 6)} AS p95
    FROM events
    GROUP BY event_type
    """,
    tags=("percentile", "A-family"),
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        rnd(F.expr("percentile(CAST(value AS DOUBLE), 0.5)"), 6).alias("p50"),
        rnd(F.expr("percentile(CAST(value AS DOUBLE), 0.95)"), 6).alias("p95"),
    )


# ---------------------------------------------------------------------------
# q46 — shipping-priority (TPC-H Q3 shape): 3-way join with selective
# filters on both fact sides, revenue aggregate, top-10. The plan to want:
# pushed filters on all three scans, customer broadcast if small enough
# (AQE's call), TakeOrderedAndProject for the limit.
# ---------------------------------------------------------------------------
@register(
    "q46_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {rnd_sql("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
           o.o_orderdate,
           CAST(count(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    bench=True,
    tags=("tpch", "J1", "A1", "O2"),
)
def q46_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import fits_broadcast

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    co = c.join(o, c.c_custkey == o.o_custkey)
    # The orders ⋈ lineitem leg is fact-fact: when lineitem's 4-column
    # slice cannot fit the broadcast threshold (footer-counted rows, not
    # the compressed-file estimate the planner would trust), pin the join
    # to shuffled-hash building the smaller c⋈o side — at sf1 the planner
    # otherwise broadcasts the FACT, a serial multi-second hash build that
    # no core count parallelizes (measured: q47's twin shape 4.2-4.9s ->
    # 1.0-1.3s; 8-vs-32-core ratio was 0.96, i.e. fully serial). At sf0.1
    # the slice fits and the all-broadcast plan is byte-identical.
    #
    # Session settings do not replace it. On 4 cores at sf1
    # (AB_pr9_sizing.json) q46 ran 2.25-3.06 s warm with the guard, 5.31 s
    # without it, and 3.70 s without it under a 10 MB static / 64 MB
    # adaptive broadcast threshold, which also slowed q51 at sf0.1 by
    # shuffling dimension joins it used to broadcast.
    if fits_broadcast(l, ncols=4) is False:
        co = co.hint("shuffle_hash")
    return (
        co.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q47 — local-supplier volume (TPC-H Q5 shape): 6-way join where lineitem's
# supplier and the order's customer must share a nation, region-filtered.
# nation/region broadcast; the c_nationkey = s_nationkey residual rides the
# supplier join.
# ---------------------------------------------------------------------------
@register(
    "q47_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {rnd_sql("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    bench=True,
    tags=("tpch", "J1", "A1"),
)
def q47_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.catalog import fits_broadcast

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    co = c.join(o, c.c_custkey == o.o_custkey)
    # Same fact-fact guard as q46: at sf1 the planner's file-size estimate
    # let it broadcast lineitem's 4-column slice (a serial ~240 MB hash
    # build — the 8-vs-32-core ratio was 0.96, fully serial); shuffled-hash
    # building the smaller c⋈o side runs 4.2-4.9s -> 1.0-1.3s interleaved
    # (rows exceptAll-equal both ways). sf0.1 fits and keeps the
    # all-broadcast plan byte-identical. On 4 cores at sf1
    # (AB_pr9_sizing.json): 3.22-3.42 s warm with the guard, 5.33 s
    # without, 4.32 s without under the 10 MB / 64 MB thresholds.
    if fits_broadcast(l, ncols=4) is False:
        co = co.hint("shuffle_hash")
    return (
        co.join(l, o.o_orderkey == l.l_orderkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# q50 — correlated-subquery decorrelation (TPC-H Q17 shape): lineitems below
# 20% of their part's average quantity. Spark expresses the correlation as
# an explicit pre-aggregated join (the decorrelated plan every optimizer
# targets: one partial+final agg on l_partkey, one equi-join — no per-row
# subquery execution); the oracle keeps the correlated form, so the test
# proves the decorrelation is semantics-preserving.
# ---------------------------------------------------------------------------
@register(
    "q50_small_quantity_orders",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_small,
           {rnd_sql("sum(l.l_extendedprice) / 7.0", 2)} AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    """,
    tags=("tpch", "correlated-subquery"),
)
def q50_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    avg_qty = l.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        l.join(avg_qty, l.l_partkey == avg_qty.p_key)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            rnd(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        )
    )


# ---------------------------------------------------------------------------
# q51 — two-nation trade volume (TPC-H Q7 shape): revenue shipped between a
# pair of nations in either direction, by ship year. Six-way join; both
# nation sides broadcast (25 rows), the symmetric nation-pair predicate is
# applied AFTER the broadcasts so it rides the join as a residual filter —
# no extra shuffle. The big fact-fact join (orders ⋈ lineitem) stays a
# single shuffle on orderkey.
# ---------------------------------------------------------------------------
@register(
    "q51_nation_trade_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {rnd_sql("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    bench=True,
    tags=("tpch", "J1", "A1", "F2"),
)
def q51_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # Pre-filter both nation dims to the two nations of interest: the filter
    # cascades through the broadcast joins, shrinking supplier/customer
    # before the fact join (partition pruning the dims, not post-filtering).
    n_pair = F.col("n_name").isin("NATION_3", "NATION_8")
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").filter(n_pair).select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").filter(n_pair).select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    # The nation-sliced supplier dim (2 of 25 nations, O(suppliers/12)
    # rows at every scale) is the side to broadcast into the lineitem
    # probe. The planner cannot see that from estimates: a join's size
    # estimate is the product of its inputs', far above the threshold.
    sn = F.broadcast(s.join(n1, s.s_nationkey == F.col("n1_key")))
    sl = sn.join(l, s.s_suppkey == l.l_suppkey)
    return (
        sl.join(o, o.o_orderkey == l.l_orderkey)
        .join(c.join(n2, c.c_nationkey == F.col("n2_key")), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# q52 — national market share (TPC-H Q8 shape): a nation's share of regional
# revenue for one part type, by order year. The share is a conditional-sum /
# total-sum ratio — sum(CASE WHEN ...) / sum(...) in one aggregate pass, no
# second scan or self-join.
# ---------------------------------------------------------------------------
@register(
    "q52_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {rnd_sql(
               "sum(CASE WHEN n2.n_name = 'NATION_7' "
               "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) "
               "/ sum(l.l_extendedprice * (1 - l.l_discount))", 6)} AS mkt_share
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
    JOIN region r   ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'PROMO'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY year(o.o_orderdate)
    """,
    tags=("tpch", "J1", "A1", "case"),
)
def q52_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(_t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO"))
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n1 = F.broadcast(_t(spark, sf_dir, "nation"))
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
        )
    )
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n1, c.c_nationkey == n1.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            rnd(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# q53 — dormant high-balance customers (TPC-H Q22 shape): customers whose
# balance beats the global positive-balance average and who placed NO order
# in the trailing 18 months, grouped by nation. Two decorrelations in one
# query: the scalar-aggregate subquery becomes a 1-row broadcast cross-join;
# NOT EXISTS becomes a left-anti join (with the date predicate pushed into
# the anti side's scan). Both are exactly what Catalyst's RewriteCorrelated
# rules produce — here declared explicitly so the plan is visible.
# ---------------------------------------------------------------------------
DORMANT_CUTOFF = "2000-02-01"  # orders span 1995-01-01 .. 2001-08-01


@register(
    "q53_dormant_customers",
    oracle=f"""
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           {rnd_sql("sum(c.c_acctbal)", 2)} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '{DORMANT_CUTOFF} 00:00:00'
    )
    GROUP BY c.c_nationkey
    """,
    tags=("tpch", "J8", "scalar-subquery", "anti-join"),
)
def q53_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(f"{DORMANT_CUTOFF} 00:00:00").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            rnd(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q54 — cumulative analytics (window-frame family): per-customer running
# spend, previous-order gap (lag), and trailing-3-order moving average over
# the order history. One Window spec (partitionBy custkey, orderBy date+key)
# serves all three functions — a single shuffle + sort, three frame scans.
# ---------------------------------------------------------------------------
@register(
    "q54_running_spend",
    oracle=f"""
    SELECT o_custkey,
           o_orderkey,
           {rnd_sql(
               "sum(o_totalprice) OVER ("
               "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)", 2)}
             AS running_spend,
           CAST(date_diff('day',
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS BIGINT) AS days_since_prev,
           {rnd_sql(
               "avg(o_totalprice) OVER ("
               "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
               "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 4)} AS trailing3_avg
    FROM orders
    WHERE o_custkey % 10 = 0
    """,
    tags=("window", "lag", "frame", "running-sum"),
)
def q54_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        rnd(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
        .alias("running_spend"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("days_since_prev"),
        rnd(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias("trailing3_avg"),
    )


# ---------------------------------------------------------------------------
# q55 — cube with grouping_id: order counts and revenue across every
# combination of (orderstatus, orderpriority) including both marginals and
# the grand total. Spark plans a single Expand + hash-agg — one scan, one
# shuffle, all 4 grouping sets.
# ---------------------------------------------------------------------------
@register(
    "q55_status_priority_cube",
    oracle=f"""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
             AS gid,
           CAST(count(*) AS BIGINT) AS n_orders,
           {rnd_sql("sum(o_totalprice)", 2)} AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("cube", "grouping-sets", "A1"),
)
def q55_status_priority_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        rnd(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q78 — distribution-rank family completeness: ntile deciles, percent_rank,
# cume_dist, and first/last-value frames over one window spec. Like q54,
# ONE shuffle+sort serves every function; the full-partition frame for
# last_value is explicit (default frames stop at CURRENT ROW).
# ---------------------------------------------------------------------------
@register(
    "q78_balance_distribution",
    oracle=f"""
    SELECT c_custkey,
           c_mktsegment,
           CAST(ntile(10) OVER w AS INT)          AS decile,
           {rnd_sql("percent_rank() OVER w", 6)}  AS pct_rank,
           {rnd_sql("cume_dist() OVER w", 6)}     AS cum_dist,
           first_value(c_custkey) OVER w          AS poorest_custkey,
           last_value(c_custkey) OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           )                                      AS richest_custkey
    FROM customer
    WHERE c_custkey % 20 = 0
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "ntile", "percent_rank", "cume_dist", "frame"),
)
def q78_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(10).over(w).alias("decile"),
        rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        rnd(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.first("c_custkey").over(w).alias("poorest_custkey"),
        F.last("c_custkey").over(w_full).alias("richest_custkey"),
    )


# ---------------------------------------------------------------------------
# q79 — array aggregation: per-customer sorted DISTINCT order-year list
# (collect_set is unordered by contract in BOTH engines — sort_array makes
# it deterministic, the only way list-valued results can be oracle-checked).
# The list is emitted CSV-serialized (concat_ws) so every output cell is a
# hashable scalar for the driver's row-hash comparator; the array op under
# test (collect_set -> sort_array) is unchanged upstream of the serialize.
# ---------------------------------------------------------------------------
@register(
    "q79_order_year_arrays",
    oracle="""
    SELECT c_custkey,
           array_to_string(list_sort(list(DISTINCT CAST(year(o_orderdate) AS INT))), ',')
                                                                    AS order_years,
           CAST(len(list(DISTINCT year(o_orderdate))) AS INT)       AS n_years
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 100 = 0
    GROUP BY c_custkey
    """,
    tags=("array", "collect_set", "A-family"),
)
def q79_order_year_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_set(F.year("o_orderdate")))
            ).alias("order_years"),
            F.size(F.collect_set(F.year("o_orderdate"))).alias("n_years"),
        )
    )


# ---------------------------------------------------------------------------
# q80 — positional array search: first position of a keyword in the token
# stream (array_position / list_position normalized to a common missing
# convention), position-bucket distribution. Pure scan-level projection +
# one small aggregate — the F-family generalized to positional array ops.
# ---------------------------------------------------------------------------
@register(
    "q80_keyword_position",
    oracle="""
    SELECT COALESCE(list_position(string_split(text, ' '), 'customer'), 0) // 10
             AS pos_bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    tags=("array", "position", "F-family"),
)
def q80_keyword_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # Spark array_position: 0 when absent; DuckDB list_position: NULL ->
    # COALESCE to 0. Integer division buckets match exactly.
    pos = F.array_position(F.split("text", " "), "customer")
    return (
        d.select((pos / 10).cast("long").alias("pos_bucket"))
        .groupBy("pos_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q87 — explicit GROUPING SETS (vs q20's ROLLUP and q55's CUBE): the two
# single-column marginals plus the grand total, skipping the (status,
# priority) cross that CUBE would also compute. Spark plans one Expand (3
# replicas instead of CUBE's 4) + one hash aggregate — for report-style
# queries at scale, enumerating exactly the needed sets cuts the expanded
# row volume proportionally. Subtotal rows are labeled 'ALL' via COALESCE
# (both grouping columns are non-null in the data, so the label is
# unambiguous without grouping_id bit-order concerns across engines).
# ---------------------------------------------------------------------------
@register(
    "q87_grouping_sets",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT)         AS n_orders,
           {rnd_sql("sum(o_totalprice)", 2)} AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("grouping-sets", "expand", "A1"),
)
def q87_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    gs = o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        rnd(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
        "n_orders",
        "revenue",
    )
