"""Wider TPC-H-shaped relational coverage (q56-q67, q92-q95).

The reference's four dataflows exercise only a narrow relational core
(SURVEY.md §2: equi/theta joins, count aggregates, sort+limit). These
queries extend the engine across the remaining classic analytical shapes —
EXISTS/NOT-EXISTS decorrelation, scalar-subquery thresholds, argmax-by-join,
disjunctive pushdown, multi-level aggregation — each expressed as the
decorrelated DataFrame plan Catalyst itself would target, with the DuckDB
oracle keeping the correlated/subquery form so tests prove the rewrite is
semantics-preserving.

Adaptations to the driver testdata (TESTDATA.md): there is no ``partsupp``
table and ``lineitem`` carries no commit/receipt dates or ship modes, so
Q2/Q4/Q11/Q12/Q16/Q20/Q21 shapes are re-anchored on the columns that exist
(``l_returnflag`` for lateness/returns, ``p_retailprice`` for cost,
per-part shipped value for "stock importance") while keeping the *plan
shape* — the thing the engine is exercising — identical.

Scale notes (100 TB):
- Every dim side that is provably small (nation, filtered part slices,
  1-row scalar aggregates, per-supplier rollups) is broadcast explicitly;
  fact-fact joins ride ONE hash shuffle on their natural key.
- Semi/anti joins shuffle only keys, never widen rows (the scalable
  EXISTS / NOT IN form).
- Multi-level aggregates (q61, q66, q67) re-aggregate the OUTPUT of a
  first aggregation — the second shuffle moves group-level rows (orders of
  magnitude smaller than the fact), not the fact itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd, rnd_sql
from music_recommendation_service_spark.plans import register
from music_recommendation_service_spark.sources.catalog import load_table as _t


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# q56 — revenue forecast (TPC-H Q6 shape): single-table filter + global agg.
# The entire query is a scan with three pushable range predicates and a
# partial+final agg — zero shuffles of data rows (only partial-agg results).
# ---------------------------------------------------------------------------
@register(
    "q56_revenue_forecast",
    oracle=f"""
    SELECT {rnd_sql("sum(l_extendedprice * l_discount)", 2)} AS revenue,
           CAST(count(*) AS BIGINT)                          AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
    tags=("tpch", "P4", "P5", "A1"),
)
def q56_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q57 — order-priority checking (TPC-H Q4 shape): EXISTS decorrelated to a
# LEFT SEMI join. The semi join shuffles only l_orderkey (deduplicated
# map-side), never widening order rows; priority agg follows.
# ---------------------------------------------------------------------------
@register(
    "q57_priority_returns",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
    tags=("tpch", "J4", "exists"),
)
def q57_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    returned = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q58 — product-line profit by nation and year (TPC-H Q9 shape, cost proxied
# by p_retailprice since the testdata has no partsupp). Plan: lineitem joins
# broadcast slices of part (name-filtered), supplier, nation; the single
# fact-fact shuffle is lineitem ⋈ orders on orderkey.
# ---------------------------------------------------------------------------
@register(
    "q58_nation_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           {rnd_sql(
               "sum(l.l_extendedprice * (1 - l.l_discount)"
               " - 0.05 * p.p_retailprice * l.l_quantity)", 2)} AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    bench=True,
    tags=("tpch", "J1", "A1", "like"),
)
def q58_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    o = _t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.05
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(rnd(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# q59 — returned-item reporting (TPC-H Q10 shape): revenue lost to returns
# per customer in one half-year, top 20. Filters push to both fact scans;
# nation broadcasts; TakeOrderedAndProject caps the result without a global
# sort shuffle.
# ---------------------------------------------------------------------------
@register(
    "q59_returned_top_customers",
    oracle=f"""
    SELECT c.c_custkey,
           c.c_name,
           n.n_name AS nation,
           {rnd_sql("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch", "J1", "A1", "O2"),
)
def q59_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-07-01 00:00:00"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(n, n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q60 — important parts (TPC-H Q11 shape): parts whose shipped value exceeds
# a threshold derived from a scalar aggregate subquery, decorrelated to a
# 1-row broadcast cross-join. The threshold is 1.5x the MEAN per-part value
# (scale-free — a fixed global fraction like TPC-H's 0.0001/SF selects
# nothing or everything as part cardinality grows with SF), computed by
# re-aggregating the per-part rollup: group-level rows, not the fact.
# ---------------------------------------------------------------------------
@register(
    "q60_important_parts",
    oracle=f"""
    WITH pv AS (
        SELECT l_partkey,
               sum(l_extendedprice * (1 - l_discount)) AS raw_value
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT l_partkey,
           {rnd_sql("raw_value", 2)} AS part_value
    FROM pv
    WHERE raw_value > (SELECT 1.5 * avg(raw_value) FROM pv)
    """,
    tags=("tpch", "scalar-subquery", "having"),
)
def q60_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = l.groupBy("l_partkey").agg(
        F.sum(value).alias("raw_value")
    )
    threshold = per_part.agg(
        (F.lit(1.5) * F.avg("raw_value")).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("raw_value") > F.col("threshold"))
        .select("l_partkey", rnd(F.col("raw_value"), 2).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# q61 — customer order-count distribution (TPC-H Q13 shape): two-level
# aggregation. Level 1 shuffles customer keys; level 2 re-aggregates the
# per-customer counts (|customers| rows, not |orders|). count(col) skips
# the NULLs the left join produces — exactly Q13's semantics.
# ---------------------------------------------------------------------------
@register(
    "q61_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("tpch", "J5", "two-level-agg"),
)
def q61_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q62 — top supplier (TPC-H Q15 shape): argmax by joining a 1-row broadcast
# max against the per-supplier rollup (the "revenue view" computed once in a
# plan the optimizer can reuse). Equality against max is evaluated on the
# SAME engine's aggregate values, so cross-engine float noise cannot change
# which supplier wins (ties would need an ulp-level collision).
# ---------------------------------------------------------------------------
@register(
    "q62_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey,
           s.s_name,
           {rnd_sql("r.total_revenue", 2)} AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("tpch", "argmax", "scalar-subquery"),
)
def q62_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-07-01 00:00:00"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "raw_revenue"
        )
    )
    best = revenue.agg(F.max("raw_revenue").alias("best_revenue"))
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("raw_revenue") == F.col("best_revenue"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            rnd(F.col("raw_revenue"), 2).alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q63 — part/supplier variety (TPC-H Q16 shape): distinct-supplier counts
# per part attribute with a NOT IN exclusion. NOT IN decorrelates to a
# LEFT ANTI join (keys-only shuffle); part is a broadcast dim; the distinct
# count is the only full shuffle.
# ---------------------------------------------------------------------------
@register(
    "q63_part_supplier_variety",
    oracle="""
    SELECT p.p_brand,
           p.p_type,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type
    """,
    tags=("tpch", "J8", "not-in", "countDistinct"),
)
def q63_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
        )
    )
    l = _t(spark, sf_dir, "lineitem")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(bad_supp, l.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q64 — large-volume orders (TPC-H Q18 shape): the IN-subquery over a
# grouped HAVING becomes an inner join against the aggregated keys. The
# heavy groupBy(l_orderkey) and the orders join share the same key, so AQE
# can plan them into one exchange reuse; customer stays a dim join.
# ---------------------------------------------------------------------------
@register(
    "q64_large_volume_orders",
    oracle=f"""
    SELECT c.c_custkey,
           c.c_name,
           o.o_orderkey,
           o.o_orderdate,
           o.o_totalprice AS total_price,
           {rnd_sql("q.total_qty", 2)} AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > 180
    ) q ON q.l_orderkey = o.o_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("tpch", "having", "in-subquery", "O2"),
)
def q64_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 180)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").alias("total_price"),
            rnd(F.col("raw_qty"), 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q65 — disjunctive predicate revenue (TPC-H Q19 shape): OR across three
# brand/size/quantity branches mixing both join sides. The part side of
# each branch prunes the broadcast dim; the OR rides the join as a residual
# — one scan each, no union-of-three-queries explosion.
# ---------------------------------------------------------------------------
@register(
    "q65_disjunctive_revenue",
    oracle=f"""
    SELECT {rnd_sql("sum(l.l_extendedprice * (1 - l.l_discount))", 2)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size <= 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size <= 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_type = 'PROMO' AND l.l_quantity >= 25)
    """,
    tags=("tpch", "disjunction", "J1"),
)
def q65_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size") <= 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size") <= 25)
            & F.col("l_quantity").between(10, 20)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") >= 25))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# q66 — dominant-share suppliers (TPC-H Q20 shape, partsupp-free): suppliers
# shipping >30% of some red part's 1996 volume. Nested-IN chain decorrelated
# to: per-(part,supplier) rollup → per-part total (re-agg of the rollup,
# group-level rows only) → share filter → distinct keys → SEMI join supplier.
# ---------------------------------------------------------------------------
@register(
    "q66_dominant_part_suppliers",
    oracle="""
    WITH red_ship AS (
        SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_partkey, l.l_suppkey
    ),
    part_total AS (
        SELECT l_partkey, sum(qty) AS total_qty FROM red_ship GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT r.l_suppkey
        FROM red_ship r
        JOIN part_total t ON t.l_partkey = r.l_partkey
        WHERE r.qty > 0.3 * t.total_qty
    )
    """,
    tags=("tpch", "J4", "nested-in", "two-level-agg"),
)
def q66_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    red_ship = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    part_total = red_ship.groupBy(F.col("l_partkey").alias("pt_key")).agg(
        F.sum("qty").alias("total_qty")
    )
    dominant = (
        red_ship.join(part_total, red_ship.l_partkey == part_total.pt_key)
        .filter(F.col("qty") > 0.3 * F.col("total_qty"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


# ---------------------------------------------------------------------------
# q67 — sole-blame suppliers (TPC-H Q21 shape): suppliers with a returned
# item in a multi-supplier order where NO other supplier had a return.
# EXISTS / NOT-EXISTS over the same fact decorrelates to two order-level
# aggregates joined back on orderkey — every join in the plan shares the
# orderkey shuffle; supplier names ride a broadcast at the end.
# ---------------------------------------------------------------------------
@register(
    "q67_sole_blame_suppliers",
    oracle="""
    WITH r_items AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    ),
    order_stats AS (
        SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
        FROM lineitem GROUP BY l_orderkey
    ),
    r_stats AS (
        SELECT l_orderkey, count(*) AS n_r_supp FROM r_items GROUP BY l_orderkey
    )
    SELECT s.s_name,
           CAST(count(*) AS BIGINT) AS numwait
    FROM r_items r
    JOIN order_stats os ON os.l_orderkey = r.l_orderkey AND os.n_supp > 1
    JOIN r_stats rs     ON rs.l_orderkey = r.l_orderkey AND rs.n_r_supp = 1
    JOIN supplier s     ON s.s_suppkey = r.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    tags=("tpch", "exists", "not-exists", "self-join"),
)
def q67_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    r_items = (
        l.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    order_stats = (
        l.groupBy(F.col("l_orderkey").alias("os_key"))
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") > 1)
    )
    r_stats = (
        r_items.groupBy(F.col("l_orderkey").alias("rs_key"))
        .agg(F.count(F.lit(1)).alias("n_r_supp"))
        .filter(F.col("n_r_supp") == 1)
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        r_items.join(order_stats, r_items.l_orderkey == F.col("os_key"))
        .join(r_stats, r_items.l_orderkey == F.col("rs_key"))
        .join(s, r_items.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q92 — volume shipping (TPC-H Q7 shape): bidirectional nation-pair trade
# flows by ship year. Plan shape: the OR-pair residual sits ON TOP of
# pushable IN(1,2) filters on both nation keys — each side prunes to two
# nations BEFORE any join, then tiny dims broadcast and lineitem⋈orders
# rides one shuffle on the order key.
# ---------------------------------------------------------------------------
@register(
    "q92_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {rnd_sql('sum(l.l_extendedprice * (1 - l.l_discount))', 6)} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((s.s_nationkey = 1 AND c.c_nationkey = 2)
        OR (s.s_nationkey = 2 AND c.c_nationkey = 1))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    doc="Bidirectional nation-pair trade volume by year (TPC-H Q7 shape): "
    "pushable IN filters under an OR-pair residual, broadcast dims.",
    tags=("tpch", "join", "multi-dim"),
)
def q92_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1999-01-01 00:00:00"))
    )
    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey").isin(1, 2))
    cus = _t(spark, sf_dir, "customer").filter(F.col("c_nationkey").isin(1, 2))
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cus, orders.o_custkey == cus.c_custkey)
        .filter(
            ((F.col("s_nationkey") == 1) & (F.col("c_nationkey") == 2))
            | ((F.col("s_nationkey") == 2) & (F.col("c_nationkey") == 1))
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sk"),
                                      F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                      F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("ck"),
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        rnd(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# q93 — national market share (TPC-H Q8 shape): one nation's supplier share
# of a part-type segment's revenue inside one customer region, per order
# year — conditional aggregation over a star join, ratio at the end.
# ---------------------------------------------------------------------------
@register(
    "q93_market_share",
    oracle=f"""
    SELECT CAST(o_year AS INT) AS o_year,
           {rnd_sql("sum(CASE WHEN is_target THEN volume ELSE 0 END) / sum(volume)", 6)}
               AS mkt_share
    FROM (
        SELECT year(o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               s.s_nationkey = 1 AS is_target
        FROM lineitem l
        JOIN part p     ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        WHERE p.p_type = 'PROMO' AND n.n_regionkey = 1
    )
    GROUP BY o_year
    """,
    doc="Per-year national market share within a part-type segment and "
    "customer region (TPC-H Q8 shape): conditional agg + final ratio.",
    tags=("tpch", "join", "conditional-agg"),
)
def q93_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cus = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cus, orders.o_custkey == cus.c_custkey)
        .join(F.broadcast(nation), cus.c_nationkey == nation.n_nationkey)
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            (F.col("s_nationkey") == 1).alias("is_target"),
        )
    )
    return joined.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        rnd(
            F.sum(F.when(F.col("is_target"), F.col("volume")).otherwise(0.0))
            / F.sum("volume"),
            6,
        ).alias("mkt_share")
    )


# ---------------------------------------------------------------------------
# q94 — shipping-delay priority classes (TPC-H Q12 shape, re-anchored:
# the testdata has no ship mode or commit/receipt dates, so the class key
# is l_linestatus and "late" = shipped more than 90 days after the order
# date — same conditional-count-over-a-fact-join plan shape).
# ---------------------------------------------------------------------------
@register(
    "q94_late_shipment_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_linestatus
    """,
    doc="Late-shipment counts split by order priority class (TPC-H Q12 "
    "shape on the columns the testdata carries).",
    tags=("tpch", "join", "conditional-agg"),
)
def q94_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q95 — promo revenue share (TPC-H Q14 shape): one global conditional ratio
# over a month window — broadcast part dim, single partial+final agg.
# ---------------------------------------------------------------------------
@register(
    "q95_promo_revenue",
    oracle=f"""
    SELECT {rnd_sql(
        "100.0 * sum(CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) "
        "/ sum(l.l_extendedprice * (1 - l.l_discount))", 6)} AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-03-01 00:00:00'
    """,
    doc="Promo part-type revenue share in a ship window (TPC-H Q14 shape).",
    tags=("tpch", "join", "conditional-agg"),
)
def q95_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-03-01 00:00:00"))
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(rnd(F.lit(100.0) * F.sum(promo) / F.sum(vol), 6).alias("promo_revenue"))
    )


# ---------------------------------------------------------------------------
# q140 — exponentially-decayed part demand: the recency-weighted popularity
# every serving/training-reweighting layer keeps next to raw counts (q130's
# Gini measures concentration; this measures WHAT is hot NOW). Each
# lineitem contributes qty * 0.5^(age_days / half_life) anchored at the
# CURRENT max orderdate (data-derived via a scalar subquery — no wall
# clock, so the result is deterministic at every SF). One fact join +
# one part-key aggregate + TakeOrderedAndProject top-20; the decay is
# pure codegen power() arithmetic — at 100 TB nothing here is new shuffle
# shape, it is q130's aggregate with a different measure.
# ---------------------------------------------------------------------------
_DECAY_HALF_LIFE_D = 30.0


def _q140_sql(duck: bool) -> str:
    ep = (lambda t: f"epoch({t})") if duck else (
        lambda t: f"cast(cast({t} AS TIMESTAMP) AS DOUBLE)"
    )
    age_d = (
        f"(({ep('(SELECT max(o_orderdate) FROM orders)')}) - "
        f"{ep('o.o_orderdate')}) / 86400.0"
    )
    return f"""
    SELECT l.l_partkey AS partkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           {rnd_sql("sum(l.l_quantity)", 2)} AS raw_qty,
           {rnd_sql(
               f"sum(l.l_quantity * power(0.5, ({age_d}) / {_DECAY_HALF_LIFE_D}))",
               6,
           )} AS decayed_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY l.l_partkey
    ORDER BY decayed_qty DESC, partkey
    LIMIT 20
    """


@register(
    "q140_decayed_demand",
    oracle=_q140_sql(duck=True),
    doc="Top-20 parts by exponentially time-decayed demand (half-life 30 "
    "days, anchored at the data's max orderdate via a scalar subquery) — "
    "recency-weighted popularity next to q130's raw concentration.",
    tags=("tpch", "timeseries", "decay", "analytics"),
)
def q140_decayed_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_q140_sql(duck=False))


# ---------------------------------------------------------------------------
# q141 — inter-order gap analysis: per-customer purchase cadence (the
# re-order-interval signal demand forecasting and churn models consume).
# lag() over (custkey, orderdate, orderkey) gives consecutive-order gaps;
# one aggregate folds them to per-customer cadence stats; top-20 slowest
# repeat customers with >= 4 orders, deterministically tie-broken. One
# custkey-partitioned window + one aggregate — no self-join (the naive
# formulation pairs orders O(n^2) per customer).
# ---------------------------------------------------------------------------
def _q141_sql(duck: bool) -> str:
    dd = (
        (lambda a, b: f"date_diff('day', {a}, {b})")
        if duck
        else (lambda a, b: f"datediff({b}, {a})")
    )
    prev = "lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
    return f"""
    WITH gaps AS (
        SELECT o_custkey,
               CAST({dd(f'({prev})', 'o_orderdate')} AS BIGINT) AS gap_d
        FROM orders
    ),
    cadence AS (
        SELECT o_custkey AS custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(gap_d) AS BIGINT) AS n_gaps,
               {rnd_sql("avg(gap_d)", 6)} AS avg_gap_d,
               CAST(max(gap_d) AS BIGINT) AS max_gap_d,
               CAST(min(gap_d) AS BIGINT) AS min_gap_d
        FROM gaps GROUP BY o_custkey
    )
    SELECT custkey, n_orders, n_gaps, avg_gap_d, max_gap_d, min_gap_d
    FROM cadence
    WHERE n_orders >= 4
    ORDER BY avg_gap_d DESC, custkey
    LIMIT 20
    """


@register(
    "q141_order_gaps",
    oracle=_q141_sql(duck=True),
    doc="Per-customer inter-order cadence via one lag window + one "
    "aggregate (no O(n^2) self-pairing): top-20 slowest repeat customers "
    "with >= 4 orders, deterministic tie-break.",
    tags=("tpch", "windows", "cadence", "analytics"),
)
def q141_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_q141_sql(duck=False))
