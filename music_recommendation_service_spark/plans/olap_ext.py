"""OLAP shaping operators (q117-q119) and association rules (q123):
pivot, unpivot/melt, ROLLUP with grouping_id, and basket rule mining.

The reference's analytics surface stops at flat GROUP BY aggregates
(e.g. ``process_trending_songs.py``'s weekly counts); every BI tool a
user would point at those outputs immediately asks for the wide/long
reshapes and subtotal lattices below, and its CF pipeline
(``process_song_similarity.py``) stops at raw co-occurrence counts
where a rule miner would emit support/confidence/lift.

Scale notes (100 TB):
- q117 pivot declares its value list explicitly, so Spark compiles the
  pivot into ONE two-phase hash aggregate (`PivotFirst`) — no extra
  distinct-values job, no second shuffle. A pivot with an inferred value
  list costs an extra full scan + driver collect; never do that at scale.
- q118 unpivot is a generator expression over an already-tiny aggregate
  (|nations| rows) — the expensive part (the customer scan + agg) happens
  once, long form is a zero-shuffle expand of the wide result.
- q119 ROLLUP is a single Expand + one aggregate exchange: Spark
  replicates each input row once per grouping set inside the map stage
  and partial-aggregates before the shuffle, so the subtotal lattice
  costs ~|sets|x map work but only ONE shuffle of partially-folded
  groups. Computing the three levels as separate GROUP BYs would scan
  the fact three times.
- q123 reuses the canonical pair engine (operators/pairs.py: distinct ->
  canonical a<b self-join with hot-key policy); the item-frequency dim it
  joins back is |items|-sized and broadcast. Rule metrics are pure
  projections over the pair table — no additional shuffle beyond the
  pair build itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd, rnd_sql
from music_recommendation_service_spark.operators.pairs import cooccurrence_pairs
from music_recommendation_service_spark.plans import register
from music_recommendation_service_spark.sources.catalog import (
    EVENT_TYPES as _EVENT_TYPES,
    load_table as _t,
)
from music_recommendation_service_spark.sources.writers import scratch_table_path

# Declared pivot domain: the event-type vocabulary is a catalog fact
# (sources/catalog.py EVENT_TYPES, shared with q42), not something to
# re-discover per query (an inferred pivot adds a full scan).


# ---------------------------------------------------------------------------
# q117 — daily activity pivot: one row per day, one BIGINT column per event
# type (zero-filled), plus the row total. The long->wide reshape every
# activity dashboard runs over the reference's event stream.
# ---------------------------------------------------------------------------
def _pivot_cell_sql(t: str) -> str:
    return f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"


@register(
    "q117_daily_type_pivot",
    # ``total`` sums the DECLARED vocabulary cells in BOTH engines (not a
    # raw count(*)): a value outside EVENT_TYPES is excluded from every
    # column by the declared-domain pivot, and the total must describe the
    # columns next to it, not silently disagree with their sum.
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           {', '.join(_pivot_cell_sql(t) for t in _EVENT_TYPES)},
           CAST(count(*) FILTER (
               WHERE event_type IN ({', '.join(repr(t) for t in _EVENT_TYPES)})
           ) AS BIGINT) AS total
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    doc="Daily counts pivoted wide by event type (explicit value list -> "
    "single two-phase aggregate), zero-filled, with row totals.",
    tags=("pivot", "reshape", "A1"),
)
def q117_daily_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    wide = (
        e.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    cells = [
        F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES
    ]
    total = sum((F.coalesce(F.col(t), F.lit(0)) for t in _EVENT_TYPES), F.lit(0))
    return wide.select(F.col("day"), *cells, total.cast("long").alias("total"))


# ---------------------------------------------------------------------------
# q118 — wide->long melt: per-nation customer metrics computed once as a
# wide aggregate, then unpivoted to (nation, metric, value) — the tidy/long
# form feature stores and plotting layers consume.
# ---------------------------------------------------------------------------
_MELT_METRICS = ("n_customers", "total_acctbal", "avg_acctbal")


@register(
    "q118_nation_metric_melt",
    oracle=f"""
    WITH wide AS (
        SELECT n.n_name,
               CAST(count(*) AS DOUBLE)                      AS n_customers,
               {rnd_sql('sum(c.c_acctbal)')}                 AS total_acctbal,
               {rnd_sql('avg(c.c_acctbal)')}                 AS avg_acctbal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name, 'n_customers'   AS metric, n_customers   AS value FROM wide
    UNION ALL
    SELECT n_name, 'total_acctbal' AS metric, total_acctbal AS value FROM wide
    UNION ALL
    SELECT n_name, 'avg_acctbal'   AS metric, avg_acctbal   AS value FROM wide
    """,
    doc="Per-nation wide metrics melted to long (nation, metric, value) via "
    "DataFrame.unpivot — reshape happens after aggregation, on |nations| rows.",
    tags=("unpivot", "melt", "reshape"),
)
def q118_nation_metric_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_customers"),
            rnd(F.sum("c_acctbal")).alias("total_acctbal"),
            rnd(F.avg("c_acctbal")).alias("avg_acctbal"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=list(_MELT_METRICS),
        variableColumnName="metric",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# q119 — subtotal lattice: revenue by (year, priority) with ROLLUP —
# detail rows, per-year subtotals, and the grand total in one pass,
# disambiguated by grouping_id (Spark bit order: first rollup column is
# the high bit; the DuckDB twin reconstructs the same id from GROUPING()).
# NULL group cells are rendered (-1 / 'ALL') so the result is join-safe.
# ---------------------------------------------------------------------------
@register(
    "q119_priority_rollup",
    oracle=f"""
    SELECT COALESCE(CAST(year(o_orderdate) AS INT), -1)       AS o_year,
           COALESCE(o_orderpriority, 'ALL')                   AS priority,
           CAST(GROUPING(year(o_orderdate)) * 2
                + GROUPING(o_orderpriority) AS INT)           AS gid,
           CAST(count(*) AS BIGINT)                           AS n_orders,
           {rnd_sql('sum(o_totalprice)')}                     AS revenue
    FROM orders
    GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
    """,
    doc="ROLLUP(year, priority) revenue lattice with grouping_id — one "
    "Expand + one shuffle for detail+subtotal+grand-total.",
    tags=("rollup", "grouping-sets", "A-family"),
)
def q119_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = (
        o.rollup(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice")).alias("revenue"),
        )
    )
    return agg.select(
        F.coalesce(F.col("o_year"), F.lit(-1)).alias("o_year"),
        F.coalesce(F.col("priority"), F.lit("ALL")).alias("priority"),
        "gid",
        "n_orders",
        "revenue",
    )


# ---------------------------------------------------------------------------
# q123 — association rules over order baskets: directed rules a->b for
# canonical pairs co-bought in >= 2 baskets, with support / confidence /
# lift. Upgrades the reference's raw co-occurrence output
# (process_song_similarity.py:33-36) to the ranked rule form a
# recommender actually consumes. Undirected pair counts are computed ONCE
# (canonical a<b self-join via the shared pair engine); both rule
# directions are projections of that single pair table; lift needs no
# per-row division by changing shape: lift = co * n / (cnt_a * cnt_b) is
# exact integer arithmetic in doubles (< 2^53), rounded only at the edge.
# ---------------------------------------------------------------------------
_MIN_CO = 2


def basket_pairs_co2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared silver relation: canonical basket item pairs with co-count
    >= 2 — consumed by q123 (rule metrics) and q122 (as the co-purchase
    edge set). Scratch-materialized once per session under a shared key,
    the same discipline as the q73/q96 co-return edge table."""
    from music_recommendation_service_spark.plans.reference_parity import _baskets_m
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    return scratch_materialize(
        cooccurrence_pairs(
            _baskets_m(spark, sf_dir),
            group_col="l_orderkey",
            item_col="l_partkey",
            score_col="co",
            pre_distinct=True,
        ).filter(F.col("co") >= _MIN_CO),
        "basket_pairs_co2",
    )


@register(
    "q123_basket_rules",
    oracle=f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets
          FROM baskets),
    freq AS (
        SELECT l_partkey AS item, CAST(count(*) AS DOUBLE) AS cnt
        FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(count(*) AS DOUBLE) AS co
        FROM baskets a
        JOIN baskets b ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_MIN_CO}
    ),
    directed AS (
        SELECT p1 AS antecedent, p2 AS consequent, co FROM pairs
        UNION ALL
        SELECT p2 AS antecedent, p1 AS consequent, co FROM pairs
    )
    SELECT d.antecedent, d.consequent,
           CAST(d.co AS BIGINT)                                  AS co_count,
           {rnd_sql('d.co / n.n_baskets', 6)}                    AS support,
           {rnd_sql('d.co / fa.cnt', 5)}                         AS confidence,
           {rnd_sql('d.co * n.n_baskets / (fa.cnt * fb.cnt)', 4)} AS lift
    FROM directed d
    JOIN freq fa ON fa.item = d.antecedent
    JOIN freq fb ON fb.item = d.consequent
    CROSS JOIN n
    """,
    doc="Basket association rules (support/confidence/lift) from ONE "
    "canonical pair build; item-frequency dim broadcast back.",
    tags=("assoc-rules", "pairs", "J2"),
)
def q123_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.plans.reference_parity import _baskets_m
    from music_recommendation_service_spark.sources.writers import scratch_materialize

    # The baskets distinct feeds THREE consumers (n, and the freq dim used
    # on both rule sides); inlined, each re-scans lineitem and re-runs the
    # distinct shuffle. Materialize the distinct once (round-12; same
    # silver-table discipline as basket_pairs_co2 above) — n and freq then
    # aggregate a small parquet. The copy is the SHARED baskets silver
    # relation (same key as q02's pair build), paid once per session.
    baskets = _baskets_m(spark, sf_dir)
    n = baskets.select(
        F.countDistinct("l_orderkey").cast("double").alias("n_baskets")
    )
    freq = scratch_materialize(
        baskets.groupBy(F.col("l_partkey").alias("item")).agg(
            F.count(F.lit(1)).cast("double").alias("cnt")
        ),
        "q123_freq",
    )
    pairs = basket_pairs_co2(spark, sf_dir)
    directed = pairs.select(
        F.col("l_partkey_1").alias("antecedent"),
        F.col("l_partkey_2").alias("consequent"),
        F.col("co").cast("double").alias("co"),
    ).unionByName(
        pairs.select(
            F.col("l_partkey_2").alias("antecedent"),
            F.col("l_partkey_1").alias("consequent"),
            F.col("co").cast("double").alias("co"),
        )
    )
    fa = F.broadcast(freq).alias("fa")
    fb = F.broadcast(freq.withColumnRenamed("cnt", "cnt_b")).alias("fb")
    return (
        directed.join(fa, F.col("antecedent") == F.col("fa.item"))
        .join(fb, F.col("consequent") == F.col("fb.item"))
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("co").cast("long").alias("co_count"),
            rnd(F.col("co") / F.col("n_baskets"), 6).alias("support"),
            rnd(F.col("co") / F.col("cnt"), 5).alias("confidence"),
            rnd(
                F.col("co") * F.col("n_baskets") / (F.col("cnt") * F.col("cnt_b")), 4
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# q149 — the format("snapshot") READ path as a catalog query (round-8 judge
# order #7): orders lands ONCE per session in a scratch snapshot table
# (snapshot_write, per-file stats on the filter column), then the query
# reads it back through the Python DataSource — manifest planning, stats
# file-skipping, Arrow batch reads — and aggregates. The DuckDB oracle
# reads the ORIGINAL parquet: a hash match proves the whole write->manifest
# ->DataSource-read loop is value-exact, and running this at sf1 puts the
# DataSource read leg under the 10x sweep.
# ---------------------------------------------------------------------------
@register(
    "q149_snapshot_format_scan",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)          AS n_orders,
           {rnd_sql("sum(o_totalprice)", 2)} AS total_price,
           {rnd_sql("avg(o_totalprice)", 4)} AS avg_price
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 1000.0
    GROUP BY o_orderpriority
    """,
    doc="Aggregate over a snapshot table read back through "
    "format('snapshot') (manifest planning + stats skipping + Arrow "
    "reads); oracle reads the original parquet — pins the write/read "
    "loop value-exact.",
    tags=("datasource", "snapshot", "scan"),
)
def q149_snapshot_format_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.datasource import (
        register_snapshot_datasource,
    )
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_versions,
        snapshot_write,
    )

    path = scratch_table_path(spark, "q149_snap", sf_dir)
    if not snapshot_versions(path):
        snapshot_write(
            _t(spark, sf_dir, "orders"),
            path,
            stats_cols=["o_totalprice", "o_orderstatus"],
        )
    register_snapshot_datasource(spark)
    o = spark.read.format("snapshot").load(path)
    return (
        o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 1000.0))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("total_price"),
            rnd(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# q150 — CONVERT TO SNAPSHOT as a catalog query: the lineitem parquet is
# onboarded IN PLACE (absolute external refs, zero rows copied — Delta's
# CONVERT TO DELTA shape) with per-file min/max stats, then queried through
# the snapshot reader with a stats-prunable predicate. The DuckDB oracle
# reads the ORIGINAL parquet: a hash match proves conversion is metadata-
# only and value-exact. At 100 TB this is the onboarding path for an
# existing lake — one column-pruned stats scan, no rewrite.
# ---------------------------------------------------------------------------
@register(
    "q150_convert_in_place",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(count(*) AS BIGINT)             AS n_items,
           CAST(sum(l_quantity) AS BIGINT)      AS sum_qty,
           {rnd_sql("sum(l_extendedprice)", 2)} AS sum_price
    FROM lineitem
    WHERE l_quantity <= 10
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Aggregate over a plain-parquet table onboarded via "
    "snapshot_convert (absolute external refs, zero rows copied, stats "
    "from one scan); oracle reads the original parquet.",
    tags=("datasource", "snapshot", "convert"),
)
def q150_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_convert,
        snapshot_read,
        snapshot_versions,
    )

    path = scratch_table_path(spark, "q150_conv", sf_dir)
    if not snapshot_versions(path):
        snapshot_convert(
            spark, os.path.join(sf_dir, "lineitem.parquet"), path,
            stats_cols=["l_quantity"],
        )
    li = snapshot_read(spark, path)
    return (
        li.filter(F.col("l_quantity") <= 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            rnd(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q151 — DML + change-data-feed round trip as a catalog query: orders lands
# in a scratch snapshot table, a DV DELETE (positional deletion vectors —
# O(matched rows) written, no file rewrite) removes the 'F' orders, and the
# query consumes the commit's CHANGE FEED, aggregating exactly the deleted
# rows. The DuckDB oracle computes the same aggregate from the ORIGINAL
# parquet's WHERE clause: a hash match pins that the positional CDF emits
# precisely the deleted rows — no carried-row noise, no misses — through
# write -> DV-delete -> feed. At 100 TB this is the incremental-consumer
# contract (downstream training-set refresh reads feeds, not snapshots).
# ---------------------------------------------------------------------------
@register(
    "q151_cdf_delete_feed",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)          AS n_deleted,
           {rnd_sql("sum(o_totalprice)", 2)} AS deleted_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Change feed of a DV DELETE aggregated by priority; oracle "
    "derives the same set from the original parquet's WHERE — pins the "
    "positional CDF row-exact.",
    tags=("snapshot", "cdf", "dml"),
)
def q151_cdf_delete_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_delete_where,
        snapshot_versions,
        snapshot_write,
    )

    base = scratch_table_path(spark, "q151_cdf", sf_dir)
    # Setup is a non-atomic two-step (write, then DV delete): gate on the
    # EXPECTED FINAL state, not "any version exists" — a crash between the
    # steps must rebuild into a fresh dir, not strand every later run on a
    # half-initialized table (ADVICE r9 low).
    path = base
    for attempt in range(3):
        if len(snapshot_versions(path)) >= 2:
            break
        if snapshot_versions(path):  # half-initialized: start over elsewhere
            path = f"{base}-retry{attempt}"
            continue
        snapshot_write(
            _t(spark, sf_dir, "orders"), path, stats_cols=["o_orderkey"]
        )
        snapshot_delete_where(
            spark, path, "o_orderstatus = 'F'", mode="dv"
        )
    versions = snapshot_versions(path)
    if len(versions) < 2:
        raise RuntimeError(f"q151 scratch init failed at {path}")
    ch = snapshot_changes(spark, path, versions[-2], versions[-1])
    return (
        ch.filter(F.col("_change_type") == "delete")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_deleted"),
            rnd(F.sum("o_totalprice"), 2).alias("deleted_price"),
        )
    )


# ---------------------------------------------------------------------------
# q152 — PARTITIONED CONVERT + partition-pruned scan as a catalog query: a
# year-partitioned Hive copy of orders (the reference's bronze layout —
# process_historical_data.py:75 partitions its Delta fact by year/month) is
# onboarded IN PLACE by snapshot_convert, which derives the partition column
# and per-file values from the key=value directory names and folds them into
# exact [v, v] manifest stats. snapshot_scan then prunes to ONE partition's
# files in metadata before any data is opened. The DuckDB oracle computes
# the same aggregate from the ORIGINAL orders parquet's year() predicate: a
# hash match pins layout-derived partition values, typed discovery, and
# pruning as value-exact end to end. At 100 TB this is the onboarding path
# for the most common real lake layout — zero rows copied, partition-scoped
# reads from commit 1.
# ---------------------------------------------------------------------------
@register(
    "q152_partitioned_convert_scan",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)          AS n_orders,
           {rnd_sql("sum(o_totalprice)", 2)} AS sum_price
    FROM orders
    WHERE year(o_orderdate) = 1995 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    doc="Hive-partitioned orders copy converted in place "
    "(partition_cols + [v,v] stats from directory names), then a "
    "partition-pruned scan; oracle derives the same slice from the "
    "original parquet's year() predicate.",
    tags=("snapshot", "convert", "partition"),
)
def q152_partitioned_convert_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_convert,
        snapshot_scan,
        snapshot_versions,
    )

    hive = scratch_table_path(spark, "q152_hive", sf_dir)
    path = scratch_table_path(spark, "q152_part", sf_dir)
    if not snapshot_versions(path):
        if not os.path.isdir(hive):
            # the "existing lake": a year-partitioned Hive directory
            (
                _t(spark, sf_dir, "orders")
                .withColumn("o_year", F.year("o_orderdate"))
                .write.partitionBy("o_year")
                .mode("overwrite")
                .parquet(hive)
            )
        snapshot_convert(spark, hive, path, stats_cols=["o_orderkey"])
    pruned = snapshot_scan(spark, path, {"o_year": (1995, 1995)})
    return (
        pruned.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            rnd(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q153 — GENERATED-PARTITION PRUNING as a catalog query: events lands in a
# scratch snapshot table partitioned by evt_day = date_trunc('day', ts)
# (30 daily partitions at every SF) with the rule declared GENERATED ALWAYS
# AS, and the query's predicate is a RANGE ON ts ONLY — the partition column
# never appears. snapshot_scan derives the implied partition range from the
# monotone rule and opens one week's files out of 30 days (SURVEY §4.1 notes the reference's own 7-day trending filter
# is on event_timestamp, so its year/month partition pruning never fires —
# this is the engine-side fix). The DuckDB oracle computes the same window
# from the original events parquet: a hash match pins the derivation, the
# Hive layout, and the typed path-derived partition values as value-exact.
# ---------------------------------------------------------------------------
@register(
    "q153_generated_partition_pruning",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {rnd_sql("sum(value)", 2)} AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
    doc="Events in a snapshot table partitioned by a GENERATED "
    "date_trunc('day', ts) column; the query filters a ts range only "
    "and the scan derives + prunes to the week's partitions; oracle "
    "computes the same window from the original parquet.",
    tags=("snapshot", "partition", "generated"),
)
def q153_generated_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_scan,
        snapshot_set_generated,
        snapshot_versions,
        snapshot_write,
    )

    path = scratch_table_path(spark, "q153_genpt", sf_dir)
    if len(snapshot_versions(path)) < 2:
        if snapshot_versions(path):  # crashed between write and declare
            path = f"{path}-retry"
        if len(snapshot_versions(path)) < 2:
            ev = _t(spark, sf_dir, "events").withColumn(
                "evt_day", F.date_trunc("day", F.col("ts"))
            )
            snapshot_write(
                ev, path, stats_cols=["event_id"], partition_by=["evt_day"]
            )
            snapshot_set_generated(
                spark, path, "evt_day", "date_trunc('day', ts)"
            )
    pruned = snapshot_scan(
        spark, path,
        {"ts": (dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15))},
    )
    return (
        # the scan's range re-filter is INCLUSIVE on hi; the window is
        # half-open, so re-apply the strict bound exactly
        pruned.filter(F.col("ts") < F.lit(dt.datetime(2024, 1, 15)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q154 — replaceWhere BACKFILL as a catalog query: orders lands in a scratch
# snapshot table, then ONE snapshot_replace_where commit swaps every
# 'P'-status order for its re-priced image (x1.1) — the atomic "rewrite this
# slice" op a partitioned lake runs constantly (Delta replaceWhere). The
# final aggregate runs over the WHOLE post-backfill table, and the DuckDB
# oracle recomputes the same state from the ORIGINAL parquet with a CASE
# expression: a hash match pins that exactly the in-scope rows changed,
# exactly once (fail-closed scope validation, untouched files carried by
# reference, one commit).
# ---------------------------------------------------------------------------
@register(
    "q154_replace_where_backfill",
    # DECIMAL arithmetic end to end: o_totalprice values carry <=2dp, so
    # the cast is exact, the x1.1 product exact at 3dp, and the SUM exact
    # and ORDER-INDEPENDENT — a double sum at sf0.1 lands one group within
    # an ulp of a .005 boundary and the rounded 2dp value becomes a coin
    # flip on reduction order. Round in decimal, cast to double last.
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST('1.1' AS DECIMAL(2,1))
                    ELSE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(21,3)) END), 2)
                AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Atomic replaceWhere backfill (re-price the 'P' orders in one "
    "commit), aggregated over the post-backfill table; oracle recomputes "
    "the same state from the original parquet via CASE.",
    tags=("snapshot", "dml", "replace-where"),
)
def q154_replace_where_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_read,
        snapshot_replace_where,
        snapshot_versions,
        snapshot_write,
    )

    path = scratch_table_path(spark, "q154_rw", sf_dir)
    if len(snapshot_versions(path)) < 2:
        if snapshot_versions(path):  # crashed between the two setup commits
            path = f"{path}-retry"
        if len(snapshot_versions(path)) < 2:
            orders = _t(spark, sf_dir, "orders")
            snapshot_write(orders, path, stats_cols=["o_orderkey"])
            repriced = orders.filter(F.col("o_orderstatus") == "P").withColumn(
                "o_totalprice", F.col("o_totalprice") * 1.1
            )
            snapshot_replace_where(repriced, path, "o_orderstatus = 'P'")
    # the stored table holds the DOUBLE backfill (price * 1.1); aggregate
    # through exact decimals so the group sums are reduction-order-free
    # (see the oracle note) — each stored double rounds exactly back to
    # its 3dp decimal image
    price_dec = F.round(F.col("o_totalprice").cast("decimal(21,3)"), 3)
    return (
        snapshot_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(price_dec), 2).cast("double").alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# q155 — the q153 table built PURELY THROUGH SQL DDL: one Engine.sql
# statement declares the generated partition column and the layout —
#   CREATE TABLE t (evt_day TIMESTAMP GENERATED ALWAYS AS
#     (date_trunc('day', ts))) LOCATION '...' PARTITIONED BY (evt_day)
#   AS SELECT * FROM events
# — zero Python protocol calls (Delta CREATE TABLE generated-column
# parity; the reference's bronze table shape, process_historical_data.py:
# 70-75, whose own ts-range filter never prunes per SURVEY §4.1). The rule
# rides the SAME commit as the data, so the scan planner's
# generated-partition derivation prunes the ts-only predicate to ~7 of 30
# daily partitions exactly as in q153; the DuckDB oracle recomputes the
# window from the original parquet, so a hash match pins the whole
# SQL-declared lifecycle.
# ---------------------------------------------------------------------------
@register(
    "q155_sql_generated_partition_ddl",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {rnd_sql("sum(value)", 2)} AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY event_type
    """,
    doc="CREATE TABLE (evt_day GENERATED ALWAYS AS (date_trunc('day', "
    "ts))) PARTITIONED BY (evt_day) AS SELECT — the generated-partition "
    "table declared in ONE SQL statement; scan prunes a ts-only range "
    "to the week's partitions; oracle recomputes from the original "
    "parquet.",
    tags=("snapshot", "partition", "generated", "sql"),
)
def q155_sql_generated_partition_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from music_recommendation_service_spark.engine import Engine
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_scan,
        snapshot_versions,
    )

    path = scratch_table_path(spark, "q155_sqlgen", sf_dir)
    if not snapshot_versions(path):
        eng = Engine(sf_dir, spark=spark)
        eng.sql(
            "CREATE TABLE q155_events (evt_day TIMESTAMP GENERATED ALWAYS "
            "AS (date_trunc('day', ts))) "
            f"LOCATION '{path}' PARTITIONED BY (evt_day) "
            "AS SELECT * FROM events"
        )
    pruned = snapshot_scan(
        spark, path,
        {"ts": (dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 15))},
    )
    return (
        pruned.filter(F.col("ts") < F.lit(dt.datetime(2024, 1, 15)))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# q156 — HOUR-GRAIN generated partitions + DataSource AUTO-FILL, end to end
# (both round-12 additions in one driver-gated query): events lands in a
# snapshot table partitioned by evt_hour = date_trunc('hour', ts); the
# first 15 days arrive through snapshot_write (Hive hour dirs), the rest
# through df.write.format('snapshot') with evt_hour OMITTED — the task
# computes it (DuckDB over the Arrow batch) and lands REAL Hive hour
# directories byte-identical to Spark's own partitionBy layout. The query
# filters a ts RANGE only; the hour-grain monotone derivation prunes both
# writers' files by their exact [v, v] partition stats, and
# n_hours = count(DISTINCT evt_hour) makes the DuckDB
# oracle recomputes the hour from raw ts, so a hash match pins the
# auto-filled values bit-for-bit. Scale note: hour partitions are the log
# shape (24 dirs/day); pruning work stays O(files), the scan O(window).
# ---------------------------------------------------------------------------
@register(
    "q156_hour_partition_autofill",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_hours,
           {rnd_sql("sum(value)", 2)} AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 06:00:00'
      AND ts < TIMESTAMP '2024-01-20 18:00:00'
    GROUP BY event_type
    """,
    doc="Hour-grain generated partitions (date_trunc('hour', ts)) with "
    "half the data appended through the DataSource writer with the "
    "partition column omitted (task-side auto-fill); ts-range scan "
    "prunes through the hour-grain rule; n_hours pins the auto-filled "
    "values against the oracle's raw-ts derivation.",
    tags=("snapshot", "partition", "generated", "datasource"),
)
def q156_hour_partition_autofill(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from music_recommendation_service_spark.sources.datasource import (
        register_snapshot_datasource,
    )
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_scan,
        snapshot_set_generated,
        snapshot_versions,
        snapshot_write,
    )

    path = scratch_table_path(spark, "q156_hourpt", sf_dir)
    split = dt.datetime(2024, 1, 16)
    if len(snapshot_versions(path)) < 3:
        if snapshot_versions(path):  # crashed mid-setup: fresh path
            path = f"{path}-retry"
        if len(snapshot_versions(path)) < 3:
            ev = _t(spark, sf_dir, "events")
            first = ev.filter(F.col("ts") < F.lit(split)).withColumn(
                "evt_hour", F.date_trunc("hour", F.col("ts"))
            )
            snapshot_write(
                first, path, stats_cols=["event_id"],
                partition_by=["evt_hour"],
            )
            snapshot_set_generated(
                spark, path, "evt_hour", "date_trunc('hour', ts)"
            )
            register_snapshot_datasource(spark)
            rest = ev.filter(F.col("ts") >= F.lit(split))  # NO evt_hour
            rest.write.format("snapshot").mode("append").save(path)
    lo, hi = dt.datetime(2024, 1, 10, 6), dt.datetime(2024, 1, 20, 18)
    pruned = snapshot_scan(spark, path, {"ts": (lo, hi)})
    return (
        pruned.filter(F.col("ts") < F.lit(hi))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("evt_hour").alias("n_hours"),
            rnd(F.sum("value"), 2).alias("sum_value"),
        )
    )
