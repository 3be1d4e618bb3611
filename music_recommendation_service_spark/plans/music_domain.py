"""The reference's five analytical programs on its ACTUAL music-domain
schemas (FIXTURES.md §1-§8) as DataFrame -> DataFrame functions — the
engine's reusable pipeline layer, independent of any storage path.

Each function cites the reference job it re-expresses; semantics parity is
enforced by tests/test_music_domain.py against DuckDB oracles over seeded
fixtures (FIXTURES.md §9 golden shapes).

Scale design mirrors the catalog queries: canonical `<` pair self-joins
(never `!=`), distinct-before-self-join, broadcast dims, and the hybrid
scorer's shared tail (``operators/hybrid.py``): one aggregate over the
candidate union (sum associativity) that also drops the already-liked
tracks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd_sql
from music_recommendation_service_spark.operators.hybrid import hybrid_top_k
from music_recommendation_service_spark.operators.pairs import (
    cooccurrence_pairs,
    symmetrize_pairs,
)
from music_recommendation_service_spark.operators.quality import QualityGate

# Reference model weights (RecommendationSettings.cs:9-15).
W_CF, W_SIM, W_SOCIAL, W_TREND = 1.5, 0.6, 0.5, 0.2

BRONZE_GATE = QualityGate(
    expect_columns=[
        "event_id", "user_id", "track_id", "event_type", "timestamp",
        "event_date", "year", "month",
    ],
    not_null=("event_id", "user_id", "track_id"),
    value_in_set={"event_type": ("complete_listen", "like", "skip")},
)


def bronze_ingest(raw_events: DataFrame, validate: bool = True) -> DataFrame:
    """CSV/stream rows -> bronze fact with derived partition columns
    (process_historical_data.py:70-75) + the corrected quality gate
    (FIXTURES.md §10)."""
    bronze = (
        raw_events.withColumn("event_date", F.to_date("timestamp"))
        .withColumn("year", F.year("timestamp"))
        .withColumn("month", F.month("timestamp"))
    )
    return BRONZE_GATE.run(bronze) if validate else bronze


def silver_weekly_trending(
    bronze: DataFrame, dim_songs: DataFrame, anchor: str
) -> DataFrame:
    """process_silver_trending_tracks.py:18-40 with the current_date()-7
    window parameterized to ``anchor`` (SURVEY.md §7.3d)."""
    counts = (
        bronze.filter(F.col("event_type") == "complete_listen")
        .filter(
            (F.col("timestamp") >= F.date_sub(F.lit(anchor).cast("date"), 7))
            & (F.col("timestamp") < F.lit(anchor).cast("date").cast("timestamp"))
        )
        .groupBy("track_id")
        .agg(F.count(F.lit(1)).alias("listen_count"))
    )
    return (
        counts.join(F.broadcast(dim_songs), "track_id")
        .select(
            "track_id",
            F.col("title").alias("track_name"),
            "artist_name",
            "listen_count",
            F.lit(anchor).cast("date").alias("processing_date"),
        )
        .orderBy(F.desc("listen_count"), F.asc("track_id"))
    )


def song_similarity(bridge: DataFrame) -> DataFrame:
    """Playlist co-occurrence pairs (process_song_similarity.py:30-39):
    canonical t1 < t2 ordering, score = co-playlist count."""
    pairs = cooccurrence_pairs(bridge, "playlist_id", "track_id")
    return pairs.select(
        F.col("track_id_1"), F.col("track_id_2"), F.col("score")
    ).orderBy(F.desc("score"), F.asc("track_id_1"), F.asc("track_id_2"))


def collaborative_filtering(bronze: DataFrame) -> DataFrame:
    """Co-like pairs (process_collaborative_filtering.py:25-43): distinct
    (user, track) likes FIRST, then the canonical self-join."""
    likes = (
        bronze.filter(F.col("event_type") == "like")
        .select("user_id", "track_id")
        .distinct()
    )
    return cooccurrence_pairs(likes, "user_id", "track_id").select(
        "track_id_1", "track_id_2", "score"
    )


def likes_analysis(bronze: DataFrame, sim_pairs: DataFrame) -> DataFrame:
    """analyze_listening_data.py:12-34: total likes per user vs likes on
    'relevant' tracks (tracks in any similarity pair), left join + 0-fill."""
    likes = bronze.filter(F.col("event_type") == "like")
    relevant = (
        sim_pairs.select(F.col("track_id_1").alias("track_id"))
        .unionByName(sim_pairs.select(F.col("track_id_2").alias("track_id")))
        .distinct()
    )
    totals = likes.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_likes_count")
    )
    rel = (
        likes.join(relevant, "track_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("relevant_likes_count"))
    )
    return (
        totals.join(rel, "user_id", "left")
        .na.fill(0, ["relevant_likes_count"])
        .select("user_id", "total_likes_count", "relevant_likes_count")
    )


def hybrid_recommendations(
    bronze: DataFrame,
    sim_pairs: DataFrame,
    cf_pairs: DataFrame,
    follows: DataFrame,
    trending: DataFrame,
    k: int = 5,
) -> DataFrame:
    """RecommendationService.cs:20-102: weighted 4-model scorer for every
    user — CF 1.5 / similarity 0.6 / social 0.5 / trending 0.2 — excluding
    already-liked tracks, deterministic top-k.

    Social is the real 1-hop follow-graph join (J7): likes of followed users
    (edges stored symmetric, so one direction suffices). Trending is the
    silver table's play counts normalized by max (A6)."""
    likes = (
        bronze.filter(F.col("event_type") == "like")
        .select("user_id", "track_id")
        .distinct()
    )

    def model_cand(pairs: DataFrame, t1: str, t2: str, weight: float) -> DataFrame:
        sym = symmetrize_pairs(pairs, t1, t2)
        return likes.join(sym, likes.track_id == sym.src).select(
            "user_id",
            F.col("dst").alias("item_id"),
            (F.lit(weight) * F.col("score")).alias("score"),
        )

    cf_cand = model_cand(cf_pairs, "track_id_1", "track_id_2", W_CF)
    sim_cand = model_cand(sim_pairs, "track_id_1", "track_id_2", W_SIM)

    social_cand = (
        follows.join(likes, follows.user_id_b == likes.user_id)
        .groupBy(F.col("user_id_a").alias("user_id"), F.col("track_id").alias("item_id"))
        .agg((F.lit(W_SOCIAL) * F.count(F.lit(1))).alias("score"))
    )

    max_play = trending.agg(F.max("listen_count").alias("m"))
    trend_norm = trending.crossJoin(F.broadcast(max_play)).select(
        F.col("track_id").alias("item_id"),
        (F.lit(W_TREND) * F.col("listen_count") / F.col("m")).alias("score"),
    )
    active = likes.select("user_id").distinct()
    trend_cand = active.crossJoin(F.broadcast(trend_norm))

    return hybrid_top_k(
        [cf_cand, sim_cand, social_cand, trend_cand],
        likes.withColumnRenamed("track_id", "item_id"),
        k,
    ).select("user_id", F.col("item_id").alias("track_id"), "score", "rank")


# ---------------------------------------------------------------------------
# q115 — recommendation-list quality metrics: the evaluation pass a
# recommender (the reference's whole product — RecommendationService.cs)
# ships next to its serving path. Per rank and overall for q05's top-5
# lists: volume, catalog coverage (distinct items recommended), average
# item popularity (plays per recommended item — popularity-bias signal),
# and overall intra-list similarity (avg q02 co-occurrence score over the
# C(5,2) unordered pairs of each user's list; higher = less diverse).
#
# Scale design: composes two already-verified relations (q05 recs, q02
# co-occurrence) — Spark's side reuses their ENGINE builders (broadcast/
# scratch optimizations included) as temp views, the oracle nests their
# verified SQL texts as CTEs; the pair join is per-user (5 rows a side),
# the popularity join is broadcast-sized (items), everything aggregates
# to O(ranks) rows.
# ---------------------------------------------------------------------------
def _q115_metrics(recs: str, sims: str) -> str:
    return f"""
    plays AS (
        SELECT l_partkey AS item_id, CAST(count(*) AS BIGINT) AS n_plays
        FROM lineitem GROUP BY l_partkey
    ),
    rec_pop AS (
        SELECT r.rank, r.user_id, r.item_id, coalesce(p.n_plays, 0) AS n_plays
        FROM {recs} r LEFT JOIN plays p ON r.item_id = p.item_id
    ),
    pairs AS (
        SELECT a.user_id, a.item_id AS i1, b.item_id AS i2
        FROM {recs} a JOIN {recs} b
          ON a.user_id = b.user_id AND a.item_id < b.item_id
    ),
    ils AS (
        -- CAST, not "* 1.0": a decimal literal makes Spark's avg() a
        -- scale-5 DECIMAL (truncating) while DuckDB's stays DOUBLE.
        SELECT avg(CAST(coalesce(s.score, 0) AS DOUBLE)) AS avg_ils
        FROM pairs p LEFT JOIN {sims} s
          ON p.i1 = s.l_partkey_1 AND p.i2 = s.l_partkey_2
    )
    SELECT CAST(rank AS BIGINT)              AS rank,
           CAST(count(*) AS BIGINT)          AS n_recs,
           CAST(count(DISTINCT item_id) AS BIGINT) AS n_items,
           {rnd_sql("avg(n_plays)", 6)}      AS avg_item_plays,
           CAST(NULL AS DOUBLE)              AS avg_ils
    FROM rec_pop GROUP BY rank
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT item_id) AS BIGINT),
           {rnd_sql("avg(n_plays)", 6)},
           {rnd_sql("(SELECT avg_ils FROM ils)", 6)}
    FROM rec_pop
    """


def _q115_oracle() -> str:
    from music_recommendation_service_spark.plans import registry

    q05 = registry()["q05_hybrid_recommendations"].oracle
    q02 = registry()["q02_song_similarity"].oracle
    return (
        f"WITH recs AS ({q05}),\n    sims AS ({q02}),\n    "
        + _q115_metrics("recs", "sims")
    )


def _q115_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.sources.catalog import load_table

    reg = registry()
    reg["q05_hybrid_recommendations"].build(spark, sf_dir).createOrReplaceTempView(
        "q115_recs"
    )
    reg["q02_song_similarity"].build(spark, sf_dir).createOrReplaceTempView(
        "q115_sims"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _q115_metrics("q115_recs", "q115_sims"))


def _register_q115():
    from music_recommendation_service_spark.plans import register

    register(
        "q115_rec_quality_metrics",
        oracle=_q115_oracle(),
        doc="Recommender evaluation: per-rank volume/coverage/popularity "
        "bias + overall intra-list similarity for q05's top-5 lists "
        "(composes the verified q05 and q02 relations).",
        tags=("music", "recommendation", "evaluation"),
    )(_q115_build)


_register_q115()


# ---------------------------------------------------------------------------
# q143 — held-out ranking metrics: the OTHER half of recommender
# evaluation q115 doesn't cover. q05 trains on returnflag='R' likes; the
# disjoint returnflag='A' slice acts as held-out future relevance, and the
# metrics are the standard offline IR set over each user's top-5 list:
# precision@5, recall@5, MRR (1/rank of the first hit, 0 when none) and
# nDCG@5 (log2 discount, ideal DCG from min(5, |relevant|) via a 5-row
# spine self-join — portable to both engines without generate_series).
#
# Scale design: recs are O(users x 5); the relevance join is an equi-join
# on (user, item); everything after is one per-user aggregate + a 5-row
# broadcast IDCG lookup. Composes the VERIFIED q05 relation exactly like
# q115 (engine builder as temp view; oracle nests q05's SQL text).
# ---------------------------------------------------------------------------
_Q143_REL_SQL = """
    rel AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'A'
    )"""


def _q143_metrics(recs: str) -> str:
    return f"""{_Q143_REL_SQL},
    users AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM rel GROUP BY user_id
    ),
    hits AS (
        SELECT r.user_id, r.rank
        FROM {recs} r
        JOIN rel ON r.user_id = rel.user_id AND r.item_id = rel.item_id
    ),
    spine AS (
        SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
        UNION ALL SELECT 4 UNION ALL SELECT 5
    ),
    idcg AS (
        SELECT a.k AS n_capped,
               sum(1.0 / log2(CAST(b.k AS DOUBLE) + 1.0)) AS v
        FROM spine a JOIN spine b ON b.k <= a.k GROUP BY a.k
    ),
    per_user AS (
        SELECT u.user_id, u.n_rel,
               CAST(count(h.rank) AS BIGINT) AS n_hits,
               min(h.rank) AS first_rank,
               coalesce(
                   sum(1.0 / log2(CAST(h.rank AS DOUBLE) + 1.0)), 0.0
               ) AS dcg
        FROM users u LEFT JOIN hits h ON u.user_id = h.user_id
        GROUP BY u.user_id, u.n_rel
    )
    SELECT CAST(count(*) AS BIGINT)                            AS n_users,
           {rnd_sql("avg(CAST(n_hits AS DOUBLE) / 5.0)", 6)}   AS precision_at_5,
           {rnd_sql("avg(CAST(n_hits AS DOUBLE) / CAST(n_rel AS DOUBLE))", 6)} AS recall_at_5,
           {rnd_sql("avg(coalesce(1.0 / CAST(first_rank AS DOUBLE), 0.0))", 6)} AS mrr_at_5,
           {rnd_sql("avg(dcg / i.v)", 6)}                      AS ndcg_at_5
    FROM per_user p JOIN idcg i ON i.n_capped = least(p.n_rel, 5)
    """


def _q143_oracle() -> str:
    from music_recommendation_service_spark.plans import registry

    q05 = registry()["q05_hybrid_recommendations"].oracle
    return f"WITH recs AS ({q05}),\n    " + _q143_metrics("recs")


def _q143_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.sources.catalog import load_table

    registry()["q05_hybrid_recommendations"].build(
        spark, sf_dir
    ).createOrReplaceTempView("q143_recs")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("WITH " + _q143_metrics("q143_recs"))


def _register_q143():
    from music_recommendation_service_spark.plans import register

    register(
        "q143_ranking_metrics",
        oracle=_q143_oracle(),
        doc="Held-out ranking metrics for q05's top-5 lists: precision@5 / "
        "recall@5 / MRR / nDCG@5 against the disjoint returnflag='A' "
        "relevance slice (offline IR evaluation).",
        tags=("music", "recommendation", "evaluation"),
    )(_q143_build)


_register_q143()
