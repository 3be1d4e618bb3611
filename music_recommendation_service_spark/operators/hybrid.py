"""The hybrid recommender's scoring tail.

The reference scores every candidate track as a weighted sum over its four
models, drops the tracks the user already liked and keeps the top k per
user (``RecommendationService.cs:20-102``). The engine runs that scorer in
three places — the pipeline's gold layer (``plans/music_domain.py``), the
catalog's q05 (``plans/reference_parity.py``) and q142's maintained gold
table (``plans/incremental_reco.py``). Each builds its own candidate
models; all of them end in :func:`hybrid_top_k`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from music_recommendation_service_spark.functions import rnd
from music_recommendation_service_spark.operators.topk import topk_per_key


def hybrid_top_k(
    candidates: list[DataFrame],
    liked: DataFrame,
    k: int,
    partitions: int | None = None,
) -> DataFrame:
    """Sum weighted ``(user_id, item_id, score)`` candidate rows per pair,
    drop the pairs in ``liked`` ``(user_id, item_id)``, and keep each
    user's top ``k`` by score desc, item_id asc. Returns
    ``(user_id, item_id, score, rank)`` with the score rounded to 6 places.

    One shuffle. The candidate keys are nearly unique (at sf0.1: 8.0M
    candidate rows -> 6.76M distinct (user, item) groups), so the default
    partial->shuffle->final aggregation buys nothing map-side and pays two
    multi-million-row shuffles: one on (user, item) for the aggregate,
    another on user for the ranking window. Hash-partitioning on user_id
    alone satisfies the clustered distribution of both (equal (user, item)
    implies equal user), so one repartition carries aggregate and window.
    ``partitions`` sets its width; without it the width is the session's
    and AQE may coalesce it. Per-user candidate counts are bounded by the
    callers' truncations, so no hot partition can form.

    Already-liked exclusion (J8) rides the same union, shuffle and
    aggregate instead of a LEFT ANTI join: each liked pair enters with
    score 0.0 and liked=1, and groups whose max(liked) is 1 are dropped
    after the aggregate. A group holds a liked row iff its pair is liked,
    which is the anti-join predicate, so the surviving groups hold only
    candidate rows and their sums are those of the anti-join form. Every
    caller's liked relation is distinct on (user_id, item_id); a duplicate
    would only add a row to a group that is dropped anyway. The win over
    the anti-join (q05, round-13 A/B at sf0.1: ~1.0 s): the optimizer
    pushed the anti-join below the aggregate and the union, building the
    O(likes) broadcast hash relation once per union branch and probing
    every candidate row, where the union form adds |likes| skinny rows to
    a shuffle that already moves the candidates.
    """
    rows = [
        c.select("user_id", "item_id", "score", F.lit(0).alias("liked"))
        for c in candidates
    ]
    rows.append(
        liked.select(
            "user_id", "item_id", F.lit(0.0).alias("score"), F.lit(1).alias("liked")
        )
    )
    by_user = F.col("user_id")
    scored = (
        reduce(DataFrame.unionByName, rows)
        .repartition(*((partitions, by_user) if partitions else (by_user,)))
        .groupBy("user_id", "item_id")
        .agg(rnd(F.sum("score"), 6).alias("score"), F.max("liked").alias("liked"))
        .filter(F.col("liked") == 0)
        .drop("liked")
    )
    return topk_per_key(
        scored, ["user_id"], k, F.desc("score"), F.asc("item_id")
    ).select("user_id", "item_id", "score", "rank")
