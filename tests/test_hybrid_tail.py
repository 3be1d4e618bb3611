"""The hybrid recommender's shared scoring tail (operators/hybrid.py), on
hand-built frames: weighted candidate rows summed per (user, item) across
models, already-liked pairs dropped, top-k per user by score desc with the
item id breaking ties. The three recommenders (the pipeline's gold layer,
q05, q142) all end in this function; their end-to-end tests are in the slow
tier, this one is not.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from music_recommendation_service_spark.operators.hybrid import hybrid_top_k

CAND = "user_id long, item_id long, score double"
LIKED = "user_id long, item_id long"


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("user_id", "item_id", "score", "rank").collect()
    )


@pytest.fixture()
def models(spark):
    cf = spark.createDataFrame(
        [(1, 10, 1.5), (1, 11, 9.0), (1, 12, 0.5), (2, 20, 1.0)], CAND
    )
    # items 14 and 13 tie at 2.0, listed in the wrong order on purpose
    sim = spark.createDataFrame(
        [(1, 10, 0.6), (1, 14, 2.0), (1, 13, 2.0), (1, 12, 0.2)], CAND
    )
    # (2, 99) has no candidate row at all
    liked = spark.createDataFrame([(1, 11), (2, 99)], LIKED)
    return [cf, sim], liked


def test_sums_models_drops_liked_breaks_ties_and_cuts_k(spark, models):
    candidates, liked = models
    # user 1: item 10 sums to 2.1 across the two models and outranks the
    # single-model 2.0s; item 11 scores highest but is liked; of the tied
    # 13/14 only 13 makes the k=2 cut; user 2 has fewer than k candidates
    assert _rows(hybrid_top_k(candidates, liked, 2)) == [
        (1, 10, 2.1, 1),
        (1, 13, 2.0, 2),
        (2, 20, 1.0, 1),
    ]
    assert _rows(hybrid_top_k(candidates, liked, 4)) == [
        (1, 10, 2.1, 1),
        (1, 12, 0.7, 4),
        (1, 13, 2.0, 2),
        (1, 14, 2.0, 3),
        (2, 20, 1.0, 1),
    ]


@pytest.mark.parametrize("partitions", [1, 7])
def test_partitions_leave_rows_unchanged(spark, models, partitions):
    candidates, liked = models
    want = _rows(hybrid_top_k(candidates, liked, 3))
    got = hybrid_top_k(candidates, liked, 3, partitions=partitions)
    assert _rows(got) == want


def test_matches_anti_join_window_reference_on_random_input(spark):
    rng = random.Random(20261018)

    def model(n):
        # two-decimal scores over a small key space: repeated pairs within
        # a model, pairs shared across models, and tied totals all occur
        return [
            (rng.randint(1, 12), rng.randint(1, 25), rng.randint(0, 300) / 100)
            for _ in range(n)
        ]

    candidates = [spark.createDataFrame(model(n), CAND) for n in (200, 150, 60)]
    liked = spark.createDataFrame(
        sorted({(rng.randint(1, 12), rng.randint(1, 25)) for _ in range(80)}),
        LIKED,
    )
    k = 4

    union = candidates[0]
    for c in candidates[1:]:
        union = union.unionByName(c)
    scored = (
        union.groupBy("user_id", "item_id")
        .agg(F.round(F.sum("score") + F.lit(1e-9), 6).alias("score"))
        .join(liked, ["user_id", "item_id"], "left_anti")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
    want = _rows(
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )

    assert len(want) > 20
    assert _rows(hybrid_top_k(candidates, liked, k)) == want
    assert _rows(hybrid_top_k(candidates, liked, k, partitions=3)) == want
