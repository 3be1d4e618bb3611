"""Incrementally-maintained hybrid recommendations (plans/incremental_reco):
the gold top-5-per-user snapshot table, maintained from the likes table's
change feed through the cf_counts -> cf_top and nation_counts -> nation_top
chains, must equal a from-scratch batch recompute after EVERY churn wave.

Reference tie: RecommendationService.cs:20-102 (per-request hybrid scoring)
served as a maintained materialized view; q142 adds the cross-engine DuckDB
oracle for the same DAG.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from music_recommendation_service_spark.plans.incremental_reco import (
    NEIGHBOR_TOP,
    RecoLake,
    SOCIAL_TOP,
    _pair_counts,
    _score_tail,
    maintain_cf_counts,
    reco_maintain,
    reco_serve,
)
from music_recommendation_service_spark.sources.snapshots import (
    snapshot_merge,
    snapshot_read,
    snapshot_versions,
    snapshot_write,
)

SF_DIR = "/root/testdata/sf0.001"


def _customer(spark):
    from music_recommendation_service_spark.sources.catalog import load_table

    return load_table(spark, SF_DIR, "customer")


def _likes_df(spark, rows):
    return spark.createDataFrame(rows, "user_id long, item_id long")


def _likes_table_df(spark, rows, seq):
    # nullable _seq, matching the wave-merge sources' createDataFrame schema
    return spark.createDataFrame(
        [(u, i, seq) for (u, i) in rows],
        "user_id long, item_id long, _seq long",
    )


def _batch_gold(spark, likes_df, customer, lake):
    """Ground truth: recompute every maintained intermediate from scratch
    over the CURRENT likes and run the scoring tail — what a batch q05
    would produce over the same state."""
    cf = _pair_counts(likes_df)
    sym = cf.select(
        F.col("i1").alias("src"), F.col("i2").alias("dst"), "n"
    ).unionByName(
        cf.select(F.col("i2").alias("src"), F.col("i1").alias("dst"), "n")
    )
    w = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    cf_top = (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEIGHBOR_TOP)
        .select("src", "dst", "n")
    )
    nation_counts = (
        likes_df.join(customer, likes_df.user_id == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "item_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wn = Window.partitionBy("nationkey").orderBy(
        F.desc("cnt"), F.asc("item_id")
    )
    nation_top = (
        nation_counts.withColumn("rank", F.row_number().over(wn))
        .filter(F.col("rank") <= SOCIAL_TOP)
        .select("nationkey", "item_id", "cnt")
    )
    sim_top = snapshot_read(spark, lake.sim_top).select("src", "dst", "n")
    trending = snapshot_read(spark, lake.trending).select("item_id", "score")
    return _score_tail(
        spark, likes_df, customer, cf_top, sim_top, nation_top, trending
    )


def _as_set(df):
    return {
        (r["user_id"], r["rank"], r["item_id"], r["score"])
        for r in df.collect()
    }


def _assert_gold_matches(spark, lake, likes_rows, customer):
    got = _as_set(
        reco_serve(spark, lake).select("user_id", "rank", "item_id", "score")
    )
    want = _as_set(_batch_gold(spark, _likes_df(spark, likes_rows), customer, lake))
    assert got == want, (
        f"maintained gold diverged from batch recompute: "
        f"extra={sorted(got - want)[:5]} missing={sorted(want - got)[:5]}"
    )


@pytest.fixture()
def lake(tmp_path):
    return RecoLake(str(tmp_path / "reco"))


def test_gold_matches_batch_recompute_over_churn_waves(spark, lake):
    """The judge-ordered model test: seeded random churn waves; after every
    maintenance run the maintained gold table equals the batch recompute."""
    rng = random.Random(1742)
    customer = _customer(spark)
    custkeys = [r["c_custkey"] for r in customer.select("c_custkey").collect()]
    live = {
        (rng.choice(custkeys), rng.randint(1, 40)) for _ in range(300)
    }
    snapshot_write(
        _likes_table_df(spark, sorted(live), 1),
        lake.likes, stats_cols=["user_id", "item_id"],
    )
    reco_maintain(spark, SF_DIR, lake)
    _assert_gold_matches(spark, lake, sorted(live), customer)

    for wave in range(2, 5):
        dels = set(rng.sample(sorted(live), k=min(40, len(live) // 3)))
        ins = {
            (rng.choice(custkeys), rng.randint(1, 40)) for _ in range(60)
        } - dels
        rows = [(u, i, wave, True) for (u, i) in sorted(dels)] + [
            (u, i, wave, False) for (u, i) in sorted(ins)
        ]
        snapshot_merge(
            spark.createDataFrame(
                rows, "user_id long, item_id long, _seq long, _del boolean"
            ),
            lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
            delete_col="_del",
        )
        live = (live - dels) | ins
        reco_maintain(spark, SF_DIR, lake)
        _assert_gold_matches(spark, lake, sorted(live), customer)


def test_maintenance_is_idempotent_and_caught_up(spark, lake):
    rng = random.Random(7)
    customer = _customer(spark)
    custkeys = [r["c_custkey"] for r in customer.select("c_custkey").collect()]
    live = sorted({(rng.choice(custkeys), rng.randint(1, 30)) for _ in range(120)})
    snapshot_write(
        _likes_table_df(spark, live, 1),
        lake.likes, stats_cols=["user_id", "item_id"],
    )
    first = reco_maintain(spark, SF_DIR, lake)
    assert first["gold"] is not None
    gold_v = snapshot_versions(lake.gold)[-1]
    second = reco_maintain(spark, SF_DIR, lake)
    assert all(v is None for v in second.values()), second
    assert snapshot_versions(lake.gold)[-1] == gold_v
    _assert_gold_matches(spark, lake, live, customer)


def test_crash_between_stages_resumes_exactly_once(spark, lake):
    """A partial run (only cf_counts applied its wave) followed by a full
    run converges to the same state as an uninterrupted run — each stage's
    manifest-recorded applied version makes replay a no-op."""
    rng = random.Random(99)
    customer = _customer(spark)
    custkeys = [r["c_custkey"] for r in customer.select("c_custkey").collect()]
    live = {(rng.choice(custkeys), rng.randint(1, 25)) for _ in range(150)}
    snapshot_write(
        _likes_table_df(spark, sorted(live), 1),
        lake.likes, stats_cols=["user_id", "item_id"],
    )
    reco_maintain(spark, SF_DIR, lake)
    dels = set(rng.sample(sorted(live), k=30))
    ins = {(rng.choice(custkeys), rng.randint(1, 25)) for _ in range(30)} - dels
    rows = [(u, i, 2, True) for (u, i) in sorted(dels)] + [
        (u, i, 2, False) for (u, i) in sorted(ins)
    ]
    snapshot_merge(
        spark.createDataFrame(
            rows, "user_id long, item_id long, _seq long, _del boolean"
        ),
        lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
        delete_col="_del",
    )
    live = (live - dels) | ins
    # "crash": only the first stage runs
    maintain_cf_counts(spark, lake)
    # recovery: the orchestrator runs everything; cf_counts replays as no-op
    cf_v = snapshot_versions(lake.cf_counts)[-1]
    out = reco_maintain(spark, SF_DIR, lake)
    assert out["cf_counts"] is None
    assert snapshot_versions(lake.cf_counts)[-1] == cf_v
    _assert_gold_matches(spark, lake, sorted(live), customer)


def test_serving_read_plan_is_scan_only(spark, lake):
    rng = random.Random(3)
    customer = _customer(spark)
    custkeys = [r["c_custkey"] for r in customer.select("c_custkey").collect()]
    live = sorted({(rng.choice(custkeys), rng.randint(1, 20)) for _ in range(80)})
    snapshot_write(
        _likes_table_df(spark, live, 1),
        lake.likes, stats_cols=["user_id", "item_id"],
    )
    reco_maintain(spark, SF_DIR, lake)
    plan = reco_serve(spark, lake)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_q142_lake_lives_in_application_scratch(spark, monkeypatch, tmp_path):
    """q142 builds its maintained lake under this application's scratch
    path, which the process-exit hook removes (a temp dir of its own would
    outlive the process)."""
    from music_recommendation_service_spark.plans import incremental_reco as ir
    from music_recommendation_service_spark.sources.writers import (
        scratch_table_path,
    )

    # a data dir no real q142 build uses: the stubbed build clears the
    # lake root, which must not be the live lake a session's q142 serves
    sf_dir = str(tmp_path / "sf")
    monkeypatch.setattr(ir, "_Q142_LAKES", {})
    monkeypatch.setattr(ir, "churn_waves", lambda spark, sf_dir, lake: iter(()))
    monkeypatch.setattr(ir, "reco_serve", lambda spark, lake: lake)
    lake = ir.q142_incremental_hybrid_recommendations(spark, sf_dir)
    assert lake.root == scratch_table_path(spark, "reco_lake", sf_dir)
