"""Measure the maintained-recommendation DAG at sf0.1 (judge order:
"serving read well under the 4.4s batch recompute floor", plus the
maintenance cost envelope — when does incremental lose to recompute?).

Phases timed end-to-end (plan + execute, noop-drained where applicable):
  1. bootstrap      — the full batch build of every view (the q05-shaped
                      from-scratch cost; this is also what a "recompute
                      instead of maintain" strategy pays per refresh)
  2. small waves    — realistic churn (N_WAVE mixed inserts/deletes of
                      random users), maintenance cost per wave
  3. hot-item wave  — adversarial: delete+reinsert likes of the single
                      most-liked item, churning its neighbor list and
                      fanning out to every user who likes it
  4. serve          — full scan of the gold table, and a single-user
                      point read (stats-pruned)

Prints one JSON line. Not part of bench.py's headline (state-building is
a pipeline cost, not a query).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_WAVE = int(os.environ.get("RECO_WAVE_ROWS", "1000"))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import random

    from pyspark.sql import functions as F

    from music_recommendation_service_spark.plans.incremental_reco import (
        RecoLake,
        reco_maintain,
        reco_serve,
    )
    from music_recommendation_service_spark.plans.reference_parity import (
        _likes,
    )
    from music_recommendation_service_spark.session import get_spark
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    spark = get_spark("bench-incremental-reco")
    root = tempfile.mkdtemp(prefix="reco_bench_")
    lake = RecoLake(root)
    out: dict = {"sf_dir": SF_DIR, "wave_rows": N_WAVE}

    def timed(key, fn):
        t0 = time.perf_counter()
        r = fn()
        out[key] = round(time.perf_counter() - t0, 3)
        return r

    base = _likes(spark, SF_DIR)
    snapshot_write(
        base.withColumn("_seq", F.lit(1).cast("long")),
        lake.likes, stats_cols=["user_id", "item_id"],
        bloom_cols=["user_id", "item_id"],
    )
    out["likes_rows"] = snapshot_read(spark, lake.likes).count()
    timed("bootstrap_sec", lambda: reco_maintain(spark, SF_DIR, lake))
    out["gold_rows"] = snapshot_read(spark, lake.gold).count()

    rng = random.Random(42)
    sample = [
        (r["user_id"], r["item_id"])
        for r in snapshot_read(spark, lake.likes)
        .sample(0.05, seed=42).limit(5 * N_WAVE).collect()
    ]
    seq = 1

    def apply_wave(rows):
        nonlocal seq
        seq += 1
        snapshot_merge(
            spark.createDataFrame(
                [(u, i, seq, d) for (u, i, d) in rows],
                "user_id long, item_id long, _seq long, _del boolean",
            ),
            lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
            delete_col="_del",
        )
        stage_t: dict = {}
        t0 = time.perf_counter()
        reco_maintain(spark, SF_DIR, lake, timings=stage_t)
        return round(time.perf_counter() - t0, 3), stage_t

    # the serving-relevant micro-wave: ONE user likes two tracks, unlikes one
    u0, i0 = sample[0]
    sec, stage_t = apply_wave(
        [(u0, i0, True), (u0, 2_000_001, False), (u0, 2_000_002, False)]
    )
    out["single_user_wave_sec"] = sec
    out["single_user_wave_stages"] = stage_t

    wave_secs, wave_stages = [], []
    for w in range(3):
        dels = rng.sample(sample, k=N_WAVE // 2)
        ins = [
            (u, i + 1_000_000 + w)
            for (u, i) in rng.sample(sample, k=N_WAVE // 2)
        ]
        sec, stage_t = apply_wave(
            [(u, i, True) for (u, i) in dels]
            + [(u, i, False) for (u, i) in ins]
        )
        wave_secs.append(sec)
        wave_stages.append(stage_t)
    out["wave_secs"] = wave_secs
    out["wave_stages"] = wave_stages

    # adversarial: churn the hottest item's like set (its neighbor list
    # changes -> every liker of it is affected)
    hot = (
        snapshot_read(spark, lake.likes)
        .groupBy("item_id").count().orderBy(F.desc("count")).limit(1)
        .collect()[0]
    )
    out["hot_item_likers"] = hot["count"]
    seq += 1
    hot_likers = (
        snapshot_read(spark, lake.likes)
        .filter(F.col("item_id") == hot["item_id"])
        .select("user_id").collect()
    )
    rows = [(r["user_id"], hot["item_id"], seq, True) for r in hot_likers]
    snapshot_merge(
        spark.createDataFrame(
            rows, "user_id long, item_id long, _seq long, _del boolean"
        ),
        lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
        delete_col="_del",
    )
    timed("hot_wave_sec", lambda: reco_maintain(spark, SF_DIR, lake))

    timed(
        "serve_full_scan_sec",
        lambda: reco_serve(spark, lake).write.format("noop")
        .mode("overwrite").save(),
    )
    some_user = snapshot_read(spark, lake.gold).limit(1).collect()[0]["user_id"]
    timed(
        "serve_point_read_sec",
        lambda: reco_serve(spark, lake)
        .filter(F.col("user_id") == some_user).collect(),
    )
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
