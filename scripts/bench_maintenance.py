"""Adversarial churn cost envelope for the incremental view-maintenance
family (judge round-7 order #6): snapshot_maintain_aggregate /
snapshot_maintain_topk / snapshot_maintain_join at a 2M-row source,
measuring the waves that MAXIMIZE targeted-recompute triggering, against
the full-recompute baseline each view replaces.

Waves per operator (all sizes overridable via env):
  aggregate  — insert-only wave (pure fold, the cheap path); then a
               DELETE STORM removing the current MIN row of half the
               groups (every one forces the min/max targeted recompute
               semi-join — the worst case by construction).
  topk       — insert fold wave; then a delete storm evicting a BUFFERED
               row from half the groups while below-cutoff rows exist
               (forces the buffer recompute for all of them).
  join       — fact churn wave; then DIM churn touching the hottest dim
               keys (each dim key re-derives every fact row joining it —
               the fan-out worst case).
  baseline   — the equivalent full recompute (one groupBy/window/join
               over the whole source) timed on the same data.

Prints one JSON line; feeds the README maintenance table ("when does
maintenance lose to recompute").
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_ROWS = int(os.environ.get("MAINT_ROWS", "2000000"))
N_GROUPS = int(os.environ.get("MAINT_GROUPS", "10000"))
WAVE = int(os.environ.get("MAINT_WAVE", "10000"))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.session import get_spark
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_maintain_aggregate,
        snapshot_maintain_join,
        snapshot_maintain_topk,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    spark = get_spark("bench-maintenance")
    root = tempfile.mkdtemp(prefix="maint_bench_")
    out: dict = {"rows": N_ROWS, "groups": N_GROUPS, "wave": WAVE}

    def timed(key, fn):
        t0 = time.perf_counter()
        r = fn()
        out[key] = round(time.perf_counter() - t0, 3)
        return r

    # source: (k PK, g group, v value) — v strictly increasing with k so
    # each group's MIN is its lowest k (lets the storm target mins exactly)
    src = f"{root}/src"
    base = spark.range(N_ROWS).select(
        F.col("id").alias("k"),
        (F.col("id") % N_GROUPS).alias("g"),
        (F.col("id").cast("double") / 7.0).alias("v"),
        F.lit(1).cast("long").alias("_seq"),
    )
    snapshot_write(base, src, stats_cols=["k", "g"])

    # ---------------- aggregate view ------------------------------------
    agg_view, agg_cur = f"{root}/agg_view", f"{root}/agg_cur"

    def maintain_agg():
        return snapshot_maintain_aggregate(
            spark, src, agg_view, agg_cur,
            group_cols=["g"], sum_cols=["v"], key_cols=["k"],
            minmax_cols=["v"],
        )

    timed("agg_bootstrap_sec", maintain_agg)

    # insert-only wave: WAVE new rows spread over all groups (pure fold)
    ins = spark.range(N_ROWS, N_ROWS + WAVE).select(
        F.col("id").alias("k"), (F.col("id") % N_GROUPS).alias("g"),
        (F.col("id").cast("double") / 7.0).alias("v"),
        F.lit(2).cast("long").alias("_seq"),
    )
    snapshot_merge(ins, src, key_cols=["k"], seq_col="_seq")
    timed("agg_insert_wave_sec", maintain_agg)

    # delete storm: remove the MIN row (k == g) of half the groups — every
    # touched group's min is gone, all of them recompute
    storm = spark.range(N_GROUPS // 2).select(
        (F.col("id") * 2).alias("k"), (F.col("id") * 2).alias("g"),
        F.lit(None).cast("double").alias("v"),
        F.lit(3).cast("long").alias("_seq"),
        F.lit(True).alias("_del"),
    )
    snapshot_merge(storm, src, key_cols=["k"], seq_col="_seq",
                   delete_col="_del")
    timed("agg_delete_storm_sec", maintain_agg)

    # the fair baseline: what a recompute STRATEGY pays per refresh —
    # the aggregation AND the overwrite commit of the serving view
    def agg_recompute():
        snapshot_write(
            snapshot_read(spark, src).groupBy("g").agg(
                F.count("*").alias("n"), F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"), F.max("v").alias("max_v"),
            ),
            f"{root}/agg_rc",
        )

    timed("agg_full_recompute_sec", agg_recompute)

    # ---------------- topk view -----------------------------------------
    tk_view, tk_cur = f"{root}/tk_view", f"{root}/tk_cur"

    def maintain_tk():
        return snapshot_maintain_topk(
            spark, src, tk_view, tk_cur, group_cols=["g"], order_col="v",
            key_cols=["k"], k=10, buffer=20,
        )

    timed("topk_bootstrap_sec", maintain_tk)

    # delete storm: per-group MAX rows are the highest k in the group —
    # k = N_ROWS - N_GROUPS + g is each group's top row (buffered). Evict
    # it for half the groups; every one recomputes (n > buffer).
    tk_storm = spark.range(N_GROUPS // 2).select(
        (F.lit(N_ROWS) - F.lit(N_GROUPS) + F.col("id") * 2).alias("k"),
        (F.col("id") * 2).alias("g"),
        F.lit(None).cast("double").alias("v"),
        F.lit(4).cast("long").alias("_seq"),
        F.lit(True).alias("_del"),
    )
    snapshot_merge(tk_storm, src, key_cols=["k"], seq_col="_seq",
                   delete_col="_del")
    timed("topk_delete_storm_sec", maintain_tk)

    def tk_recompute():
        w = Window.partitionBy("g").orderBy(F.desc("v"), F.desc("k"))
        snapshot_write(
            snapshot_read(spark, src).filter(F.col("v").isNotNull())
            .withColumn("r", F.row_number().over(w)).filter("r <= 10"),
            f"{root}/tk_rc",
        )

    timed("topk_full_recompute_sec", tk_recompute)

    # ---------------- join view -----------------------------------------
    dim, jn_view = f"{root}/dim", f"{root}/jn_view"
    snapshot_write(
        spark.range(N_GROUPS).select(
            F.col("id").alias("dk"),
            F.concat(F.lit("label_"), F.col("id")).alias("label"),
            F.lit(1).cast("long").alias("_seq"),
        ),
        dim, stats_cols=["dk"],
    )

    def maintain_join():
        return snapshot_maintain_join(
            spark, src, dim, jn_view,
            fact_key_cols=["k"], fact_join_col="g", dim_join_col="dk",
            dim_payload_cols=["label"],
        )

    timed("join_bootstrap_sec", maintain_join)

    # dim churn on hot keys: every dim key enriches ~N_ROWS/N_GROUPS fact
    # rows; touch 10% of dim keys -> ~10% of the view re-derives
    dim_wave = spark.range(N_GROUPS // 10).select(
        (F.col("id") * 10).alias("dk"),
        F.concat(F.lit("label_v2_"), F.col("id") * 10).alias("label"),
        F.lit(2).cast("long").alias("_seq"),
    )
    snapshot_merge(dim_wave, dim, key_cols=["dk"], seq_col="_seq")
    timed("join_dim_churn_sec", maintain_join)

    def join_recompute():
        f = snapshot_read(spark, src)
        d = snapshot_read(spark, dim).select("dk", "label")
        snapshot_write(f.join(d, f.g == d.dk), f"{root}/jn_rc")

    timed("join_full_recompute_sec", join_recompute)

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
