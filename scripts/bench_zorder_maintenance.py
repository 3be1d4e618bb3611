"""Does Z-ORDERING a maintained join view localize its maintenance merges?

The round-7 maintenance envelope found that a maintain_join dim-churn
wave's MERGE cost tracks how many FILES the refresh slice touches, not how
many rows changed — and noted that clustered keys "keep merges file-local
and could run higher" rebuild thresholds. This script measures that claim
with the confounders separated:

  view layout legs (each from a FRESH bootstrap, one wave per leg):
    plain    — as maintain_join writes it (hash-shuffle output)
    compact  — snapshot_compact'd to few files (fewer files, NO reordering:
               the compaction-only control)
    zorder   — snapshot_zorder'd on (g, k): Morton interleave gives every
               file a bounded rectangle in (g, k) space

  churn shapes:
    scattered — every 10th dim key: uniformly-spread keys intersect every
                file's g-range under ANY layout; clustering cannot help
                by construction (the honest negative case)
    range     — a contiguous 10% of dim keys (one tenant / product family /
                recency-hot region): the selective slice only intersects
                files whose g-rectangle overlaps it

Run: python scripts/bench_zorder_maintenance.py   (env: MAINT_ROWS/GROUPS,
SPARK_GRAFT_CPUS to set the session's cores, and with them the shuffle width
that sets the plain view's file count)
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

N_ROWS = int(os.environ.get("MAINT_ROWS", "2000000"))
N_GROUPS = int(os.environ.get("MAINT_GROUPS", "10000"))
SHARE = 10  # churn 1/SHARE of dim keys


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.session import get_spark
    from music_recommendation_service_spark.sources.snapshots import (
        _latest_manifest,
        snapshot_compact,
        snapshot_maintain_join,
        snapshot_merge,
        snapshot_write,
        snapshot_zorder,
    )

    spark = get_spark("bench-zorder-maint")
    # Emulate a big table's file count: a 100 TB view has thousands of
    # files; at bench scale AQE's coalescing would fold the view into ~8
    # files and mute the very file-locality effect under measurement.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    out: dict = {"rows": N_ROWS, "groups": N_GROUPS}

    def run_leg(layout: str, wave: str) -> None:
        root = tempfile.mkdtemp(prefix=f"zmaint_{layout}_{wave}_")
        src, dim, view = f"{root}/src", f"{root}/dim", f"{root}/view"
        snapshot_write(
            spark.range(N_ROWS).select(
                F.col("id").alias("k"),
                (F.col("id") % N_GROUPS).alias("g"),
                F.lit(1).cast("long").alias("_seq"),
            ),
            src, stats_cols=["k", "g"],
        )
        snapshot_write(
            spark.range(N_GROUPS).select(
                F.col("id").alias("dk"),
                F.concat(F.lit("label_"), F.col("id")).alias("label"),
                F.lit(1).cast("long").alias("_seq"),
            ),
            dim, stats_cols=["dk"],
        )

        def maintain():
            return snapshot_maintain_join(
                spark, src, dim, view,
                fact_key_cols=["k"], fact_join_col="g", dim_join_col="dk",
                dim_payload_cols=["label"],
            )

        maintain()  # bootstrap
        if layout == "zorder":
            t0 = time.perf_counter()
            snapshot_zorder(spark, view, ["g", "k"])
            out.setdefault("zorder_sec", round(time.perf_counter() - t0, 3))
        elif layout == "compact":
            # same file count as the zorder leg produces, no reordering
            snapshot_compact(
                spark, view, small_file_max_rows=N_ROWS, target_files=8
            )
        out[f"{layout}_files"] = len(_latest_manifest(view)["files"])

        n_churn = N_GROUPS // SHARE
        dk = (F.col("id") * SHARE) if wave == "scattered" else F.col("id")
        dim_wave = spark.range(n_churn).select(
            dk.alias("dk"),
            F.concat(F.lit("v2_"), dk).alias("label"),
            F.lit(2).cast("long").alias("_seq"),
        )
        snapshot_merge(dim_wave, dim, key_cols=["dk"], seq_col="_seq")
        t0 = time.perf_counter()
        maintain()
        out[f"{layout}_{wave}_wave_sec"] = round(time.perf_counter() - t0, 3)
        shutil.rmtree(root, ignore_errors=True)

    for layout in ("plain", "compact", "zorder"):
        for wave in ("scattered", "range"):
            run_leg(layout, wave)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
