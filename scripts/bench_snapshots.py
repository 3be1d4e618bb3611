"""Snapshot-protocol micro-bench: measured cost of the transactional ops
at sf0.1 scale (orders, ~150k rows, 16 data files with key stats).

What it proves, with numbers instead of prose:
- keyed MERGE of a small batch rewrites ONLY the files holding matched
  keys (stats-pruned) — time scales with touched files, not table size;
- predicate DELETE/UPDATE discovery is one column-pruned scan; the
  rewrite is surgical;
- CDF extraction between adjacent versions and an incremental
  maintain_aggregate fold are O(changed rows).

Run: python scripts/bench_snapshots.py   (one JSON line on stdout)
Optional: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
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


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.session import get_spark
    from music_recommendation_service_spark.sources import snapshots as S
    from music_recommendation_service_spark.sources.catalog import load_table

    spark = get_spark("bench_snapshots")
    base = tempfile.mkdtemp(prefix="snapbench_")
    path = os.path.join(base, "orders")
    view = os.path.join(base, "view")
    cursor = os.path.join(base, "cursor")
    timings: dict[str, float] = {}

    def t(name: str, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # range-partitioned layout: each file holds a contiguous o_orderkey
    # band, so the manifest's min/max stats actually prune (the layout a
    # zorder/cluster-maintained table has at scale)
    orders = (
        load_table(spark, SF_DIR, "orders")
        .repartitionByRange(16, "o_orderkey")
        .cache()
    )
    n_rows = orders.count()

    # 1. initial write (16 range-banded files, key stats for pruning)
    t("write_initial", lambda: S.snapshot_write(orders, path, stats_cols=["o_orderkey"]))
    files_initial = len(S._latest_manifest(path)["files"])

    def carried(before: set, name: str) -> int:
        after = {e["path"] for e in S._latest_manifest(path)["files"]}
        extra[f"files_carried_{name}"] = len(before & after)
        return len(before & after)

    extra: dict[str, int] = {}

    # 2a. ~1% batch confined to ONE key band: manifest stats prune the
    # rewrite to that band's files — the surgical-merge case (runs FIRST,
    # while the layout is still range-banded)
    lo, hi = 1, int(n_rows * 4 * 0.01)  # ~1% of the key range
    clustered = (
        orders.filter(F.col("o_orderkey").between(lo, hi))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    n_clustered = clustered.count()
    before = {e["path"] for e in S._latest_manifest(path)["files"]}
    t("merge_1pct_clustered", lambda: S.snapshot_merge(
        clustered, path, key_cols=["o_orderkey"], seq_col="o_orderkey"
    ))
    carried(before, "clustered_merge")

    # 2b. same-size batch spread across ALL files (worst case: every file
    # holds a matched key -> full rewrite)
    batch = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    )
    n_batch = batch.count()
    t("merge_1pct_uniform", lambda: S.snapshot_merge(
        batch, path, key_cols=["o_orderkey"], seq_col="o_orderkey"
    ))

    # 3. predicate DELETE (~selective)
    t("delete_where", lambda: S.snapshot_delete_where(
        spark, path, "o_orderkey % 101 = 0"
    ))

    # 4. predicate UPDATE (~selective)
    t("update_where", lambda: S.snapshot_update_where(
        spark, path, "o_orderkey % 103 = 0", {"o_orderstatus": "'R'"}
    ))

    # 5. keyed CDF between the last two versions
    vs = S.snapshot_versions(path)
    t("cdf_last_commit", lambda: S.snapshot_changes(
        spark, path, vs[-2], vs[-1], key_cols=["o_orderkey"]
    ).count())

    # 6. incremental maintained aggregate: bootstrap fold + one delta fold
    t("maintain_bootstrap", lambda: S.snapshot_maintain_aggregate(
        spark, path, view, cursor,
        group_cols=["o_orderpriority"], sum_cols=["o_totalprice"],
        key_cols=["o_orderkey"], approx_distinct_cols=["o_custkey"],
    ))
    S.snapshot_merge(
        batch.limit(500), path, key_cols=["o_orderkey"], seq_col="o_orderkey"
    )
    t("maintain_delta_fold", lambda: S.snapshot_maintain_aggregate(
        spark, path, view, cursor,
        group_cols=["o_orderpriority"], sum_cols=["o_totalprice"],
        key_cols=["o_orderkey"], approx_distinct_cols=["o_custkey"],
    ))

    # 7. bloom point lookup: needle fetch on an unsorted high-cardinality
    # column — min/max stats cannot prune it (every file brackets every
    # key); the per-file bloom skips ~all files
    bpath = os.path.join(base, "orders_bloom")
    blo = orders.withColumn("uid", F.md5(F.col("o_orderkey").cast("string")))
    t("write_bloom_indexed", lambda: S.snapshot_write(
        blo, bpath, bloom_cols=["uid"]
    ))
    needle = blo.select("uid").first()[0]
    got = t("bloom_point_lookup", lambda: S.snapshot_scan(
        spark, bpath, {"uid": (needle, needle)}
    ))
    extra["bloom_files_opened"] = len(got.inputFiles())
    extra["bloom_files_total"] = len(S._latest_manifest(bpath)["files"])
    t("full_filter_lookup", lambda: S.snapshot_read(spark, bpath).filter(
        F.col("uid") == needle
    ).count())

    # 8. maintained histogram (retractable percentile view): delta fold
    # cost after a merge — O(changed rows), nbins sums per group
    hview = os.path.join(base, "hist_view")
    hcursor = os.path.join(base, "hist_cursor")
    hkw = dict(
        group_cols=["o_orderpriority"], key_cols=["o_orderkey"],
        histogram_cols=[("o_totalprice", 0.0, 600000.0, 24)],
    )
    t("maintain_hist_bootstrap", lambda: S.snapshot_maintain_aggregate(
        spark, path, hview, hcursor, **hkw
    ))
    S.snapshot_merge(
        batch.limit(500), path, key_cols=["o_orderkey"], seq_col="o_orderkey"
    )
    t("maintain_hist_fold", lambda: S.snapshot_maintain_aggregate(
        spark, path, hview, hcursor, **hkw
    ))

    m = S._latest_manifest(path)
    print(json.dumps({
        "metric": "snapshot_protocol_ops",
        "unit": "sec",
        "n_rows": n_rows,
        "n_batch": n_batch,
        "n_batch_clustered": n_clustered,
        "files_initial": files_initial,
        "n_files": len(m["files"]),
        "timings": timings,
        **extra,
        "sf_dir": SF_DIR,
    }))
    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
