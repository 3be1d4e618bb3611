"""Measure cold manifest resolve: inline-JSON checkpoint vs parquet
checkpoint, at a file count where the difference matters (default 25k
entries — a 100 TB table at ~4 GB/file).

Two tables are committed with IDENTICAL synthetic entry lists (path +
rows + 2-column stats + partition values — the realistic per-entry
payload); one with the parquet threshold disabled (inline JSON full
manifest), one with it enabled (files_ckpt sidecar). We then time a COLD
resolve of each (manifest parse + file-list reconstruction,
``_read_manifest`` + ``_manifest_files`` with the memo cache cleared) and
report medians, plus the on-disk metadata sizes.

The entries are synthetic because this benchmark times the METADATA
plane: resolution cost depends only on the entry list, not on whether
the parquet data files exist. ``--real`` additionally builds a REAL 20k-file
table with Spark, cold-resolves it, and runs a full scan so the resolve
is exercised end-to-end (slower to set up; used for the committed README
number).

Usage: python scripts/bench_checkpoint.py [--files 25000] [--runs 5] [--real]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from music_recommendation_service_spark.sources import snapshots as S


def _mk_entries(n: int) -> list[dict]:
    out = []
    for i in range(n):
        year = 1990 + (i % 30)
        out.append(
            {
                "path": f"v=1-bench/year={year}/part-{i:07d}-0000.parquet",
                "rows": 100_000 + (i % 1000),
                "stats": {
                    "k": [i * 1000, (i + 1) * 1000 - 1],
                    "ts": [f"2025-01-{1 + i % 28:02d}", f"2025-02-{1 + i % 28:02d}"],
                    "year": [year, year],
                },
                "partition": {"year": str(year)},
            }
        )
    return out


def _commit_with(entries, path, force_json: bool):
    def build(latest, version):
        return {
            "data_dirs": ["v=1-bench"],
            "files": list(entries),
            "n_rows": sum(e["rows"] for e in entries),
            "schema": json.dumps({"type": "struct", "fields": [
                {"name": c, "type": t, "nullable": True, "metadata": {}}
                for c, t in (("k", "long"), ("ts", "date"), ("year", "integer"))
            ]}),
            "partition_cols": ["year"],
        }

    saved = S._PARQUET_CHECKPOINT_MIN_FILES
    S._PARQUET_CHECKPOINT_MIN_FILES = 10**12 if force_json else 1
    try:
        return S._commit(path, build, op="bench")
    finally:
        S._PARQUET_CHECKPOINT_MIN_FILES = saved


def _clear_caches():
    with S._FILES_CACHE_LOCK:
        S._FILES_CACHE.clear()
        S._CKPT_TABLE_CACHE.clear()


def _cold_resolve(path, version, runs, fn=None):
    """Cold resolve timing. ``fn`` picks the consumer shape:
    S._manifest_files (full-fidelity dicts) or S._manifest_files_scan
    (the scan planner's columnar path/partition/dv projection)."""
    fn = fn or S._manifest_files
    times = []
    for _ in range(runs):
        _clear_caches()
        t0 = time.perf_counter()
        m = S._read_manifest(path, version)
        files = fn(path, m)
        times.append(time.perf_counter() - t0)
        assert files
    return times, len(files)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=25_000)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--real", action="store_true")
    args = ap.parse_args()

    entries = _mk_entries(args.files)
    result: dict = {"n_entries": args.files, "runs": args.runs}
    with tempfile.TemporaryDirectory() as root:
        pj, pp = os.path.join(root, "json_tbl"), os.path.join(root, "pq_tbl")
        t0 = time.perf_counter()
        vj = _commit_with(entries, pj, force_json=True)
        result["json_commit_sec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        vp = _commit_with(entries, pp, force_json=False)
        result["parquet_commit_sec"] = round(time.perf_counter() - t0, 4)

        mj = os.path.join(S._manifest_dir(pj), f"{vj}.json")
        result["json_manifest_bytes"] = os.path.getsize(mj)
        mp = os.path.join(S._manifest_dir(pp), f"{vp}.json")
        ck = json.loads(open(mp).read())["files_ckpt"]["ref"]
        result["ckpt_pointer_bytes"] = os.path.getsize(mp)
        result["ckpt_parquet_bytes"] = os.path.getsize(
            os.path.join(S._manifest_dir(pp), ck)
        )

        tj, nj = _cold_resolve(pj, vj, args.runs)
        tp, np_ = _cold_resolve(pp, vp, args.runs)
        # the scan planner's cold resolve: columnar end-to-end, only the
        # path/partition/dv projection materializes (what snapshot_read,
        # vacuum's sweeps, and the history id chain consume)
        ts_, ns = _cold_resolve(pp, vp, args.runs, fn=S._manifest_files_scan)
        assert nj == np_ == ns == args.files
        # fidelity check: identical entry lists both ways
        _clear_caches()
        assert S._manifest_files(pp, S._read_manifest(pp, vp)) == entries
        # ...and the scan projection is exactly the 3-key subset
        scan = S._manifest_files_scan(pp, S._read_manifest(pp, vp))
        assert all(
            e["path"] == f["path"]
            and e.get("partition") == f.get("partition")
            and e.get("dv") == f.get("dv")
            for e, f in zip(entries, scan)
        )
        result["json_resolve_sec"] = round(statistics.median(tj), 4)
        result["parquet_resolve_sec"] = round(statistics.median(tp), 4)
        result["parquet_scan_resolve_sec"] = round(statistics.median(ts_), 4)
        result["resolve_speedup"] = round(
            result["json_resolve_sec"] / result["parquet_resolve_sec"], 2
        )
        result["scan_resolve_speedup"] = round(
            result["json_resolve_sec"] / result["parquet_scan_resolve_sec"], 2
        )

        # manifest-METADATA ops (DESCRIBE HISTORY / versions / detail):
        # pointer manifests parse in O(1), inline JSON pays O(files)
        def time_meta(path, version):
            times = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                S._read_manifest(path, version).get("op")
                times.append(time.perf_counter() - t0)
            return statistics.median(times)

        result["json_manifest_parse_sec"] = round(time_meta(pj, vj), 4)
        result["parquet_pointer_parse_sec"] = round(time_meta(pp, vp), 5)

        # PRUNED resolve: a scan predicate covering ~1/30 of the table
        # pushes into the typed sidecar (Arrow-vectorized) and only the
        # survivors materialize — vs pruning after a full resolve
        def time_pruned():
            times, n_kept = [], None
            for _ in range(args.runs):
                _clear_caches()
                t0 = time.perf_counter()
                m = S._read_manifest(pp, vp)
                kept = S._manifest_files_pruned(
                    pp, m, [("year", "=", [1995])]
                )
                times.append(time.perf_counter() - t0)
                n_kept = len(kept)
            return statistics.median(times), n_kept

        pruned_sec, n_kept = time_pruned()
        result["pruned_resolve_sec"] = round(pruned_sec, 4)
        result["pruned_kept_entries"] = n_kept
        result["pruned_vs_json_full"] = round(
            result["json_resolve_sec"] / pruned_sec, 1
        )

    if args.real:
        from music_recommendation_service_spark.session import get_spark

        spark = get_spark()
        saved = S._PARQUET_CHECKPOINT_MIN_FILES
        S._PARQUET_CHECKPOINT_MIN_FILES = 2048
        try:
            with tempfile.TemporaryDirectory() as root:
                p = os.path.join(root, "real")
                n_files = 20_000
                df = (
                    spark.range(n_files * 10)
                    .selectExpr("id AS k", "id % 97 AS grp")
                    .repartition(n_files)
                )
                t0 = time.perf_counter()
                S.snapshot_write(df, p, stats_cols=["k"])
                result["real_write_sec"] = round(time.perf_counter() - t0, 2)
                m = S._latest_manifest(p)
                assert "files_ckpt" in m, "real table did not checkpoint"
                result["real_n_files"] = m["files_ckpt"]["count"]
                times, _ = _cold_resolve(p, m["version"], args.runs)
                result["real_resolve_sec"] = round(statistics.median(times), 4)
                times, _ = _cold_resolve(
                    p, m["version"], args.runs, fn=S._manifest_files_scan
                )
                result["real_scan_resolve_sec"] = round(
                    statistics.median(times), 4
                )
                t0 = time.perf_counter()
                got = S.snapshot_read(spark, p).agg({"k": "sum"}).collect()[0][0]
                result["real_scan_sec"] = round(time.perf_counter() - t0, 2)
                expect = (n_files * 10) * (n_files * 10 - 1) // 2
                result["real_scan_correct"] = bool(got == expect)
        finally:
            S._PARQUET_CHECKPOINT_MIN_FILES = saved

    print(json.dumps(result))


if __name__ == "__main__":
    main()
