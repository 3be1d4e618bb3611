"""Parquet checkpoint manifests (protocol reader/writer version 3).

Above ``_PARQUET_CHECKPOINT_MIN_FILES`` entries, a FULL manifest
externalizes its file list to a columnar parquet sidecar under
``_snapshots/checkpoints/`` and the JSON manifest becomes a tiny pointer
(``files_ckpt``) — Delta's ``.checkpoint.parquet`` design, the structure
the reference's own hand-rolled log reader replays
(``MusicRecommendationService/Services/MinioService.cs:120-161``,
``Models/DeltaModels.cs:7-33``). At millions of files the JSON checkpoint
is the last O(live files)-on-the-driver structure: serialize on write,
full-document parse on every cold resolve. These tests pin the sidecar's
round-trip fidelity, the delta chains that rebase on it, the
min_reader/min_writer gates, vacuum's checkpoint GC, and the distributed
resolve surface (``snapshot_files_df``).
"""
from __future__ import annotations

import json
import os

import pytest

from music_recommendation_service_spark.sources import snapshots as S

# schema of the hand-built checkpoint manifests: the skip rule is typed
_K_LONG = json.dumps(
    {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    ]}
)

@pytest.fixture(params=["local", "objectstore"])
def snapshot_fs(request):
    from music_recommendation_service_spark.sources.objectstore import (
        InMemoryObjectStoreFS,
    )

    if request.param == "local":
        yield None
        return
    fs = InMemoryObjectStoreFS()
    prev = S.set_snapshot_fs(fs)
    try:
        yield fs
    finally:
        S.set_snapshot_fs(prev)


def _df(spark, n=200, parts=12):
    return (
        spark.range(n)
        .selectExpr("id AS k", "id % 7 AS grp", "CAST(id * 1.5 AS DOUBLE) AS amount")
        .repartition(parts, "k")
    )


def _low_thresholds(monkeypatch, ckpt=8, delta=4):
    monkeypatch.setattr(S, "_PARQUET_CHECKPOINT_MIN_FILES", ckpt)
    monkeypatch.setattr(S, "_DELTA_MANIFEST_MIN_FILES", delta)


def test_checkpoint_write_and_roundtrip(spark, tmp_path, monkeypatch, snapshot_fs):
    """A write above the threshold externalizes: the JSON manifest carries
    only the pointer, the sidecar holds the list, resolution and reads are
    byte-identical to the inline form."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "ckpt")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])

    m = S._latest_manifest(p)
    assert "files" not in m and "files_ckpt" in m
    assert m["min_reader"] == 3 and m["min_writer"] == 3
    ref = m["files_ckpt"]["ref"]
    assert ref.startswith("checkpoints/") and ref.endswith(".parquet")
    assert S._fs().is_file(os.path.join(S._manifest_dir(p), ref))

    entries = S._manifest_files(p, m)
    assert len(entries) == m["files_ckpt"]["count"] >= 8
    # stats survived the columnar round-trip and still drive pruning
    assert all(e["stats"]["k"][0] <= e["stats"]["k"][1] for e in entries)
    got = S.snapshot_read(spark, p)
    assert got.count() == 200
    assert got.agg({"k": "sum"}).collect()[0][0] == sum(range(200))


def test_checkpoint_entry_fidelity_unit():
    """Byte-level fidelity: every entry shape the protocol produces —
    stats, partition values, DVs, bloom refs, None rows, unknown future
    keys — round-trips the sidecar EXACTLY (dict equality), so delta
    compression against a checkpointed base still fires. Each stats column
    holds one type (int, float, string); a column mixing them is the
    irregular shape the sidecar declines (it stays inline)."""
    import tempfile

    files = [
        {"path": "v=1-a/f1.parquet", "rows": 10, "stats": {"k": [1, 9]}},
        {"path": "v=1-a/f2.parquet", "rows": None, "stats": None},
        {
            "path": "v=1-a/year=1990/f3.parquet",
            "rows": 5,
            "stats": {"year": [1990, 1990], "amount": [0.5, 2.25]},
            "partition": {"year": "1990"},
        },
        {
            "path": "v=2-b/f4.parquet",
            "rows": 7,
            "stats": {"name": ["a", "zz"]},
            "dv": {"ref": "dv=3-c", "n": 2},
            "bloom_ref": "v=2-b/_blooms.json",
        },
        {
            "path": "v=2-b/f5.parquet",
            "rows": 3,
            "stats": None,
            "future_key": {"nested": [1, "x", None]},
        },
    ]
    with tempfile.TemporaryDirectory() as d:
        S._fs().mkdirs(S._manifest_dir(d))
        ckpt = S._write_parquet_checkpoint(d, files, 1)
        back = S._read_parquet_checkpoint(d, ckpt)
        mixed = [dict(e) for e in files]
        mixed[3]["stats"] = {"k": ["a", "zz"]}
        assert S._write_parquet_checkpoint(d, mixed, 2) is None
    assert back == files

    # a truncated/corrupt sidecar refuses instead of serving a partial list
    with tempfile.TemporaryDirectory() as d:
        S._fs().mkdirs(S._manifest_dir(d))
        ckpt = S._write_parquet_checkpoint(d, files, 1)
        ckpt["count"] = 99
        with pytest.raises(RuntimeError, match="truncated or corrupt"):
            S._read_parquet_checkpoint(d, ckpt)


def test_delta_chain_over_checkpoint_base(spark, tmp_path, monkeypatch):
    """Commits after a checkpoint stay O(changed files): an append lands a
    delta manifest whose files_base IS the checkpoint version, and the
    chain resolves through the sidecar."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "chain")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    v1 = S.snapshot_versions(p)[-1]
    assert "files_ckpt" in S._read_manifest(p, v1)

    S.snapshot_append(
        spark.createDataFrame([(1000, 0, 1.0)], "k long, grp long, amount double"),
        p,
        stats_cols=["k"],
    )
    m2 = S._latest_manifest(p)
    assert m2.get("files_base") == v1  # chained on the checkpoint
    assert len(m2["files_add"]) == 1
    assert S.snapshot_read(spark, p).count() == 201

    # the chain keeps working across more commits and a DV delete
    S.snapshot_delete_where(spark, p, "k = 5", mode="dv")
    got = S.snapshot_read(spark, p)
    assert got.count() == 200
    assert got.where("k = 5").count() == 0


def test_checkpoint_forced_full_rewrites_externalize(spark, tmp_path, monkeypatch):
    """When the periodic full checkpoint comes due (chain max), the forced
    full manifest externalizes again instead of inlining a giant JSON."""
    _low_thresholds(monkeypatch)
    monkeypatch.setattr(S, "_DELTA_MANIFEST_CHAIN_MAX", 2)
    p = str(tmp_path / "periodic")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    for i in range(4):
        S.snapshot_append(
            spark.createDataFrame(
                [(2000 + i, 0, 1.0)], "k long, grp long, amount double"
            ),
            p,
            stats_cols=["k"],
        )
    forms = [
        (
            "ckpt"
            if "files_ckpt" in S._read_manifest(p, v)
            else "delta"
            if "files_base" in S._read_manifest(p, v)
            else "full"
        )
        for v in S.snapshot_versions(p)
    ]
    assert forms[0] == "ckpt"
    assert "delta" in forms
    assert forms.count("ckpt") >= 2  # the chain-max full rewrite externalized
    assert "full" not in forms  # no oversized inline JSON anywhere
    assert S.snapshot_read(spark, p).count() == 204


def test_old_reader_and_writer_refuse(spark, tmp_path, monkeypatch):
    """min_reader/min_writer gates: an engine that predates parquet
    checkpoints refuses to read (no legacy dir-listing fallback that would
    resurrect rewritten rows) and refuses to write."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "gate")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])

    monkeypatch.setattr(S, "_READER_VERSION", 2)
    with pytest.raises(S.UnsupportedSnapshotProtocolError, match="reader 3"):
        S.snapshot_read(spark, p)
    monkeypatch.setattr(S, "_READER_VERSION", 3)

    monkeypatch.setattr(S, "_WRITER_VERSION", 2)
    with pytest.raises(S.UnsupportedSnapshotProtocolError, match="writer 3"):
        S.snapshot_append(
            spark.createDataFrame([(1,0,1.0)], "k long, grp long, amount double"),
            p,
        )


def test_partitioned_checkpoint_keeps_pruning(spark, tmp_path, monkeypatch):
    """Partition values (and their [v, v] stats) ride the sidecar, so
    metadata partition pruning fires identically on a checkpointed
    manifest."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "pt_ckpt")
    df = spark.createDataFrame(
        [(i, 1990 + i % 4, f"pay{i}") for i in range(40)],
        ["k", "year", "payload"],
    )
    S.snapshot_write(df, p, stats_cols=["k"], partition_by=["year"])
    m = S._latest_manifest(p)
    assert "files_ckpt" in m and m["partition_cols"] == ["year"]
    entries = S._manifest_files(p, m)
    assert all(e["partition"]["year"] in {"1990", "1991", "1992", "1993"} for e in entries)
    assert all(
        e["stats"]["year"] == [int(e["partition"]["year"])] * 2 for e in entries
    )
    # metadata-only partition answerability survives
    recs = S.snapshot_partitions(p)
    assert {r["year"] for r in recs} == {"1990", "1991", "1992", "1993"}
    assert sum(r["n_rows"] for r in recs) == 40
    got = S.snapshot_read(spark, p).where("year = 1991")
    assert got.count() == 10


def test_vacuum_checkpoint_gc(spark, tmp_path, monkeypatch):
    """Vacuum deletes dropped versions' checkpoints immediately, sweeps
    unreferenced orphans past the age guard, and never touches a live
    one."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "vac")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    S.snapshot_write(_df(spark, n=100), p, stats_cols=["k"])  # v2 ckpt
    ckpt_dir = os.path.join(S._manifest_dir(p), "checkpoints")
    names_before = set(S._fs().list_dir(ckpt_dir))
    assert len(names_before) == 2
    live_ref = S._latest_manifest(p)["files_ckpt"]["ref"].rsplit("/", 1)[-1]

    # plant an orphan (commit-race loser): swept only past the age guard
    orphan = os.path.join(ckpt_dir, "9-deadbeef.parquet")
    S._fs().write_bytes(orphan, b"not really parquet")

    removed = S.snapshot_vacuum(p, keep_last=1, orphan_min_age_sec=10_000)
    names_after = set(S._fs().list_dir(ckpt_dir))
    assert live_ref in names_after
    assert "9-deadbeef.parquet" in names_after  # too young to sweep
    assert len(names_after) == 2  # v1's checkpoint died with its manifest
    assert any("checkpoints" in r for r in removed)
    assert S.snapshot_read(spark, p).count() == 100

    removed2 = S.snapshot_vacuum(p, keep_last=1, orphan_min_age_sec=0)
    assert "9-deadbeef.parquet" not in set(S._fs().list_dir(ckpt_dir))
    assert live_ref in set(S._fs().list_dir(ckpt_dir))
    assert S.snapshot_read(spark, p).count() == 100


def test_vacuum_materialization_externalizes(spark, tmp_path, monkeypatch):
    """A retained delta manifest whose base falls past the horizon is
    materialized as a parquet-checkpoint manifest, not a giant inline
    JSON."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "mat")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])  # v1 ckpt
    S.snapshot_append(
        spark.createDataFrame([(1000, 0, 1.0)], "k long, grp long, amount double"),
        p,
        stats_cols=["k"],
    )  # v2 delta on v1
    assert "files_base" in S._latest_manifest(p)

    S.snapshot_vacuum(p, keep_last=1)
    m = S._latest_manifest(p)
    assert "files_base" not in m
    assert "files_ckpt" in m  # materialized form externalized
    assert S.snapshot_read(spark, p).count() == 201


def test_snapshot_files_df_distributed_resolve(spark, tmp_path, monkeypatch):
    """snapshot_files_df hands the file list to Spark: for a checkpoint
    manifest it reads the sidecar directly; for a delta chain it applies
    the O(changed) adds/removes on top — and both agree with the
    driver-side resolve."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "fdf")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    v1 = S.snapshot_versions(p)[-1]

    df1 = S.snapshot_files_df(spark, p, v1)
    ent1 = S._manifest_files(p, S._read_manifest(p, v1))
    assert df1.count() == len(ent1)
    assert {r["path"] for r in df1.collect()} == {e["path"] for e in ent1}
    assert df1.agg({"rows": "sum"}).collect()[0][0] == 200

    # delta chain form: a rewrite (delete) both adds and removes entries
    S.snapshot_delete_where(spark, p, "k < 20")
    df2 = S.snapshot_files_df(spark, p)
    ent2 = S._manifest_files(p, S._latest_manifest(p))
    assert {r["path"] for r in df2.collect()} == {e["path"] for e in ent2}
    assert df2.agg({"rows": "sum"}).collect()[0][0] == 180


def test_clone_and_rollback_across_checkpoints(spark, tmp_path, monkeypatch):
    """RESTORE of a checkpointed version and a shallow clone FROM one both
    resolve through the sidecar."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "src")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    v1 = S.snapshot_versions(p)[-1]
    S.snapshot_delete_where(spark, p, "k < 100")
    assert S.snapshot_read(spark, p).count() == 100

    S.snapshot_rollback(p, v1)
    assert S.snapshot_read(spark, p).count() == 200

    dst = str(tmp_path / "dst")
    S.snapshot_clone(p, dst)
    assert S.snapshot_read(spark, dst).count() == 200


def test_typed_layout_default_inline_on_mixed(spark, tmp_path, monkeypatch):
    """Regular tables get the TYPED layout (native min/max columns, no
    payload JSON); a file list the typed layout cannot hold — mixed-typed
    stats after widening — stays inline in the JSON manifest, writes no
    sidecar, and resolves to the same entries."""
    _low_thresholds(monkeypatch, ckpt=2)
    p = str(tmp_path / "typed")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    ck = S._latest_manifest(p)["files_ckpt"]
    assert ck["layout"] == "typed" and ck["stats_cols"] == ["k"]

    mixed = [
        {"path": "v=1-x/a.parquet", "rows": 1, "stats": {"k": [1, 5]}},
        {"path": "v=1-x/b.parquet", "rows": 1, "stats": {"k": ["a", "b"]}},
    ]
    d = str(tmp_path / "mixed")
    S._fs().mkdirs(S._manifest_dir(d))
    assert S._write_parquet_checkpoint(d, mixed, 1) is None
    m = S._maybe_parquet_checkpoint(d, {"version": 1, "files": mixed}, 1)
    assert "files_ckpt" not in m and "min_reader" not in m
    assert S._manifest_files(d, m) == mixed
    assert not os.path.exists(os.path.join(S._manifest_dir(d), "checkpoints"))


@pytest.mark.parametrize("layout", ["json", None])
def test_json_layout_pointer_refused(spark, tmp_path, monkeypatch, layout):
    """A manifest pointing at a JSON-string-layout checkpoint (written as
    ``layout: "json"``, or by engines that predate the ``layout`` key) is
    refused with UnsupportedSnapshotProtocolError, never guessed at."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "old")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    v = S.snapshot_versions(p)[-1]
    mpath = os.path.join(S._manifest_dir(p), f"{v}.json")
    with open(mpath) as f:
        m = json.load(f)
    m["files_ckpt"].pop("layout")
    if layout is not None:
        m["files_ckpt"]["layout"] = layout
    with open(mpath, "w") as f:
        json.dump(m, f)
    with pytest.raises(S.UnsupportedSnapshotProtocolError, match="typed layout"):
        S.snapshot_read(spark, p)


def test_pruned_resolve_superset_and_scan_equivalence(spark, tmp_path, monkeypatch):
    """_manifest_files_pruned returns a conservative superset of the exact
    skip rule (never drops a matching file), and snapshot_scan through
    the pruned path returns exactly the same rows as read+filter."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "pruned")
    df = spark.createDataFrame(
        [(i, 1990 + i % 10, float(i)) for i in range(100)],
        ["k", "year", "amount"],
    ).repartition(10, "year")
    S.snapshot_write(df, p, stats_cols=["k", "year"])
    m = S._latest_manifest(p)
    assert "files_ckpt" in m

    full = S._manifest_files(p, m)
    year_1995 = [("year", ">=", [1995]), ("year", "<=", [1995])]
    kept = S._manifest_files_pruned(p, m, year_1995)
    assert kept is not None and len(kept) < len(full)
    # superset check vs the exact per-entry rule
    may = S._file_skip(m, p)
    exact = {e["path"] for e in full if may(e, year_1995)}
    assert exact <= {e["path"] for e in kept}

    got = S.snapshot_scan(spark, p, {"year": (1995, 1995)})
    want = S.snapshot_read(spark, p).where("year = 1995")
    assert sorted(r["k"] for r in got.collect()) == sorted(
        r["k"] for r in want.collect()
    )

    # inexact type pairing (float literal on an int column) falls back
    assert S._manifest_files_pruned(
        p, m, [("year", ">=", [1995.5]), ("year", "<=", [1996.5])]
    ) is None
    got2 = S.snapshot_scan(spark, p, {"year": (1995.0, 1996.0)})
    assert got2.count() == want.count() + 10


def test_pruned_resolve_keeps_statless_and_null_stat_files(spark, tmp_path):
    """Files with no stats for the predicate column (or None bounds) are
    always kept — the vectorized prune is exactly as conservative as
    the per-entry rule."""
    import tempfile

    files = [
        {"path": "v=1-x/a.parquet", "rows": 1, "stats": {"k": [1, 5]}},
        {"path": "v=1-x/b.parquet", "rows": 1, "stats": {"k": [None, None]}},
        {"path": "v=1-x/c.parquet", "rows": 1, "stats": None},
        {"path": "v=1-x/d.parquet", "rows": 1, "stats": {"other": [1, 2]}},
        {"path": "v=1-x/e.parquet", "rows": 1, "stats": {"k": [50, 60]}},
    ]
    with tempfile.TemporaryDirectory() as d:
        S._fs().mkdirs(S._manifest_dir(d))
        ptr = S._write_parquet_checkpoint(d, files, 1)
        assert ptr["layout"] == "typed"
        m = {"files_ckpt": ptr, "version": 1, "schema": _K_LONG}
        kept = S._manifest_files_pruned(
            d, m, [("k", ">=", [2]), ("k", "<=", [3])]
        )
    assert {e["path"].rsplit("/", 1)[-1] for e in kept} == {
        "a.parquet", "b.parquet", "c.parquet", "d.parquet",
    }


def test_pruned_resolve_in_list(spark, tmp_path):
    """IN-list point lookups push into the typed sidecar: the union over
    per-value masks keeps exactly the candidate files (plus the
    stats-unknown ones), and snapshot_scan_in returns the same rows as
    read + isin. Large value lists collapse to one range pass."""
    import tempfile

    files = [
        {"path": "v=1-x/a.parquet", "rows": 1, "stats": {"k": [1, 5]}},
        {"path": "v=1-x/b.parquet", "rows": 1, "stats": {"k": [10, 20]}},
        {"path": "v=1-x/c.parquet", "rows": 1, "stats": None},
        {"path": "v=1-x/d.parquet", "rows": 1, "stats": {"k": [50, 60]}},
    ]
    with tempfile.TemporaryDirectory() as d:
        S._fs().mkdirs(S._manifest_dir(d))
        ptr = S._write_parquet_checkpoint(d, files, 1)
        m = {"files_ckpt": ptr, "version": 1, "schema": _K_LONG}
        kept = S._manifest_files_pruned(d, m, [("k", "=", [3, 15])])
        assert {e["path"].rsplit("/", 1)[-1] for e in kept} == {
            "a.parquet", "b.parquet", "c.parquet",
        }
        # >64 values: one conservative [min, max] range pass — [0, 65]
        # brackets d's [50, 60] too, so the superset keeps all four
        big = list(range(0, 66))
        kept2 = S._manifest_files_pruned(d, m, [("k", "=", big)])
        assert {e["path"].rsplit("/", 1)[-1] for e in kept2} == {
            "a.parquet", "b.parquet", "c.parquet", "d.parquet",
        }
        # a tight large list still prunes: [100..170] misses every file
        # except the stats-unknown one
        kept3 = S._manifest_files_pruned(
            d, m, [("k", "=", list(range(100, 170)))]
        )
        assert {e["path"].rsplit("/", 1)[-1] for e in kept3} == {"c.parquet"}
        # unprunable pairing falls back to the full resolve
        assert S._manifest_files_pruned(d, m, [("k", "=", ["x"])]) is None


def test_scan_in_through_checkpoint(spark, tmp_path, monkeypatch):
    """End-to-end: snapshot_scan_in over a checkpointed table equals
    read + isin."""
    _low_thresholds(monkeypatch)
    p = str(tmp_path / "scanin")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])
    assert "files_ckpt" in S._latest_manifest(p)
    got = S.snapshot_scan_in(spark, p, "k", [3, 77, 150])
    assert sorted(r["k"] for r in got.collect()) == [3, 77, 150]
    assert got.count() == 3


def test_history_metrics_through_all_checkpoint_manifests(spark, tmp_path, monkeypatch):
    """A table whose FULL manifests are all checkpoint-form still reports
    real n_files_added/n_files_removed: the id chain is seeded from the
    memoized sidecar decode on the first ckpt version too, instead of
    staying None forever (round-11 ADVICE, snapshot_history)."""
    _low_thresholds(monkeypatch, ckpt=8)
    # keep every manifest FULL (no delta form) so each one externalizes
    monkeypatch.setattr(S, "_DELTA_MANIFEST_MIN_FILES", 10**9)
    p = str(tmp_path / "allckpt")
    S.snapshot_write(_df(spark, n=200, parts=12), p, stats_cols=["k"])
    S.snapshot_append(
        spark.createDataFrame(
            [(1000, 0, 1.0)], "k long, grp long, amount double"
        ).repartition(1),
        p,
        stats_cols=["k"],
    )
    for v in S.snapshot_versions(p):
        assert "files_ckpt" in S._read_manifest(p, v)

    hist = {h["version"]: h for h in S.snapshot_history(p)}
    assert hist[1]["n_files_added"] == 12 and hist[1]["n_files_removed"] == 0
    # the regression: this pair used to be None/None because v1 never
    # seeded the id chain
    assert hist[2]["n_files_added"] == 1 and hist[2]["n_files_removed"] == 0
    assert hist[2]["n_files"] == 13


def test_vacuum_materialized_ckpt_stamps_min_writer(spark, tmp_path, monkeypatch):
    """Vacuum's materialization externalizes to files_ckpt (a v3 writer
    feature): the rewritten manifest must carry min_writer >= 3, not the
    delta-form manifest's stale 2 (round-11 ADVICE, snapshot_vacuum)."""
    # writes happen BELOW the ckpt threshold: v1 full inline, v2 delta —
    # the table's standing writer requirement is 2
    monkeypatch.setattr(S, "_DELTA_MANIFEST_MIN_FILES", 4)
    p = str(tmp_path / "matw")
    S.snapshot_write(_df(spark), p, stats_cols=["k"])  # v1 full inline
    S.snapshot_append(
        spark.createDataFrame([(1000, 0, 1.0)], "k long, grp long, amount double"),
        p,
        stats_cols=["k"],
    )  # v2 delta on v1 (min_writer 2)
    assert S._read_manifest(p, 2).get("min_writer", 1) == 2

    # the vacuum-side materialization crosses the (now lowered) threshold
    monkeypatch.setattr(S, "_PARQUET_CHECKPOINT_MIN_FILES", 8)
    S.snapshot_vacuum(p, keep_last=1)
    m = S._latest_manifest(p)
    assert "files_ckpt" in m
    assert m.get("min_writer", 1) >= 3
    assert m.get("min_reader", 1) >= 3
    assert S.snapshot_read(spark, p).count() == 201


def test_typed_fast_decode_matches_loop_and_guards_fall_back():
    """Round-13: the orjson fast decode must agree with the per-entry
    Python loop BY VALUE AND TYPE on every protocol entry shape, and must
    decline (return None -> loop fallback) whenever a string would need
    JSON escaping or a float stat is non-finite."""
    import io
    import math
    import tempfile

    import pyarrow.parquet as pq

    files = [
        {"path": "v=1-a/f1.parquet", "rows": 10, "stats": {"k": [1, 9]}},
        {"path": "v=1-a/f2.parquet", "rows": None, "stats": None},
        {
            "path": "v=1-a/year=1990/f3.parquet",
            "rows": 5,
            # integral float bounds must come back as FLOATS (3.0, not 3)
            "stats": {"year": [1990, 1990], "f": [3.0, 2.5e-15]},
            "partition": {"year": "1990"},
        },
        {
            "path": "v=1-a/year=x/f3b.parquet",
            "rows": 6,
            "stats": {"year": [1, 2], "f": [-0.0, 1e308]},
            "partition": {"year": None},
        },
        {
            "path": "v=2-b/f4.parquet",
            "rows": 7,
            "stats": {"k": [4, 8], "s": ["a", "zz"], "t": [None, None]},
            "dv": {"ref": "dv=3-c", "n": 2},
            "bloom_ref": "v=2-b/_blooms.json",
        },
        {"path": "v=2-b/f5.parquet", "rows": 2, "stats": {}, "dv": {"ref": "dv=4-d"}},
        {
            "path": "v=2-b/f6-ünïcode.parquet",
            "rows": 3,
            "stats": None,
            "future_key": {"nested": [1, "x", None], "f": 2.5},
        },
    ]

    def decode_both(entries):
        with tempfile.TemporaryDirectory() as d:
            S._fs().mkdirs(S._manifest_dir(d))
            ckpt = S._write_parquet_checkpoint(d, entries, 1)
            assert ckpt["layout"] == "typed", ckpt
            abs_p = os.path.join(S._manifest_dir(d), ckpt["ref"])
            table = pq.read_table(io.BytesIO(S._fs().read_bytes(abs_p)))
            fast = S._decode_typed_ckpt_fast(table, ckpt)
            slow = S._decode_typed_ckpt(table.to_pydict(), ckpt)
        return fast, slow

    fast, slow = decode_both(files)
    assert fast == slow == files
    # dict equality treats 3 == 3.0 — pin the TYPES of the float stats too
    k_lo, k_hi = fast[2]["stats"]["f"]
    assert isinstance(k_lo, float) and isinstance(k_hi, float)
    assert repr(k_lo) == "3.0" and k_hi == 2.5e-15
    z_lo, z_hi = fast[3]["stats"]["f"]
    assert math.copysign(1.0, z_lo) == -1.0 and z_hi == 1e308

    # a path needing JSON escaping -> fast path declines, loop still exact
    nasty = [{"path": 'v=1-a/we"ird\\f.parquet', "rows": 1, "stats": None}]
    fast, slow = decode_both(nasty)
    assert fast is None and slow == nasty

    # non-finite float stats -> decline (orjson cannot carry inf/nan)
    inf_files = [
        {"path": "v=1-a/f.parquet", "rows": 1, "stats": {"k": [1.0, math.inf]}}
    ]
    fast, slow = decode_both(inf_files)
    assert fast is None and slow == inf_files

    # and the public resolve serves the same entries either way
    with tempfile.TemporaryDirectory() as d:
        S._fs().mkdirs(S._manifest_dir(d))
        ckpt = S._write_parquet_checkpoint(d, files, 1)
        assert S._read_parquet_checkpoint(d, ckpt) == files
