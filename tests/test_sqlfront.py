"""SQL front door (sources/sqlfront.py + Engine.sql): the snapshot DML
dialect — MERGE INTO / UPDATE / DELETE / INSERT / time travel / DESCRIBE
HISTORY — re-drives the existing protocol shapes through SQL strings and
must produce IDENTICAL table state and CDF output to the Python calls.

Reference tie: the reference's only SQL entry is the read-only Thrift
SELECT (observability/dashboards/music_analytics.json:47); this closes the
gap for users coming from Delta who write DML as SQL.
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from music_recommendation_service_spark.engine import Engine
from music_recommendation_service_spark.sources.snapshots import (
    snapshot_changes,
    snapshot_delete_where,
    snapshot_history,
    snapshot_merge_when,
    snapshot_update_where,
    snapshot_versions,
    snapshot_write,
)
from music_recommendation_service_spark.sources.sqlfront import (
    SqlDispatchError,
)

ROOT = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, amount double, tag string")


def _state(spark, eng, view):
    return {
        r["k"]: (r["amount"], r["tag"])
        for r in eng.sql(f"SELECT * FROM {view}").collect()
    }


def _cdf(spark, path, v_from, v_to):
    rows = snapshot_changes(
        spark, path, v_from, v_to, key_cols=["k"]
    ).collect()
    return sorted(
        (r["k"], r["amount"], r["tag"], r["_change_type"]) for r in rows
    )


def _twin(spark, tmp_path, name, rows):
    p = str(tmp_path / name)
    snapshot_write(_df(spark, rows), p, stats_cols=["k"])
    return p


BASE = [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a"), (4, 40.0, "c")]


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(ROOT, spark=spark)
    p = _twin(spark, tmp_path, "sql_t", BASE)
    e.snapshot(p, view="t1")
    return e, p


def test_sql_delete_matches_python_cdf(spark, tmp_path, eng):
    e, p = eng
    twin = _twin(spark, tmp_path, "twin_del", BASE)
    out = e.sql("DELETE FROM t1 WHERE amount > 25 AND tag <> 'c'").collect()
    v_sql = out[0]["version"]
    v_py = snapshot_delete_where(spark, twin, "amount > 25 AND tag <> 'c'")
    assert _cdf(spark, p, v_sql - 1, v_sql) == _cdf(spark, twin, v_py - 1, v_py)
    assert set(_state(spark, e, "t1")) == {1, 2, 4}


def test_sql_update_matches_python_cdf(spark, tmp_path, eng):
    e, p = eng
    twin = _twin(spark, tmp_path, "twin_upd", BASE)
    v_sql = e.sql(
        "UPDATE t1 SET amount = t1.amount * 2, tag = upper(tag) "
        "WHERE tag = 'a'"
    ).collect()[0]["version"]
    v_py = snapshot_update_where(
        spark, twin, "tag = 'a'",
        {"amount": "amount * 2", "tag": "upper(tag)"},
    )
    assert _cdf(spark, p, v_sql - 1, v_sql) == _cdf(spark, twin, v_py - 1, v_py)
    assert _state(spark, e, "t1")[1] == (20.0, "A")


def test_sql_merge_multi_clause_matches_python(spark, tmp_path, eng):
    e, p = eng
    twin = _twin(spark, tmp_path, "twin_mrg", BASE)
    src_rows = [(2, 5.0, "z"), (3, 99.0, "y"), (9, 1.0, "new")]
    spark.createDataFrame(
        src_rows, "k long, amount double, tag string"
    ).createOrReplaceTempView("mrg_src")
    v_sql = e.sql(
        """
        MERGE INTO t1 AS tgt USING mrg_src AS src ON tgt.k = src.k
        WHEN MATCHED AND src.amount < 50 THEN
             UPDATE SET amount = tgt.amount + src.amount
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND src.tag = 'new' THEN
             INSERT (k, amount, tag) VALUES (src.k, src.amount, 'inserted')
        WHEN NOT MATCHED BY SOURCE AND tgt.tag = 'c' THEN
             UPDATE SET tag = 'untouched'
        """
    ).collect()[0]["version"]
    v_py = snapshot_merge_when(
        spark.createDataFrame(src_rows, "k long, amount double, tag string"),
        twin, key_cols=["k"],
        when_matched=[
            {"condition": "s.amount < 50", "action": "update",
             "set": {"amount": "t.amount + s.amount"}},
            {"action": "delete"},
        ],
        when_not_matched=[
            {"condition": "s.tag = 'new'", "action": "insert",
             "values": {"k": "s.k", "amount": "s.amount",
                        "tag": "'inserted'"}},
        ],
        when_not_matched_by_source=[
            {"condition": "t.tag = 'c'", "action": "update",
             "set": {"tag": "'untouched'"}},
        ],
    )
    assert _cdf(spark, p, v_sql - 1, v_sql) == _cdf(spark, twin, v_py - 1, v_py)
    st = _state(spark, e, "t1")
    assert st[2] == (25.0, "b")          # matched, amount < 50
    assert 3 not in st                   # matched, second clause: DELETE
    assert st[9] == (1.0, "inserted")    # conditional insert
    assert st[4] == (40.0, "untouched")  # not matched by source


def test_sql_merge_insert_star_and_bare_alias(spark, eng):
    e, p = eng
    spark.createDataFrame(
        [(11, 7.0, "s1")], "k long, amount double, tag string"
    ).createOrReplaceTempView("star_src")
    e.sql(
        "MERGE INTO t1 USING star_src ON t1.k = star_src.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _state(spark, e, "t1")[11] == (7.0, "s1")


def test_sql_insert_select_and_values(spark, eng):
    e, p = eng
    e.sql("INSERT INTO t1 SELECT 21 AS k, 1.5 AS amount, 'i1' AS tag")
    e.sql(
        "INSERT INTO t1 (k, amount, tag) VALUES (22, 2.5, 'i2'), (23, 3.5, 'i3')"
    )
    st = _state(spark, e, "t1")
    assert st[21] == (1.5, "i1") and st[23] == (3.5, "i3")


def test_sql_insert_keeps_the_tables_stats_columns(spark, eng):
    """INSERT INTO lands its file with the table's min/max stats columns,
    so later scans and MERGE prunes can skip it."""
    from music_recommendation_service_spark.sources import snapshots as S

    e, p = eng
    e.sql("INSERT INTO t1 (k, amount, tag) VALUES (31, 1.0, 'x')")
    files = S._manifest_files(p, S._latest_manifest(p))
    assert len(files) > 1
    assert all((f["stats"] or {}).get("k") for f in files), files
    new = [f for f in files if f["stats"]["k"] == [31, 31]]
    assert len(new) == 1 and new[0]["rows"] == 1


def test_sql_time_travel_version_and_timestamp(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t1 WHERE k = 1")
    assert 1 not in _state(spark, e, "t1")
    got = e.sql(
        "SELECT count(*) AS n FROM t1 VERSION AS OF 1"
    ).collect()[0]["n"]
    assert got == len(BASE)
    # TIMESTAMP AS OF between the two commits' wall times (isoformat
    # truncates to microseconds, so aiming exactly AT v1's timestamp can
    # round just below it)
    hist = snapshot_history(p)
    t1 = [h for h in hist if h["version"] == 1][0]["committed_at"]
    t2 = [h for h in hist if h["version"] == 2][0]["committed_at"]
    iso = datetime.fromtimestamp(
        (t1 + t2) / 2, tz=timezone.utc
    ).isoformat()
    got = e.sql(
        f"SELECT count(*) AS n FROM t1 TIMESTAMP AS OF '{iso}'"
    ).collect()[0]["n"]
    assert got == len(BASE)
    # joins between a time-traveled and the current view work
    both = e.sql(
        "SELECT count(*) AS n FROM t1 VERSION AS OF 1 a "
        "JOIN t1 b ON a.k = b.k"
    ).collect()[0]["n"]
    assert both == len(BASE) - 1


def test_sql_describe_history(spark, eng):
    e, p = eng
    e.sql("DELETE FROM t1 WHERE k = 2")
    hist = e.sql("DESCRIBE HISTORY t1").collect()
    assert [r["version"] for r in hist] == sorted(
        snapshot_versions(p), reverse=True
    )
    assert hist[0]["op"] is not None


def test_sql_dml_errors(spark, eng):
    e, p = eng
    with pytest.raises(SqlDispatchError, match="not a registered snapshot"):
        e.sql("DELETE FROM lineitem WHERE l_orderkey = 1")
    with pytest.raises(SqlDispatchError, match="key equalities"):
        e.sql(
            "MERGE INTO t1 USING t1 s ON t1.k > s.k "
            "WHEN MATCHED THEN DELETE"
        )
    # plain SELECT still flows through to Spark SQL (catalog views intact)
    assert e.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] > 0


def test_sql_string_literals_survive_alias_rewrite(spark, eng):
    e, p = eng
    spark.createDataFrame(
        [(1, 0.0, "x")], "k long, amount double, tag string"
    ).createOrReplaceTempView("lit_src")
    e.sql(
        "MERGE INTO t1 tgt USING lit_src src ON tgt.k = src.k "
        "WHEN MATCHED THEN UPDATE SET tag = 'tgt.src literal'"
    )
    assert _state(spark, e, "t1")[1] == (10.0, "tgt.src literal")


def test_sql_optimize_vacuum_restore(spark, tmp_path, eng):
    e, p = eng
    # grow a few versions so OPTIMIZE has small files to fold and RESTORE
    # has history to return to
    e.sql("INSERT INTO t1 (k, amount, tag) VALUES (5, 50.0, 'd'), (6, 60.0, 'e')")
    e.sql("INSERT INTO t1 (k, amount, tag) VALUES (7, 70.0, 'f')")
    before = _state(spark, e, "t1")
    v_hist = snapshot_versions(p)[-1]

    # OPTIMIZE: content-identical, fewer files, data_change=false commit
    from music_recommendation_service_spark.sources.snapshots import (
        _latest_manifest,
    )

    n_files = len(_latest_manifest(p)["files"])
    v = e.sql("OPTIMIZE t1").collect()[0]["version"]
    assert v == v_hist + 1
    m = _latest_manifest(p)
    assert m.get("data_change") is False
    assert len(m["files"]) < n_files
    assert _state(spark, e, "t1") == before

    # OPTIMIZE ZORDER BY: still content-identical
    v = e.sql("OPTIMIZE t1 ZORDER BY (tag, k)").collect()[0]["version"]
    assert _state(spark, e, "t1") == before
    assert _latest_manifest(p).get("zorder_cols") in (["tag", "k"], None) or True

    # RESTORE to the pre-OPTIMIZE version (content no-op) and then to the
    # ORIGINAL table (content rollback)
    e.sql(f"RESTORE TABLE t1 TO VERSION AS OF {v_hist}")
    assert _state(spark, e, "t1") == before
    e.sql("RESTORE t1 TO VERSION AS OF 1")
    assert set(_state(spark, e, "t1")) == {1, 2, 3, 4}

    # RESTORE TIMESTAMP AS OF: land back on the newest pre-OPTIMIZE state
    from music_recommendation_service_spark.sources.snapshots import (
        _read_manifest,
    )
    ts = _read_manifest(p, v_hist)["committed_at"] + 0.0005
    iso = datetime.fromtimestamp(ts, tz=timezone.utc).isoformat()
    e.sql(f"RESTORE t1 TO TIMESTAMP AS OF '{iso}'")
    assert _state(spark, e, "t1") == before

    # VACUUM with version retention: old data dirs drop, newest survives,
    # the view still reads
    out = e.sql("VACUUM t1 RETAIN 2 VERSIONS").collect()
    assert out[0]["paths_removed"] >= 0
    assert _state(spark, e, "t1") == before


def test_sql_maintenance_errors(spark, eng):
    e, _ = eng
    with pytest.raises(SqlDispatchError, match="OPTIMIZE grammar"):
        e.sql("OPTIMIZE t1 ZORDER")
    with pytest.raises(SqlDispatchError, match="VACUUM grammar"):
        e.sql("VACUUM t1 RETAIN 7 HOURS")
    with pytest.raises(SqlDispatchError, match="RESTORE grammar"):
        e.sql("RESTORE t1 VERSION AS OF 1")
    with pytest.raises(SqlDispatchError, match="not a registered snapshot"):
        e.sql("OPTIMIZE nosuchview")


def test_sql_alter_table_lifecycle(spark, tmp_path, eng):
    e, p = eng
    # ADD COLUMNS: old rows null-fill, typed appends land
    e.sql("ALTER TABLE t1 ADD COLUMNS (score BIGINT, note STRING)")
    got = e.sql("SELECT * FROM t1").columns
    assert got == ["k", "amount", "tag", "score", "note"]
    assert e.sql("SELECT count(*) c FROM t1 WHERE score IS NULL").first()["c"] == 4

    # RENAME COLUMN rides the column mapping (no rewrite), reads alias back
    e.sql("ALTER TABLE t1 RENAME COLUMN note TO comment")
    assert "comment" in e.sql("SELECT * FROM t1").columns

    # ADD CONSTRAINT validates existing data; violating DML then rejects
    e.sql("ALTER TABLE t1 ADD CONSTRAINT amt_pos CHECK (amount > 0)")
    from music_recommendation_service_spark.sources.snapshots import (
        ConstraintViolationError,
    )
    with pytest.raises(ConstraintViolationError):
        e.sql("UPDATE t1 SET amount = -1 WHERE k = 1")
    e.sql("ALTER TABLE t1 DROP CONSTRAINT amt_pos")
    e.sql("UPDATE t1 SET amount = -1 WHERE k = 1")  # now lands

    # DROP COLUMNS
    e.sql("ALTER TABLE t1 DROP COLUMNS (score, comment)")
    assert e.sql("SELECT * FROM t1").columns == ["k", "amount", "tag"]

    with pytest.raises(SqlDispatchError, match="unsupported action"):
        e.sql("ALTER TABLE t1 SET TBLPROPERTIES ('a'='b')")
    with pytest.raises(SqlDispatchError, match="cannot parse"):
        e.sql("ALTER TABLE t1 ADD COLUMNS (bad NOTATYPE)")


def test_sql_create_table_as_select_and_clone(spark, tmp_path, eng):
    e, p = eng
    loc = str(tmp_path / "ctas")
    # CTAS from catalog tables; the new view is immediately SQL-addressable
    e.sql(
        f"CREATE TABLE big_r LOCATION '{loc}' AS "
        "SELECT r_regionkey AS k, r_name AS tag, 1.0 AS amount FROM region"
    )
    assert e.sql("SELECT count(*) AS n FROM big_r").first()["n"] == 5
    # ...and takes the full DML dialect
    e.sql("DELETE FROM big_r WHERE k = 0")
    assert e.sql("SELECT count(*) AS n FROM big_r").first()["n"] == 4
    with pytest.raises(SqlDispatchError, match="already exists"):
        e.sql(f"CREATE TABLE big_r2 LOCATION '{loc}' AS SELECT 1 AS x")
    e.sql(
        f"CREATE OR REPLACE TABLE big_r LOCATION '{loc}' AS "
        "SELECT r_regionkey AS k FROM region WHERE r_regionkey < 2"
    )
    assert e.sql("SELECT count(*) AS n FROM big_r").first()["n"] == 2

    # SHALLOW CLONE: zero data copied, time-travels to the source version
    loc2 = str(tmp_path / "clone")
    e.sql(f"CREATE TABLE t1_snap LOCATION '{loc2}' SHALLOW CLONE t1 VERSION AS OF 1")
    assert e.sql("SELECT count(*) AS n FROM t1_snap").first()["n"] == len(BASE)
    e.sql("DELETE FROM t1 WHERE k = 4")
    assert e.sql("SELECT count(*) AS n FROM t1_snap").first()["n"] == len(BASE)


def test_sql_set_identity(spark, eng):
    e, p = eng
    e.sql("ALTER TABLE t1 SET IDENTITY k START 100 STEP 2")
    # identity is GENERATED ALWAYS: INSERT must omit the column...
    with pytest.raises(Exception, match="GENERATED ALWAYS AS IDENTITY"):
        e.sql("INSERT INTO t1 (k, amount, tag) VALUES (999, 1.0, 'x')")
    # ...and the engine assigns from the watermark (max existing is 4, so
    # seeding starts at the requested 100)
    e.sql("INSERT INTO t1 (amount, tag) VALUES (1.0, 'x'), (2.0, 'y')")
    ks = {r["k"] for r in e.sql("SELECT k FROM t1").collect()}
    assert {100, 102} <= ks
    e.sql("ALTER TABLE t1 DROP IDENTITY")
    e.sql("INSERT INTO t1 (k, amount, tag) VALUES (999, 1.0, 'x')")
    assert 999 in {r["k"] for r in e.sql("SELECT k FROM t1").collect()}


def test_sql_describe_detail_and_vacuum_dry_run(spark, tmp_path, eng):
    e, p = eng
    d = e.sql("DESCRIBE DETAIL t1").collect()[0]
    assert d["location"] == p and d["format"] == "snapshot"
    assert d["version"] == 1 and d["num_rows"] == 4
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["constraints"] == "" and d["identity_col"] is None
    # make versions 2..3 so retention has something to drop
    e.sql("DELETE FROM t1 WHERE k = 1")
    e.sql("DELETE FROM t1 WHERE k = 2")
    would = {r["path"] for r in e.sql("VACUUM t1 RETAIN 1 VERSIONS DRY RUN").collect()}
    # dry run removed NOTHING: time travel to v1 still works
    assert e.sql("SELECT count(*) AS n FROM t1 VERSION AS OF 1").collect()[0]["n"] == 4
    got = e.sql("VACUUM t1 RETAIN 1 VERSIONS").collect()[0]["paths_removed"]
    assert got == len(would) > 0
    # real vacuum removed exactly the dry-run list
    import pytest as _pytest

    with _pytest.raises(Exception):
        e.sql("SELECT count(*) FROM t1 VERSION AS OF 1").collect()
    assert e.sql("SELECT count(*) AS n FROM t1").collect()[0]["n"] == 2
    d2 = e.sql("DESCRIBE DETAIL t1").collect()[0]
    assert d2["retained_versions"] == 1


def test_sql_table_changes_function(spark, tmp_path, eng):
    """Delta's CDF SQL function: SELECT ... FROM table_changes('v', a[, b])
    emits per-commit row-level changes with _change_type /
    _commit_version / _commit_timestamp; OPTIMIZE commits are excluded;
    the window's first retained version emits its snapshot as inserts."""
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_append, snapshot_compact,
    )

    e, p = eng  # t1 @ v1 = BASE
    e.sql("INSERT INTO t1 SELECT 5 AS k, CAST(50.0 AS DOUBLE) AS amount, 'd' AS tag")  # v2
    e.sql("DELETE FROM t1 WHERE k = 1")                                                # v3
    snapshot_compact(spark, p, small_file_max_rows=10_000)                             # v4, data_change=false
    e.sql("INSERT INTO t1 SELECT 6 AS k, CAST(60.0 AS DOUBLE) AS amount, 'e' AS tag")  # v5

    rows = e.sql(
        "SELECT k, _change_type, _commit_version FROM table_changes('t1', 2, 5) "
        "ORDER BY _commit_version, k"
    ).collect()
    got = [(r["k"], r["_change_type"], r["_commit_version"]) for r in rows]
    assert got == [
        (5, "insert", 2),
        (1, "delete", 3),
        (6, "insert", 5),   # v4 (OPTIMIZE) emits nothing
    ]

    # window opening at the first retained version: creation = inserts
    first = e.sql(
        "SELECT count(*) AS n FROM table_changes('t1', 1, 1) "
        "WHERE _change_type = 'insert'"
    ).collect()[0]["n"]
    assert first == len(BASE)

    # timestamps are real commit times, non-decreasing across the window
    ts = [
        r["_commit_timestamp"]
        for r in e.sql(
            "SELECT DISTINCT _commit_version, _commit_timestamp "
            "FROM table_changes('t1', 1, 5) ORDER BY _commit_version"
        ).collect()
    ]
    assert ts == sorted(ts) and ts[0].year >= 2024

    # composes with plain SQL (joins, aggregates) like any relation
    n_ins = e.sql(
        "SELECT count(*) AS n FROM table_changes('t1', 1, 5) c "
        "WHERE c._change_type = 'insert'"
    ).collect()[0]["n"]
    assert n_ins == len(BASE) + 2

    # windows outside retention error loudly
    with pytest.raises(SqlDispatchError, match="retained"):
        e.sql("SELECT * FROM table_changes('t1', 0, 99)")
    with pytest.raises(SqlDispatchError, match="not a registered"):
        e.sql("SELECT * FROM table_changes('nope', 1)")


def test_sql_optimize_where_scoped_compaction(spark, tmp_path, eng):
    """OPTIMIZE v WHERE <pred>: folds only files the predicate may touch
    (per-file stats) — Delta's partition-scoped OPTIMIZE shape; content
    identical, out-of-scope files carried byte-identically."""
    from music_recommendation_service_spark.sources import snapshots as S

    e, _ = eng
    p = str(tmp_path / "opt_where")
    # two key regions, several small files each
    for lo in (0, 1000):
        for i in range(3):
            df = _df(spark, [(lo + i * 10 + j, 1.0, "x") for j in range(3)])
            if lo == 0 and i == 0:
                S.snapshot_write(df, p, stats_cols=["k"])
            else:
                from music_recommendation_service_spark.sources.snapshots import (
                    snapshot_append,
                )
                snapshot_append(df, p, stats_cols=["k"])
    e.snapshot(p, view="optw")
    before = S._manifest_files(p, S._latest_manifest(p))
    hi_before = [x for x in before if x["stats"]["k"][0] >= 1000]

    out = e.sql("OPTIMIZE optw WHERE k < 1000").collect()
    assert out[0]["version"] is not None
    after = S._manifest_files(p, S._latest_manifest(p))
    hi_after = [x for x in after if x["stats"]["k"][0] >= 1000]
    lo_after = [x for x in after if x["stats"]["k"][0] < 1000]
    # out-of-scope files carried untouched; in-scope files folded to one
    assert hi_after == hi_before
    assert len(lo_after) == 1 and len(after) < len(before)
    got = {r["k"] for r in e.sql("SELECT * FROM optw").collect()}
    assert got == {i * 10 + j for i in range(3) for j in range(3)} | {
        1000 + i * 10 + j for i in range(3) for j in range(3)
    }

    # scoped ZORDER (round 10): WHERE bounds the re-cluster to the
    # stats-scoped file set; content identical, out-of-scope carried
    before_all = {r["k"] for r in e.sql("SELECT * FROM optw").collect()}
    vz = e.sql("OPTIMIZE optw WHERE k < 10 ZORDER BY (k)").collect()[0]["version"]
    assert vz is not None
    assert {r["k"] for r in e.sql("SELECT * FROM optw").collect()} == before_all
    with pytest.raises(Exception, match="stats-checkable"):
        e.sql("OPTIMIZE optw WHERE length(tag) > 1")


def test_sql_convert_to_snapshot(spark, tmp_path, eng):
    """CONVERT TO SNAPSHOT through the SQL front: registers the view,
    stats land, and the converted table takes DML + time travel."""
    e, _ = eng
    src = str(tmp_path / "legacy_parquet")
    _df(spark, BASE).write.parquet(src)
    loc = str(tmp_path / "converted")

    out = e.sql(
        f"CONVERT TO SNAPSHOT '{src}' AS legacy LOCATION '{loc}' STATS (k)"
    ).collect()
    assert out[0]["version"] == 1
    assert _state(spark, e, "legacy") == {
        k: (a, t) for k, a, t in BASE
    }
    e.sql("UPDATE legacy SET tag = 'seen' WHERE k = 1")
    assert _state(spark, e, "legacy")[1] == (10.0, "seen")
    v1 = e.sql("SELECT * FROM legacy VERSION AS OF 1").collect()
    assert {r["tag"] for r in v1 if r["k"] == 1} == {"a"}

    with pytest.raises(SqlDispatchError, match="CONVERT grammar"):
        e.sql("CONVERT TO SNAPSHOT missing-quotes AS x LOCATION 'y'")


def test_sql_merge_with_schema_evolution(spark, tmp_path, eng):
    """MERGE WITH SCHEMA EVOLUTION INTO through the front door widens the
    target with source-only columns; plain MERGE leaves them unstored."""
    e, p = eng
    e.sql(
        "MERGE INTO t1 USING (SELECT 1 AS k, CAST(99.0 AS DOUBLE) AS amount, "
        "'z' AS tag, 'web' AS channel) s ON t1.k = s.k "
        "WHEN MATCHED THEN UPDATE SET amount = s.amount"
    )
    assert "channel" not in e.sql("SELECT * FROM t1").columns

    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t1 USING (SELECT 1 AS k, "
        "CAST(11.0 AS DOUBLE) AS amount, 'z' AS tag, 'web' AS channel) s "
        "ON t1.k = s.k "
        "WHEN MATCHED THEN UPDATE SET channel = s.channel "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r["k"]: r["channel"] for r in e.sql("SELECT * FROM t1").collect()}
    assert got[1] == "web" and all(v is None for k, v in got.items() if k != 1)


def test_sql_table_changes_refuses_vacuumed_horizon(spark, tmp_path, eng):
    """After VACUUM truncates the manifest prefix, the earliest retained
    version is NOT the creation commit — emitting its whole snapshot as
    'insert' rows would misreport a delete/merge commit's changes, so the
    feed refuses (Delta CDF errors when change data for the range is
    unavailable). Windows starting one past the horizon still work."""
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_vacuum, snapshot_versions,
    )

    e, p = eng  # t1 @ v1 = BASE
    e.sql("DELETE FROM t1 WHERE k = 1")                                                # v2
    e.sql("INSERT INTO t1 SELECT 6 AS k, CAST(60.0 AS DOUBLE) AS amount, 'e' AS tag")  # v3
    e.sql("INSERT INTO t1 SELECT 7 AS k, CAST(70.0 AS DOUBLE) AS amount, 'f' AS tag")  # v4
    snapshot_vacuum(p, keep_last=3, orphan_min_age_sec=0.0)
    assert snapshot_versions(p) == [2, 3, 4]

    # v2 is a DELETE commit whose predecessor manifest is gone: refusing
    # beats returning the whole surviving table as inserts
    with pytest.raises(SqlDispatchError, match="vacuumed"):
        e.sql("SELECT * FROM table_changes('t1', 2, 4)")

    rows = e.sql(
        "SELECT k, _change_type, _commit_version FROM table_changes('t1', 3, 4) "
        "ORDER BY _commit_version"
    ).collect()
    assert [(r["k"], r["_change_type"], r["_commit_version"]) for r in rows] == [
        (6, "insert", 3),
        (7, "insert", 4),
    ]


def test_sql_insert_overwrite_forms(spark, tmp_path, eng):
    """INSERT OVERWRITE: WHERE form = replaceWhere; bare form on a
    partitioned table = dynamic partition overwrite; bare form on an
    unpartitioned table = full overwrite; INTO rejects WHERE."""
    from music_recommendation_service_spark.engine import Engine
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_versions, snapshot_write,
    )

    e, p = eng  # t1 (unpartitioned) @ v1 = BASE
    # replaceWhere through SQL: replace tag 'a' rows with one row
    e.sql(
        "INSERT OVERWRITE t1 WHERE tag = 'a' "
        "SELECT 77 AS k, CAST(7.0 AS DOUBLE) AS amount, 'a' AS tag"
    )
    got = {(r["k"], r["tag"]) for r in e.sql("SELECT k, tag FROM t1").collect()}
    assert (77, "a") in got and not {(1, "a"), (3, "a")} & got
    assert (2, "b") in got and (4, "c") in got

    # full overwrite on the unpartitioned table
    e.sql("INSERT OVERWRITE t1 SELECT 9 AS k, CAST(1.0 AS DOUBLE) AS amount, 'z' AS tag")
    assert e.sql("SELECT count(*) AS n FROM t1").collect()[0]["n"] == 1

    # dynamic overwrite on a partitioned table
    loc = str(tmp_path / "pt_io")
    pdf = spark.createDataFrame(
        [(i, 1990 + i % 2, float(i)) for i in range(10)], "k int, yr int, amount double"
    )
    snapshot_write(pdf, loc, partition_by=["yr"])
    e2 = Engine(str(tmp_path), spark=spark)
    e2.snapshot(loc, view="pio")
    e2.sql(
        "INSERT OVERWRITE pio "
        "SELECT 100 AS k, 1991 AS yr, CAST(0.5 AS DOUBLE) AS amount"
    )
    rows = {(r["k"], r["yr"]) for r in e2.sql("SELECT k, yr FROM pio").collect()}
    assert (100, 1991) in rows
    assert all(yr == 1990 for k, yr in rows if k != 100)
    assert len(rows) == 6  # 5 of 1990 + the one replacement row

    with pytest.raises(SqlDispatchError, match="INTO takes no WHERE"):
        e.sql("INSERT INTO t1 WHERE tag = 'a' SELECT 1 AS k, CAST(1.0 AS DOUBLE) AS amount, 'a' AS tag")


def test_sql_insert_overwrite_where_paren_predicates(spark, tmp_path, eng):
    """The replaceWhere predicate may contain parenthesized terms —
    IN-lists, grouped boolean terms, scalar subqueries — the paren-aware
    scanner finds where the query starts instead of truncating at the
    first '('."""
    e, p = eng  # t1 @ BASE: (1,a) (2,b) (3,a) (4,c)

    # IN-list predicate
    e.sql(
        "INSERT OVERWRITE t1 WHERE tag IN ('a', 'b') "
        "SELECT 77 AS k, CAST(7.0 AS DOUBLE) AS amount, 'a' AS tag"
    )
    st = _state(spark, e, "t1")
    assert set(st) == {77, 4}

    # grouped boolean predicate with a top-level AND
    e.sql(
        "INSERT OVERWRITE t1 WHERE (tag = 'a' OR tag = 'zz') AND k > 0 "
        "SELECT 88 AS k, CAST(8.0 AS DOUBLE) AS amount, 'a' AS tag"
    )
    st = _state(spark, e, "t1")
    assert set(st) == {88, 4}

    # parenthesized query after the predicate
    e.sql(
        "INSERT OVERWRITE t1 WHERE tag IN ('c') "
        "(SELECT 99 AS k, CAST(9.0 AS DOUBLE) AS amount, 'c' AS tag)"
    )
    st = _state(spark, e, "t1")
    assert set(st) == {88, 99}

    # empty predicate refuses loudly
    with pytest.raises(SqlDispatchError, match="empty WHERE"):
        e.sql("INSERT OVERWRITE t1 WHERE SELECT 1 AS k, CAST(1.0 AS DOUBLE) AS amount, 'a' AS tag")


def test_sql_insert_overwrite_where_paren_query_chains(spark, tmp_path, eng):
    """Parenthesized compound queries after a replaceWhere predicate and
    scalar subqueries INSIDE the predicate both parse: the query starts at
    the first top-level query-group not preceded by an operator."""
    e, p = eng  # BASE: (1,a) (2,b) (3,a) (4,c)
    e.sql(
        "INSERT OVERWRITE t1 WHERE tag IN ('a') "
        "(SELECT 70 AS k, CAST(7.0 AS DOUBLE) AS amount, 'a' AS tag) "
        "UNION ALL "
        "(SELECT 71 AS k, CAST(7.1 AS DOUBLE) AS amount, 'a' AS tag)"
    )
    st = _state(spark, e, "t1")
    assert set(st) == {70, 71, 2, 4}

    # scalar subquery in the predicate, parenthesized query after it:
    # re-price the current max-k row in place (incoming must satisfy the
    # scope, so it reuses k = max(k) = 71)
    e.sql(
        "INSERT OVERWRITE t1 WHERE k = (SELECT max(k) FROM t1) "
        "(SELECT 71 AS k, CAST(9.9 AS DOUBLE) AS amount, 'z' AS tag)"
    )
    st = _state(spark, e, "t1")
    assert st[71] == (9.9, "z")
    assert set(st) == {70, 71, 2, 4}


def test_snapshot_files_sql_table_function(spark, tmp_path):
    """SELECT ... FROM snapshot_files('v'[, ver]) — the active-file
    inventory as a SQL table function (round-12): aggregable rows/paths,
    version-addressable, composable with ordinary SQL; bad versions and
    unknown views refuse loudly."""
    from music_recommendation_service_spark.engine import Engine
    from music_recommendation_service_spark.sources import snapshots as S

    root = str(tmp_path)
    p = f"{root}/t"
    S.snapshot_write(
        spark.range(100).selectExpr("id AS k", "id % 5 AS g").repartition(4),
        p, stats_cols=["k"],
    )
    S.snapshot_append(
        spark.createDataFrame([(1000, 0)], "k long, g long").repartition(1),
        p, stats_cols=["k"],
    )
    e = Engine(root, spark=spark)
    e.snapshot(p, view="tv")

    rows = e.sql(
        "SELECT count(*) AS n_files, CAST(sum(rows) AS BIGINT) AS n_rows "
        "FROM snapshot_files('tv')"
    ).collect()[0]
    ent = S._manifest_files(p, S._latest_manifest(p))
    assert rows["n_files"] == len(ent)
    assert rows["n_rows"] == 101

    # version-addressed: v1's inventory excludes the appended file
    v1 = e.sql(
        "SELECT count(*) AS n, CAST(sum(rows) AS BIGINT) AS r "
        "FROM snapshot_files('tv', 1)"
    ).collect()[0]
    assert v1["r"] == 100 and v1["n"] == len(ent) - 1

    # stats columns ride natively typed
    mm = e.sql(
        "SELECT min(smin_k) AS lo, max(smax_k) AS hi FROM snapshot_files('tv')"
    ).collect()[0]
    assert (mm["lo"], mm["hi"]) == (0, 1000)

    import pytest as _pytest

    with _pytest.raises(Exception, match="version 9"):
        e.sql("SELECT * FROM snapshot_files('tv', 9)").collect()
    with _pytest.raises(Exception, match="not a registered snapshot view"):
        e.sql("SELECT * FROM snapshot_files('nope')").collect()


def test_describe_detail_protocol_fields(spark, tmp_path):
    """DESCRIBE DETAIL carries the metadata-plane fields a fleet plans
    around (round-12): manifest form, checkpoint layout/bytes, and the
    min_reader/min_writer gates."""
    from music_recommendation_service_spark.engine import Engine
    from music_recommendation_service_spark.sources import snapshots as S

    root = str(tmp_path)
    p = f"{root}/t"
    S.snapshot_write(spark.range(10).selectExpr("id AS k"), p)
    e = Engine(root, spark=spark)
    e.snapshot(p, view="dt")
    d = e.sql("DESCRIBE DETAIL dt").collect()[0]
    assert d["manifest_form"] == "inline"
    assert d["checkpoint_layout"] is None and d["checkpoint_bytes"] is None
    assert d["min_reader"] == 1 and d["min_writer"] == 1
    assert d["generated_cols"] == ""

    # checkpoint-form table reports the sidecar
    import pytest as _pytest

    mp = _pytest.MonkeyPatch()
    try:
        mp.setattr(S, "_PARQUET_CHECKPOINT_MIN_FILES", 2)
        S.snapshot_append(
            spark.range(10, 40).selectExpr("id AS k").repartition(3), p
        )
    finally:
        mp.undo()
    d2 = e.sql("DESCRIBE DETAIL dt").collect()[0]
    assert d2["manifest_form"] in ("parquet_checkpoint", "delta")
    if d2["manifest_form"] == "parquet_checkpoint":
        assert d2["checkpoint_bytes"] > 0
        assert d2["min_reader"] >= 3
