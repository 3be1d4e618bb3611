"""Engine facade + skew-join tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from music_recommendation_service_spark.engine import Engine
from music_recommendation_service_spark.operators.skew import salted_join


def test_engine_facade(spark, sf_dir):
    eng = Engine(sf_dir, spark)
    assert eng.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5
    assert eng.table("nation").count() == 25
    assert "q05_hybrid_recommendations" in eng.queries()
    df = eng.query("q07_top_orders")
    assert df.count() == 10
    with pytest.raises(KeyError):
        eng.query("nope")


def test_salted_join_equals_plain(spark, sf_dir):
    eng = Engine(sf_dir, spark)
    o = eng.table("orders").select("o_orderkey", "o_custkey")
    c = eng.table("customer").select("c_custkey", "c_nationkey").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = o.join(c, "o_custkey")
    salted = salted_join(o, c, on="o_custkey", n_salts=8)
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "x"), (2, "y"), (99, "z")], ["k", "v"])
    small = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "w"])
    out = {r["k"]: r["w"] for r in salted_join(big, small, on="k", how="left").collect()}
    assert out == {1: 10.0, 2: 20.0, 99: None}


def test_cli_list_and_query(tmp_path):
    """The spark-submit surface: list + query + lake write via subprocess."""
    import subprocess
    import sys

    env_root = "/root/repo"
    r = subprocess.run(
        [sys.executable, "-m", "music_recommendation_service_spark", "list"],
        capture_output=True, text=True, cwd=env_root, timeout=300,
    )
    assert r.returncode == 0
    assert "q01_weekly_trending" in r.stdout

    out = str(tmp_path / "gold")
    r = subprocess.run(
        [
            sys.executable, "-m", "music_recommendation_service_spark",
            "query", "q07_top_orders",
            "--root", "/root/testdata/sf0.001", "--out", out,
        ],
        capture_output=True, text=True, cwd=env_root, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert n == 10


def test_engine_snapshot_as_of(spark, sf_dir, tmp_path):
    import time as _time

    from music_recommendation_service_spark.engine import Engine
    from music_recommendation_service_spark.sources.snapshots import (
        snapshot_write,
    )

    eng = Engine(sf_dir, spark)
    path = str(tmp_path / "snapt")
    snapshot_write(eng.table("orders").limit(3), path)
    t = _time.time()
    _time.sleep(0.05)
    snapshot_write(eng.table("orders").limit(8), path)
    assert eng.snapshot(path).count() == 8
    assert eng.snapshot(path, as_of=t).count() == 3
    assert eng.snapshot(path, version=1, view="snap_v1").count() == 3
    assert eng.sql("SELECT count(*) AS n FROM snap_v1").collect()[0].n == 3


def test_sql_front_event_time_windows(spark, sf_dir):
    """window()/session_window() typed as literal SQL into Engine.sql (the
    Thrift-user path) equals the oracle-checked catalog queries q147/q148."""
    from music_recommendation_service_spark.plans.windows import (
        _q147_sql,
        _q148_sql,
    )

    eng = Engine(sf_dir, spark)
    for sql, qname in ((_q147_sql(), "q147_sql_tumbling_windows"),
                       (_q148_sql(), "q148_sql_session_windows")):
        got = {tuple(r) for r in eng.sql(sql).collect()}
        want = {tuple(r) for r in eng.query(qname).collect()}
        assert got == want and len(want) > 0


def test_engine_session_sizes_codegen_cache(spark):
    """The builder's generated-code cache size reaches Spark's typed conf.
    Read through the typed accessor, so a Spark upgrade that renames or
    drops this internal, static conf fails here instead of silently
    falling back to 100 entries (an unknown key is kept as a plain string
    and changes nothing)."""
    from music_recommendation_service_spark.session import CODEGEN_CACHE_ENTRIES

    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.codegenCacheMaxEntries() == CODEGEN_CACHE_ENTRIES


def test_repeated_queries_match_and_stop_compiling(spark, sf_dir):
    """Three back-to-back passes over the bench queries (q01, q05, q27 and
    the rest of the headline set): every pass returns the same rows (the
    warm, cache-served path equals the cold one), and the third pass
    compiles no generated code. One pass needs ~170 classes, more than
    Spark's default cache of 100 holds, so without the engine's cache size
    every pass would recompile."""
    import hashlib

    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.session import codegen_compiles
    from music_recommendation_service_spark.sources.writers import (
        scratch_drain_async,
    )
    from tests.oracle import _canon

    reg = registry()
    names = [name for name, q in sorted(reg.items()) if q.bench]
    assert {"q01_weekly_trending", "q05_hybrid_recommendations",
            "q27_ngram_jaccard_neardup"} <= set(names)
    passes, compiles = [], []
    for _ in range(3):
        c0 = codegen_compiles(spark)
        got = {}
        for name in names:
            df = reg[name].build(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            _, canon = _canon(df.columns, rows)
            got[name] = (len(rows), hashlib.sha256(repr(canon).encode()).hexdigest())
        # q05's first run writes its scratch copy in the background; let it
        # land so the later passes all read the same plan
        scratch_drain_async()
        compiles.append(codegen_compiles(spark) - c0)
        passes.append(got)
    assert passes[1] == passes[0] and passes[2] == passes[0]
    assert compiles[2] == 0, compiles
