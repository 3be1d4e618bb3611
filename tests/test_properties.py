"""Property-based tests (hypothesis): operators vs brute-force Python
references on randomized small inputs — the §5 strategy layer above the
fixed-fixture oracles. Few examples per property (each example round-trips
through Spark), unbounded deadline."""

from __future__ import annotations

import datetime as dt
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from music_recommendation_service_spark.operators.asof import asof_join
from music_recommendation_service_spark.operators.pairs import (
    cooccurrence_pairs,
    symmetrize_pairs,
)
from music_recommendation_service_spark.operators.topk import topk_per_key

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from music_recommendation_service_spark.session import get_spark

        _spark = get_spark("props")
    return _spark


pairs_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 8)), min_size=0, max_size=40
)


@given(rows=pairs_rows)
@SETTINGS
def test_cooccurrence_matches_bruteforce(rows):
    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0)], ["g", "item"])
    if not rows:
        df = df.filter("g < 0")
    got = {
        (r["item_1"], r["item_2"]): r["score"]
        for r in cooccurrence_pairs(df, "g", "item").collect()
    }
    want = Counter()
    groups = {}
    for g, i in set(rows):
        groups.setdefault(g, set()).add(i)
    for items in groups.values():
        s = sorted(items)
        for a in range(len(s)):
            for b in range(a + 1, len(s)):
                want[(s[a], s[b])] += 1
    assert got == dict(want)


@given(rows=pairs_rows)
@SETTINGS
def test_cooccurrence_pre_distinct_equivalent(rows):
    """pre_distinct=True over an ALREADY-DISTINCT input must return exactly
    the rows of the default path (it only removes the redundant per-side
    re-distinct exchange from the build plan — round-12 optimization), and
    its plan must carry no distinct aggregate over the base."""
    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0)], ["g", "item"])
    if not rows:
        df = df.filter("g < 0")
    base = df.select("g", "item").distinct()
    want = {
        (r["item_1"], r["item_2"]): r["score"]
        for r in cooccurrence_pairs(df, "g", "item").collect()
    }
    got = {
        (r["item_1"], r["item_2"]): r["score"]
        for r in cooccurrence_pairs(
            base, "g", "item", pre_distinct=True
        ).collect()
    }
    assert got == want


def test_pre_distinct_call_sites_are_distinct(spark, sf_dir):
    """pre_distinct=True skips the pair build's own distinct on the
    caller's word: the input of every engine call site must already be
    distinct on the projected (group, item) pair, or pair counts inflate."""
    import pathlib

    import music_recommendation_service_spark as engine
    from music_recommendation_service_spark.plans.reference_parity import (
        _baskets_m,
        _likes_m,
    )

    sites = sum(
        f.read_text().count("pre_distinct=True")
        for f in pathlib.Path(engine.__file__).parent.rglob("*.py")
    )
    assert sites == 2, "a new pre_distinct=True call site: check its input here"
    for df, cols in (
        (_likes_m(spark, sf_dir), ["user_id", "item_id"]),  # q03 / q05
        (_baskets_m(spark, sf_dir), ["l_orderkey", "l_partkey"]),  # q122 / q123
    ):
        pair = df.select(*cols)
        assert pair.count() == pair.distinct().count() > 0


@given(rows=pairs_rows)
@SETTINGS
def test_symmetrize_is_involution_free(rows):
    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0)], ["g", "item"])
    if not rows:
        df = df.filter("g < 0")
    pairs = cooccurrence_pairs(df, "g", "item")
    sym = symmetrize_pairs(pairs, "item_1", "item_2")
    got = {(r["src"], r["dst"], r["score"]) for r in sym.collect()}
    fwd = {(r["item_1"], r["item_2"], r["score"]) for r in pairs.collect()}
    assert got == fwd | {(b, a, s) for a, b, s in fwd}
    assert sym.count() == 2 * pairs.count()  # no self-pairs existed to collide


asof_left = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=25
)
asof_right = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.floats(0, 10)),
    min_size=0,
    max_size=25,
)


@given(left=asof_left, right=asof_right)
@SETTINGS
def test_asof_matches_bruteforce(left, right):
    spark = _get_spark()
    base = dt.datetime(2024, 1, 1)

    # dedupe right to one row per (key, ts) for deterministic semantics
    rdict = {}
    for k, t, v in right:
        rdict[(k, t)] = max(v, rdict.get((k, t), float("-inf")))
    l_rows = [(i, k, base + dt.timedelta(seconds=t)) for i, (k, t) in enumerate(left)]
    r_rows = [
        (k, base + dt.timedelta(seconds=t), v) for (k, t), v in sorted(rdict.items())
    ]
    ldf = spark.createDataFrame(l_rows, ["row_id", "k", "ts"])
    if r_rows:
        rdf = spark.createDataFrame(r_rows, ["k", "rts", "price"])
    else:
        rdf = spark.createDataFrame(
            [(0, base, 0.0)], ["k", "rts", "price"]
        ).filter("k < 0")
    got = {
        r["row_id"]: r["price"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="rts", right_payload=("price",)
        ).collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, v) for (rk, rt), v in rdict.items() if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, t, got[i], want)


topk_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=30
)


@given(rows=topk_rows)
@SETTINGS
def test_topk_per_key_matches_sort(rows):
    from pyspark.sql import functions as F

    spark = _get_spark()
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], ["k", "v", "uid"]
    )
    got = [
        (r["k"], r["v"], r["uid"], r["rank"])
        for r in topk_per_key(df, ["k"], 3, F.desc("v"), F.asc("uid")).collect()
    ]
    by_key = {}
    for i, (k, v) in enumerate(rows):
        by_key.setdefault(k, []).append((v, i))
    want = []
    for k, vs in by_key.items():
        for rank, (v, i) in enumerate(sorted(vs, key=lambda x: (-x[0], x[1]))[:3], 1):
            want.append((k, v, i, rank))
    assert sorted(got) == sorted(want)


range_points = st.lists(st.floats(0, 100, allow_nan=False), min_size=1, max_size=20)
range_intervals = st.lists(
    st.tuples(st.floats(0, 100, allow_nan=False), st.floats(0, 50, allow_nan=False)),
    min_size=1,
    max_size=10,
)


@given(points=range_points, intervals=range_intervals, width=st.sampled_from([3.0, 10.0, 40.0]))
@SETTINGS
def test_range_join_matches_bruteforce(points, intervals, width):
    from music_recommendation_service_spark.operators.rangejoin import range_join

    spark = _get_spark()
    ldf = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)], ["pid", "v"]
    )
    rdf = spark.createDataFrame(
        [(j, float(lo), float(lo) + float(w)) for j, (lo, w) in enumerate(intervals)],
        ["iid", "lo", "hi"],
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join(ldf, rdf, point="v", lo="lo", hi="hi", bucket_width=width).collect()
    }
    want = {
        (i, j)
        for i, p in enumerate(points)
        for j, (lo, w) in enumerate(intervals)
        if lo <= p < lo + w
    }
    assert got == want


# ---------------------------------------------------------------------------
# Sessionization invariants (q75 logic): within-session gaps <= GAP,
# between-session gaps > GAP, sessions partition the events exactly.
# ---------------------------------------------------------------------------
session_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 100_000)),
    min_size=1,
    max_size=40,
)


@given(rows=session_rows)
@SETTINGS
def test_sessionize_invariants(rows):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    GAP = 1800
    spark = _get_spark()
    base = dt.datetime(2024, 1, 1)
    data = [
        (u, i, base + dt.timedelta(seconds=s))
        for i, (u, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["user_id", "event_id", "ts"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > GAP), 1).otherwise(0)
    sess = df.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
    ).collect()

    # Brute-force reference per user.
    by_user = {}
    for u, i, ts in data:
        by_user.setdefault(u, []).append((ts, i))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        sid = 0
        prev = None
        for ts, i in evs:
            if prev is None or (ts - prev).total_seconds() > GAP:
                sid += 1
            want[(u, i)] = sid
            prev = ts
    got = {(r["user_id"], r["event_id"]): r["session_id"] for r in sess}
    assert got == want


# ---------------------------------------------------------------------------
# Triangle counting (q73 core) vs brute force on random small graphs.
# ---------------------------------------------------------------------------
edge_lists = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=30
)


@given(raw=edge_lists)
@SETTINGS
def test_triangle_count_matches_bruteforce(raw):
    from itertools import combinations

    from pyspark.sql import functions as F

    spark = _get_spark()
    edges = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    df = spark.createDataFrame(list(edges) or [(0, 0)], ["a", "b"])
    if not edges:
        df = df.filter("a < 0")
    e1, e2, e3 = df.alias("e1"), df.alias("e2"), df.alias("e3")
    got = (
        e1.join(e2, (F.col("e2.a") == F.col("e1.a")) & (F.col("e2.b") > F.col("e1.b")))
        .join(e3, (F.col("e3.a") == F.col("e1.b")) & (F.col("e3.b") == F.col("e2.b")))
        .count()
    )
    verts = {v for e in edges for v in e}
    want = sum(
        1
        for x, y, z in combinations(sorted(verts), 3)
        if (x, y) in edges and (x, z) in edges and (y, z) in edges
    )
    assert got == want


def test_cooccurrence_hot_key_cap_bounds_and_preserves():
    """cap_group_size is the 100 TB hot-key guard (SURVEY §4.2): a
    pathological 10k-item group must contribute at most C(cap,2) pairs —
    the deterministic first-``cap`` items in item order — while groups
    under the cap produce byte-identical results with or without it."""
    spark = _get_spark()
    cap = 50

    # pathological hot key: one group holding 10k distinct items (uncapped
    # this is ~5e7 pairs — the runaway-shuffle shape), landed in scrambled
    # order so the test pins WHICH items survive (smallest by item order)
    hot_items = [(i * 7919) % 10_000 for i in range(10_000)]  # permutation
    hot = [(0, i) for i in hot_items]
    df_hot = spark.createDataFrame(hot, ["g", "item"])
    got = {
        (r["item_1"], r["item_2"]): r["score"]
        for r in cooccurrence_pairs(
            df_hot, "g", "item", cap_group_size=cap
        ).collect()
    }
    kept = sorted(set(hot_items))[:cap]
    want = {
        (kept[a], kept[b]): 1
        for a in range(len(kept))
        for b in range(a + 1, len(kept))
    }
    assert got == want
    assert len(got) == cap * (cap - 1) // 2  # bounded, not O(n^2)

    # under-cap groups: capped result == uncapped result, byte-identical
    normal = (
        [(1, i) for i in range(5)]
        + [(2, i) for i in (3, 7, 9)]
        + [(3, 42)]
        + [(1, 2)]  # duplicate row: distinct-first semantics unchanged
    )
    df_n = spark.createDataFrame(normal, ["g", "item"])
    uncapped = sorted(
        tuple(r) for r in cooccurrence_pairs(df_n, "g", "item").collect()
    )
    capped = sorted(
        tuple(r)
        for r in cooccurrence_pairs(
            df_n, "g", "item", cap_group_size=cap
        ).collect()
    )
    assert capped == uncapped


@given(rows=pairs_rows, buckets=st.sampled_from([2, 3, 5]))
@SETTINGS
def test_cooccurrence_salted_is_exact(rows, buckets):
    """PairConfig(salt_buckets=B) is an EXACT algebraic rewrite of the pair
    self-join (the hot-key mitigation for the flagship q02/q03/q05 path):
    output identical to the unsalted join for every input and bucket
    count — no pair lost across buckets, none double-counted."""
    from music_recommendation_service_spark.operators.pairs import PairConfig

    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0)], ["g", "item"])
    if not rows:
        df = df.filter("g < 0")
    plain = sorted(
        tuple(r) for r in cooccurrence_pairs(df, "g", "item").collect()
    )
    salted = sorted(
        tuple(r)
        for r in cooccurrence_pairs(
            df, "g", "item", config=PairConfig(salt_buckets=buckets)
        ).collect()
    )
    assert salted == plain


def test_cooccurrence_salted_hot_group_exact():
    """One pathological group (500 items -> ~125k pairs): salted output and
    score sum match the unsalted join exactly."""
    from music_recommendation_service_spark.operators.pairs import PairConfig

    spark = _get_spark()
    rows = [(0, (i * 7919) % 500) for i in range(500)] + [
        (g, i) for g in range(1, 4) for i in range(g * 3)
    ]
    df = spark.createDataFrame(rows, ["g", "item"])
    plain = cooccurrence_pairs(df, "g", "item").collect()
    salted = cooccurrence_pairs(
        df, "g", "item", config=PairConfig(salt_buckets=8)
    ).collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))
    # the hot group alone covers every canonical pair key over items 0..499;
    # the small groups' pairs merge into those keys as extra score
    assert len(plain) == 500 * 499 // 2
    assert sum(r["score"] for r in plain) == 500 * 499 // 2 + sum(
        (g * 3) * (g * 3 - 1) // 2 for g in range(1, 4)
    )


salted_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-5, 5), st.floats(-10, 10)),
    min_size=0,
    max_size=40,
)


@given(rows=salted_rows)
@SETTINGS
def test_salted_aggregate_matches_plain(rows):
    """Two-phase salted aggregation == plain groupBy for every algebraic
    aggregate, on randomized inputs including a degenerate empty frame."""
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.operators.skew import salted_aggregate

    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0, 0.0)], ["k", "a", "x"])
    if not rows:
        df = df.filter("k < 0")
    got = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_aggregate(
            df,
            ["k"],
            [("n", "*", "count"), ("s", "a", "sum"), ("mn", "x", "min"), ("mx", "x", "max")],
            n_salts=4,
        ).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a").alias("s"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
        .collect()
    }
    assert got == want


@given(rows=salted_rows, dim=st.lists(st.tuples(st.integers(0, 3), st.text(max_size=3)), max_size=8))
@SETTINGS
def test_salted_join_matches_plain(rows, dim):
    """Salted inner and left joins == the plain joins (multiset equality),
    including duplicate dim keys and unmatched probe rows."""
    from music_recommendation_service_spark.operators.skew import salted_join

    spark = _get_spark()
    left = spark.createDataFrame(rows or [(0, 0, 0.0)], ["k", "a", "x"])
    right = spark.createDataFrame(dim or [(0, "")], ["k", "lbl"])
    if not rows:
        left = left.filter("k < 0")
    if not dim:
        right = right.filter("k < 0")
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(left, right, ["k"], n_salts=3, how=how).collect()
        )
        want = sorted(tuple(r) for r in left.join(right, ["k"], how).collect())
        assert got == want, how


def test_salted_join_rejects_outer_shapes():
    import pytest as _pytest

    from music_recommendation_service_spark.operators.skew import (
        salted_aggregate,
        salted_join,
    )

    spark = _get_spark()
    df = spark.createDataFrame([(1, 2)], ["k", "v"])
    with _pytest.raises(ValueError, match="only inner/left"):
        salted_join(df, df, ["k"], how="full")
    with _pytest.raises(ValueError, match="non-algebraic"):
        salted_aggregate(df, ["k"], [("m", "v", "median")])


def test_q139_km_invariants(spark, sf_dir):
    """Kaplan-Meier: survival starts <= 1, is non-increasing in t, at-risk
    counts are non-increasing, and the censored tail is non-empty (the
    estimator is only interesting under real censoring)."""
    from music_recommendation_service_spark.plans import registry

    rows = sorted(
        (r["t_hours"], r["n_at_risk"], r["events"], r["survival"])
        for r in registry()["q139_survival_curve"].build(spark, sf_dir).collect()
    )
    assert rows, "empty curve"
    assert all(0.0 <= s <= 1.0 for *_x, s in rows)
    assert all(rows[i][3] >= rows[i + 1][3] for i in range(len(rows) - 1))
    assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))
    # the cutoff bucket exists and carries censored (event-free) subjects
    t_max = rows[-1]
    assert t_max[0] == 96 and t_max[1] > t_max[2]


# --- file skipping: the one rule never drops a file holding a matching row

_SKIP_TYPES = ("long", "double", "string", "date", "timestamp_ntz")


def _skip_value(rng, t):
    """A random column value of Spark type ``t`` (None for a null)."""
    if rng.random() < 0.1:
        return None
    if t == "long":
        return rng.randint(-20, 20)
    if t == "double":
        return rng.choice([rng.uniform(-20, 20), float(rng.randint(-20, 20))])
    day, hour = rng.randint(1, 4), rng.randint(0, 23)
    if t == "string":
        # ISO-looking text with either separator, and plain words
        sep = rng.choice(" T")
        return rng.choice(
            [f"2024-01-0{day}{sep}{hour:02d}:00:00", rng.choice("abcxyz") * 3]
        )
    if t == "date":
        return dt.date(2024, 1, day)
    return dt.datetime(2024, 1, day, hour, rng.choice([0, 30]))


def _skip_literal(rng, t):
    """A random literal for a column of type ``t``: usually one its type
    places, sometimes one it cannot (another type, an odd string)."""
    roll = rng.random()
    if roll < 0.15:
        return rng.choice([True, "nope", 7, 2.5, dt.date(2024, 1, 2), None])
    if roll < 0.4 and t in ("date", "timestamp_ntz"):
        v = _skip_value(rng, t) or dt.date(2024, 1, 2)
        return v.isoformat().replace("T", rng.choice(" T"))
    if roll < 0.4 and t in ("long", "double"):
        return rng.choice([rng.randint(-20, 20) + 0.5, rng.randint(-20, 20)])
    return _skip_value(rng, t)


def _spark_holds(t, x, op, lit):
    """Brute force: does a row value ``x`` satisfy ``x op lit`` with Spark's
    coercion? None when the pairing is not modelled here (the property
    then counts the row as possibly matching)."""
    import operator

    if x is None or lit is None:
        return False
    cmp = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
           ">": operator.gt, ">=": operator.ge}[op]
    if isinstance(lit, bool):
        return None
    if t in ("long", "double") and isinstance(lit, (int, float)):
        return cmp(float(x) if isinstance(lit, float) or t == "double" else x,
                   float(lit) if t == "double" else lit)
    if t == "string" and isinstance(lit, str):
        return cmp(x, lit)
    try:
        if t == "date" and isinstance(lit, str) and len(lit) == 10:
            lit = dt.date.fromisoformat(lit)
        if t == "timestamp_ntz" and isinstance(lit, str):
            lit = dt.datetime.fromisoformat(lit.replace(" ", "T"))
    except ValueError:
        return None
    if t == "date" and type(lit) is dt.date:
        return cmp(x, lit)
    if t == "timestamp_ntz" and isinstance(lit, dt.datetime):
        return cmp(x, lit)
    return None


def test_skip_rule_never_drops_a_matching_file(tmp_path):
    """Seeded random files over int, double, string, date and
    timestamp_ntz columns with random conjuncts: the skip rule keeps every
    file that holds a row matching all of them (checked by brute force
    over the file's values), and the vectorized checkpoint prune keeps a
    superset of what the per-entry rule keeps."""
    import json
    import random

    from music_recommendation_service_spark.sources import snapshots as S

    rng = random.Random(20241)
    cols = {f"c_{t}": t for t in _SKIP_TYPES}
    m = {"version": 1, "schema": json.dumps({"type": "struct", "fields": [
        {"name": c, "type": t, "nullable": True, "metadata": {}}
        for c, t in cols.items()
    ]})}
    files, rows_of = [], {}
    for i in range(60):
        rows = [
            {c: _skip_value(rng, t) for c, t in cols.items()}
            for _ in range(rng.randint(1, 6))
        ]
        stats = {}
        for c in cols:
            vals = [r[c] for r in rows if r[c] is not None]
            lo, hi = (min(vals), max(vals)) if vals else (None, None)
            stats[c] = [S._stats_repr(lo), S._stats_repr(hi)]
        path = f"v=1-x/f{i}.parquet"
        files.append({"path": path, "rows": len(rows), "stats": stats})
        rows_of[path] = rows
    S._fs().mkdirs(S._manifest_dir(str(tmp_path)))
    m["files_ckpt"] = S._write_parquet_checkpoint(str(tmp_path), files, 1)
    assert m["files_ckpt"] is not None
    may = S._file_skip(m, str(tmp_path))

    for _ in range(400):
        conjuncts = []
        for c in rng.sample(sorted(cols), rng.randint(1, 3)):
            op = rng.choice(["=", "=", "<", "<=", ">", ">="])
            n = rng.randint(1, 3) if op == "=" else 1
            conjuncts.append(
                (c, op, [_skip_literal(rng, cols[c]) for _ in range(n)])
            )

        def row_may_match(r):
            for c, op, vals in conjuncts:
                held = [_spark_holds(cols[c], r[c], op, v) for v in vals]
                if not any(h is None or h for h in held):
                    return False
            return True

        kept = {e["path"] for e in files if may(e, conjuncts)}
        for e in files:
            if any(row_may_match(r) for r in rows_of[e["path"]]):
                assert e["path"] in kept, (conjuncts, e["stats"])
        pruned = S._manifest_files_pruned(str(tmp_path), m, conjuncts)
        if pruned is not None:
            assert kept <= {e["path"] for e in pruned}, conjuncts
