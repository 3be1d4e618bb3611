"""Incrementally-maintained hybrid recommendations: q05 served from views.

The reference's whole product is the 4-model hybrid score recomputed per
request (``RecommendationService.cs:20-102``); our batch twin (q05) pays an
irreducible ~4.4s warm floor at sf0.1 because exact scoring shuffles the
full 8M-row candidate set. This module keeps the GOLD top-5-per-user table
— and every intermediate the scorer needs — as keyed snapshot tables
maintained from the likes table's change feed, so a churn wave costs
O(affected rows) and a serving read is a plain table scan.

Dataflow (every box is a keyed snapshot table with CDF; arrows are
cursor-based change consumption, exactly-once via manifest-recorded
applied source versions — the same contract as ``snapshot_maintain_*``):

    likes (user_id, item_id)                       <- churn waves (MERGE)
      ├─> cf_counts (i1, i2 -> n)                  co-like pair counts
      │     └─> cf_top (src, rank -> dst, n)       per-item top-20 neighbors
      ├─> nation_counts (nationkey, item -> cnt)   social model state
      │     └─> nation_top (nationkey, rank -> item, cnt)
      └─> gold (user_id, rank -> item, score)      top-5 per user
            ^ also consumes cf_top + nation_top CDFs (affected-user set)

Static under likes churn (built once at bootstrap from the lake):
``sim_top`` (basket co-occurrence neighbors, from lineitem) and
``trending`` (recent-play top-20, from orders x lineitem) — they change
only when the batch lake reloads, exactly like the reference's silver
tables the serving layer reads but does not compute
(``RecommendationService.cs:24-29``).

Incremental algebra per stage (all EXACT, no approximation):

- cf_counts: a wave touching users U changes only those users' pair
  contributions, so dn(i1,i2) = pairs(L_new |_U) - pairs(L_old |_U) —
  two self-joins restricted to the touched users' baskets, O(sum of
  touched baskets squared), never O(corpus). L_old is time travel to the
  applied version (the CDF makes the old state addressable for free).
- cf_top / nation_top: a count change can only reorder the lists of the
  items/nations it touches — recompute exactly those groups' top-N from
  the counts table (semi-join) and MERGE the per-rank diff (tombstones
  retire shrunken lists). This is the targeted-recompute discipline of
  ``snapshot_maintain_topk``, keyed (group, rank) so the view is directly
  servable.
- gold: a user's top-5 changes iff (a) their own likes changed, (b) a
  neighbor list of an item they like changed, or (c) their nation's
  leaderboard changed. That affected set is computed FROM THE CDFs of
  likes/cf_top/nation_top, the scoring tail q05 and the pipeline share
  (``operators/hybrid.py``: fan-out join -> one user_id-shuffle sum that
  also drops liked items -> top-5 window) runs over ONLY those users, and
  the result MERGEs in keyed (user_id, rank). Bootstrap (no gold yet)
  scores everyone.

Hot-group degradation is honest and measured: a wave touching a hot item
or many nations approaches a full recompute (the affected-user set IS the
correct work); the README table documents the crossover.

Correctness: q142 drives the whole chain (bootstrap -> delete wave ->
insert wave, each followed by maintenance) against a DuckDB oracle that
computes the batch q05 tail over the identically-churned likes relation —
the maintained gold table must hash-match the from-scratch recompute.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.operators.hybrid import hybrid_top_k
from music_recommendation_service_spark.operators.pairs import symmetrize_pairs
from music_recommendation_service_spark.operators.topk import topk_per_key
from music_recommendation_service_spark.plans import register, registry
from music_recommendation_service_spark.plans.reference_parity import (
    _LIKES_SQL,
    _likes,
    _sim_pairs_m,
    _t,
    _trending_m,
    NEIGHBOR_TOP,
    RECO_K,
    SOCIAL_TOP,
    W_CF,
    W_SIM,
    W_SOCIAL,
)
from music_recommendation_service_spark.sources.snapshots import (
    StaleCursorError,
    _latest_manifest,
    snapshot_changes,
    snapshot_consume_changes,
    snapshot_merge,
    snapshot_read,
    snapshot_versions,
    snapshot_write,
)
from music_recommendation_service_spark.sources.writers import scratch_table_path


# Above this share of affected users/items, the gold/cf_top stages abandon
# the targeted merge and recompute-overwrite (measured at sf1: a merge
# touching ~25% of users cost 1.5x the full rebuild — the merge's
# membership scan + near-total file rewrite + delta machinery all paid on
# top of scoring). Below it, targeted recompute + MERGE wins.
GOLD_RECOMPUTE_SHARE = 0.15
CF_TOP_RECOMPUTE_SHARE = 0.3
# Affected sets at or below this size take the collect+isin single-scan
# path (one pass over the counts table instead of two union legs).
SMALL_AFFECTED = 10_000


class RecoLake:
    """Path layout for the maintained-recommendation state under one root."""

    def __init__(self, root: str):
        self.root = root
        self.likes = os.path.join(root, "likes")
        self.cf_counts = os.path.join(root, "cf_counts")
        self.cf_top = os.path.join(root, "cf_top")
        self.nation_counts = os.path.join(root, "nation_counts")
        self.nation_top = os.path.join(root, "nation_top")
        self.gold = os.path.join(root, "gold")
        self.sim_top = os.path.join(root, "sim_top")
        self.trending = os.path.join(root, "trending")

    def cursor(self, stage: str) -> str:
        return os.path.join(self.root, f"_cursor_{stage}")


def _applied(view_path: str, key: str = "source_version") -> int:
    """The upstream version the view has applied (-1 = not bootstrapped)."""
    if not snapshot_versions(view_path):
        return -1
    v = _latest_manifest(view_path).get(key)
    return -1 if v is None else int(v)


def _stage_changes(spark, source_path, cursor_path, view_path, key_cols):
    """Consume a stage's upstream changes with the manifest as the
    authority (crash between view commit and cursor commit replays as a
    no-op) — the contract shared with ``snapshot_maintain_aggregate``.
    Returns (changes|None-if-caught-up, applied, to_v, commit)."""
    changes, to_v, commit = snapshot_consume_changes(
        spark, source_path, cursor_path, key_cols
    )
    applied = _applied(view_path)
    if applied >= to_v:
        return None, applied, to_v, commit
    if applied >= 0:
        if applied not in snapshot_versions(source_path):
            raise StaleCursorError(
                f"{source_path}: applied version {applied} vacuumed away — "
                "re-bootstrap the recommendation state"
            )
        changes = snapshot_changes(spark, source_path, applied, to_v, key_cols)
    return changes, applied, to_v, commit


def _merge_persisted(upsert: DataFrame, *args, **kwargs) -> int | None:
    """Persist a maintenance upsert before handing it to snapshot_merge:
    the merge runs SEVERAL internal actions over its source (key bounds,
    membership scan, the write), and an unpersisted source
    would re-execute the whole delta plan — the scoring tail, the pair
    self-joins — once per action (measured at sf0.1: 3-5x the wave cost).
    Returns None without committing when the upsert is empty."""
    upsert = upsert.persist()
    try:
        if len(upsert.take(1)) == 0:
            return None
        return snapshot_merge(upsert, *args, **kwargs)
    finally:
        upsert.unpersist()


def _pair_counts(likes: DataFrame) -> DataFrame:
    """Co-like pair counts (i1 < i2) — the q03 shape."""
    a, b = likes.alias("a"), likes.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item_id") < F.col("b.item_id")),
        )
        .groupBy(
            F.col("a.item_id").alias("i1"), F.col("b.item_id").alias("i2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def maintain_cf_counts(spark: SparkSession, lake: RecoLake) -> int | None:
    """likes CDF -> co-like pair counts, O(touched users' baskets)."""
    changes, applied, to_v, commit = _stage_changes(
        spark, lake.likes, lake.cursor("cf_counts"), lake.cf_counts,
        ["user_id", "item_id"],
    )
    if changes is None:
        commit()
        return None
    likes_new = snapshot_read(spark, lake.likes, to_v).select(
        "user_id", "item_id"
    )
    if applied < 0:
        init = _pair_counts(likes_new).withColumn(
            "_seq", F.lit(to_v).cast("long")
        )
        v = snapshot_write(
            init, lake.cf_counts, stats_cols=["i1", "i2"],
            bloom_cols=["i1", "i2"],
            manifest_extra={"source_version": to_v},
        )
        commit()
        return v
    touched = changes.select("user_id").distinct()
    likes_old = snapshot_read(spark, lake.likes, applied).select(
        "user_id", "item_id"
    )
    new_c = _pair_counts(likes_new.join(touched, "user_id", "semi"))
    old_c = _pair_counts(likes_old.join(touched, "user_id", "semi"))
    delta = (
        new_c.withColumnRenamed("n", "n_new")
        .join(old_c.withColumnRenamed("n", "n_old"), ["i1", "i2"], "full")
        .select(
            "i1", "i2",
            (
                F.coalesce(F.col("n_new"), F.lit(0))
                - F.coalesce(F.col("n_old"), F.lit(0))
            ).alias("d"),
        )
        .filter(F.col("d") != 0)
    )
    cur = snapshot_read(spark, lake.cf_counts).select("i1", "i2", "n")
    upsert = delta.join(cur, ["i1", "i2"], "left").select(
        "i1", "i2",
        (F.coalesce(F.col("n"), F.lit(0)) + F.col("d")).alias("n"),
        F.lit(to_v).cast("long").alias("_seq"),
    ).withColumn("_tomb", F.col("n") <= 0)
    v = _merge_persisted(
        upsert, lake.cf_counts, key_cols=["i1", "i2"], seq_col="_seq",
        delete_col="_tomb", manifest_extra={"source_version": to_v},
    )
    commit()
    return v


def maintain_nation_counts(
    spark: SparkSession, lake: RecoLake, customer: DataFrame
) -> int | None:
    """likes CDF x customer dim -> per-(nation, item) like counts.
    Signed fold: counts are an abelian group, no recompute path needed."""
    changes, applied, to_v, commit = _stage_changes(
        spark, lake.likes, lake.cursor("nation_counts"), lake.nation_counts,
        ["user_id", "item_id"],
    )
    if changes is None:
        commit()
        return None
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        )
        .when(
            F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
        )
        .otherwise(F.lit(0))
    )
    delta = (
        changes.join(customer, changes.user_id == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "item_id")
        .agg(F.sum(sign).cast("long").alias("d"))
        .filter(F.col("d") != 0)
    )
    if applied < 0:
        init = delta.select(
            "nationkey", "item_id", F.col("d").cast("long").alias("cnt"),
            F.lit(to_v).cast("long").alias("_seq"),
        ).filter(F.col("cnt") > 0)
        v = snapshot_write(
            init, lake.nation_counts, stats_cols=["nationkey"],
            manifest_extra={"source_version": to_v},
        )
        commit()
        return v
    cur = snapshot_read(spark, lake.nation_counts).select(
        "nationkey", "item_id", "cnt"
    )
    upsert = delta.join(cur, ["nationkey", "item_id"], "left").select(
        "nationkey", "item_id",
        (F.coalesce(F.col("cnt"), F.lit(0)) + F.col("d")).alias("cnt"),
        F.lit(to_v).cast("long").alias("_seq"),
    ).withColumn("_tomb", F.col("cnt") <= 0)
    v = _merge_persisted(
        upsert, lake.nation_counts, key_cols=["nationkey", "item_id"],
        seq_col="_seq", delete_col="_tomb",
        manifest_extra={"source_version": to_v},
    )
    commit()
    return v


def _ranked_merge(
    spark: SparkSession,
    view_path: str,
    affected: DataFrame,
    recomputed: DataFrame,
    group_cols: list,
    n: int,
    to_v: int,
    payload_cols: list,
    bootstrap: bool,
) -> int | None:
    """MERGE a per-group ranked recompute into a (group, rank)-keyed view:
    every affected group contributes EXACTLY n rows — real rows where the
    recompute produced a rank, tombstones where it did not (shrunken or
    vanished lists retire cleanly). O(affected x n) merge source."""
    if bootstrap:
        return snapshot_write(
            recomputed.select(
                *group_cols, "rank", *payload_cols,
                F.lit(to_v).cast("long").alias("_seq"),
            ),
            view_path, stats_cols=group_cols, bloom_cols=group_cols,
            manifest_extra={"source_version": to_v},
        )
    ranks = spark.range(1, n + 1).select(F.col("id").cast("int").alias("rank"))
    universe = affected.crossJoin(F.broadcast(ranks))
    upsert = (
        universe.join(recomputed, [*group_cols, "rank"], "left")
        .select(
            *group_cols, "rank", *payload_cols,
            F.lit(to_v).cast("long").alias("_seq"),
            F.col(payload_cols[0]).isNull().alias("_tomb"),
        )
    )
    return _merge_persisted(
        upsert, view_path, key_cols=[*group_cols, "rank"],
        seq_col="_seq", delete_col="_tomb",
        manifest_extra={"source_version": to_v},
    )


def _neighbor_top(sym: DataFrame) -> DataFrame:
    """Both-direction (src, dst, n) neighbors -> each src's top
    NEIGHBOR_TOP, keyed (src, rank) — q05's truncation window."""
    return topk_per_key(
        sym, ["src"], NEIGHBOR_TOP, F.desc("n"), F.asc("dst")
    ).select("src", "rank", "dst", "n")


def maintain_cf_top(spark: SparkSession, lake: RecoLake) -> int | None:
    """cf_counts CDF -> per-item top-NEIGHBOR_TOP neighbor lists, keyed
    (src, rank). Only items whose any pair count changed recompute."""
    changes, applied, to_v, commit = _stage_changes(
        spark, lake.cf_counts, lake.cursor("cf_top"), lake.cf_top,
        ["i1", "i2"],
    )
    if changes is None:
        commit()
        return None
    counts = snapshot_read(spark, lake.cf_counts, to_v).select(
        "i1", "i2", "n"
    )
    all_top = _neighbor_top(symmetrize_pairs(counts, "i1", "i2", "n"))
    bootstrap = applied < 0
    if bootstrap:
        v = _ranked_merge(
            spark, lake.cf_top, None, all_top, ["src"],
            NEIGHBOR_TOP, to_v, ["dst", "n"], True,
        )
        commit()
        return v
    affected = (
        changes.select(F.col("i1").alias("src"))
        .unionByName(changes.select(F.col("i2").alias("src")))
        .distinct()
        .persist()
    )
    try:
        n_aff = affected.count()
        n_items_est = max(
            1, int(_latest_manifest(lake.cf_top)["n_rows"]) // NEIGHBOR_TOP
        )
        if n_aff >= CF_TOP_RECOMPUTE_SHARE * n_items_est:
            # a change wave reordering most items' lists: overwrite-rebuild
            # is cheaper than merging nearly every (src, rank) row
            v = snapshot_write(
                all_top.withColumn("_seq", F.lit(to_v).cast("long")),
                lake.cf_top, stats_cols=["src"], bloom_cols=["src"],
                manifest_extra={"source_version": to_v},
            )
        else:
            if n_aff <= SMALL_AFFECTED:
                # ONE pass over the pair counts instead of two union legs:
                # the affected-src set is small enough to ship as a literal
                aff = [r["src"] for r in affected.collect()]
                pruned = counts.filter(
                    F.col("i1").isin(aff) | F.col("i2").isin(aff)
                )
            else:
                pruned = counts
            scoped = symmetrize_pairs(pruned, "i1", "i2", "n").join(
                affected, "src", "semi"
            )
            v = _ranked_merge(
                spark, lake.cf_top, affected, _neighbor_top(scoped), ["src"],
                NEIGHBOR_TOP, to_v, ["dst", "n"], False,
            )
    finally:
        affected.unpersist()
    commit()
    return v


def maintain_nation_top(spark: SparkSession, lake: RecoLake) -> int | None:
    """nation_counts CDF -> per-nation top-SOCIAL_TOP liked items, keyed
    (nationkey, rank)."""
    changes, applied, to_v, commit = _stage_changes(
        spark, lake.nation_counts, lake.cursor("nation_top"),
        lake.nation_top, ["nationkey", "item_id"],
    )
    if changes is None:
        commit()
        return None
    counts = snapshot_read(spark, lake.nation_counts, to_v).select(
        "nationkey", "item_id", "cnt"
    )
    bootstrap = applied < 0
    if bootstrap:
        scoped = counts
        affected = None
    else:
        affected = changes.select("nationkey").distinct()
        scoped = counts.join(affected, "nationkey", "semi")
    recomputed = topk_per_key(
        scoped, ["nationkey"], SOCIAL_TOP, F.desc("cnt"), F.asc("item_id")
    ).select("nationkey", "rank", "item_id", "cnt")
    v = _ranked_merge(
        spark, lake.nation_top, affected, recomputed, ["nationkey"],
        SOCIAL_TOP, to_v, ["item_id", "cnt"], bootstrap,
    )
    commit()
    return v


def bootstrap_static(spark: SparkSession, sf_dir: str, lake: RecoLake):
    """Build the likes-churn-invariant silver tables once from q02's and
    q05's silver builders, which the session's scratch cache shares:
    basket similarity neighbors (q02's pair table) and weighted trending
    scores."""
    if not snapshot_versions(lake.sim_top):
        sym = symmetrize_pairs(
            _sim_pairs_m(spark, sf_dir), "l_partkey_1", "l_partkey_2"
        ).withColumnRenamed("score", "n")
        snapshot_write(_neighbor_top(sym), lake.sim_top, stats_cols=["src"])
    if not snapshot_versions(lake.trending):
        snapshot_write(_trending_m(spark, sf_dir), lake.trending)


def _score_tail(
    spark: SparkSession,
    likes_scoped: DataFrame,
    customers_scoped: DataFrame,
    cf_top: DataFrame,
    sim_top: DataFrame,
    nation_top: DataFrame,
    trending: DataFrame,
) -> DataFrame:
    """q05's candidate models over a (possibly user-restricted) scope,
    read from the maintained neighbor and leaderboard tables, scored by
    the shared tail (``operators/hybrid.py::hybrid_top_k``) with q05's
    constants — the q142 oracle pins the equivalence. Returns
    (user_id, rank, item_id, score)."""
    neighbors = cf_top.select(
        "src", "dst", (F.lit(W_CF) * F.col("n")).alias("score")
    ).unionByName(
        sim_top.select(
            "src", "dst", (F.lit(W_SIM) * F.col("n")).alias("score")
        )
    )
    item_cand = likes_scoped.join(
        neighbors, likes_scoped.item_id == neighbors.src
    ).select("user_id", F.col("dst").alias("item_id"), "score")
    social_cand = customers_scoped.join(
        F.broadcast(nation_top),
        customers_scoped.c_nationkey == nation_top.nationkey,
    ).select(
        F.col("c_custkey").alias("user_id"),
        "item_id",
        (F.lit(W_SOCIAL) * F.col("cnt")).alias("score"),
    )
    active = likes_scoped.select("user_id").distinct()
    trend_cand = active.crossJoin(F.broadcast(trending))
    return hybrid_top_k(
        [item_cand, social_cand, trend_cand], likes_scoped, RECO_K
    ).select("user_id", "rank", "item_id", "score")


def maintain_gold(
    spark: SparkSession, lake: RecoLake, customer: DataFrame
) -> int | None:
    """likes + cf_top + nation_top CDFs -> the gold top-5 table, scoring
    ONLY the affected users (their likes changed; a neighbor list of an
    item they like changed; their nation's leaderboard changed)."""
    feeds = [
        ("likes", lake.likes, ["user_id", "item_id"]),
        ("cf_top", lake.cf_top, ["src", "rank"]),
        ("nation_top", lake.nation_top, ["nationkey", "rank"]),
    ]
    gold_exists = bool(snapshot_versions(lake.gold))
    applied = (
        (_latest_manifest(lake.gold).get("source_versions") or {})
        if gold_exists
        else {}
    )
    per_feed = {}
    commits = []
    any_changes = False
    for name, path, keys in feeds:
        changes, to_v, commit = snapshot_consume_changes(
            spark, path, lake.cursor(f"gold_{name}"), keys
        )
        commits.append(commit)
        a = int(applied.get(name, -1))
        if a >= to_v:
            changes = None
        elif a >= 0:
            if a not in snapshot_versions(path):
                raise StaleCursorError(
                    f"{path}: gold applied version {a} vacuumed away"
                )
            changes = snapshot_changes(spark, path, a, to_v, keys)
        if changes is not None:
            any_changes = True
        per_feed[name] = (changes, to_v)
    if gold_exists and not any_changes:
        for c in commits:
            c()
        return None

    likes_v = per_feed["likes"][1]
    cf_v = per_feed["cf_top"][1]
    nt_v = per_feed["nation_top"][1]
    likes_now = snapshot_read(spark, lake.likes, likes_v).select(
        "user_id", "item_id"
    )
    cf_top = snapshot_read(spark, lake.cf_top, cf_v).select("src", "dst", "n")
    sim_top = snapshot_read(spark, lake.sim_top).select("src", "dst", "n")
    nation_top = snapshot_read(spark, lake.nation_top, nt_v).select(
        "nationkey", "item_id", "cnt"
    )
    trending = snapshot_read(spark, lake.trending)
    src_versions = {"likes": likes_v, "cf_top": cf_v, "nation_top": nt_v}

    if not gold_exists:
        recomputed = _score_tail(
            spark, likes_now, customer, cf_top, sim_top, nation_top, trending
        ).withColumn("_seq", F.lit(likes_v).cast("long"))
        v = snapshot_write(
            recomputed, lake.gold, stats_cols=["user_id"],
            bloom_cols=["user_id"],
            manifest_extra={"source_versions": src_versions},
        )
        for c in commits:
            c()
        return v

    parts = []
    ch_likes = per_feed["likes"][0]
    if ch_likes is not None:
        parts.append(ch_likes.select("user_id").distinct())
    ch_cf = per_feed["cf_top"][0]
    if ch_cf is not None:
        changed_srcs = ch_cf.select("src").distinct()
        parts.append(
            likes_now.join(
                changed_srcs, likes_now.item_id == changed_srcs.src, "semi"
            ).select("user_id").distinct()
        )
    ch_nt = per_feed["nation_top"][0]
    if ch_nt is not None:
        changed_nations = ch_nt.select("nationkey").distinct()
        parts.append(
            customer.join(changed_nations, customer.c_nationkey
                          == changed_nations.nationkey, "semi")
            .select(F.col("c_custkey").alias("user_id"))
        )
    affected = parts[0]
    for p in parts[1:]:
        affected = affected.unionByName(p)
    affected = affected.distinct().persist()
    seq = max(likes_v, cf_v, nt_v)
    try:
        n_aff = affected.count()
        if n_aff >= GOLD_RECOMPUTE_SHARE * customer.count():
            # The affected set approaches the whole user base (scattered
            # churn on a densely-coupled likes graph does this): a targeted
            # merge would rewrite nearly every file AND pay the delta
            # machinery on top. Recompute everyone and overwrite — the
            # worst-case wave cost is thereby BOUNDED at the batch-build
            # cost, never a multiple of it.
            recomputed = _score_tail(
                spark, likes_now, customer, cf_top, sim_top, nation_top,
                trending,
            ).withColumn("_seq", F.lit(seq).cast("long"))
            v = snapshot_write(
                recomputed, lake.gold, stats_cols=["user_id"],
                bloom_cols=["user_id"],
                manifest_extra={"source_versions": src_versions},
            )
        else:
            likes_scoped = likes_now.join(affected, "user_id", "semi")
            customers_scoped = customer.join(
                affected, customer.c_custkey == affected.user_id, "semi"
            )
            recomputed = _score_tail(
                spark, likes_scoped, customers_scoped, cf_top, sim_top,
                nation_top, trending,
            )
            ranks = spark.range(1, RECO_K + 1).select(
                F.col("id").cast("int").alias("rank")
            )
            universe = affected.crossJoin(F.broadcast(ranks))
            upsert = universe.join(
                recomputed, ["user_id", "rank"], "left"
            ).select(
                "user_id", "rank", "item_id", "score",
                F.lit(seq).cast("long").alias("_seq"),
                F.col("item_id").isNull().alias("_tomb"),
            )
            v = _merge_persisted(
                upsert, lake.gold, key_cols=["user_id", "rank"],
                seq_col="_seq", delete_col="_tomb",
                manifest_extra={"source_versions": src_versions},
            )
    finally:
        affected.unpersist()
    for c in commits:
        c()
    return v


def reco_maintain(
    spark: SparkSession, sf_dir: str, lake: RecoLake,
    timings: dict | None = None,
) -> dict:
    """Run one maintenance wave through the whole DAG in dependency order.
    Idempotent: re-running after a crash at any point resumes from each
    stage's recorded applied version (at-least-once consumption + keyed
    MERGE application = exactly-once state). ``timings`` (optional dict)
    receives per-stage wall seconds."""
    import time

    bootstrap_static(spark, sf_dir, lake)
    customer = _t(spark, sf_dir, "customer")
    stages = [
        ("cf_counts", lambda: maintain_cf_counts(spark, lake)),
        ("nation_counts",
         lambda: maintain_nation_counts(spark, lake, customer)),
        ("cf_top", lambda: maintain_cf_top(spark, lake)),
        ("nation_top", lambda: maintain_nation_top(spark, lake)),
        ("gold", lambda: maintain_gold(spark, lake, customer)),
    ]
    out = {}
    for name, fn in stages:
        t0 = time.perf_counter()
        out[name] = fn()
        if timings is not None:
            timings[name] = round(time.perf_counter() - t0, 3)
    return out


def reco_serve(spark: SparkSession, lake: RecoLake, k: int = RECO_K) -> DataFrame:
    """The serving read: a plain scan of the maintained gold table —
    no joins, no shuffles, stats-prunable on user_id for point lookups."""
    return (
        snapshot_read(spark, lake.gold)
        .filter(F.col("rank") <= k)
        .select("user_id", "item_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# q142 — the correctness gate for the whole maintained DAG: bootstrap from
# the lake's likes, apply a DELETE churn wave then an INSERT churn wave
# (maintaining after each), and serve the gold table. The oracle recomputes
# the batch q05 tail (same SQL, byte-for-byte) over the identically-churned
# likes relation in DuckDB — incremental must equal from-scratch.
# ---------------------------------------------------------------------------
_CHURNED_LIKES_SQL = """
    likes AS (
        SELECT user_id, item_id FROM (
            SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
            FROM orders o
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            WHERE l.l_returnflag = 'R'
        ) WHERE (user_id * 31 + item_id) % 7 <> 3
        UNION
        SELECT c_custkey AS user_id, (c_custkey % 100) + 1 AS item_id
        FROM customer WHERE c_custkey % 13 = 5
    )
"""


def _q142_oracle() -> str:
    base = registry()["q05_hybrid_recommendations"].oracle
    assert _LIKES_SQL in base, "q05 oracle no longer embeds the likes CTE"
    return base.replace(_LIKES_SQL, _CHURNED_LIKES_SQL)


def churn_waves(spark: SparkSession, sf_dir: str, lake: RecoLake):
    """The two deterministic churn waves of q142 as likes-table merges.
    Yields after the bootstrap write and after each wave so the caller can
    interleave maintenance (q142 maintains after every step)."""
    base = _likes(spark, sf_dir)
    snapshot_write(
        base.withColumn("_seq", F.lit(1).cast("long")),
        lake.likes, stats_cols=["user_id", "item_id"],
        bloom_cols=["user_id", "item_id"],
    )
    yield "bootstrap"
    wave1 = base.filter(
        (F.col("user_id") * 31 + F.col("item_id")) % 7 == 3
    ).select(
        "user_id", "item_id",
        F.lit(2).cast("long").alias("_seq"), F.lit(True).alias("_del"),
    )
    snapshot_merge(
        wave1, lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
        delete_col="_del",
    )
    yield "delete_wave"
    customer = _t(spark, sf_dir, "customer")
    wave2 = customer.filter(F.col("c_custkey") % 13 == 5).select(
        F.col("c_custkey").alias("user_id"),
        (F.col("c_custkey") % 100 + 1).cast("long").alias("item_id"),
        F.lit(3).cast("long").alias("_seq"), F.lit(False).alias("_del"),
    )
    snapshot_merge(
        wave2, lake.likes, key_cols=["user_id", "item_id"], seq_col="_seq",
        delete_col="_del",
    )
    yield "insert_wave"


# One maintained lake per (application, sf_dir): the churn is
# deterministic, so every q142 build in a session serves the same gold
# table — the registry-wide plan tests and the oracle gate reuse one
# build instead of re-running the whole DAG each.
_Q142_LAKES: dict = {}


@register(
    "q142_incremental_hybrid_recommendations",
    oracle=_q142_oracle(),
    tags=("S13", "T2", "A7", "O5", "incremental"),
)
def q142_incremental_hybrid_recommendations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained-view hybrid recommendations: the gold table after
    bootstrap + delete churn + insert churn, each step followed by an
    incremental maintenance wave — hash-checked against a from-scratch
    batch recompute of the q05 scorer over the same churned likes."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _Q142_LAKES:
        # application scratch: removed at process exit; a rebuild after a
        # failed one starts from an empty lake
        root = scratch_table_path(spark, "reco_lake", sf_dir)
        shutil.rmtree(root, ignore_errors=True)
        lake = RecoLake(root)
        for _step in churn_waves(spark, sf_dir, lake):
            reco_maintain(spark, sf_dir, lake)
        _Q142_LAKES[key] = lake
    return reco_serve(spark, _Q142_LAKES[key])
