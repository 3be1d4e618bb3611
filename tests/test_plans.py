"""Physical-plan assertions: the properties that matter at 100 TB must be
visible in the plan, not assumed — filter pushdown, column pruning,
broadcast dim joins, top-k without a global sort, no cartesian products.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from music_recommendation_service_spark.plans import registry


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(registry()[name].build(spark, sf_dir))


def test_q06_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "q06_pricing_summary")
    # The shipdate range predicate reaches the parquet scan...
    assert "LessThanOrEqual(l_shipdate" in p
    # ...and the scan reads only the columns the query needs.
    read = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read and "l_orderkey" not in read


def test_q10_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "q10_join_enrich")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # dims are small; nothing should SMJ
    assert "CartesianProduct" not in p


def test_q07_takeordered_not_global_sort(spark, sf_dir):
    p = _plan(spark, sf_dir, "q07_top_orders")
    assert "TakeOrderedAndProject" in p


def test_no_cartesian_in_hybrid(spark, sf_dir):
    p = _plan(spark, sf_dir, "q05_hybrid_recommendations")
    assert "CartesianProduct" not in p


def _pipeline_gold(spark, sf_dir, tmp_path_factory):
    from music_recommendation_service_spark.plans.music_domain import (
        bronze_ingest,
        collaborative_filtering,
        hybrid_recommendations,
        silver_weekly_trending,
        song_similarity,
    )
    from tests.music_fixtures import build_fixtures

    paths = build_fixtures(str(tmp_path_factory.mktemp("music_fixtures")))
    dfs = {name: spark.read.parquet(p) for name, p in paths.items()}
    bronze = bronze_ingest(dfs["fact_listening_events"], validate=False)
    trending = silver_weekly_trending(
        bronze, dfs["dim_songs"], "2024-02-08"
    ).select("track_id", "listen_count")
    return hybrid_recommendations(
        bronze,
        song_similarity(dfs["bridge_playlist_tracks"]),
        collaborative_filtering(bronze),
        dfs["graph_user_follows"],
        trending,
    )


def _q142_score_tail(spark, sf_dir, tmp_path_factory):
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.operators.pairs import (
        symmetrize_pairs,
    )
    from music_recommendation_service_spark.operators.topk import topk_per_key
    from music_recommendation_service_spark.plans.incremental_reco import (
        _pair_counts,
        _score_tail,
    )
    from music_recommendation_service_spark.plans.reference_parity import _likes
    from music_recommendation_service_spark.sources.catalog import load_table

    likes = _likes(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    top = topk_per_key(
        symmetrize_pairs(_pair_counts(likes), "i1", "i2", "n"),
        ["src"], 20, F.desc("n"), F.asc("dst"),
    )
    nation_top = (
        likes.join(customer, likes.user_id == customer.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "item_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    trending = spark.createDataFrame([(1, 0.2)], "item_id long, score double")
    return _score_tail(spark, likes, customer, top, top, nation_top, trending)


_SCORERS = {
    "q05": lambda spark, sf_dir, _: registry()[
        "q05_hybrid_recommendations"
    ].build(spark, sf_dir),
    "pipeline_gold": _pipeline_gold,
    "q142_score_tail": _q142_score_tail,
}


@pytest.mark.parametrize("scorer", sorted(_SCORERS))
def test_q05_single_shuffle_scoring_tail(spark, sf_dir, tmp_path_factory, scorer):
    """The three hybrid recommenders share one scoring tail
    (operators/hybrid.py): the candidate keys are nearly unique, so it
    repartitions by user_id once and the candidate aggregation AND the
    ranking window ride that ONE exchange — no second shuffle between agg
    and window, and no anti-join: the liked pairs are dropped by the
    aggregate itself. The window sort must also be group-limited, not
    global."""
    import re

    p = _explain(_SCORERS[scorer](spark, sf_dir, tmp_path_factory))
    assert "LeftAnti" not in p
    tree = p.split("\n\n")[0]
    # walk the operator tree top-down: Window ... then HashAggregate, with
    # no shuffle Exchange between them (BroadcastExchange is fine)
    lines = [ln for ln in tree.splitlines()]
    win_i = next(i for i, ln in enumerate(lines) if re.search(r"\bWindow \(", ln))
    agg_i = next(
        i for i, ln in enumerate(lines) if re.search(r"\bHashAggregate \(", ln)
    )
    assert win_i < agg_i, "ranking window should sit directly above the agg"
    between = lines[win_i:agg_i]
    assert not any(
        re.search(r"(?<!Broadcast)Exchange \(", ln) for ln in between
    ), f"unexpected shuffle between window and agg:\n" + "\n".join(between)
    assert "WindowGroupLimit" in tree


@pytest.mark.parametrize(
    "name",
    ["q27_ngram_jaccard_neardup", "q28_minhash_lsh", "q29_simhash_neardup"],
)
def test_dedup_candidates_are_equijoins(spark, sf_dir, name):
    """Near-dup candidate generation must be banding/inverted-index equi
    joins, never a cross join over the corpus."""
    p = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q57_exists_realized_as_semi_join(spark, sf_dir):
    """EXISTS must decorrelate to a semi join (keys-only shuffle), with the
    returnflag filter pushed into the lineitem scan."""
    p = _plan(spark, sf_dir, "q57_priority_returns")
    assert "LeftSemi" in p
    assert "EqualTo(l_returnflag,R)" in p


def test_q63_not_in_realized_as_anti_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "q63_part_supplier_variety")
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_q58_dims_broadcast(spark, sf_dir):
    """The Q9-shaped profit query must broadcast every dim side — the only
    sort-merge-eligible join is lineitem ⋈ orders on orderkey."""
    p = _plan(spark, sf_dir, "q58_nation_profit")
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q68_split_assignment_is_scan_level(spark, sf_dir):
    """The split projection must not introduce a pre-aggregation shuffle:
    exactly one Exchange (the final groupBy) in the whole plan."""
    p = _plan(spark, sf_dir, "q68_dataset_split")
    # Count Exchange operator nodes in the detail sections ("(4) Exchange"),
    # not tree-rendering lines, so each operator counts once.
    exchanges = [
        l for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith(" Exchange")
    ]
    assert len(exchanges) == 1, p


def test_q73_triangle_reuses_edge_relation(spark, sf_dir):
    """The three triangle legs read the SAME materialized edge relation —
    no cartesian, no nested-loop fallback."""
    p = _plan(spark, sf_dir, "q73_triangle_count")
    assert "CartesianProduct" not in p


# Queries that INTENTIONALLY cross-join a broadcast scalar/tiny frame
# (1-row aggregates, top-N trending, fixed query slices): the nested-loop
# there is a deliberate O(n * tiny) pattern, not an accident.
_CROSS_OK = frozenset({
    "q05_hybrid_recommendations",  # 1-row max + top-20 trending broadcast
    "q31_knn_bruteforce",          # fixed query-vector slice x corpus
    "q30_embedding_neardup",       # brute-force O(n^2) baseline by design
    "q39_label_centroids",
    "q44_ann_ivf",                 # K=32 centroid table x corpus (Lloyd assigns + probes)
    "q53_dormant_customers",       # 1-row avg-balance broadcast
    "q60_important_parts",         # 1-row threshold broadcast
    "q62_top_supplier",            # 1-row max-revenue broadcast
    "q70_tfidf_top_terms",         # 1-row corpus-size broadcast
    "q73_triangle_count",          # 1-row edge-count broadcast
    "q76_value_outliers",          # per-type moments broadcast
    "q81_daily_dense_counts",      # day-spine x event-type grid (tiny)
    "q101_bigram_quality",         # 1-row vocab-size broadcast
    "q102_semantic_dedup",         # centroid table x corpus (IVF assign)
    "q108_kmeans_refine",          # centroid table x corpus (both passes)
    "q110_corpus_drift",           # 1-row token-total broadcast
    "q134_ann_pq",                 # K=8 codebooks + query slice broadcasts (ADC)
    "q113_histogram_quantiles",    # 3-row quantile spec x O(groups*bins) counts
    "q115_rec_quality_metrics",    # embeds q05's declared pattern + 1-row ILS broadcast
    "q143_ranking_metrics",        # embeds q05's declared pattern + 5-row IDCG spine
    "q123_basket_rules",           # 1-row basket-count broadcast
    "q144_rfm_segmentation",       # 1-row anchor-date broadcast
    "q146_hard_negatives",         # fixed query-vector slice x corpus (q31's shape)
})


@pytest.mark.parametrize("name", sorted(registry()))
def test_no_accidental_cartesian(spark, sf_dir, name):
    """No catalog query may plan an unbounded cartesian/nested-loop join
    unless it is a declared scalar-broadcast pattern."""
    p = _plan(spark, sf_dir, name)
    if name in _CROSS_OK:
        return
    assert "CartesianProduct" not in p, name
    assert "BroadcastNestedLoopJoin" not in p, name


# Queries whose plan is DECLARED to contain a Python stage: the multimodal
# mapInPandas path (Arrow-batched, vectorized). Everything else must stay
# entirely JVM-side — a row-at-a-time BatchEvalPython anywhere is a bug.
_PYTHON_OK = frozenset({
    "q35_media_features",
    "q36_frame_sample",
    "q86_image_resize",
    # Misra-Gries candidate pass: a bounded-state sketch is inherently
    # imperative; it runs as ONE Arrow-batched mapInPandas whose output is
    # <= k+1 rows per partition, and the exact verification pass is pure
    # JVM (broadcast semi-join + hash agg).
    "q132_token_heavy_hitters",
    # Matrix affine scan (operators/scan.py): the recurrence is inherently
    # sequential in its DATA dependence; the two segmented passes run as
    # Arrow-batched mapInPandas with vectorized Hillis-Steele folds — the
    # declared exception class, same as the scalar scan it lifts.
    "q137_holt_smoothing",
})


@pytest.mark.parametrize("name", sorted(registry()))
def test_no_python_row_udfs(spark, sf_dir, name):
    p = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in p, name  # pickled row-at-a-time UDF
    if name not in _PYTHON_OK:
        assert "MapInPandas" not in p, name
        assert "EvalPython" not in p, name


def test_q100_chunking_is_shuffle_free_flatmap(spark, sf_dir):
    """Context-window chunking must stay a stateless scan-level flatMap:
    explode + slice with NO shuffle — output partitioning inherits the
    scan's at any table size."""
    p = _plan(spark, sf_dir, "q100_doc_chunking")
    assert "Exchange" not in p
    assert "Generate" in p  # the explode(sequence(...)) flatMap
    assert "Join" not in p


def test_q102_semdedup_pairs_join_is_equi_on_cluster(spark, sf_dir):
    """SemDeDup's quadratic comparison must be bounded by the cluster
    equi-join: the members self-join keys on cid (hash-partitioned), never
    a cartesian over the corpus. The only nested-loop allowed is the tiny
    centroid-table assignment broadcast."""
    p = _plan(spark, sf_dir, "q102_semantic_dedup")
    assert "CartesianProduct" not in p
    # the members x members pair join is an equi join keyed on the
    # subdivided cluster cell: formatted explain shows
    # "Left keys [1]: [cell#...]" for the SMJ/SHJ
    import re

    assert re.search(r"Left keys \[1\]: \[cell#", p), p


def test_q107_weighted_sample_is_takeordered(spark, sf_dir):
    """A-ES weighted sampling must select its top-k via per-partition
    heaps (TakeOrderedAndProject), never a one-partition global sort; the
    ranking window then touches k rows only."""
    p = _plan(spark, sf_dir, "q107_weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert p.count("Window (") == 1


def test_q106_interpolation_single_window_pass(spark, sf_dir):
    """All four IGNORE-NULLS anchors (prev/next value and day) must fold
    into ONE Window node over one per-user sort — the whole point of the
    running-anchor formulation vs a previous-observation self-join."""
    p = _plan(spark, sf_dir, "q106_series_interpolation")
    assert p.count("Window (") == 1, p
    assert p.count("Sort (") == 1, p


def test_q89_salted_agg_two_phase(spark, sf_dir):
    """The salted aggregate is exactly two keyed aggregations: partials on
    (key, salt), combine on key — and the combine's input is the partial
    OUTPUT (small), never the raw fact."""
    p = _plan(spark, sf_dir, "q89_salted_agg")
    assert p.count("HashAggregate") >= 4  # 2 logical aggs x partial+final
    assert "xxhash64" in p  # full-row salt, not a key-derived one
    assert "CartesianProduct" not in p


def test_q91_packing_is_one_window(spark, sf_dir):
    """Sequence packing must stay a single per-shard prefix-sum window —
    no joins, no explode, one Sort per shard partition."""
    p = _plan(spark, sf_dir, "q91_sequence_packing")
    # formatted explain names each node twice (tree + detail): "Window (N)"
    # appears once per physical Window node in the tree section
    assert p.count("Window (") == 1
    assert "Join" not in p
    assert "Generate" not in p  # no explode crept in


def test_q92_broadcasts_all_dims(spark, sf_dir):
    """Q7-shape: every dim side broadcasts; the only shuffled join is
    lineitem ⋈ orders on the order key."""
    p = _plan(spark, sf_dir, "q92_volume_shipping")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_plan_audit_counts_and_smells(spark, sf_dir):
    """plans/audit.py: the audit must agree with the plan-asserted facts
    (q68 = exactly one shuffle; the catalog has no cartesians or
    row-at-a-time Python) and flag a genuine cartesian."""
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.plans.audit import (
        format_audit,
        plan_audit,
    )

    reg = registry()
    a68 = plan_audit(reg["q68_dataset_split"].build(spark, sf_dir))
    assert a68["shuffle_exchanges"] == 1
    assert a68["joins"]["cartesian"] == 0
    assert a68["python_row_at_a_time"] == 0

    a05 = plan_audit(reg["q05_hybrid_recommendations"].build(spark, sf_dir))
    assert a05["joins"]["cartesian"] == 0
    # round 13: the already-liked exclusion rides the scoring union/aggregate
    # (liked-flag rows) instead of per-branch broadcast anti-joins, so the
    # plan carries exactly the two candidate-fanout broadcast joins (item,
    # social) — and NO anti-join at all.
    assert a05["joins"]["broadcast_hash"] >= 2
    assert "LeftAnti" not in reg[
        "q05_hybrid_recommendations"
    ].build(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert a05["window_group_limits"] >= 1
    assert "no plan smells" in format_audit(a05) or a05["smells"]

    bad = spark.range(100).crossJoin(
        spark.range(100).withColumnRenamed("id", "id2")
    )
    a_bad = plan_audit(bad)
    assert (
        a_bad["joins"]["cartesian"] + a_bad["joins"]["broadcast_nested_loop"]
        >= 1
    )


def test_q114_skyline_heavy_window_is_partitioned(spark, sf_dir):
    """The full-table window must run PARTITIONED (hashpartitioning on the
    price band); only the frontier-of-frontiers pass — input ≈ per-band
    skylines — may be a single-partition window."""
    p = _plan(spark, sf_dir, "q114_pareto_frontier")
    assert "hashpartitioning(band" in p, p
    # exactly one SinglePartition exchange: the final tiny pass
    assert p.count("SinglePartition") == 1, p


def test_q117_pivot_compiles_to_two_phase_aggregate(spark, sf_dir):
    """Explicit pivot values -> PivotFirst aggregate: exactly the two
    exchanges of a (day,type)->day two-phase aggregate, no value-inference
    job, no join."""
    p = _plan(spark, sf_dir, "q117_daily_type_pivot")
    assert "pivotfirst" in p.lower()
    n_exchange = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith(" Exchange")
    )
    assert n_exchange == 2, p
    assert "Join" not in p


def test_q119_rollup_is_expand_plus_one_exchange(spark, sf_dir):
    """ROLLUP = map-side Expand (one replica per grouping set) + ONE
    shuffle of partially-aggregated groups — not three separate scans."""
    p = _plan(spark, sf_dir, "q119_priority_rollup")
    assert "Expand" in p
    n_exchange = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith(" Exchange")
    )
    assert n_exchange == 1, p


def test_q120_markov_three_shuffles(spark, sf_dir):
    """Sequence window (user_id), pair aggregate (25-key space), row
    normalizer window over the tiny aggregate — and nothing else."""
    p = _plan(spark, sf_dir, "q120_markov_transitions")
    n_exchange = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith(" Exchange")
    )
    assert n_exchange == 3, p


def test_q123_rule_dims_broadcast(spark, sf_dir):
    """Item-frequency dims join back via BroadcastHashJoin; the only
    nested-loop is the declared 1-row basket-count broadcast."""
    p = _plan(spark, sf_dir, "q123_basket_rules")
    assert "BroadcastHashJoin" in p
    n_bnlj = sum(
        1 for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith(" BroadcastNestedLoopJoin")
    )
    assert n_bnlj <= 1, p
    assert "CartesianProduct" not in p


def test_q126_rank_window_is_banded(spark, sf_dir):
    """The row-level row_number window must run PARTITIONED by band
    (banded global-rank decomposition) — the only SinglePartition window
    passes are over the |bands|-row offsets table."""
    import re

    p = _plan(spark, sf_dir, "q126_balance_deciles")
    assert len(re.findall(r"hashpartitioning\(band", p)) >= 1, p


def test_q125_expand_rides_reduced_relation(spark, sf_dir):
    """The x7 contribution explode must sit ABOVE the (day,user) distinct
    aggregate, not on the raw event scan: the plan's Generate node reads
    from an aggregate, and the spine join is broadcast."""
    p = _plan(spark, sf_dir, "q125_rolling_distinct_users")
    tree = p.split("\n\n")[0]
    lines = tree.splitlines()
    gen_i = next(i for i, l in enumerate(lines) if "Generate" in l)
    # below the Generate (its input subtree) there must be a HashAggregate
    # (the distinct) before any parquet Scan line.
    below = lines[gen_i:]
    agg_j = next(i for i, l in enumerate(below) if "HashAggregate" in l)
    scan_j = next(i for i, l in enumerate(below) if "Scan parquet" in l)
    assert agg_j < scan_j, tree
    assert "BroadcastHashJoin" in p


def test_q136_profile_single_scan_expand(spark, sf_dir):
    """The table profile reads the events table ONCE: the wide aggregate
    (all per-column stats in one SELECT) plans the multi-distinct via ONE
    Expand over ONE scan; the reshape union reads only the materialized
    1-row aggregate — no join, no events re-scan."""
    import contextlib
    import io

    from music_recommendation_service_spark.plans.profiling import (
        _EVENTS_COLS,
        profile_agg_sql,
    )
    from music_recommendation_service_spark.functions.dialect import SPARK
    from music_recommendation_service_spark.sources.catalog import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    agg = spark.sql(profile_agg_sql(SPARK, "events", _EVENTS_COLS))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        agg.explain("formatted")
    ap = buf.getvalue()
    # formatted explain prints each scan once in the tree and once in the
    # node details — count Location lines (one per physical scan)
    locs = [l for l in ap.splitlines() if "Location" in l]
    assert len(locs) == 1 and "events" in locs[0], ap
    assert "Expand" in ap

    p = _plan(spark, sf_dir, "q136_table_profile")
    assert "Join" not in p and "CartesianProduct" not in p
    # every scan in the reshape reads the materialized scratch aggregate
    for line in p.splitlines():
        if "Location" in line:
            assert "events" not in line, line


def test_q138_window_zoo_single_partitioned_pass(spark, sf_dir):
    """All ten window functions share one (o_custkey)-partitioned window
    spec — the plan must hash-partition by customer, never collapse to a
    SinglePartition global sort."""
    p = _plan(spark, sf_dir, "q138_window_zoo")
    assert "SinglePartition" not in p, p
    assert "hashpartitioning(o_custkey" in p


def test_q122_bfs_drains_async_writers_before_aqe_toggle(spark, sf_dir):
    """Round-13 (judge order #6): the BFS loop toggles the session-global
    AQE conf, and a background scratch writer shares that conf — so the
    loop must DRAIN in-flight async writers before toggling. Simulate an
    in-flight writer: while it is held, the builder must sit in the drain
    with AQE still on; releasing it lets the loop run, and the conf must
    be restored afterwards."""
    import threading
    import time

    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.sources import writers as W

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    fake = "/tmp/__q122_fake_inflight__"
    with W._ASYNC_LOCK:
        W._ASYNC_INFLIGHT.add(fake)
    done = threading.Event()
    err: list[BaseException] = []

    def run():
        try:
            df = registry()["q122_bfs_hops"].build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        except BaseException as e:  # surfaced below
            err.append(e)
        finally:
            done.set()

    t = threading.Thread(target=run)
    t.start()
    try:
        # While the fake writer is in flight the builder must be parked in
        # the drain with AQE untouched (sample for ~0.5s).
        deadline = time.monotonic() + 0.5
        while time.monotonic() < deadline:
            assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
            time.sleep(0.02)
        assert not done.is_set(), "build finished while a writer was in flight"
    finally:
        with W._ASYNC_LOCK:
            W._ASYNC_INFLIGHT.discard(fake)
    assert done.wait(300), "build did not finish after the writer drained"
    t.join()
    assert not err, err
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
