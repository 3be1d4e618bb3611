"""Capture .explain("formatted") for every benched catalog query into
plans/<round>/<query>_<tag>.txt (default round r13; --round r12 for the base worktree) — the optimization round's plan evidence.

Usage: python scripts/capture_plans.py <tag> [--only q05,q27] [--sf-dir DIR]

The plan is captured AFTER the query's build() runs (so scratch
materialization has happened and the captured plan is the one warm bench
runs execute), against the same SF the bench times.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# every query the bench artifact carries a number for (headline + ext +
# sf1 heavy family), i.e. everything the optimization round must examine
EXTRA = [
    "q100_doc_chunking", "q101_bigram_quality", "q102_semantic_dedup",
    "q103_chunk_dedup", "q104_funnel", "q105_retention_cohorts",
    "q106_series_interpolation", "q107_weighted_sample",
    "q108_kmeans_refine", "q109_kmeans_converged", "q110_corpus_drift",
    "q111_containment_dupes", "q112_pattern_scrub",
    "q113_histogram_quantiles", "q114_pareto_frontier",
    "q117_daily_type_pivot", "q119_priority_rollup",
    "q120_markov_transitions", "q121_ewma_last", "q122_bfs_hops",
    "q123_basket_rules", "q125_rolling_distinct_users",
    "q126_balance_deciles", "q127_chi_square_independence",
    "q128_welch_ttest", "q129_session_paths", "q130_demand_gini",
    "q131_prefix_filter_simjoin", "q132_token_heavy_hitters",
    "q133_seasonal_decompose", "q134_ann_pq", "q135_edit_distance_join",
    "q136_table_profile", "q137_holt_smoothing", "q138_window_zoo",
    "q139_survival_curve", "q140_decayed_demand", "q141_order_gaps",
    "q142_incremental_hybrid_recommendations",
]


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("capture_plans")
    reg = registry()
    names = [n for n, q in sorted(reg.items()) if q.bench] + [
        n for n in EXTRA if n in reg
    ]
    if only is not None:
        names = [n for n in names if n in only]
    rnd = "r13"
    if "--round" in sys.argv:
        rnd = sys.argv[sys.argv.index("--round") + 1]
    out = Path(__file__).resolve().parent.parent / "plans" / rnd
    out.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            df = reg[name].build(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            txt = f"EXPLAIN FAILED: {e}"
        (out / f"{name}_{tag}.txt").write_text(txt)
        print(f"{name}: {len(txt)} chars")


if __name__ == "__main__":
    main()
