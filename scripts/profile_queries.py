"""Per-query wall breakdown: build (parse/analyze) vs first execution vs
warm execution, for the bench suite. Prints one line per query:

    name  build_s  cold_s  warm_s  n_jobs  cold_compiles  warm_compiles

n_jobs comes from the status tracker delta around the fastest WARM run —
the job count is the fixed-overhead proxy at tiny SF (each Spark
job carries scheduling + planning + barrier latency that dominates when
the data is megabytes). The compile columns count Janino compiles
(``CodegenMetrics``) over the cold build + run and over the last warm run:
a warm run that compiles is not served from the generated-code cache.
Runs on local[N] with N the cores this process may use, unless
SPARK_GRAFT_CPUS says otherwise.

Usage: python scripts/profile_queries.py [--only q05,q109] [--runs N]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    runs = 2
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.session import codegen_compiles, get_spark
    from scripts.capture_plans import EXTRA

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("profile_queries")
    sc = spark.sparkContext
    reg = registry()
    names = [n for n, q in sorted(reg.items()) if q.bench] + [
        n for n in EXTRA if n in reg
    ]
    if only is not None:
        names = [n for n in names if n in only]

    # JIT warm
    reg[names[0]].build(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    tracker = sc.statusTracker()
    print(
        f"{'query':42s} {'build':>7s} {'cold':>7s} {'warm':>7s} {'jobs':>5s}"
        f" {'c_cmp':>6s} {'w_cmp':>6s}"
    )
    for name in names:
        sc.setJobDescription(f"profile:{name}")
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        df = reg[name].build(spark, SF_DIR)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_cold = time.perf_counter() - t0
        cold_compiles = codegen_compiles(spark) - c0
        t_warm = float("inf")
        jobs_delta = warm_compiles = -1
        for _ in range(runs):
            j0 = tracker.getJobIdsForGroup(None)
            n0 = max(j0) if j0 else -1
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df2 = reg[name].build(spark, SF_DIR)
            df2.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            warm_compiles = codegen_compiles(spark) - c0
            j1 = tracker.getJobIdsForGroup(None)
            n1 = max(j1) if j1 else -1
            if dt < t_warm:
                t_warm, jobs_delta = dt, n1 - n0
        print(
            f"{name:42s} {t_build:7.3f} {t_cold:7.3f} {t_warm:7.3f} "
            f"{jobs_delta:5d} {cold_compiles:6d} {warm_compiles:6d}"
        )
        sc.setJobDescription(None)


if __name__ == "__main__":
    main()
