"""One benchmark run in a fresh process: start the engine session at its
defaults, run one workload, write what was measured to a JSON file.

Started by ``run.py``, which owns the run's private directories and passes
the process start time in ``PERFBENCH_T0``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import probes  # noqa: E402
import workloads  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])

    ti = time.perf_counter()
    from music_recommendation_service_spark.plans import registry
    from music_recommendation_service_spark.session import get_spark

    import_s = time.perf_counter() - ti
    tl = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    launch_s = time.perf_counter() - tl
    ti = time.perf_counter()
    reg = registry()
    import_s += time.perf_counter() - ti
    setup_s = time.time() - t0

    jvm = probes.Jvm(spark)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install_scratch()
    _, _, run_workload, repeats = workloads.WORKLOADS[args.workload]
    ctx = workloads.Ctx(spark, jvm, reg, args.data, args.work, repeats, tracer)
    before = ctx.counters()
    jobs_before = jvm.job_ids([None])
    load, ticks0 = probes.load_avg(), probes.cpu_ticks()
    res = run_workload(ctx)
    ticks = probes.cpu_ticks()
    layers = dict(ctx.layers)
    layers.update({
        "session.launch_s": launch_s,
        "session.import_s": import_s,
        "jvm.jit_s": ctx.end["jit"] - before["jit"],
        "jvm.gc_s": ctx.end["gc"] - before["gc"],
        "jvm.peak_rss_mb": jvm.peak_rss_mb(),
    })
    if tracer is not None:
        tracer.restore()
        ids = jvm.job_ids(g for g in ctx.groups if g != "check") - jobs_before
        layers.update({f"exec.{k}": float(v) for k, v in jvm.exec_metrics(ids).items()})
        calls = tracer.n["scratch.calls"]
        layers.update({
            "scratch.calls": calls,
            "scratch.hits": tracer.n["scratch.hits"],
            "scratch.misses": tracer.n["scratch.misses"],
            "scratch.hit_ratio": tracer.n["scratch.hits"] / calls if calls else 0.0,
            "scratch.materialize_s": tracer.t["scratch.materialize"],
            "scratch.written_mb": tracer.n["scratch.written_mb"],
        })
        # share of the timed wall spent inside the timed layer calls
        covered = sum(layers.get(k, 0.0) for k in workloads.COVERAGE[args.workload])
        layers["trace.coverage"] = covered / res["timed_s"]
    out = {
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors,
        "metrics": {
            "setup_s": setup_s,
            "cold_s": res["cold_s"],
            "warm_s": res["warm_s"],
            "cold_cpu_s": res["cold_cpu_s"],
            "warm_cpu_s": res["warm_cpu_s"],
            "cpu_s": ctx.end["cpu"] - before["cpu"],
            "disk_ratio": res["disk_ratio"],
            "read_p50_s": res["read_p50_s"],
        },
        "layers": layers,
        "timed_s": res["timed_s"],
        "passes": res["passes"],
        "detail": ctx.detail,
        "config": jvm.config(),
        "load": {"start": load, "end": probes.load_avg()},
        "ticks": {k: ticks[k] - ticks0[k] for k in ticks},
    }
    with open(args.out, "w") as f:
        json.dump(out, f)
    os._exit(0)  # run.py ends the JVM with the process group


if __name__ == "__main__":
    main()
