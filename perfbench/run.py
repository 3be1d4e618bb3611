"""Benchmark entry point.

    python3 perfbench/run.py --workload {catalog,pipeline} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds the seeded inputs (cached under
``.perfbench/cache``), then runs fresh worker processes, each with its own
TMPDIR, scratch and Spark local dirs under ``.perfbench/runs``, removed
afterwards. ``--trace 0`` runs the workload and reports the end-to-end
metrics. ``--trace 1`` runs the workload untraced and then
traced, and reports the per-layer metrics (the untraced run is the base of
the tracing overhead). The work per run is fixed; ``--seconds`` is
recorded only. Prints one JSON record line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. See
``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE = os.path.join(ROOT, "music_recommendation_service_spark", "__init__.py")
# every worker of one invocation must end this long after it started, so
# the command returns within three minutes even when a worker hangs
DEADLINE_S = 160.0

sys.path.insert(0, HERE)

import datagen  # noqa: E402
import probes  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "cpu_s": "s",
    "disk_ratio": "ratio",
}
# wall timings: measured in every run, reported from the traced command's
# untraced run, without a bound (co-tenant load moves them too far)
WALLS = ("cold_s", "warm_s", "read_p50_s")
PER_LAYER = {
    "cold_s": "s",
    "warm_s": "s",
    "read_p50_s": "s",
    "session.launch_s": "s",
    "session.import_s": "s",
    "plans.build_cold_s": "s",
    "plans.build_warm_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.wall_s": "s",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "scratch.calls": "count",
    "scratch.hits": "count",
    "scratch.misses": "count",
    "scratch.hit_ratio": "ratio",
    "scratch.materialize_s": "s",
    "scratch.written_mb": "MB",
    "scratch.leftover_mb": "MB",
    "pipeline.bronze_s": "s",
    "pipeline.dims_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.serve_s": "s",
    "pipeline.written_mb": "MB",
    "lake.ingest_p50_s": "s",
    "lake.merge_p50_s": "s",
    "lake.append_s": "s",
    "lake.ledger_probe_s": "s",
    "lake.ledger_merge_s": "s",
    "lake.merge_s": "s",
    "lake.read_s": "s",
    "lake.compact_s": "s",
    "lake.vacuum_s": "s",
    "lake.ledger_merges_per_wave": "count",
    "lake.ledger_merge_useful_ratio": "ratio",
    "lake.versions": "count",
    "lake.files_live": "count",
    "lake.manifest_mb": "MB",
    "lake.data_written_mb": "MB",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
    "host.load_start": "load",
    "host.load_end": "load",
}


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    pids.append(int(d))
            except OSError:
                pass  # exited meanwhile
    return pids


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group (its JVM and Python
    workers) and wait until every one of them has ended."""
    deadline = time.monotonic() + 10.0
    while _group_pids(pgid) and time.monotonic() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except OSError:
            pass
        time.sleep(0.1)


def run_worker(workload: str, data: str, trace: int, deadline: float) -> dict:
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    run_dir = os.path.join(
        STATE, "runs", f"{workload}-{os.getpid()}-{time.time_ns()}"
    )
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "scratch", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    # engine defaults: no SPARK_GRAFT_* tuning reaches the worker; only the
    # scratch and local-dir placement is set, privately for this run
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({
        # the JVM's temp dir too: Spark creates its artifact dirs there
        # and no hsperfdata file under /tmp
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, [
            env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData",
        ])),
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_SCRATCH": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "PYTHONDONTWRITEBYTECODE": "1",
        "PERFBENCH_T0": repr(time.time()),
    })
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
        "--data", data, "--work", dirs["work"], "--trace", str(trace), "--out", out,
    ]
    t0 = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=dirs["work"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        _stop_group(proc.pid)
        proc.wait()
    res = {"exit": code, "wall_s": time.monotonic() - t0}
    if os.path.exists(out):
        with open(out) as f:
            res.update(json.load(f))
    else:
        with open(log_path, errors="replace") as f:
            res["log_tail"] = f.read()[-2000:]
        progress = os.path.join(run_dir, "progress.json")
        if os.path.exists(progress):
            with open(progress) as f:
                res.update(json.load(f))
            res["failed"] += 1  # the operation the crash interrupted
    res["leftover_mb"] = (
        probes.du_bytes(dirs["scratch"]) + probes.du_bytes(dirs["tmp"])
    ) / (1024.0 * 1024.0)
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(ENGINE):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    family, scale, _, _ = workloads.WORKLOADS[args.workload]
    data = datagen.ensure(os.path.join(STATE, "cache"), family, args.seed, scale)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "host": probes.host_block()}
    # the tracing-overhead base: the same workload and seed, untraced, run now
    base = run_worker(args.workload, data, 0, deadline) if args.trace else None
    res = run_worker(args.workload, data, args.trace, deadline)
    runs = [r for r in (base, res) if r is not None]
    ok = all(r.get("exit") == 0 for r in runs) and "metrics" in res
    attempted = sum(max(1, r.get("attempted", 1)) for r in runs)
    failed = sum(
        r.get("failed", 0) if r.get("exit") == 0 else max(1, r.get("failed", 1)) for r in runs
    )

    metrics = {}
    if ok and not args.trace:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    elif ok:
        layers = res["layers"]
        layers["scratch.leftover_mb"] = res["leftover_mb"]
        layers["trace.overhead_s"] = res["timed_s"] - base["timed_s"]
        layers.update({k: base["metrics"][k] for k in WALLS})
        layers["host.load_start"] = res["load"]["start"]
        layers["host.load_end"] = res["load"]["end"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    record.update({k: res.get(k) for k in (
        "exit", "wall_s", "config", "load", "ticks", "passes", "timed_s", "detail", "errors",
        "leftover_mb", "log_tail",
    ) if k in res})
    if not args.trace:
        record["untraced"] = res.get("metrics")  # the wall timings too
    if base is not None:
        record["untraced_base"] = {
            k: base.get(k) for k in ("exit", "wall_s", "timed_s", "errors", "log_tail") if k in base
        }
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({
        "correct": ok and failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
