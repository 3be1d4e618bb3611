"""The workloads. Each runs inside one fresh worker process against an
engine session at its own defaults, does a fixed amount of work, and
returns what it measured; every output-check failure counts as a failed
operation."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from datagen import data_bytes
import probes
from probes import du_bytes

MB = 1024.0 * 1024.0

CATALOG_SCALE = 0.001
MUSIC_SCALE = 0.25
SERVE_USERS = 5
POINT_READS = 4
K = 5


class Ctx:
    def __init__(self, spark, jvm, reg, data, work, repeats, tracer):
        self.spark = spark
        self.jvm = jvm
        self.reg = reg
        self.data = data
        self.work = work
        self.repeats = repeats
        self.tracer = tracer  # None in an untraced run
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.groups: list[str | None] = [None]
        self.layers: dict[str, float] = {}
        self.detail: dict = {}
        self.end: dict = {}
        self.progress = os.path.join(work, "..", "progress.json")

    def op(self, fn, *args, **kwargs):
        """Run one operation; an exception is a failed operation."""
        self.attempted += 1
        self._progress()
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self.fail(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg[:300])
        self._progress()

    def _progress(self) -> None:
        """Counts so far, for the parent to account a run whose JVM dies:
        the operation in flight is then one more failure."""
        with open(self.progress, "w") as f:
            json.dump({"attempted": self.attempted, "failed": self.failed}, f)

    def group(self, name: str) -> None:
        if self.tracer is not None:
            self.groups.append(name)
            self.spark.sparkContext.setJobGroup(name, name)

    def add(self, key: str, value: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + value

    def cpu(self) -> float:
        """CPU seconds so far of the JVM process tree and the driver Python."""
        return self.jvm.cpu_s() + probes.self_cpu_s()

    def counters(self) -> dict:
        """CPU, JIT and GC seconds so far; a workload stores them in
        ``self.end`` when its timed part ends, before its output checks."""
        return {
            "cpu": self.cpu(),
            "jit": self.jvm.jit_s(),
            "gc": self.jvm.gc_s(),
        }


def content_digest(df):
    """(row count, order-insensitive content hash) aggregate expressions.
    Floats are rounded to 6 places so a different summation order cannot
    flip the hash; maps are hashed through their string form."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c, t = F.col(f"`{f.name}`"), f.dataType
        if isinstance(t, (T.FloatType, T.DoubleType)):
            c = F.round(c.cast("double"), 6)
        elif isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.FloatType, T.DoubleType)):
            c = F.transform(c, lambda x: F.round(x.cast("double"), 6))
        elif isinstance(t, (T.MapType, T.StructType)):
            c = c.cast("string")
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2_147_483_647))).alias("h1"),
        F.sum(F.pmod(F.shiftright(h, 17), F.lit(2_147_483_629))).alias("h2"),
    ]


def _digest_value(row) -> list:
    return [int(row["rows"]), int(row["h1"] or 0), int(row["h2"] or 0)]


def check_expected(ctx: Ctx, path: str, got: dict) -> None:
    """Outputs must match the first run on the same inputs. The first run
    records them next to the cached inputs."""
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        for key, val in got.items():
            if key in want and want[key] != val:
                ctx.fail(f"{key}: output {val} differs from earlier runs' {want[key]}")
        return
    if ctx.failed == 0:
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(got, f, sort_keys=True)
        os.replace(tmp, path)


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# catalog: the bench=True registry queries, a cold pass then repeat passes
# ---------------------------------------------------------------------------
def catalog(ctx: Ctx) -> dict:
    from pyspark.sql import Observation

    spark, tracer = ctx.spark, ctx.tracer
    queries = [q for _, q in sorted(ctx.reg.items()) if q.bench]
    digests: list[dict[str, list]] = []
    passes: list[float] = []
    pass_cpu: list[float] = []
    per_query: dict[str, dict] = {}
    reads: list[float] = []
    build = [0.0] * (1 + ctx.repeats)
    t_start = time.perf_counter()
    for p in range(1 + ctx.repeats):
        digests.append({})
        tp, cp = time.perf_counter(), ctx.cpu()
        for q in queries:
            tq = time.perf_counter()
            ctx.group(f"build:{q.name}:{p}")
            df = ctx.op(q.build, spark, ctx.data)
            build[p] += time.perf_counter() - tq
            if df is None:
                continue
            obs = Observation(f"digest_{p}")
            df = df.observe(obs, *content_digest(df))
            ctx.group(f"exec:{q.name}:{p}")
            plan_s = 0.0
            if tracer is not None:
                t0 = time.perf_counter()
                try:
                    df._jdf.queryExecution().executedPlan()
                except Exception:  # noqa: BLE001 - the write below reports it
                    pass
                plan_s = time.perf_counter() - t0
                ctx.add("catalyst.plan_s", plan_s)
            t0 = time.perf_counter()
            ok = ctx.op(lambda: df.write.format("noop").mode("overwrite").save() or True)
            ctx.add("exec.wall_s", time.perf_counter() - t0)
            per_query[q.name] = {"wall_s": time.perf_counter() - tq, "plan_s": plan_s}
            if p > 0:
                reads.append(per_query[q.name]["wall_s"])
            if ok:
                digests[p][q.name] = _digest_value(obs.get)
        passes.append(time.perf_counter() - tp)
        pass_cpu.append(ctx.cpu() - cp)
    timed = time.perf_counter() - t_start
    ctx.end = ctx.counters()
    ctx.group("check")
    for p, got in enumerate(digests[1:], 1):
        for name, val in got.items():
            if digests[0].get(name) != val:
                ctx.fail(f"{name}: pass {p} output {val} != cold {digests[0].get(name)}")
    check_expected(ctx, os.path.join(ctx.data, "_expected_catalog.json"), digests[0])
    ctx.layers.update({
        "plans.build_s": sum(build),
        "plans.build_cold_s": build[0],
        "plans.build_warm_s": _p50(build[1:]),
    })
    if tracer is not None:
        ctx.layers["plans.build_jobs"] = float(len(ctx.jvm.job_ids(
            g for g in ctx.groups if g and g.startswith("build:")
        )))
        last = len(passes) - 1
        for name, rec in per_query.items():
            rec.update(ctx.jvm.exec_metrics(ctx.jvm.job_ids(
                [f"build:{name}:{last}", f"exec:{name}:{last}"]
            )))
        ctx.detail["repeat_pass_queries"] = per_query
    return {
        "timed_s": timed,
        "cold_s": passes[0],
        "warm_s": _p50(passes[1:]),
        "cold_cpu_s": pass_cpu[0],
        "warm_cpu_s": _p50(pass_cpu[1:]),
        "read_p50_s": _p50(reads),
        "disk_ratio": du_bytes(os.environ["SPARK_GRAFT_SCRATCH"]) / data_bytes(ctx.data),
        "passes": passes,
    }


# ---------------------------------------------------------------------------
# pipeline: the medallion ETL cold and re-run, then the incremental lake stream
# ---------------------------------------------------------------------------
def _stage_of(path: str) -> str:
    if "bronze/fact" in path:
        return "bronze"
    if "/bronze/" in path:
        return "dims"
    return "silver" if "/silver/" in path else "gold"


def _etl(ctx: Ctx, reads: list[float]) -> tuple[list[float], list[float], list[str]]:
    """``run_full_pipeline`` into a fresh lake dir per pass, each followed by
    serving reads of a few users' gold rows. Returns (pass walls, pass CPU
    seconds, lakes);
    ``reads`` receives the repeat passes' serving-read latencies."""
    import pandas as pd
    from pyspark.sql import functions as F

    import datagen
    from music_recommendation_service_spark import pipelines

    spark, tracer, src = ctx.spark, ctx.tracer, ctx.data
    ids = sorted(pd.read_parquet(f"{src}/dim_users.parquet")["user_id"].tolist())
    users = ids[:: max(1, len(ids) // SERVE_USERS)][:SERVE_USERS]
    seg = {"i": 0, "pass": 0, "t": 0.0, "labels": []}

    def on_write(path: str) -> None:
        # a stage runs from the previous landed table to this one, so its
        # plan building and eager jobs count with its write
        now = time.perf_counter()
        stage = _stage_of(path)
        ctx.add(f"pipeline.{stage}_s", now - seg["t"])
        seg["labels"].append((seg["pass"], seg["i"], stage))
        seg["t"], seg["i"] = now, seg["i"] + 1
        ctx.group(f"pl:{seg['pass']}:{seg['i']}")

    if tracer is not None:
        tracer.install_pipeline(on_write)
    passes, pass_cpu, lakes = [], [], []
    for p in range(1 + ctx.repeats):
        lake = os.path.join(ctx.work, f"lake_{p}")
        tp, cp = time.perf_counter(), ctx.cpu()
        seg.update({"i": 0, "pass": p, "t": tp})
        ctx.group(f"pl:{p}:0")
        if ctx.op(pipelines.run_full_pipeline, spark, src, lake, datagen.ANCHOR, k=K):
            lakes.append(lake)
        t_serve = time.perf_counter()
        ctx.group(f"serve:{p}")
        gold = f"{lake}/gold/hybrid_recommendations"
        for u in users:
            t0 = time.perf_counter()
            ctx.op(lambda: spark.read.parquet(gold).filter(F.col("user_id") == u).collect())
            if p > 0:
                reads.append(time.perf_counter() - t0)
        now = time.perf_counter()
        ctx.add("pipeline.serve_s", now - t_serve)
        passes.append(now - tp)
        pass_cpu.append(ctx.cpu() - cp)
    if tracer is not None:
        tracer.restore()
        per_stage: dict[str, dict] = {}
        for p, i, stage in seg["labels"]:
            m = ctx.jvm.exec_metrics(ctx.jvm.job_ids([f"pl:{p}:{i}"]))
            acc = per_stage.setdefault(stage, {})
            for key, val in m.items():
                acc[key] = acc.get(key, 0) + val
        ctx.detail["exec_by_stage"] = per_stage
    return passes, pass_cpu, lakes


def _check_gold(ctx: Ctx, lakes: list[str]) -> None:
    """Gold holds at most K rows per user ranked 1..n, identical every pass
    and every run on the same inputs."""
    from pyspark.sql import functions as F

    digests = []
    for lake in lakes:
        ctx.add("pipeline.written_mb", du_bytes(lake) / MB)
        g = ctx.spark.read.parquet(f"{lake}/gold/hybrid_recommendations")
        digests.append(_digest_value(g.agg(*content_digest(g)).first()))
        ranks = g.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.min("rank").alias("lo"),
            F.max("rank").alias("hi"), F.countDistinct("rank").alias("d"),
        )
        bad = ranks.filter(
            (F.col("n") > K) | (F.col("lo") != 1) | (F.col("hi") != F.col("n"))
            | (F.col("d") != F.col("n"))
        ).count()
        if bad or ranks.count() == 0:
            ctx.fail(f"{lake}: {bad} users break the top-{K} rank contract")
    for d in digests[1:]:
        if d != digests[0]:
            ctx.fail(f"gold output {d} differs from the first pass's {digests[0]}")
    if digests:
        check_expected(ctx, os.path.join(ctx.data, "_expected_pipeline.json"), {"gold": digests[0]})


def _stream(ctx: Ctx) -> tuple[str, list[str], list, dict[str, list[float]]]:
    """Landing waves through ``incremental_file_ingest`` (bronze append plus
    ledger merges), a keyed upsert into per-user state, point reads of a few
    users and two aggregate reads after each wave; then compaction and
    vacuum. Returns the lake root, wave names, wave frames and the read
    latencies by kind."""
    import pandas as pd

    from music_recommendation_service_spark import pipelines
    from music_recommendation_service_spark.sources import snapshots as sn

    spark, tracer = ctx.spark, ctx.tracer
    waves_dir = os.path.join(ctx.data, "waves")
    landing = os.path.join(ctx.work, "landing")
    root = os.path.join(ctx.work, "stream")
    bronze, ledger, state = (os.path.join(root, t) for t in ("bronze", "ledger", "state"))
    os.makedirs(landing)
    waves = sorted(os.listdir(waves_dir))
    frames = [pd.read_parquet(os.path.join(waves_dir, f)) for f in waves]
    if tracer is not None:
        tracer.install_lake(ledger)
    ctx.group("stream")
    ingest, merges = [], []
    reads: dict[str, list[float]] = {"point": [], "aggregate": []}
    cols = ["user_id", "track_id", "event_type", "timestamp", "seq"]

    def timed_read(kind, fn):
        t0 = time.perf_counter()
        out = ctx.op(fn)
        reads[kind].append(time.perf_counter() - t0)
        return out

    t_start = time.perf_counter()
    for w, name in enumerate(waves):
        shutil.copy(os.path.join(waves_dir, name), os.path.join(landing, name))
        seen = pd.concat(frames[: w + 1])
        t0 = time.perf_counter()
        got = ctx.op(pipelines.incremental_file_ingest, spark, landing, bronze, ledger)
        ingest.append(time.perf_counter() - t0)
        if got != [name]:
            ctx.fail(f"wave {w}: ingested {got}, expected [{name}]")
        t0 = time.perf_counter()
        batch = spark.read.parquet(os.path.join(landing, name)).select(*cols)
        ctx.op(sn.snapshot_merge, batch, state, key_cols=["user_id"], seq_col="seq")
        merges.append(time.perf_counter() - t0)
        # point reads: the wave's last few distinct users
        newest = seen.sort_values("seq").groupby("user_id").tail(1).set_index("user_id")
        for user in frames[w]["user_id"].drop_duplicates(keep="last").iloc[-POINT_READS:]:
            user = int(user)
            rows = timed_read("point", lambda: sn.snapshot_scan(
                spark, state, {"user_id": (user, user)}
            ).collect())
            want = newest.loc[user]
            if rows is not None and [(r["track_id"], r["seq"]) for r in rows] != [
                (int(want.track_id), int(want.seq))
            ]:
                ctx.fail(f"wave {w}: point read of user {user} returned {rows}")
        # aggregate reads: event counts over bronze, users in the state table
        agg = timed_read("aggregate", lambda: sn.snapshot_read(spark, bronze)
                         .groupBy("event_type").count().collect())
        if agg is not None and {r[0]: r[1] for r in agg} != seen.event_type.value_counts().to_dict():
            ctx.fail(f"wave {w}: bronze event counts {agg} disagree with the landed rows")
        n_state = timed_read("aggregate", lambda: sn.snapshot_read(spark, state).count())
        if n_state is not None and n_state != len(newest):
            ctx.fail(f"wave {w}: state holds {n_state} users, {len(newest)} were landed")
    t0 = time.perf_counter()
    for path in (bronze, state):
        ctx.op(sn.snapshot_compact, spark, path)
    compact_s = time.perf_counter() - t0
    tables = (bronze, ledger, state)
    manifests = [os.path.join(p, "_snapshots") for p in tables]
    data_written = sum(du_bytes(p) for p in tables) - sum(du_bytes(m) for m in manifests)
    versions = sum(len(sn.snapshot_versions(p)) for p in tables)
    t0 = time.perf_counter()
    for path in tables:
        ctx.op(sn.snapshot_vacuum, path, keep_last=1)
    vacuum_s = time.perf_counter() - t0
    ctx.layers.update({
        "lake.ingest_p50_s": _p50(ingest),
        "lake.merge_p50_s": _p50(merges),
        "lake.merge_s": sum(merges),
        "lake.read_s": sum(reads["point"]) + sum(reads["aggregate"]),
        "lake.compact_s": compact_s,
        "lake.vacuum_s": vacuum_s,
        "lake.data_written_mb": data_written / MB,
        "lake.versions": float(versions),
    })
    if tracer is not None:
        tracer.restore()
        ctx.layers.update({
            "lake.append_s": tracer.t["lake.append"],
            "lake.ledger_merge_s": tracer.t["lake.ledger_merge"],
            "lake.ledger_probe_s": tracer.probe_time(t_start),
            "lake.ledger_merges_per_wave": tracer.n["lake.ledger_merge"] / len(waves),
            "lake.ledger_merge_useful_ratio": (
                tracer.n["lake.ledger_merges_useful"] / max(1, tracer.n["lake.ledger_merge"])
            ),
            "lake.files_live": float(sum(
                len(sn._manifest_files(p, sn._latest_manifest(p))) for p in tables
            )),
            "lake.manifest_mb": sum(du_bytes(m) for m in manifests) / MB,
        })
    return root, waves, frames, reads


def _check_stream(ctx: Ctx, root: str, waves: list[str], frames: list) -> None:
    """Exactly once: bronze rows = landed rows, each file once in the ledger,
    and the keyed state = the newest row per user over every wave."""
    import pandas as pd

    from music_recommendation_service_spark.sources import snapshots as sn

    spark = ctx.spark
    bronze, ledger, state = (os.path.join(root, t) for t in ("bronze", "ledger", "state"))
    everything = pd.concat(frames)
    n_bronze = ctx.op(lambda: sn.snapshot_read(spark, bronze).count())
    if n_bronze != len(everything):
        ctx.fail(f"bronze holds {n_bronze} rows, {len(everything)} were landed")
    names = ctx.op(lambda: [r[0] for r in sn.snapshot_read(spark, ledger).select("file_name").collect()])
    if names is not None and sorted(names) != waves:
        ctx.fail(f"ledger holds {sorted(names)}, expected each of {waves} once")
    want = everything.sort_values("seq").groupby("user_id").tail(1)
    want = sorted(zip(want.user_id, want.track_id, want.event_type, want.seq))
    got = ctx.op(lambda: sorted(
        tuple(r) for r in sn.snapshot_read(spark, state)
        .select("user_id", "track_id", "event_type", "seq").collect()
    ))
    if got is not None and got != want:
        ctx.fail(f"state table differs from the newest row per user ({len(got)} vs {len(want)})")


def pipeline(ctx: Ctx) -> dict:
    serve: list[float] = []
    t_start = time.perf_counter()
    passes, pass_cpu, lakes = _etl(ctx, serve)
    stream, waves, frames, reads = _stream(ctx)
    timed = time.perf_counter() - t_start
    ctx.end = ctx.counters()
    ctx.group("check")
    _check_gold(ctx, lakes)
    _check_stream(ctx, stream, waves, frames)
    ctx.detail["read_p50_by_kind"] = {
        "serve": _p50(serve), "point": _p50(reads["point"]), "aggregate": _p50(reads["aggregate"]),
    }
    src = data_bytes(ctx.data) + data_bytes(os.path.join(ctx.data, "waves"))
    on_disk = du_bytes(lakes[-1]) if lakes else 0
    return {
        "timed_s": timed,
        "cold_s": passes[0],
        "warm_s": _p50(passes[1:]),
        "cold_cpu_s": pass_cpu[0],
        "warm_cpu_s": _p50(pass_cpu[1:]),
        # one read of each kind at its median: a gold serving read, a lake
        # point read and a lake aggregate read
        "read_p50_s": _p50(serve) + _p50(reads["point"]) + _p50(reads["aggregate"]),
        "disk_ratio": (on_disk + du_bytes(stream)) / src,
        "passes": passes,
    }


# name -> (input family, input scale, workload, repeat passes). The
# catalog's two repeats: one alone spread 0.25 of its median from run to
# run, the median of two 0.13. One pipeline re-run spread no more than the
# median of two, and a traced pipeline command (an untraced and a traced
# run) must end within its deadline.
WORKLOADS = {
    "catalog": ("catalog", CATALOG_SCALE, catalog, 2),
    "pipeline": ("music", MUSIC_SCALE, pipeline, 1),
}

# the layer timers whose sum is a traced run's covered time
COVERAGE = {
    "catalog": ("plans.build_s", "catalyst.plan_s", "exec.wall_s"),
    "pipeline": (
        "pipeline.bronze_s", "pipeline.dims_s", "pipeline.silver_s", "pipeline.gold_s",
        "pipeline.serve_s", "lake.append_s", "lake.ledger_probe_s", "lake.ledger_merge_s",
        "lake.merge_s", "lake.read_s", "lake.compact_s", "lake.vacuum_s",
    ),
}
