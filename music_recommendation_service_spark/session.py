"""SparkSession factory.

Replaces the reference's session bootstrap (``pyspark_jobs/spark_utils.py:20-39``
builds a session against a standalone master with Delta + S3A config). Here the
session is cluster-agnostic and sized by the host it lands on: the master
comes from the environment (``tests/conftest.py`` sets 4 cores), the shuffle
width from the session's own parallelism and the driver heap from the host's
memory, so the same code runs on a laptop, in tests and on a cluster
unchanged. With ``SPARK_GRAFT_CPUS`` unset the session is ``local[*]``.

Scale notes
-----------
- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching are the first line of defense at 100 TB.
- ``spark.sql.shuffle.partitions`` is the session's ``defaultParallelism``
  (``local[N]`` cores, or a cluster's executor cores), set after the session
  starts. A high ``initialPartitionNum`` and a lower static broadcast
  threshold lost to the plans' own sizing code (``AB_pr9_sizing.json``).
- Arrow enabled for the Pandas-UDF slow path (vectorized batches, not rows).
- Session timezone pinned UTC so date/timestamp semantics are deterministic
  across engines (the DuckDB oracle also runs in UTC).

Generated-code cache
--------------------
Spark compiles each whole-stage / projection / ordering class with Janino and
keeps the compiled classes in ONE cache per JVM, keyed on the generated source
text, sized by ``spark.sql.codegen.cache.maxEntries`` (default 100). The
engine's re-run paths — pipeline re-runs, repeated dashboard queries, bench
sweeps, one test session — each cycle through more classes than that, so at
the default every re-run compiled all its code again and handed the JIT fresh
classes. ``CODEGEN_CACHE_ENTRIES`` sizes the cache to hold the whole query
registry. The conf is static and JVM-wide: ``CodeGenerator`` reads it once,
on first use, so it is set in the builder before ``getOrCreate`` and a
runtime ``spark.conf.set`` could not change it. It cannot change results (the
cache maps source text to the class compiled from it), and a plain session
that does not come through ``get_spark`` keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Distinct generated classes, measured on 4 cores with PySpark 4.1.2:
# 159-171 per pass over the 14 bench queries, ~120 per run_full_pipeline run,
# 2,864 for one pass over all 155 registry queries. At Spark's default of 100
# entries every re-run recompiled them (third bench pass: 159 compiles;
# pipeline re-run: 103-123). At this size the third bench pass compiles 0, a
# pipeline re-run 0-8, and a second registry pass 62 instead of 2,440.
# Metaspace was the same at either size: 163-165 MB after four bench passes,
# 211-213 MB after a registry pass.
CODEGEN_CACHE_ENTRIES = 4096


# Share of the host's memory given to the driver heap when
# SPARK_GRAFT_DRIVER_MEM is unset; the rest is headroom for the Python
# workers, the JVM's off-heap memory and the page cache.
DRIVER_HEAP_SHARE = 0.6


def default_driver_memory() -> str:
    """Driver heap for a session that names none: DRIVER_HEAP_SHARE of the
    memory this process may use, its cgroup's limit (v2 ``memory.max``, v1
    ``memory.limit_in_bytes``) when one is set, else physical RAM."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():  # v2 writes "max" for no limit
            limit = min(limit, int(value))
            break
    return f"{int(limit * DRIVER_HEAP_SHARE) >> 20}m"


def _delta_jars_available() -> bool:
    """True only when BOTH the delta-spark Python package and the Delta JVM
    jars are present. The reference pins the jars via
    ``spark.jars.packages`` (``spark_utils.py``); offline we can only use
    what is already on disk, so probe pyspark's bundled jars dir plus an
    optional override dir instead of trusting ``import delta``."""
    try:
        import delta  # noqa: F401
    except Exception:
        return False
    import glob

    dirs = []
    extra = os.environ.get("SPARK_GRAFT_DELTA_JARS", "").strip()
    if extra:
        dirs.append(extra)
    try:
        import pyspark

        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except Exception:
        pass
    for d in dirs:
        if glob.glob(os.path.join(d, "delta-spark*.jar")) or glob.glob(
            os.path.join(d, "delta-core*.jar")
        ):
            return True
    return False


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far
    (``CodegenMetrics``). A re-run that moves it was not served from the
    generated-code cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def get_spark(app_name: str = "music_recommendation_service_spark") -> SparkSession:
    """Build (or reuse) the engine session.

    Environment overrides:
      SPARK_GRAFT_MASTER     — master URL (default ``local[N]`` with
                               N = SPARK_GRAFT_CPUS or ``*``).
      SPARK_GRAFT_CPUS       — local core count.
      SPARK_GRAFT_DRIVER_MEM — driver heap (default
                               :func:`default_driver_memory`).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus or '*'}]")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TESTDATA parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long nanos and convert in the catalog
        # (values are microsecond-aligned, so no precision is lost).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if _delta_jars_available():
        # Delta session wiring (reference parity: ``spark_utils.py:33-37``
        # configures the same two settings). The pip ``delta-spark`` package
        # alone is NOT enough — it ships no JVM jars, and setting the
        # DeltaCatalog without them turns every catalog-touching operation
        # into a runtime ClassNotFoundException. Wire Delta only when the
        # jars are actually on the classpath (pyspark's jars dir or an
        # explicit SPARK_GRAFT_DELTA_JARS dir); on plain-parquet
        # environments the engine's snapshot protocol
        # (sources/snapshots.py) supplies the transactional layer.
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # One shuffle task per core the session can run: known only once the
    # master is up (local[*], local[N] or a cluster's executors).
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    try:
        # format("snapshot") everywhere the engine session reaches
        # (sources/datasource.py). Guarded: the Python DataSource API
        # needs PySpark >= 4.
        from music_recommendation_service_spark.sources.datasource import (
            register_snapshot_datasource,
        )

        register_snapshot_datasource(spark)
    except Exception:
        pass
    return spark
