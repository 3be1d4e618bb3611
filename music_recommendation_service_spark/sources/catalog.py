"""Table catalog over the lake directory.

The reference reads tables by hard-coded s3a paths with per-job schema
literals (``pyspark_jobs/spark_utils.py:42-49``, ``process_historical_data.py:66``).
Here a single catalog maps table name -> path and returns DataFrames, so every
query addresses tables by name and the physical format is swappable
(parquet today; Delta when ``delta-spark`` is importable — SURVEY.md §7.2-1).

Scale notes
-----------
- Readers never infer schema from data: parquet carries its schema; CSV reads
  require an explicit StructType (reference behavior S1,
  ``process_historical_data.py:66``). Schema inference at 100 TB is a full
  extra scan.
- ``register_views`` exposes every table to spark.sql — the Thrift-equivalent
  SQL entry point (SURVEY.md §3.3b).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver-provided benchmark tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The events table's event-type vocabulary — a catalog fact shared by every
# pivot/classifier query (q42, q117) so the declared value lists can never
# diverge between them.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# Columns stored as TIMESTAMP(NANOS) in the driver parquet; with
# spark.sql.legacy.parquet.nanosAsLong they surface as LongType nanos and are
# normalized back to TimestampType here (values are micro-aligned).
#
# Scale note: the conversion is a projection, so range predicates on a
# converted column do NOT reach the parquet scan (only IsNotNull pushes;
# column pruning is unaffected — verified in tests/test_plans.py). This is
# an artifact of the nano-typed *testdata* only: tables written by this
# engine (sources/writers.py) carry TIMESTAMP(MICROS) and push down fine,
# and the bronze layout's year/month partition columns (reference parity)
# remain the primary pruning mechanism for time predicates.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# path -> (mtime, StructType) discovered on first read. A repeated
# ``spark.read.parquet`` pays schema discovery (listing + footer reads,
# measured ~100 ms/table at sf0.1 vs ~18 ms with an explicit schema; at
# 100 TB footer-merge is a distributed job) on EVERY call; lake tables are
# immutable within a session, so the schema from the first read is
# authoritative. The mtime guard invalidates on in-place rewrites (tests).
_SCHEMA_CACHE: dict[str, tuple[float, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with schema-discovery caching (schema declared from the
    first read onwards — the S1 'declared schema' contract applied to
    repeated reads)."""
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[path] = (mtime, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with timestamp normalization applied."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # Runtime-settable SQL conf; applied here so the engine also works under
    # a caller-provided session that lacks the config.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    for c in NANO_TS_COLS.get(name, ()):
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            # Integer division: float `/` loses 1-ulp on 60-bit nano longs,
            # shifting timestamps by a microsecond.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


def spread_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin the relation across the cluster's cores when its scan
    parallelism is LOWER than the core count.

    A small table landing as one parquet file gives every downstream
    CPU-heavy expression pipeline (tokenize/shingle/explode) exactly ONE
    task (guide §2.5: one unsplittable input = input skew — repartition
    immediately after the read). Scale-adaptive by construction: at real
    scale the scan already carries >= defaultParallelism splits and this is
    a no-op — no shuffle is ever added for data that is already spread.
    Round-robin repartition is deterministic under retries (Spark sorts
    before repartitioning, SPARK-23207) and row-preserving.

    The split count is read from the PLANNED SQL scan (executedPlan's
    physical RDD — planning only, no job): ``df.rdd.getNumPartitions()``
    converts through the RDD path whose partitioning can disagree with
    the SQL scan's openCost file packing (measured at sf1: a 32-file
    scratch read reported 32 RDD partitions while the SQL stage ran 10
    tasks, leaving the downstream pair-explode 3x under-parallel).

    Without it, on 4 cores at sf0.1 (``AB_pr9_sizing.json``), cold and
    warm seconds went: q27 10.2/10.7 -> 20.5/15.7 and 2.58/2.85 ->
    5.63/3.76; q102 4.1/4.8 -> 6.9/7.5 and 1.12/1.26 -> 1.70/1.97; q135
    5.0/6.0 -> 6.2/6.3 and 1.47/1.60 -> 1.99/1.75 (q131: no-op there).
    The sf0.1 corpus is one parquet row group, the unit parquet scans
    split by, so split-size settings cannot widen that scan."""
    sc = df.sparkSession.sparkContext
    try:
        splits = (
            df._jdf.queryExecution().executedPlan().execute().getNumPartitions()
        )
    except Exception:  # pragma: no cover - defensive
        try:
            splits = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - defensive
            return df
    if splits >= sc.defaultParallelism:
        return df
    return df.repartition(sc.defaultParallelism)


def rows_in_files(df: DataFrame) -> int | None:
    """Exact row count of a parquet-backed relation from file FOOTERS only —
    no Spark job, no data read (microseconds per file on local storage).

    Used for scale-adaptive shuffle sizing (guide §2.2/§5): a reduce width
    derived from the input's true row count grows with the data instead of
    inheriting a core-count constant. Returns None (caller falls back) when
    the relation is not a plain local-file parquet scan."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            u = urlparse(f)
            if u.scheme not in ("", "file"):
                return None
            total += pq.ParquetFile(unquote(u.path)).metadata.num_rows
        return total
    except Exception:  # pragma: no cover - non-local or unreadable footer
        return None


def fits_broadcast(df: DataFrame, ncols: int) -> bool | None:
    """Whether a relation's projected slice would fit the session's
    autoBroadcastJoinThreshold as an in-memory HashedRelation — decided
    from parquet FOOTER row counts instead of Spark's compressed-file-size
    heuristic, which undercounts the in-memory blow-up of a fact-sized
    build side by ~10x (zstd parquet -> UnsafeRow hash relation) and lets
    the planner pick a multi-second SINGLE-THREADED broadcast build
    (guide §3.1: "estimates are often badly wrong ... use an explicit
    hint when you know").

    Estimate per row: an UnsafeRow of ``ncols`` 8-byte slots plus one
    null-bitset word (8*(ncols+1)), plus ~16 bytes of hash-map entry
    overhead, times 1.5 for map load-factor headroom. Returns None when
    the input is not a footer-countable parquet scan (caller keeps the
    planner's choice)."""
    rows = rows_in_files(df)
    if rows is None:
        return None
    est = rows * (8 * (ncols + 1) + 16) * 1.5
    try:
        thr = int(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:  # pragma: no cover - unparsable unit suffix form
        thr = 10 * 1024 * 1024
    return est <= thr


class Catalog:
    """Name -> DataFrame resolution over a lake directory of one file/table."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def path(self, name: str) -> str:
        p = f"{self.root}/{name}.parquet"
        if os.path.exists(p) or "://" in self.root:
            return p
        return f"{self.root}/{name}"

    def table(self, name: str) -> DataFrame:
        """Columnar batch scan (S2). Parquet-first; Catalyst handles predicate
        pushdown + column pruning from whatever the caller selects/filters."""
        return load_table(self.spark, self.root, name)

    def csv(self, path: str, schema: StructType) -> DataFrame:
        """Landing-zone CSV scan with declared schema (S1,
        ``process_historical_data.py:66``)."""
        return self.spark.read.csv(path, header=True, schema=schema)

    def json(self, path: str, schema: StructType) -> DataFrame:
        """Landing-zone JSON-lines scan with declared schema — the batch
        twin of the streaming front door's directory source. Same contract
        as ``csv``: schema is DECLARED, never inferred (inference is a full
        extra scan at 100 TB, and silently widens types on dirty data)."""
        return self.spark.read.schema(schema).json(path)

    def orc(self, path: str) -> DataFrame:
        """ORC columnar scan — schema from file metadata like parquet;
        predicate pushdown + column pruning apply identically (ORC is the
        other first-class columnar format in Spark's DSv1 path)."""
        return self.spark.read.orc(path)

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Expose catalog tables as temp views for the spark.sql surface.
        Tables absent under the root are skipped — an Engine over a pure
        lake root (snapshot tables only, no benchmark parquet) still gets
        a working SQL surface."""
        for name in names:
            if "://" in self.root or os.path.exists(self.path(name)):
                self.table(name).createOrReplaceTempView(name)
