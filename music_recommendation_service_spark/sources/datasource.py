"""The snapshot protocol as a first-class Spark data source.

``spark.read.format("snapshot")`` / ``readStream.format("snapshot")`` /
``df.write.format("snapshot")`` over the versioned snapshot tables of
``sources/snapshots.py`` — the integration surface the reference reaches
with ``format("delta")`` (``pyspark_jobs/spark_utils.py:58``,
``process_recommendation_events.py:78-82``), re-realized on the PySpark 4
Python DataSource API so it works with no JVM extension on the classpath.

    from music_recommendation_service_spark.sources.datasource import (
        register_snapshot_datasource)
    register_snapshot_datasource(spark)

    spark.read.format("snapshot").option("version", 3).load(path)
    spark.readStream.format("snapshot").option("readChangeFeed", "true").load(path)
    df.write.format("snapshot").mode("append").save(path)

Design notes (and the 100 TB story):

- **Planning is manifest-only.** ``partitions()`` reads the version's
  manifest (O(files) JSON) and prunes through the SAME code as the native
  ``snapshot_scan`` path: pushed filters become conjuncts of the one
  file-skipping rule (``snapshots._file_skip``) over per-file min/max stats
  and Bloom sidecars. The filters (``pushFilters``) drive the skipping but
  are ALL returned to Spark as unsupported, so Spark re-applies them
  exactly — file skipping here is an I/O optimization, never a
  correctness dependency. Bloom lookups hash with
  the pure-Python XXH64 twin (``sources/xxhash64.py``, bit-parity pinned in
  tests) because the planner runs in a Python worker with no SparkSession.
- **Input partitions are SIZE-BINNED groups of live files** — Spark's own
  FilePartition algorithm (``maxPartitionBytes`` 128 MiB default +
  ``openCostInBytes`` 4 MiB per-file padding, both read options), so a
  stream-sink table with 100k small commit files schedules ~hundreds of
  Python tasks, not 100k worker round-trips, while a table of big files
  keeps one task per file. Each task reads ONLY its files (pyarrow),
  applies each file's deletion vector as a positional mask, null-fills
  columns added after the file was written, renames physical->logical
  column-mapping names, and yields Arrow record batches (zero row-at-a-time
  Python; files needing no mask/rename/cast stream through zero-copy).
- **The streaming source replays the commit chain**: offsets are manifest
  versions, so exactly-once replay falls out of Spark's checkpointed offset
  log plus manifest immutability. Delta streaming-source semantics:
  an un-pinned start does an initial snapshot of the current version then
  goes incremental; ``data_change=false`` commits (OPTIMIZE/ZORDER/
  metadata) are skipped; a commit that removes or rewrites rows fails an
  append-mode stream unless ``skipChangeCommits`` is set; with
  ``readChangeFeed`` the same chain is emitted as row-level
  ``_change_type`` / ``_commit_version`` changes (keyless CDF — positional
  diffs of deletion vectors, file adds as inserts, file removes as
  deletes) that match ``snapshot_changes``' keyless mode.
- **The batch writer is a real two-phase distributed commit**: executors
  write parquet files AND compute their per-file min/max stats + Bloom
  bitsets in-task (single pass over data they already hold — the native
  path needs a second Spark aggregate for this), send them as commit
  messages, and the driver assembles the manifest and lands it through the
  claim-once ``_commit`` primitive with the same rebase-or-abort
  concurrency rule as ``snapshot_append``. A crash before the manifest
  leaves only an invisible orphan dir (vacuumable), never a torn table.
  CHECK constraints are enforced IN THE TASK (DuckDB over the Arrow
  batch — per-row predicates need no Spark session; fail-closed on
  anything DuckDB can't evaluate). GENERATED ALWAYS AS columns: a batch
  that PROVIDES the column is validated in-task as a
  ``col IS NOT DISTINCT FROM (expr)`` pseudo-constraint (Delta's
  explicit-assignment rule); a batch that OMITS it gets the value
  COMPUTED in-task by the same DuckDB engine (fail-closed on any
  expression it cannot reproduce), so ``df.write.format("snapshot")``
  onto a generated-partition table auto-fills and prunes. IDENTITY
  columns must be omitted; each task reserves ``step * rows`` ids in a
  claim-once metadata commit and assigns its block locally (per-task
  offsets — retried tasks leave gaps, never duplicates).

Reference parity: S2/S4/S6/S7 (`SURVEY.md §2.1`) at the ``format(...)``
call-site level; the stream source is the engine-side twin of the
reference's Delta streaming sink/source pair
(``process_recommendation_events.py:57-84``).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from music_recommendation_service_spark.sources import snapshots as sn
from music_recommendation_service_spark.sources.xxhash64 import bloom_positions

CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"

_FORMAT_NAME = "snapshot"


def register_snapshot_datasource(spark) -> None:
    """Register ``format("snapshot")`` on a session (idempotent). Also
    enables Python-datasource filter pushdown — without it Spark refuses a
    reader that implements ``pushFilters`` (the file-skipping hook)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SnapshotDataSource)


# --------------------------------------------------------------------------
# shared planning helpers (run in the planner's Python worker: local-FS
# manifest reads + pure-Python hashing only, no SparkSession)
# --------------------------------------------------------------------------


def _required_path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("format('snapshot') requires a path: .load(<table path>)")
    return path


def _resolve_version(path: str, options) -> int:
    versions = sn.snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshot table at {path}")
    v_opt = options.get("version") or options.get("versionasof")
    ts_opt = options.get("timestampasof")
    if v_opt is not None and ts_opt is not None:
        raise ValueError("pass either version or timestampAsOf, not both")
    if v_opt is not None:
        v = int(v_opt)
        if v not in versions:
            raise ValueError(f"version {v} not in {versions} at {path}")
        return v
    if ts_opt is not None:
        try:
            ts = float(ts_opt)
        except (TypeError, ValueError):
            # Delta-style ISO-8601 timestamp string ('2024-01-01 00:00:00'),
            # naive defaults to UTC — same parse RESTORE ... TIMESTAMP AS OF
            # uses in the SQL front.
            import datetime as _dt

            dt = _dt.datetime.fromisoformat(str(ts_opt).strip())
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            ts = dt.timestamp()
        eligible = [
            v for v in versions
            if (sn._read_manifest(path, v).get("committed_at") or 0) <= ts
        ]
        if not eligible:
            raise ValueError(f"no version at {path} committed at or before {ts}")
        return eligible[-1]
    return versions[-1]


def _truthy(options, key: str) -> bool:
    return str(options.get(key) or "").strip().lower() in ("true", "1", "yes")


def _schema_fields_sig(schema_json: str) -> list[tuple[str, str]]:
    """(name, type) signature for mid-stream schema-change detection —
    nullability and metadata are ignored, same laxity as the append path."""

    def sig(fields):
        return [(f["name"], json.dumps(f["type"], sort_keys=True)) for f in fields]

    return sig(json.loads(schema_json).get("fields", []))


def _normalized_struct(schema_json: str) -> StructType:
    """Manifest schema as the ALL-NULLABLE StructType a file read yields —
    Spark file scans force nullable=True, and the DataSource surface must
    type-match ``snapshot_read`` exactly."""
    st = StructType.fromJson(json.loads(schema_json))
    return sn._normalize_nullability(st)


def _filter_col(f: Filter) -> str | None:
    """Top-level column name of a pushed filter, or None for nested paths
    (which we don't prune on)."""
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:
        return None
    return attr[0]


# pushed filter class -> op of a skip-rule conjunct (``snapshots._file_skip``)
_FILTER_OPS = {
    EqualTo: "=", EqualNullSafe: "=", In: "=",
    GreaterThan: ">", GreaterThanOrEqual: ">=",
    LessThan: "<", LessThanOrEqual: "<=", IsNotNull: "notnull",
}


def prune_entries(
    table_path: str, manifest: dict, filters: Sequence[Filter]
) -> list[dict]:
    """File-skipping over a manifest's live entries: pushed filters become
    conjuncts of the snapshot protocol's one skip rule (plus those derived
    onto generated partition columns), and a file survives only if every
    conjunct may hold in it."""
    conjuncts = []
    for f in filters:
        op, col = _FILTER_OPS.get(type(f)), _filter_col(f)
        if op is None or col is None:
            continue
        vals = (
            [] if op == "notnull"
            else list(f.value) if isinstance(f, In) else [f.value]
        )
        conjuncts.append((col, op, vals))
    conjuncts += sn._derive_generated_conjuncts(manifest, conjuncts)
    return sn._files_may_match(table_path, manifest, conjuncts)


# --------------------------------------------------------------------------
# executor-side file read (pyarrow only)
# --------------------------------------------------------------------------


def _duck_compat(con) -> None:
    """Spark->DuckDB compatibility macros for in-task expression
    evaluation (CHECK constraints, generated-column fill/validation).
    Macros compose through nesting (``to_date(from_unixtime(x))``) and
    never shadow a DuckDB built-in — each is created only because DuckDB
    has no function of that name. from_unixtime follows the engine's
    pinned UTC session (session.py): epoch seconds -> the naive UTC
    rendering Spark produces."""
    con.execute("CREATE MACRO to_date(x) AS CAST(x AS DATE)")
    con.execute(
        "CREATE MACRO from_unixtime(x) AS strftime("
        "make_timestamp(CAST(x AS BIGINT) * 1000000), '%Y-%m-%d %H:%M:%S')"
    )


@dataclass
class SnapshotFilePartition(InputPartition):
    abs_path: str
    rel2: str                      # dir/name identity the DV positions key on
    dv_ref: str | None             # absolute positions-parquet dir, or None
    change_type: str | None = None  # CDF: insert|delete; None = plain read
    commit_version: int | None = None
    # CDF dv-repoint deletes: emit ONLY positions dead under dv_ref but
    # live under prev_dv_ref.
    prev_dv_ref: str | None = None
    delete_only_new_dead: bool = False
    est_rows: int | None = None    # manifest row count (bin-size fallback)
    # Hive entries: ((physical_col, string_value), ...) — partition values
    # live in directory names, not the file; the reader attaches them as
    # constant columns cast to the declared type.
    partition: tuple = ()


@dataclass
class SnapshotScanPartition(InputPartition):
    """A size-binned group of files read by ONE task (batch reads)."""

    files: tuple = ()


_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_OPEN_COST_BYTES = 4 * 1024 * 1024
# When the metadata-plane FS can't stat a data file (remote backend without
# cheap HEADs), estimate its size from the manifest row count instead of
# treating it as empty — 0-sized files collapse every bin into one giant
# task (ADVICE r9 low).
_EST_BYTES_PER_ROW = 64


def _pack_file_bins(
    parts: list[SnapshotFilePartition],
    max_bytes: int = _MAX_PARTITION_BYTES,
    open_cost: int = _OPEN_COST_BYTES,
) -> list[SnapshotScanPartition]:
    """Spark's FilePartition packing: files sorted by size descending,
    greedily binned so each bin's Σ(size + open_cost) stays under
    ``max_bytes`` (a single oversized file gets its own bin). The open
    cost stops thousands of tiny commit files from collapsing into one
    task; the byte cap keeps per-task memory bounded at 100 TB."""
    sized = []
    for p in parts:
        # route sizing through the SnapshotFS abstraction (not a bare
        # os.path.getsize) so a non-local metadata backend stats its own
        # store; fall back to manifest row counts when no stat is cheap
        size = sn._fs().size(p.abs_path)
        if size is None:
            size = (p.est_rows or 0) * _EST_BYTES_PER_ROW
        sized.append((size + open_cost, p))
    sized.sort(key=lambda t: t[0], reverse=True)
    bins: list[SnapshotScanPartition] = []
    cur: list[SnapshotFilePartition] = []
    load = 0
    for cost, p in sized:  # one O(n) pass, like Spark's FilePartition.getFilePartitions
        if cur and load + cost > max_bytes:
            bins.append(SnapshotScanPartition(files=tuple(cur)))
            cur, load = [], 0
        cur.append(p)
        load += cost
    if cur:
        bins.append(SnapshotScanPartition(files=tuple(cur)))
    return bins


def _dead_positions(dv_ref: str | None, rel2: str):
    """Set of dead row positions this DV records for one file."""
    if not dv_ref:
        return set()
    import pyarrow.parquet as pq

    t = pq.read_table(
        dv_ref, filters=[(sn._DV_FILE, "==", rel2)], columns=[sn._DV_POS]
    )
    return set(t[sn._DV_POS].to_pylist())


def _read_partition_arrow(
    part: SnapshotFilePartition,
    schema_json: str,
    mapping: dict,
    cdf: bool,
) -> Iterator:
    """Read one file into Arrow batches under the table's DECLARED schema:
    missing physical columns null-fill (schema evolution), physical names
    alias back to logical (column mapping), DV positions mask out, and for
    CDF partitions the change-metadata columns append. Matches
    ``snapshots._read_entries`` row-for-row — pinned by parity tests."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    declared = _normalized_struct(schema_json)
    target = to_arrow_schema(declared)
    tbl = pq.read_table(part.abs_path, memory_map=True)
    n = tbl.num_rows

    if (
        not cdf
        and part.dv_ref is None
        and not part.delete_only_new_dead
        and tbl.schema == target
    ):
        # fast path: no mask, no rename, no null-fill, no cast — stream
        # the file's batches through untouched
        if n:
            yield from tbl.to_batches(max_chunksize=1 << 16)
        return

    if part.delete_only_new_dead:
        new_dead = _dead_positions(part.dv_ref, part.rel2)
        old_dead = _dead_positions(part.prev_dv_ref, part.rel2)
        keep = sorted(new_dead - old_dead)
        tbl = tbl.take(pa.array(keep, type=pa.int64())) if keep else tbl.slice(0, 0)
    else:
        dead = _dead_positions(part.dv_ref, part.rel2)
        if dead:
            import numpy as np

            mask = np.ones(n, dtype=bool)
            mask[np.fromiter(dead, dtype=np.int64)] = False
            tbl = tbl.filter(pa.array(mask))

    part_vals = dict(part.partition)
    cols = []
    for f in declared.fields:
        phys = sn._phys(mapping, f.name)
        at = target.field(f.name).type
        if phys in tbl.column_names:
            col = tbl[phys]
            if col.type != at:
                col = pc.cast(col, at)
        elif phys in part_vals:
            # Hive layout: the partition value is a path-derived constant,
            # cast from its directory-string form to the declared type
            s = part_vals[phys]
            col = (
                pa.nulls(tbl.num_rows, type=at)
                if s is None
                else pc.cast(
                    pa.array([s] * tbl.num_rows, type=pa.string()), at
                )
            )
        else:
            col = pa.nulls(tbl.num_rows, type=at)
        cols.append(col)
    names = [f.name for f in declared.fields]
    if cdf:
        names += [CDF_TYPE_COL, CDF_VERSION_COL]
        cols.append(pa.chunked_array([[part.change_type] * tbl.num_rows], type=pa.string()) if tbl.num_rows else pa.nulls(0, pa.string()))
        cols.append(pa.chunked_array([[part.commit_version] * tbl.num_rows], type=pa.int64()) if tbl.num_rows else pa.nulls(0, pa.int64()))
    out = pa.table(dict(zip(names, cols)))
    if out.num_rows:
        yield from out.to_batches(max_chunksize=1 << 16)


# --------------------------------------------------------------------------
# batch reader
# --------------------------------------------------------------------------


class SnapshotBatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        if _truthy(options, "readchangefeed"):
            raise ValueError(
                "readChangeFeed is a STREAM read option here; for batch "
                "change feeds use snapshot_changes(spark, path, from, to)"
            )
        self._path = _required_path(options)
        self._version = _resolve_version(self._path, options)
        self._manifest = sn._read_manifest(self._path, self._version)
        self._mapping = sn._mapping(self._manifest)
        self._schema_json = self._manifest.get("schema") or (
            schema.json() if schema is not None else None
        )
        if self._schema_json is None:
            raise ValueError(
                f"{self._path}: legacy manifest without a schema needs an "
                "explicit .schema(...) on the read"
            )
        self._filters: list[Filter] = []
        self._options = options

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Record every pushed filter for FILE skipping, then hand them all
        back: Spark re-applies them row-exactly, so a too-coarse (or
        stats-less) skip can only cost I/O, never correctness."""
        self._filters = list(filters)
        return filters

    def partitions(self):
        entries = prune_entries(self._path, self._manifest, self._filters)
        files = [
            SnapshotFilePartition(
                abs_path=(
                    e["path"]
                    if os.path.isabs(e["path"])
                    else os.path.join(self._path, e["path"])
                ),
                rel2=sn._entry_rid(e),
                dv_ref=(
                    sn._dv_ref_path(self._path, e["dv"]["ref"])
                    if e.get("dv")
                    else None
                ),
                est_rows=e.get("rows"),
                partition=tuple(sorted((e.get("partition") or {}).items())),
            )
            for e in entries
        ]
        return _pack_file_bins(
            files,
            int(self._options.get("maxpartitionbytes", _MAX_PARTITION_BYTES)),
            int(self._options.get("opencostinbytes", _OPEN_COST_BYTES)),
        )

    def read(self, partition: SnapshotScanPartition):
        if partition is None:
            # every file pruned: Spark still schedules one task with a
            # None partition when partitions() returned []
            return
        for f in partition.files:
            yield from _read_partition_arrow(
                f, self._schema_json, self._mapping, cdf=False
            )


# --------------------------------------------------------------------------
# streaming reader
# --------------------------------------------------------------------------


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType):
        self._path = _required_path(options)
        self._cdf = _truthy(options, "readchangefeed")
        self._skip_change = _truthy(options, "skipchangecommits")
        self._starting = options.get("startingversion")
        mv = options.get("maxversionspertrigger")
        self._max_versions = int(mv) if mv else None
        self._last_end: int | None = None  # last PLANNED end, for rate limiting
        self._options = options
        if not sn.snapshot_versions(self._path):
            raise FileNotFoundError(f"no snapshot table at {self._path}")
        # Pin the schema SPARK hands us (the query's analyzed schema): the
        # reader object is re-instantiated per micro-batch, and re-reading
        # the latest manifest here would silently adopt a mid-stream schema
        # change instead of failing the planner check below.
        data_fields = [
            f for f in schema.fields
            if f.name not in (CDF_TYPE_COL, CDF_VERSION_COL)
        ]
        self._schema_json = StructType(data_fields).json()
        self._sig = _schema_fields_sig(self._schema_json)

    # -- offsets ------------------------------------------------------------

    def initialOffset(self) -> dict:  # noqa: N802
        if self._starting is None:
            # Delta default: initial snapshot of the CURRENT version, then
            # incremental. The snapshot target rides in the offset so a
            # checkpoint replay reproduces the identical first batch. The
            # offset's v is the SNAPSHOT version (not 0): commits 1..snap
            # are already inside the snapshot, so a rate-limited end must
            # never fall below snap or they would replay as duplicates.
            snap = sn.snapshot_versions(self._path)[-1]
            self._last_end = snap
            return {"v": snap, "snap": snap}
        if str(self._starting).strip().lower() == "earliest":
            self._last_end = 0
            return {"v": 0}
        self._last_end = int(self._starting) - 1
        return {"v": self._last_end}

    def latestOffset(self) -> dict:  # noqa: N802
        latest = sn.snapshot_versions(self._path)[-1]
        if self._max_versions is not None and self._last_end is not None:
            # Rate limit by CAPPING the acknowledged offset — never by
            # truncating partitions under a full acknowledgment, which
            # would silently drop the truncated commits.
            return {"v": min(latest, self._last_end + self._max_versions)}
        return {"v": latest}

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass

    # -- planning -----------------------------------------------------------

    def _check_schema(self, m: dict, v: int) -> None:
        """A commit is readable iff its fields are a SUBSET of the stream's
        declared fields (name+type): commits older than a later column-add
        null-fill the missing column, but a commit carrying a column the
        running stream doesn't know (add/rename/retype after query start)
        would silently drop data — fail the stream instead, Delta-style;
        a restart picks the new schema up."""
        sj = m.get("schema")
        if not sj:
            return
        have = set(self._sig)
        missing = [n for n, ty in _schema_fields_sig(sj) if (n, ty) not in have]
        if missing:
            raise RuntimeError(
                f"snapshot stream source: schema of {self._path} changed at "
                f"version {v} (new/retyped columns {missing}); restart the "
                "stream to pick up the new schema"
            )

    def _snapshot_partitions(self, v: int) -> list[SnapshotFilePartition]:
        m = sn._read_manifest(self._path, v)
        self._check_schema(m, v)
        return [
            self._part(e, change="insert", commit_v=v)
            for e in sn._manifest_files(self._path, m)
        ]

    def _part(
        self,
        e: dict,
        change: str,
        commit_v: int,
        prev_dv: str | None = None,
        only_new_dead: bool = False,
    ) -> SnapshotFilePartition:
        return SnapshotFilePartition(
            abs_path=(
                e["path"]
                if os.path.isabs(e["path"])
                else os.path.join(self._path, e["path"])
            ),
            rel2=sn._entry_rid(e),
            dv_ref=(
                sn._dv_ref_path(self._path, e["dv"]["ref"]) if e.get("dv") else None
            ),
            change_type=change if self._cdf else None,
            commit_version=commit_v if self._cdf else None,
            prev_dv_ref=prev_dv,
            delete_only_new_dead=only_new_dead,
            est_rows=e.get("rows"),
            partition=tuple(sorted((e.get("partition") or {}).items())),
        )

    def _commit_partitions(self, v: int) -> list[SnapshotFilePartition]:
        """Partitions for ONE commit: added files as inserts; in CDF mode
        removed files as deletes and DV re-points as newly-dead-position
        deletes; data_change=false commits contribute nothing."""
        m_prev = sn._read_manifest(self._path, v - 1) if v > 1 else {"files": []}
        m_cur = sn._read_manifest(self._path, v)
        self._check_schema(m_cur, v)
        if m_cur.get("data_change") is False:
            return []
        prev = {e["path"]: e for e in sn._manifest_files(self._path, m_prev)} if v > 1 else {}
        cur = {e["path"]: e for e in sn._manifest_files(self._path, m_cur)}
        added = [e for p, e in cur.items() if p not in prev]
        removed = [e for p, e in prev.items() if p not in cur]
        repointed = [
            (prev[p], cur[p])
            for p in cur.keys() & prev.keys()
            if (cur[p].get("dv") or {}).get("ref") != (prev[p].get("dv") or {}).get("ref")
        ]
        if (removed or repointed) and not self._cdf:
            if self._skip_change:
                return []
            raise RuntimeError(
                f"snapshot stream source: version {v} of {self._path} "
                f"removed or rewrote rows (op={m_cur.get('op')}); an "
                "append-only stream cannot represent it. Set "
                "option('skipChangeCommits','true') to ignore such commits "
                "or option('readChangeFeed','true') to consume row-level "
                "changes."
            )
        parts = [self._part(e, change="insert", commit_v=v) for e in added]
        if self._cdf:
            parts += [self._part(e, change="delete", commit_v=v) for e in removed]
            for p_old, p_new in repointed:
                parts.append(
                    SnapshotFilePartition(
                        abs_path=(
                            p_new["path"]
                            if os.path.isabs(p_new["path"])
                            else os.path.join(self._path, p_new["path"])
                        ),
                        rel2=sn._entry_rid(p_new),
                        dv_ref=(
                            sn._dv_ref_path(self._path, p_new["dv"]["ref"])
                            if p_new.get("dv")
                            else None
                        ),
                        change_type="delete",
                        commit_version=v,
                        prev_dv_ref=(
                            sn._dv_ref_path(self._path, p_old["dv"]["ref"])
                            if p_old.get("dv")
                            else None
                        ),
                        delete_only_new_dead=True,
                        est_rows=p_new.get("rows"),
                        partition=tuple(
                            sorted((p_new.get("partition") or {}).items())
                        ),
                    )
                )
        return parts

    def partitions(self, start: dict, end: dict):  # noqa: D102
        parts: list[SnapshotFilePartition] = []
        sv = start["v"]
        if start.get("snap"):
            parts += self._snapshot_partitions(start["snap"])
            sv = start["snap"]
        versions = sn.snapshot_versions(self._path)
        for v in [x for x in versions if sv < x <= end["v"]]:
            parts += self._commit_partitions(v)
        self._last_end = end["v"]
        # Same size-binning as the batch reader: the INITIAL SNAPSHOT of a
        # large table (or a big replayed commit range) must not schedule
        # one Python task per file. Per-file CDF metadata rides inside the
        # bins, so change semantics are untouched.
        return _pack_file_bins(
            parts,
            int(self._options.get("maxpartitionbytes", _MAX_PARTITION_BYTES)),
            int(self._options.get("opencostinbytes", _OPEN_COST_BYTES)),
        )

    def read(self, partition: SnapshotScanPartition):
        if partition is None:
            return  # empty micro-batch window
        # Re-read the mapping lazily: renames fail the schema check above,
        # so the mapping in force when the stream started is still valid.
        mapping = sn._mapping(sn._latest_manifest(self._path) or {})
        for f in partition.files:
            yield from _read_partition_arrow(
                f, self._schema_json, mapping, cdf=self._cdf
            )


# --------------------------------------------------------------------------
# batch writer (two-phase distributed commit)
# --------------------------------------------------------------------------


_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_value_str(v) -> str:
    """Spark's partition-value string form. Timestamps render as
    ``yyyy-MM-dd HH:mm:ss[.f...]`` with trailing fraction zeros trimmed —
    byte-identical to the directory names Spark's own ``partitionBy``
    writer produces (UTC session, session.py), so DataSource files and
    ``snapshot_write`` files of the same logical partition share one
    directory and one manifest value."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ("." + f"{v.microsecond:06d}").rstrip("0")
        return s
    return str(v)


def _hive_escape_value(v) -> str:
    """Hive directory-name form of a partition value: the characters Hive
    escapes become %XX (uppercase hex) so ``_hive_partition_values``'
    unquote round-trips them; NULL and the empty string map to
    ``__HIVE_DEFAULT_PARTITION__`` (Spark writer parity)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(v)
    if not s:
        return "__HIVE_DEFAULT_PARTITION__"
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE_CHARS or ord(ch) < 0x20 else ch
        for ch in s
    )


@dataclass
class SnapshotFileCommit(WriterCommitMessage):
    name: str
    rows: int
    stats: dict | None
    blooms: dict = field(default_factory=dict)
    # The data dir the TASK wrote into. Spark may deserialize distinct
    # writer instances for tasks vs the driver-side commit (observed on the
    # streaming path), and each instance generates its own dir name — so
    # the dir must travel in the message, never be read off commit()'s
    # instance state.
    rel_dir: str = ""
    # Hive-partitioned tasks write one file PER partition tuple present in
    # the batch; each item is {"name", "subdir" (key=value segments),
    # "rows", "stats", "partition", "blooms"} and name/stats above are
    # unused (rows carries the task total).
    parts: list = field(default_factory=list)


class SnapshotBatchWriter(DataSourceArrowWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        self._path = _required_path(options)
        self._overwrite = overwrite
        self._schema_json = schema.json()
        latest = sn._latest_manifest(self._path)
        self._constraints: dict = {}       # validation set tasks enforce
        self._table_constraints: dict = {}  # the manifest's declared set
        self._generated: dict = {}
        self._identity: dict | None = None  # task-side id reservation
        self._fill_generated: dict = {}     # task-side expression fill
        self._merge_schema = _truthy(options, "mergeschema")
        if latest is not None:
            incoming = set(schema.fieldNames())
            ident = latest.get("identity")
            if ident:
                if ident["col"] in incoming:
                    raise ValueError(
                        f"{ident['col']!r} is GENERATED ALWAYS AS IDENTITY "
                        f"at {self._path}; writers cannot supply it — drop "
                        "the column from the batch (tasks reserve and "
                        "assign the ids)"
                    )
                # each task reserves step*rows ids in a claim-once
                # metadata commit and assigns its block locally — the
                # same reservation discipline snapshot_append runs on the
                # driver, moved to the task (per-task offsets; gaps on
                # task retry, exactly Delta's identity contract)
                self._identity = dict(ident)
            self._table_constraints = dict(latest.get("constraints") or {})
            self._generated = dict(sn._generated(latest) or {})
            self._constraints = dict(self._table_constraints)
            # GENERATED ALWAYS AS columns: a batch that PROVIDES the
            # column is validated in-task as a pseudo-constraint with
            # snapshot_append's exact rule (eqNullSafe); a batch that
            # OMITS it gets the value COMPUTED in-task (DuckDB over the
            # Arrow batch — the same engine the CHECK machinery uses,
            # fail-closed on any expression it cannot evaluate).
            for gc, ge in self._generated.items():
                if gc in incoming:
                    self._constraints[f"__generated_{gc}"] = (
                        f"{gc} IS NOT DISTINCT FROM ({ge})"
                    )
                else:
                    self._fill_generated[gc] = ge
            self._mapping = sn._mapping(latest)
            fill_cols = set(self._fill_generated) | (
                {self._identity["col"]} if self._identity else set()
            )
            if fill_cols:
                # effective schema = the MANIFEST's layout; the incoming
                # frame must match it minus the task-filled columns
                # (auto-fill composes with neither mergeSchema nor a
                # partial column set — keep the contract crisp)
                man = json.loads(latest["schema"])
                by_name = {f["name"]: f for f in man.get("fields", [])}
                absent = fill_cols - set(by_name)
                if absent:
                    raise ValueError(
                        f"{self._path}: generated/identity columns "
                        f"{sorted(absent)} not in the table schema"
                    )
                pruned = dict(man)
                pruned["fields"] = [
                    f for f in man["fields"] if f["name"] not in fill_cols
                ]
                if not sn._schema_equiv(self._schema_json, json.dumps(pruned)):
                    raise ValueError(
                        f"auto-fill schema mismatch at {self._path}: the "
                        f"batch must carry exactly the table columns minus "
                        f"the generated/identity ones {sorted(fill_cols)}; "
                        f"table={latest['schema']} "
                        f"incoming={self._schema_json}"
                    )
                schema = StructType.fromJson(man)
                self._schema_json = schema.json()
            if not overwrite and not sn._schema_equiv(
                self._schema_json, latest["schema"]
            ):
                if self._merge_schema:
                    # validate NOW (fail before any task writes); the
                    # commit build re-merges against the fresh manifest
                    sn._merged_schema_json(
                        self._path, latest["schema"], self._schema_json,
                        self._mapping,
                    )
                else:
                    raise ValueError(
                        f"append schema mismatch at {self._path}: "
                        f"manifest={latest['schema']} "
                        f"incoming={self._schema_json} (option "
                        "mergeSchema=true widens with new columns)"
                    )
        else:
            self._mapping = {}
        # Preserve the table's stats/bloom discipline (physical names), or
        # adopt the caller's (logical names) for fresh tables.
        if options.get("statscols"):
            self._stats_cols = [
                sn._phys(self._mapping, c.strip())
                for c in options.get("statscols").split(",") if c.strip()
            ]
        else:
            seen: set = set()
            for e in (sn._manifest_files(self._path, latest) if latest else []):
                seen.update((e.get("stats") or {}).keys())
            self._stats_cols = sorted(seen)
        if options.get("bloomcols"):
            self._bloom_cols = [
                sn._phys(self._mapping, c.strip())
                for c in options.get("bloomcols").split(",") if c.strip()
            ]
        else:
            self._bloom_cols = (
                sn._bloom_cols_in_use(self._path, latest) if latest else []
            )
        # Partition declaration (S5 through the DataSource): option
        # partitionBy declares the layout when CREATING (fresh table or
        # overwrite); appends adopt the manifest's declaration and land
        # real Hive key=value files; a MISMATCHED option on an existing
        # table refuses. Timestamp partition values render through
        # _hive_value_str — byte-identical to Spark's own partitionBy
        # directory names (round 12), so hour-grain log tables create and
        # append through the DataSource; remaining exotic types (e.g.
        # decimals/binary) refuse at creation, and appends onto such
        # tables keep the flat/mixed-layout behavior instead of breaking.
        pby = options.get("partitionby")
        declared = (
            [c.strip() for c in pby.split(",") if c.strip()] if pby else None
        )
        existing = (
            list(latest.get("partition_cols") or [])
            if latest is not None
            else None
        )
        if latest is None:
            pcols = declared or []
        elif overwrite:
            pcols = declared if declared is not None else existing
        else:
            if declared is not None and declared != existing:
                raise ValueError(
                    f"partitionBy {declared} does not match the table's "
                    f"declared partitioning {existing} at {self._path}"
                )
            pcols = existing
        self._partition_cols = list(pcols or [])
        self._hive_split = bool(self._partition_cols)
        if self._partition_cols:
            ftypes = {f.name: f.dataType for f in schema.fields}
            missing = [c for c in self._partition_cols if c not in ftypes]
            if missing:
                raise ValueError(
                    f"partitionBy columns not in the data: {missing}"
                )
            if "v" in self._partition_cols:
                raise ValueError(
                    "'v' is reserved by the snapshot protocol's "
                    "data-dir naming"
                )
            if len(self._partition_cols) == len(schema.fields):
                raise ValueError(
                    "cannot partition by every column (no data columns left)"
                )
            from pyspark.sql.types import (
                ByteType, DateType, IntegerType, LongType, ShortType,
                StringType, TimestampType,
            )

            unsupported = [
                c for c in self._partition_cols
                if not isinstance(
                    ftypes[c],
                    (ByteType, ShortType, IntegerType, LongType,
                     StringType, DateType, TimestampType),
                )
            ]
            if unsupported:
                if declared is not None:
                    raise ValueError(
                        f"partitionBy column types "
                        f"{[(c, str(ftypes[c])) for c in unsupported]} "
                        f"need Spark's own directory-name formatting; "
                        f"create the table through snapshot_write"
                    )
                # append onto an existing table with exotic partition
                # types: land flat files (mixed layout, the pre-existing
                # contract) rather than mis-formatting directory names
                self._hive_split = False
        self._partition_phys = [
            sn._phys(self._mapping, c) for c in self._partition_cols
        ]
        self._rel_dir, self._abs_dir = sn._new_data_dir(self._path)
        os.makedirs(self._abs_dir, exist_ok=True)

    # -- executor side -------------------------------------------------------

    def write(self, iterator) -> SnapshotFileCommit:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        batches = list(iterator)
        declared = StructType.fromJson(json.loads(self._schema_json))
        logical = [f.name for f in declared.fields]
        if batches:
            tbl = pa.Table.from_batches(batches)
        else:
            from pyspark.sql.pandas.types import to_arrow_schema

            tbl = pa.table(
                {n: pa.nulls(0, to_arrow_schema(declared).field(n).type) for n in logical}
            )
        tbl = self._autofill_columns(tbl, declared)
        if tbl.column_names != logical:
            tbl = tbl.select(logical)
        self._validate_constraints(tbl)
        tbl = tbl.rename_columns([sn._phys(self._mapping, n) for n in logical])
        if tbl.num_rows == 0:
            # Don't land empty files for empty partitions — the manifest
            # would carry them forever.
            return SnapshotFileCommit(name="", rows=0, stats=None)
        if self._hive_split:
            return self._write_hive_split(tbl)
        os.makedirs(self._abs_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(tbl, os.path.join(self._abs_dir, name))

        stats = None
        if self._stats_cols:
            stats = {}
            for c in self._stats_cols:
                if c in tbl.column_names and tbl.num_rows:
                    mm = pc.min_max(tbl[c])
                    stats[c] = [
                        sn._stats_repr(mm["min"].as_py()),
                        sn._stats_repr(mm["max"].as_py()),
                    ]
                else:
                    stats[c] = [None, None]
        blooms = {}
        for c in self._bloom_cols:
            b = self._build_bloom(tbl, c)
            if b is not None:
                blooms[c] = b
        return SnapshotFileCommit(
            name=name, rows=tbl.num_rows, stats=stats, blooms=blooms,
            rel_dir=self._rel_dir,
        )

    def _write_hive_split(self, tbl) -> SnapshotFileCommit:
        """Hive-layout task write: split the Arrow batch by partition
        tuple, land one file per tuple under ``rel_dir/key=value/...``
        WITHOUT the partition columns (they live in the directory names,
        exactly Spark's ``partitionBy`` layout), and fold each tuple's
        values into the entry stats as exact [v, v] ranges — the manifest
        shape ``snapshot_write(partition_by=...)`` produces."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pcols = self._partition_phys
        data_cols = [c for c in tbl.column_names if c not in pcols]
        combos = tbl.group_by(pcols).aggregate([]).to_pylist()
        parts, total = [], 0
        for combo in combos:
            mask = None
            for c in pcols:
                v = combo[c]
                cond = (
                    pc.is_null(tbl[c])
                    if v is None
                    else pc.equal(
                        tbl[c], pa.scalar(v, tbl.schema.field(c).type)
                    )
                )
                mask = cond if mask is None else pc.and_(mask, cond)
            sub = tbl.filter(mask).select(data_cols)
            subdir = "/".join(
                f"{c}={_hive_escape_value(_hive_value_str(combo[c])) if combo[c] is not None else _hive_escape_value(None)}"
                for c in pcols
            )
            os.makedirs(os.path.join(self._abs_dir, subdir), exist_ok=True)
            name = f"part-{uuid.uuid4().hex}.parquet"
            pq.write_table(sub, os.path.join(self._abs_dir, subdir, name))
            stats: dict = {}
            for c in self._stats_cols:
                if c in pcols:
                    continue  # folded below as the exact [v, v]
                if c in sub.column_names and sub.num_rows:
                    mm = pc.min_max(sub[c])
                    stats[c] = [
                        sn._stats_repr(mm["min"].as_py()),
                        sn._stats_repr(mm["max"].as_py()),
                    ]
                else:
                    stats[c] = [None, None]
            # NULL and the EMPTY STRING both land in the
            # __HIVE_DEFAULT_PARTITION__ directory and read back as null
            # (Hive/Spark semantics) — the manifest must record None for
            # both, exactly what _hive_partition_values parses from a
            # snapshot_write layout; recording "" would declare a phantom
            # partition no query could ever retrieve.
            part_vals = {}
            for c in pcols:
                sval = None if combo[c] is None else _hive_value_str(combo[c])
                part_vals[c] = sval if sval != "" else None
            for c in pcols:
                r = (
                    sn._stats_repr(combo[c])
                    if part_vals[c] is not None
                    else None
                )
                stats[c] = [r, r]
            blooms = {}
            for c in self._bloom_cols:
                b = self._build_bloom(sub, c)
                if b is not None:
                    blooms[c] = b
            parts.append(
                {
                    "name": name,
                    "subdir": subdir,
                    "rows": sub.num_rows,
                    "stats": stats,
                    "partition": part_vals,
                    "blooms": blooms,
                }
            )
            total += sub.num_rows
        return SnapshotFileCommit(
            name="", rows=total, stats=None, rel_dir=self._rel_dir,
            parts=parts,
        )

    def _autofill_columns(self, tbl, declared):
        """Task-side fill of GENERATED ALWAYS columns the batch omitted.

        - identity: reserve ``step * rows`` ids in a claim-once metadata
          commit (data_change=false) and assign the block locally — the
          reservation discipline of ``snapshots._assign_identity``, moved
          into the task; retried tasks reserve fresh blocks, so replays
          leave gaps, never duplicates (Delta's identity contract);
        - generated expressions: DuckDB evaluates the rule over the Arrow
          batch (the CHECK machinery's engine — no SparkSession in a
          task), cast to the declared column type; fail-closed on any
          expression or cast DuckDB cannot reproduce.
        """
        import pyarrow as pa

        if (self._identity is None and not self._fill_generated) or (
            tbl.num_rows == 0
        ):
            return tbl
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_types = {
            f.name: to_arrow_schema(StructType([f])).field(0).type
            for f in declared.fields
        }
        if self._identity is not None:
            col, step = self._identity["col"], self._identity["step"]
            n = tbl.num_rows
            holder: dict = {}

            def build(latest_m, _v):
                cur = (latest_m or {}).get("identity")
                if not cur or cur["col"] != col:
                    raise sn.ConcurrentSnapshotError(
                        f"{self._path}: identity column dropped/changed "
                        "during the DataSource write; retry"
                    )
                holder["base"] = cur["next"]
                out = {
                    k: v
                    for k, v in latest_m.items()
                    if k not in ("version", "committed_at")
                }
                out["identity"] = {**cur, "next": cur["next"] + step * n}
                out["data_change"] = False
                return out

            sn._commit(self._path, build, op="identity_reserve")
            base = holder["base"]
            ids = pa.array(
                range(base, base + step * n, step), pa.int64()
            ).cast(arrow_types[col])
            tbl = tbl.append_column(col, ids)
        if self._fill_generated:
            try:
                import duckdb
            except ImportError as e:  # pragma: no cover - environment gate
                raise ValueError(
                    f"{self._path}: generated-column auto-fill needs duckdb "
                    "in the task environment; write through snapshot_append"
                ) from e
            con = duckdb.connect()
            try:
                _duck_compat(con)
                con.register("batch", tbl)
                for gc, ge in sorted(self._fill_generated.items()):
                    try:
                        vals = (
                            con.execute(f"SELECT ({ge}) AS v FROM batch")
                            .arrow()
                            .column("v")
                            .combine_chunks()
                            .cast(arrow_types[gc])
                        )
                    except Exception as e:
                        raise ValueError(
                            f"{self._path}: generated column {gc!r} "
                            f"({ge!r}) is not executor-evaluable ({e}); "
                            "write through snapshot_append/snapshot_write "
                            "instead of the DataSource writer"
                        ) from e
                    tbl = tbl.append_column(gc, vals)
                    con.unregister("batch")
                    con.register("batch", tbl)
            finally:
                con.close()
        return tbl

    def _validate_constraints(self, tbl) -> None:
        """CHECK constraints, enforced IN THE TASK over the Arrow batch
        (logical column names, before the physical rename). The evaluator
        is DuckDB — the repo's oracle engine, zero-copy over Arrow — since
        a Python DataSource task has no SparkSession. Semantics match
        ``snapshots._enforce_constraints``: a row fails when the predicate
        is false OR null. Fail-closed: an expression DuckDB cannot
        evaluate rejects the write loudly (route through snapshot_append)
        rather than committing unvalidated rows; typical constraint
        predicates (comparisons, arithmetic, null checks, IN lists) are
        dialect-portable, pinned by tests/test_datasource.py."""
        if not self._constraints or tbl.num_rows == 0:
            return
        try:
            import duckdb
        except ImportError as e:  # pragma: no cover - environment gate
            raise ValueError(
                f"{self._path}: CHECK constraint validation needs duckdb "
                "in the task environment; write through snapshot_append "
                "instead"
            ) from e
        con = duckdb.connect()
        try:
            _duck_compat(con)
            con.register("batch", tbl)
            for name, expr in sorted(self._constraints.items()):
                try:
                    bad = con.execute(
                        f"SELECT * FROM batch WHERE NOT coalesce(({expr}), "
                        "false) LIMIT 1"
                    ).fetchall()
                    cols = [d[0] for d in con.description]
                except sn.ConstraintViolationError:
                    raise
                except Exception as e:
                    raise ValueError(
                        f"{self._path}: CHECK constraint {name!r} "
                        f"({expr!r}) is not executor-evaluable ({e}); "
                        "write through snapshot_append/snapshot_write "
                        "instead of the DataSource writer"
                    ) from e
                if bad:
                    raise sn.ConstraintViolationError(
                        f"datasource_write at {self._path} violates CHECK "
                        f"constraint(s) [{name!r}]: example row "
                        f"{dict(zip(cols, bad[0]))}"
                    )
        finally:
            con.close()

    def _build_bloom(self, tbl, col: str) -> dict | None:
        """Per-file Bloom bitset built with the native XXH64 twin — same
        sizing/position algebra as ``snapshots._bloom_build``. Types whose
        Spark ``cast("string")`` form is not reproducible natively yield
        None (file never skipped on this column)."""
        import pyarrow.compute as pc

        from music_recommendation_service_spark.sources.xxhash64 import (
            spark_string_form,
        )

        if col not in tbl.column_names:
            return None
        vals = pc.unique(pc.drop_null(tbl[col])).to_pylist()
        position_sets = [[] for _ in range(sn._BLOOM_K)]
        for v in vals:
            if spark_string_form(v) is None:
                return None
            pos = bloom_positions(v, sn._BLOOM_M_MAX, sn._BLOOM_K)
            for i, p in enumerate(pos):
                position_sets[i].append(p)
        return sn._bloom_build(position_sets)

    # -- driver side -----------------------------------------------------------

    def commit(self, messages) -> None:
        msgs = [
            m for m in messages
            if m is not None and (m.name or getattr(m, "parts", None))
        ]
        entries, n = _land_entries(self._path, msgs)
        schema_json = self._schema_json
        mapping = self._mapping
        table_constraints = self._table_constraints
        generated = self._generated
        identity0 = self._identity
        path = self._path
        overwrite = self._overwrite
        merge_schema = self._merge_schema

        def check_features(latest: dict) -> None:
            # Tasks validated against the constraint/generated sets read at
            # writer construction; anything that changed the feature surface
            # mid-flight means the landed data was never validated against
            # the CURRENT table — refuse, caller retries fresh. Identity
            # compares the DECLARATION (col/step), not `next`: this
            # write's own task reservations legitimately advance next.
            cur_id = latest.get("identity") or None
            if (cur_id is None) != (identity0 is None) or (
                cur_id is not None
                and (cur_id["col"], cur_id.get("step"))
                != (identity0["col"], identity0.get("step"))
            ):
                raise sn.ConcurrentSnapshotError(
                    f"{path}: the identity declaration changed during the "
                    "DataSource write; retry"
                )
            if dict(sn._generated(latest) or {}) != generated:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: generated-column rules changed during "
                    "DataSource write; retry"
                )
            if dict(latest.get("constraints") or {}) != table_constraints:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: CHECK constraints changed during DataSource "
                    f"write (validated against {sorted(table_constraints)}); "
                    "retry"
                )

        partition_cols = self._partition_cols

        def build(latest: dict | None, version: int) -> dict:
            if overwrite or latest is None:
                if latest is not None:
                    check_features(latest)
                out = {
                    "data_dirs": sn._dirs_of(entries) if entries else [],
                    "files": entries,
                    "n_rows": n,
                    "schema": schema_json,
                }
                if table_constraints:
                    out["constraints"] = table_constraints
                if partition_cols:
                    out["partition_cols"] = partition_cols
                # Overwrite replaces data AND resets the column mapping
                # (files are written under logical names again); generated
                # rules ride _commit's sticky carry.
                return out
            if sn._mapping(latest) != mapping:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: column mapping changed during append; retry"
                )
            if sn._schema_equiv(schema_json, latest["schema"]):
                out_schema = schema_json
            elif merge_schema:
                out_schema = sn._merged_schema_json(
                    path, latest["schema"], schema_json, mapping
                )
            else:
                raise ValueError(
                    f"append schema mismatch at {path}: "
                    f"manifest={latest['schema']} incoming={schema_json}"
                )
            check_features(latest)
            base = sn._manifest_files(path, latest)
            files = base + entries
            out = {
                "data_dirs": sn._dirs_of(files),
                "files": files,
                "n_rows": latest["n_rows"] + n,
                "schema": out_schema,
            }
            if mapping:
                out["column_mapping"] = mapping
            return out

        sn._commit(
            path,
            build,
            op="datasource_overwrite" if overwrite else "datasource_append",
        )

    def abort(self, messages) -> None:
        for d in {self._abs_dir} | {
            os.path.join(self._path, m.rel_dir)
            for m in messages or []
            if m is not None and getattr(m, "rel_dir", "")
        }:
            try:
                sn._fs().delete_tree(d)
            except Exception:
                pass  # orphan dirs stay invisible; vacuum reclaims them


def _land_entries(table_path: str, msgs) -> tuple[list[dict], int]:
    """Manifest entries (+ bloom sidecars, grouped per data dir) for
    task-written files — paths come from the MESSAGES the tasks sent, not
    from writer-instance state (see SnapshotFileCommit.rel_dir).
    Partitioned tasks send one ``parts`` item per partition tuple; the
    entries carry the partition values and their [v, v] stats, so the
    manifest is indistinguishable from a ``snapshot_write`` Hive
    layout's."""
    by_dir: dict[str, dict] = {}
    entries: list[dict] = []
    for m in msgs:
        if getattr(m, "parts", None):
            for p in m.parts:
                e = {
                    "path": f"{m.rel_dir}/{p['subdir']}/{p['name']}",
                    "rows": p["rows"],
                    "stats": p["stats"] or None,
                    "partition": p["partition"],
                }
                if p.get("blooms"):
                    e["bloom_ref"] = f"{m.rel_dir}/{sn._BLOOM_SIDECAR}"
                    by_dir.setdefault(m.rel_dir, {})[p["name"]] = p["blooms"]
                entries.append(e)
            continue
        e = {"path": f"{m.rel_dir}/{m.name}", "rows": m.rows, "stats": m.stats}
        if m.blooms:
            e["bloom_ref"] = f"{m.rel_dir}/{sn._BLOOM_SIDECAR}"
            by_dir.setdefault(m.rel_dir, {})[m.name] = m.blooms
        entries.append(e)
    for d, side in by_dir.items():
        p = os.path.join(table_path, d, sn._BLOOM_SIDECAR)
        try:
            prev = json.loads(sn._fs().read_text(p))
        except Exception:
            prev = {}
        prev.update(side)
        sn._fs().write_atomic(p, json.dumps(prev))
    return entries, sum(m.rows for m in msgs)


# --------------------------------------------------------------------------
# streaming sink (exactly-once via per-query txn batch tracking)
# --------------------------------------------------------------------------


class _ReplaySkip(Exception):
    """Internal: this batchId already committed for this txn app."""


class SnapshotStreamWriter(SnapshotBatchWriter, DataSourceStreamArrowWriter):
    """``writeStream.format("snapshot")`` — checkpointed streaming APPEND
    into a snapshot table, exactly-once end to end: Spark's offset log
    dedups the SOURCE side, and the manifest records the last committed
    ``batchId`` per ``txnAppId`` so a replayed micro-batch commit is a
    provable no-op (Delta's ``txnAppId``/``txnVersion`` idempotent-write
    protocol on the snapshot protocol). A replay's already-written data
    files stay orphaned in the query's data dir — invisible to readers,
    reclaimed by vacuum. Executors reuse the batch writer's one-pass
    stats/Bloom collection; the same table discipline lands either way."""

    def __init__(self, options, schema: StructType):
        super().__init__(options, schema, overwrite=False)
        # Delta semantics: txn dedup ONLY when the caller names an app id.
        # A shared default would make a second stream into the same table
        # (or a restart with a fresh checkpoint, whose batchIds reset to 0)
        # silently drop its micro-batches as "replays".
        self._txn_app = (options.get("txnappid") or "").strip() or None

    # write() inherited: one parquet file + stats/blooms per task

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        msgs = [
            m for m in messages
            if m is not None and (m.name or getattr(m, "parts", None))
        ]
        if not msgs:
            return  # empty batch: nothing to make idempotent
        entries, n = _land_entries(self._path, msgs)
        schema_json, mapping = self._schema_json, self._mapping
        table_constraints = self._table_constraints
        generated = self._generated
        identity0 = self._identity
        merge_schema = self._merge_schema
        path, app = self._path, self._txn_app

        partition_cols = self._partition_cols

        def build(latest: dict | None, version: int) -> dict:
            if latest is None:
                out = {
                    "data_dirs": sn._dirs_of(entries),
                    "files": entries,
                    "n_rows": n,
                    "schema": schema_json,
                }
                if partition_cols:
                    out["partition_cols"] = partition_cols
                if app is not None:
                    out["stream_txn"] = {app: batchId}
                return out
            txn = latest.get("stream_txn") or {}
            if app is not None and txn.get(app, -1) >= batchId:
                raise _ReplaySkip()
            cur_id = latest.get("identity") or None
            if (cur_id is None) != (identity0 is None) or (
                cur_id is not None
                and (cur_id["col"], cur_id.get("step"))
                != (identity0["col"], identity0.get("step"))
            ):
                raise sn.ConcurrentSnapshotError(
                    f"{path}: the identity declaration changed during the "
                    "stream write; restart the stream"
                )
            if dict(sn._generated(latest) or {}) != generated:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: generated-column rules changed during stream "
                    "write; restart the stream"
                )
            if dict(latest.get("constraints") or {}) != table_constraints:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: CHECK constraints changed during stream "
                    f"write (batches validated against "
                    f"{sorted(table_constraints)}); restart the stream"
                )
            if sn._mapping(latest) != mapping:
                raise sn.ConcurrentSnapshotError(
                    f"{path}: column mapping changed during stream write"
                )
            if sn._schema_equiv(schema_json, latest["schema"]):
                out_schema = schema_json
            elif merge_schema:
                out_schema = sn._merged_schema_json(
                    path, latest["schema"], schema_json, mapping
                )
            else:
                raise ValueError(
                    f"stream append schema mismatch at {path}: "
                    f"manifest={latest['schema']} incoming={schema_json}"
                )
            files = sn._manifest_files(path, latest) + entries
            out = {
                "data_dirs": sn._dirs_of(files),
                "files": files,
                "n_rows": latest["n_rows"] + n,
                "schema": out_schema,
            }
            if app is not None:
                out["stream_txn"] = {**txn, app: batchId}
            elif txn:
                out["stream_txn"] = txn
            if mapping:
                out["column_mapping"] = mapping
            return out

        try:
            sn._commit(path, build, op="stream_append")
        except _ReplaySkip:
            pass  # replayed batch: the first commit already holds its rows

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        # files only, never dirs: the query-run dirs host other batches
        for m in messages or []:
            if m is None or not m.rel_dir:
                continue
            rels = [m.name] if getattr(m, "name", "") else []
            rels += [
                f"{p['subdir']}/{p['name']}"
                for p in getattr(m, "parts", None) or []
            ]
            for rel in rels:
                try:
                    sn._fs().delete_file(
                        os.path.join(self._path, m.rel_dir, rel)
                    )
                except Exception:
                    pass


# --------------------------------------------------------------------------
# the DataSource
# --------------------------------------------------------------------------


class SnapshotDataSource(DataSource):
    """``format("snapshot")`` — batch read (time travel + file skipping),
    streaming read (commit replay / CDF), and distributed two-phase batch
    write over snapshot tables."""

    @classmethod
    def name(cls) -> str:
        return _FORMAT_NAME

    def schema(self):
        path = _required_path(self.options)
        v = _resolve_version(path, self.options)
        m = sn._read_manifest(path, v)
        schema = _normalized_struct(m["schema"])
        if _truthy(self.options, "readchangefeed"):
            schema = StructType(schema.fields).add(CDF_TYPE_COL, "string").add(
                CDF_VERSION_COL, "long"
            )
        return schema

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        return SnapshotBatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:  # noqa: N802
        return SnapshotStreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotBatchWriter:
        return SnapshotBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: N802
        return SnapshotStreamWriter(self.options, schema)
