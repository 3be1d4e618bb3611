"""Versioned snapshot tables: Delta-log semantics on plain parquet.

The reference ships a ~145-LoC C# reader that replays a Delta table's
``_delta_log`` (JSON actions + checkpoint parquet) into an active-file list
(SURVEY.md §2.1 S13, ``MusicRecommendationService/Services/MinioService.cs:71-216``).
With delta-spark on the classpath none of this is needed; this module is the
engine's OWN minimal realization of the same protocol for environments
without it — giving atomic overwrite, metadata-only append, time travel,
rollback, and keyed MERGE on any filesystem Spark can write:

    layout:  <path>/v=<N>-*/*.parquet   immutable data per version
             <path>/_snapshots/<N>.json manifest: active FILE list (+ per-file
                                        min/max key stats) + row count + schema

Commit protocol (mirrors Delta's optimistic log append):
- data lands FIRST under a new ``v=<N>`` dir (invisible to readers — they
  only trust manifests);
- the manifest is created with a claim-once primitive
  (``SnapshotFS.create_exclusive``: O_EXCL locally, conditional PUT on an
  object store): two concurrent writers racing to version N cannot both
  win. The loser RE-READS the new
  latest manifest and rebuilds its own manifest against it before retrying
  — the same optimistic-concurrency rule as Delta, with LOGICAL conflict
  detection (``_rebase_concurrent``): an append stacks on top of the
  winner's files unconditionally; a MERGE/compaction rebases when the
  concurrent commits are provably disjoint from its plan (none of the
  files it rewrites changed, no concurrently added file can hold one of
  its keys by manifest stats/blooms, table metadata untouched) and aborts
  with ``ConcurrentSnapshotError`` only when disjointness cannot be
  proven — so sharded writers each merging their own key range never
  serialize on full recomputes, and a lost race can never silently drop
  the winner's rows.
- Readers always see the highest fully-written manifest: a crash between
  data and manifest leaves only an orphaned data dir (vacuumable after a
  retention window), never a torn table.

At 100 TB the same protocol holds — manifests are O(files) metadata, the
data dirs are whatever Spark wrote in parallel, and ``snapshot_merge``
prunes by per-file min/max key stats exactly the way Delta's MERGE prunes
by add-action stats: only files that can contain a matched key are read or
rewritten; everything else is carried into the new version by reference.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import functools
import json
import operator
import os
import threading
import time
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from music_recommendation_service_spark.sources.xxhash64 import bloom_positions


class SnapshotFS:
    """Filesystem surface the snapshot protocol's METADATA plane runs on —
    manifests, cursors, vacuum. (The data plane — parquet reads/writes — is
    Spark's own Hadoop FS layer and needs nothing from here.)

    The local implementation below is the default. On an object store the
    same surface maps to:

    - ``create_exclusive`` (the commit primitive): S3 conditional PUT with
      ``If-None-Match: *`` (or GCS ``x-goog-if-generation-match: 0``) —
      the loser of a racing PUT gets 412 and retries exactly like the
      local ``FileExistsError`` path. On stores without conditional
      writes, a coordination service (e.g. a DynamoDB lock table, as
      delta-rs does for S3 before conditional PUT existed) provides the
      same claim-once semantics.
    - ``write_atomic`` (cursor advance): PUT is already atomic per key;
      the local temp+rename dance degenerates to a plain PUT.
    - ``list_dir`` / ``exists`` / ``delete_tree`` / ``delete_file`` /
      ``mtime``: LIST + HEAD + DELETE (batched). Object-store LIST is
      eventually consistent on some stores; the protocol only requires
      that a successfully-committed manifest is eventually listed — readers
      trust the highest manifest they can SEE, which is always a complete
      commit.

    Install a custom implementation with ``set_snapshot_fs``.
    """

    def list_dir(self, path: str) -> list[str]:
        if not os.path.isdir(path):
            return []
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def is_file(self, path: str) -> bool:
        return os.path.isfile(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def create_exclusive(self, path: str, data: str) -> bool:
        """Atomically create ``path`` with ``data`` iff it does not exist.
        Returns False (never partially writes) when it already does — the
        loser of a commit race.

        Write-temp-then-hard-link, NOT ``open(path, "x")``: an exclusive
        open claims the name before the content lands, so a concurrent
        manifest read could see an empty/partial JSON file. ``os.link``
        makes the fully-written content appear under the target name in
        one atomic step (and fails with EEXIST for the race loser) — the
        local-FS twin of a conditional PUT's all-or-nothing body."""
        import threading
        import uuid as _uuid

        tmp = f"{path}.claim-{os.getpid()}-{threading.get_ident()}-{_uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def write_atomic(self, path: str, data: str) -> None:
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    # -- binary surface (parquet checkpoint manifests) ---------------------
    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Whole-object binary write (parquet checkpoints). On an object
        store this is a plain PUT (atomic per key); locally temp+rename so
        no reader can observe a partial body. Checkpoints are referenced
        only AFTER the manifest naming them commits, so exclusivity is the
        manifest's job, not this write's."""
        tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def delete_file(self, path: str) -> None:
        os.remove(path)

    def delete_tree(self, path: str) -> None:
        import shutil

        shutil.rmtree(path)

    def mtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def size(self, path: str) -> int | None:
        """File size in bytes, or None when unknown (a backend without
        cheap HEADs may decline; callers must fall back to an estimate,
        not treat the file as empty)."""
        try:
            return os.path.getsize(path)
        except OSError:
            return None


_SNAPSHOT_FS = SnapshotFS()


def set_snapshot_fs(fs: SnapshotFS) -> SnapshotFS:
    """Swap the metadata-plane filesystem (returns the previous one)."""
    global _SNAPSHOT_FS
    prev, _SNAPSHOT_FS = _SNAPSHOT_FS, fs
    return prev


def _fs() -> SnapshotFS:
    return _SNAPSHOT_FS


class ConcurrentSnapshotError(RuntimeError):
    """A concurrent commit landed between this operation's read of the
    table state and its manifest write; the operation's rewrite plan is
    stale and must be recomputed by the caller."""


class ConstraintViolationError(ValueError):
    """An incoming batch (or the existing table, for ADD CONSTRAINT)
    contains rows that fail a table CHECK constraint. The write is
    rejected BEFORE any data lands — constraint enforcement is part of
    the commit contract, Delta-protocol ``delta.constraints.*`` parity."""


class StaleCursorError(RuntimeError):
    """An incremental consumer's cursor points at a version that vacuum
    has already dropped — the change feed between there and now is gone.
    The consumer must re-bootstrap: discard its derived state AND its
    cursor file, then take a fresh initial load. (Applying the initial
    load as if it were a delta would double-count everything that
    survived — hence an error, never a silent fallback.)"""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_snapshots")


# --- staged multi-table transactions (protocol reader/writer 4) ----------
#
# A LAKE TRANSACTION commits each table's data as a STAGED version: the
# manifest carries ``staged_txn: {"id", "final"}`` and is INVISIBLE to
# every reader until the transaction's single decision file (``final``)
# exists with content "published". One ``create_exclusive`` on that file
# decides the whole transaction — publish and timeout-abort race on the
# same path, so there is exactly one outcome and no marker-ordering
# ambiguity. A crash anywhere before the decision leaves every staged
# version invisible: direct readers keep the old, mutually consistent
# state (this is what upgrades the engine's lake transactions from
# log-reader atomicity to DIRECT-reader atomicity).
#
# Discovery stays O(1) on the listing the resolver already does: the
# committer drops a ``<v>.staged.json`` hint file BEFORE claiming
# ``<v>.json``, so ``snapshot_versions`` only reads manifests for
# versions the listing flags (a stale hint from a lost claim race is
# disambiguated by the manifest itself, which is authoritative). After
# the decision, readers backfill a table-local tombstone
# (``_snapshots/txn/<id>.final``) so steady-state visibility checks never
# leave the table directory.
_TXN_CTX = threading.local()
# a PENDING staged version blocks other writers (committing past it would
# be a lost update on publish); one older than this may be decided
# "aborted" by the blocked writer — the staging transaction crashed.
_STAGED_TXN_TIMEOUT = float(os.environ.get("SNAPSHOT_TXN_TIMEOUT_SEC", "900"))
# bounded politeness: how many backoff rounds a writer waits on a YOUNG
# pending transaction before raising ConcurrentSnapshotError
_STAGED_WAIT_ATTEMPTS = 4


class TxnAbortedError(RuntimeError):
    """This transaction was decided 'aborted' (by a crashed-writer
    timeout recovery) before its own publish landed; none of its staged
    versions will ever become visible."""


class StagedTxn:
    """Handle for one staged multi-table transaction."""

    __slots__ = ("id", "final")

    def __init__(self, txn_id: str, final: str):
        self.id = txn_id
        self.final = final


def begin_staged_txn(root: str) -> StagedTxn:
    """Open a staged transaction whose decision file lives under
    ``root/_lake/txn/``. Every ``_commit`` on this thread stages until
    ``end_staged_txn``; publish/abort via :func:`txn_publish` /
    :func:`txn_abort`."""
    import uuid as _uuid

    txn_id = _uuid.uuid4().hex[:16]
    final = os.path.join(root, "_lake", "txn", f"{txn_id}.final")
    txn = StagedTxn(txn_id, final)
    if getattr(_TXN_CTX, "active", None) is not None:
        raise RuntimeError("a staged transaction is already active on this thread")
    _TXN_CTX.active = txn
    return txn


def end_staged_txn() -> None:
    _TXN_CTX.active = None


def _active_txn() -> StagedTxn | None:
    return getattr(_TXN_CTX, "active", None)


def txn_publish(txn: StagedTxn) -> None:
    """Decide the transaction 'published' — the single atomic claim that
    makes every staged version visible at once. Raises TxnAbortedError if
    a timeout recovery decided 'aborted' first."""
    _fs().mkdirs(os.path.dirname(txn.final))
    if _fs().create_exclusive(txn.final, "published"):
        return
    if (_fs().read_text(txn.final) or "").strip() == "aborted":
        raise TxnAbortedError(
            f"transaction {txn.id} was aborted by timeout recovery before "
            "publish; its staged versions stay invisible"
        )


def txn_abort(txn: StagedTxn) -> str:
    """Decide the transaction 'aborted'. Returns the actual outcome —
    'aborted', or 'published' when the publish already won the claim."""
    _fs().mkdirs(os.path.dirname(txn.final))
    if _fs().create_exclusive(txn.final, "aborted"):
        return "aborted"
    return (_fs().read_text(txn.final) or "").strip() or "aborted"


def txn_backfill_tombstones(txn: StagedTxn, table_paths) -> None:
    """Best-effort copy of the decision into each table's local txn dir,
    so steady-state visibility checks stay inside the table directory
    (and survive a relocated lake root). For a PUBLISHED transaction the
    staged hints of its versions are deleted too — a published version is
    unconditionally visible, so dropping the hint returns the resolver to
    the zero-overhead fast path (aborted transactions must KEEP their
    hints: the hint is what routes readers to the invisibility check)."""
    try:
        outcome = (_fs().read_text(txn.final) or "").strip()
    except Exception:
        return
    for p in table_paths:
        try:
            d = os.path.join(_manifest_dir(p), "txn")
            _fs().mkdirs(d)
            _fs().write_atomic(os.path.join(d, f"{txn.id}.final"), outcome)
        except Exception:
            continue
        if outcome != "published":
            continue
        try:
            _vs, hints = _list_versions_raw(p)
            for v in hints:
                try:
                    st = _read_manifest(p, v).get("staged_txn")
                except Exception:
                    continue
                if st is not None and st["id"] == txn.id:
                    hint = os.path.join(
                        _manifest_dir(p), f"{v}.staged.json"
                    )
                    if _fs().is_file(hint):
                        _fs().delete_file(hint)
        except Exception:
            continue


def _txn_state(table_path: str, st: dict) -> str:
    """Resolve a staged manifest's transaction outcome: 'published',
    'aborted', or 'pending'. Table-local tombstone first (cheap, local,
    relocation-proof), then the global decision file; a readable decision
    is backfilled locally."""
    local = os.path.join(_manifest_dir(table_path), "txn", f"{st['id']}.final")
    try:
        c = (_fs().read_text(local) or "").strip()
        if c in ("published", "aborted"):
            return c
    except Exception:
        pass
    try:
        c = (_fs().read_text(st["final"]) or "").strip()
    except Exception:
        return "pending"
    if c not in ("published", "aborted"):
        return "pending"
    try:
        d = os.path.join(_manifest_dir(table_path), "txn")
        _fs().mkdirs(d)
        _fs().write_atomic(os.path.join(d, f"{st['id']}.final"), c)
    except Exception:
        pass
    return c


def _list_versions_raw(path: str) -> tuple[list[int], set]:
    """One listing: (all claimed versions ascending, versions carrying a
    staged hint)."""
    d = _manifest_dir(path)
    vs, hints = [], set()
    for f in _fs().list_dir(d):
        if not f.endswith(".json"):
            continue
        stem = f[:-5]
        if stem.endswith(".staged"):
            try:
                hints.add(int(stem[: -len(".staged")]))
            except ValueError:
                continue
        else:
            try:
                vs.append(int(stem))
            except ValueError:
                continue
    return sorted(vs), hints


def _filter_visible(path: str, vs: list, hints: set) -> list:
    """Visibility filter over ONE raw listing (callers must pass the vs/
    hints pair from the SAME ``_list_versions_raw`` call — filtering one
    listing against another races with concurrent commits)."""
    if not hints:
        return vs
    own = _active_txn()
    out = []
    for v in vs:
        if v in hints:
            try:
                st = _read_manifest(path, v).get("staged_txn")
            except UnsupportedSnapshotProtocolError:
                raise
            except Exception:
                st = None
            if st is not None:
                if own is not None and own.id == st["id"]:
                    out.append(v)
                elif _txn_state(path, st) == "published":
                    out.append(v)
                continue
        out.append(v)
    return out


def snapshot_versions(path: str, include_pending: bool = False) -> list[int]:
    """All VISIBLE committed versions, ascending: staged versions appear
    only once their transaction is decided 'published' (or to the staging
    thread itself — read-your-writes inside the transaction). Aborted and
    pending staged versions are holes in the sequence by design: time
    travel to them refuses, history skips them, delta chains never
    reference them (writers cannot commit past a pending one).
    ``include_pending=True`` returns the raw claim sequence — the commit
    slot allocator's and vacuum's view."""
    vs, hints = _list_versions_raw(path)
    if include_pending:
        return vs
    return _filter_visible(path, vs, hints)


# Protocol reader version this engine understands (Delta's minReaderVersion
# discipline). 1 = full/legacy manifests; 2 adds incremental manifests
# (files_base/files_add/files_remove); 3 adds PARQUET CHECKPOINT manifests
# (``files_ckpt`` — the full file list externalized to a columnar sidecar,
# Delta's ``.checkpoint.parquet`` re-realized; reference parity:
# MusicRecommendationService/Services/MinioService.cs:120-161 replays
# exactly this structure). A manifest written with a feature this reader
# lacks must REFUSE loudly — the alternative is an older reader's legacy
# fallback silently listing data dirs and resurrecting rewritten rows.
# 4 adds STAGED TRANSACTION manifests (``staged_txn`` — a version that is
# invisible until its transaction's single decision file reads
# "published"; an older reader would treat a pending staged version as
# committed latest and serve a torn multi-table state).
_READER_VERSION = 4
# Protocol writer version (Delta's minWriterVersion discipline). 1 = plain
# full manifests; 2 adds the feature set a committing writer must
# UNDERSTAND to not corrupt state it carries forward: deletion vectors,
# column mapping, CHECK constraints, generated/identity columns,
# incremental manifests, partition declarations. 3 adds parquet checkpoint
# manifests (a writer must resolve ``files_ckpt`` to carry entries forward
# and must externalize oversized full manifests the same way). A table
# whose latest manifest demands a newer writer must refuse EVERY mutation
# up front — an older writer's commit would silently drop feature state
# (e.g. carry files without their DVs, skip constraint enforcement).
# 4 adds staged-transaction manifests (a writer must refuse to commit past
# a PENDING staged version — committing blind would be a lost update when
# the transaction publishes).
_WRITER_VERSION = 4
# manifest keys whose presence requires writer version 2
_W2_FEATURE_KEYS = (
    "column_mapping", "generated", "identity", "constraints",
    "partition_cols", "files_base", "widened",
)


class UnsupportedSnapshotProtocolError(RuntimeError):
    """Manifest requires a newer reader/writer than this engine."""


def _required_writer(manifest: dict) -> int:
    if "staged_txn" in manifest:
        return 4
    if "files_ckpt" in manifest:
        return 3
    if any(manifest.get(k) for k in _W2_FEATURE_KEYS):
        return 2
    entries = (manifest.get("files") or []) + (manifest.get("files_add") or [])
    if any(e.get("dv") for e in entries):
        return 2
    return 1


def _read_manifest(path: str, version: int) -> dict:
    m = json.loads(
        _fs().read_text(os.path.join(_manifest_dir(path), f"{version}.json"))
    )
    need = m.get("min_reader", 1)
    if need > _READER_VERSION:
        raise UnsupportedSnapshotProtocolError(
            f"{path} version {version} needs protocol reader {need}; this "
            f"engine implements {_READER_VERSION} — upgrade before reading"
        )
    ck = m.get("files_ckpt")
    if ck is not None and ck.get("layout") != "typed":
        # the JSON-string checkpoint layout is no longer read
        raise UnsupportedSnapshotProtocolError(
            f"{path} version {version} points at a "
            f"{ck.get('layout', 'json')!r}-layout checkpoint; this engine "
            f"reads only the typed layout"
        )
    return m


def _latest_manifest(path: str) -> dict | None:
    versions = snapshot_versions(path)
    return _read_manifest(path, versions[-1]) if versions else None


# Incremental (delta) manifests: above this file count a commit stores
# only its adds/removes against a base version instead of the full file
# list — commit metadata cost O(changed files), not O(table files), the
# same reason Delta's log is deltas + periodic checkpoints. Small tables
# keep full manifests (simpler to read and to debug).
_DELTA_MANIFEST_MIN_FILES = 64
# A full manifest ("checkpoint") is forced at least every N commits so
# resolution walks a bounded chain and vacuum keeps bounded extra bases.
_DELTA_MANIFEST_CHAIN_MAX = 16
# Resolved file lists per (table path, version); manifests are immutable
# once committed (vacuum's materialization rewrites CONTENT-equivalent
# JSON), so cached resolutions can never go stale.
_FILES_CACHE: dict = {}
_FILES_CACHE_MAX = 32
# Concurrent driver threads (the repo ships a thread-stress merge test)
# share the cache: the lock makes check/evict/insert atomic, and cached
# lists are returned as copies so no caller can mutate the shared value
# in place (manifest builders extend/append the returned list).
_FILES_CACHE_LOCK = threading.Lock()


def _ekey(e: dict) -> str:
    """Compact add/remove identity of a manifest file entry: path + dv
    ref. Entry bodies never mutate under a fixed (path, dv) — every
    rewrite produces a new path and every DV change a new ref — so this
    is a sound delta key (checked again, defensively, at compression
    time)."""
    return f'{e["path"]}@{(e.get("dv") or {}).get("ref", "")}'


def _maybe_delta_files(path: str, manifest: dict, latest: dict | None) -> dict:
    """Rewrite a built manifest into delta form (files_base/files_add/
    files_remove) when that is smaller than the full list — sound
    fallbacks to full form whenever anything is irregular."""
    files = manifest.get("files")
    if (
        files is None
        or latest is None
        or len(files) < _DELTA_MANIFEST_MIN_FILES
        or not _has_files(latest)
    ):
        return manifest
    chain = (latest.get("files_chain") or 0) + 1
    if chain > _DELTA_MANIFEST_CHAIN_MAX:
        return manifest  # periodic full checkpoint bounds resolution depth
    base_files = _manifest_files(path, latest)
    base_by_id = {_ekey(e): e for e in base_files}
    new_ids = {_ekey(e) for e in files}
    if len(base_by_id) != len(base_files) or len(new_ids) != len(files):
        return manifest  # duplicate identities: stay on the full form
    adds = []
    for e in files:
        k = _ekey(e)
        prev = base_by_id.get(k)
        if prev is None:
            adds.append(e)
        elif prev != e:
            return manifest  # entry mutated in place: full form only
    removes = sorted(k for k in base_by_id if k not in new_ids)
    if (len(adds) + len(removes)) * 2 >= len(files):
        return manifest  # delta wouldn't pay for itself
    out = {k: v for k, v in manifest.items() if k != "files"}
    out["files_base"] = latest["version"]
    out["files_add"] = adds
    out["files_remove"] = removes
    out["files_chain"] = chain
    # a reader that predates incremental manifests would fall into the
    # legacy data-dir listing and resurrect rewritten rows — refuse it
    out["min_reader"] = 2
    return out


def _has_files(m: dict) -> bool:
    """True when the manifest carries an explicit file list in ANY form —
    inline (``files``), incremental (``files_base``), or externalized
    parquet checkpoint (``files_ckpt``)."""
    return "files" in m or "files_base" in m or "files_ckpt" in m


# Full manifests at or above this entry count externalize their file list
# to a columnar parquet checkpoint (``_snapshots/checkpoints/``) instead of
# inlining it as JSON — Delta's ``.checkpoint.parquet`` design. At millions
# of files a JSON checkpoint is the metadata-plane ceiling: O(live files)
# driver-side serialize per checkpoint and a full-document parse on every
# cold resolve; parquet stores the list columnar and compressed, reads
# column-pruned, and hands distributed readers a real DataFrame
# (``snapshot_files_df``). Below the threshold JSON stays — simpler to
# read and to debug, and small tables never pay the sidecar.
_PARQUET_CHECKPOINT_MIN_FILES = 2048
# entry keys stored as dedicated checkpoint columns; anything else rides
# the json ``extra`` column so unknown future keys round-trip losslessly
_CKPT_KNOWN_KEYS = ("path", "rows", "stats", "partition", "dv", "bloom_ref")


def _ckpt_scalar_type(vals):
    """The single pyarrow type covering every non-None value, or None when
    mixed (bool is checked before int — it subclasses it)."""
    import pyarrow as pa

    ts = {type(v) for v in vals if v is not None}
    if not ts:
        return pa.int64()  # all-None column: any nullable type round-trips
    if ts == {bool}:
        return pa.bool_()
    if ts == {int}:
        return pa.int64()
    if ts == {float}:
        return pa.float64()
    if ts == {str}:
        return pa.string()
    return None


def _ckpt_typed_columns(files: list[dict]):
    """Build the TYPED checkpoint column map (Delta ``stats_parsed``
    style): per stats column a has/min/max triple in its native type, the
    partition tuple as string columns, dv as ref+n. Returns
    ``(columns, layout_meta)`` or ``None`` when any entry shape is
    irregular — mixed-typed stats after widening, int64 overflow,
    unexpected dv keys, varying partition key sets — in which case the
    file list stays inline in the JSON manifest (always exact)."""
    import pyarrow as pa

    stats_cols: list[str] = []
    part_cols: list[str] | None = None
    for e in files:
        st = e.get("stats")
        if st is not None:
            if not isinstance(st, dict):
                return None
            for c in st:
                v = st[c]
                if not isinstance(v, list) or len(v) != 2:
                    return None
                if c not in stats_cols:
                    stats_cols.append(c)
        pt = e.get("partition")
        if pt is not None:
            if not isinstance(pt, dict) or not all(
                isinstance(x, (str, type(None))) for x in pt.values()
            ):
                return None
            keys = sorted(pt)
            if part_cols is None:
                part_cols = keys
            elif keys != part_cols:
                return None
        dv = e.get("dv")
        if dv is not None and (
            not isinstance(dv, dict) or set(dv) - {"ref", "n"} or "ref" not in dv
        ):
            return None
    cols: dict = {
        "path": pa.array([e["path"] for e in files], pa.string()),
        "rows": pa.array([e.get("rows") for e in files], pa.int64()),
        "stats_null": pa.array(
            [e.get("stats") is None for e in files], pa.bool_()
        ),
    }
    for i, c in enumerate(stats_cols):
        has, mins, maxs = [], [], []
        for e in files:
            st = e.get("stats") or {}
            present = c in st
            has.append(present)
            mins.append(st[c][0] if present else None)
            maxs.append(st[c][1] if present else None)
        t = _ckpt_scalar_type(mins + maxs)
        if t is None:
            return None
        try:
            cols[f"s{i}_min"] = pa.array(mins, t)
            cols[f"s{i}_max"] = pa.array(maxs, t)
        except (pa.ArrowInvalid, OverflowError):
            return None  # e.g. int64 overflow: the list stays inline
        cols[f"s{i}_has"] = pa.array(has, pa.bool_())
    cols["part_null"] = pa.array(
        [e.get("partition") is None for e in files], pa.bool_()
    )
    for j_, c in enumerate(part_cols or []):
        cols[f"p{j_}"] = pa.array(
            [(e.get("partition") or {}).get(c) for e in files], pa.string()
        )
    cols["dv_ref"] = pa.array(
        [(e.get("dv") or {}).get("ref") for e in files], pa.string()
    )
    cols["dv_n"] = pa.array(
        [(e.get("dv") or {}).get("n") for e in files], pa.int64()
    )
    cols["bloom_ref"] = pa.array(
        [e.get("bloom_ref") for e in files], pa.string()
    )
    cols["extra"] = pa.array(
        [
            json.dumps(
                {k: v for k, v in e.items() if k not in _CKPT_KNOWN_KEYS},
                sort_keys=True,
            )
            if set(e) - set(_CKPT_KNOWN_KEYS)
            else None
            for e in files
        ],
        pa.string(),
    )
    return cols, {"stats_cols": stats_cols, "part_cols": part_cols or []}


def _write_parquet_checkpoint(
    path: str, files: list[dict], version: int
) -> dict | None:
    """Serialize ``files`` to a TYPED parquet checkpoint under
    ``_snapshots/checkpoints/`` and return the ``files_ckpt`` pointer:
    stats min/max in native parquet types (Delta's ``stats_parsed``),
    partition values and dv refs as dedicated columns — cold resolve then
    reconstructs entries from typed arrays with NO JSON parsing of the
    payload. Returns None, writing nothing, when ``_ckpt_typed_columns``
    cannot hold the list (irregular entry shapes); the caller keeps it
    inline. The file name carries a uuid: a commit-race loser's checkpoint
    becomes an unreferenced orphan (vacuum sweeps it), never a
    collision."""
    import io
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    typed = _ckpt_typed_columns(files)
    if typed is None:
        return None
    cols, meta = typed
    ptr: dict = {"count": len(files), "layout": "typed", **meta}
    buf = io.BytesIO()
    pq.write_table(pa.table(cols), buf, compression="zstd")
    rel = f"checkpoints/{version}-{_uuid.uuid4().hex[:12]}.parquet"
    abs_p = os.path.join(_manifest_dir(path), rel)
    _fs().mkdirs(os.path.dirname(abs_p))
    _fs().write_bytes(abs_p, buf.getvalue())
    ptr["ref"] = rel
    return ptr


def _read_parquet_checkpoint(path: str, ckpt: dict, table=None) -> list[dict]:
    """Resolve a typed ``files_ckpt`` pointer back to FULL-FIDELITY
    manifest entries, rebuilt from native arrays with no payload JSON
    parse. Key-set discipline mirrors the builders: ``path``/``rows``/
    ``stats`` always present, optional keys only when non-null. Callers
    holding the cached Arrow handle pass it as ``table`` to skip the
    re-read; consumers that need only path/partition/dv should use
    ``_manifest_files_scan`` and never materialize full entries."""
    import io

    import pyarrow.parquet as pq

    if table is None:
        abs_p = os.path.join(_manifest_dir(path), ckpt["ref"])
        table = pq.read_table(io.BytesIO(_fs().read_bytes(abs_p)))
    out = _decode_typed_ckpt_fast(table, ckpt)
    if out is None:  # guard tripped (escapes/non-finite) or no orjson
        out = _decode_typed_ckpt(table.to_pydict(), ckpt)
    if len(out) != ckpt.get("count", len(out)):
        raise RuntimeError(
            f"parquet checkpoint {ckpt['ref']} at {path}: read "
            f"{len(out)} entries, manifest pins {ckpt['count']} — "
            f"truncated or corrupt checkpoint; refusing a partial file list"
        )
    return out


def _decode_typed_ckpt_fast(table, ckpt: dict):
    """C-speed twin of :func:`_decode_typed_ckpt`: synthesize the entry list
    as ONE JSON array with vectorized Arrow string kernels and parse it with
    ``orjson`` (dicts built in C, ~1.6x the pure-Python loop at 200k
    entries; the residual cost is materializing the dicts themselves, which
    no parser layout removes). Returns ``None`` — caller falls back to the
    exact per-entry loop — when orjson is unavailable, any string value
    would need JSON escaping (quote/backslash/control chars; engine paths
    and partition values never do, but the guard is checked, not assumed),
    a float stat is non-finite, or the synthesized text fails to parse.
    Value fidelity: int64/bool casts are exact; Arrow's float64->string is
    shortest-round-trip (a ``.0`` is appended to bare integers so they
    parse back as float); strings pass through untouched."""
    try:
        import orjson
    except Exception:  # pragma: no cover - optional fast path
        return None
    import pyarrow as pa
    import pyarrow.compute as pc

    n = table.num_rows
    if n == 0:
        return []
    stats_cols = ckpt.get("stats_cols") or []
    part_cols = ckpt.get("part_cols") or []
    needs_esc = r'["\\\x00-\x1f]'

    def col(name):
        return table.column(name).combine_chunks()

    def J(*parts):
        return pc.binary_join_element_wise(*parts, "")

    def guard_str(c) -> bool:
        return not pc.any(pc.match_substring_regex(c, needs_esc)).as_py()

    def txt_of(c):
        """JSON literal text for a scalar column; None => needs fallback."""
        t = c.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            if not guard_str(c):
                return None
            return pc.fill_null(J('"', c, '"'), "null")
        if pa.types.is_floating(t):
            if pc.any(pc.invert(pc.is_finite(c))).as_py():
                return None  # inf/nan is not JSON — exact loop handles it
            s = pc.cast(c, pa.string())
            s = pc.if_else(
                pc.match_substring_regex(s, r"[.eE]"), s, J(s, ".0")
            )
            return pc.fill_null(s, "null")
        return pc.fill_null(pc.cast(c, pa.string()), "null")  # int64 / bool

    path_c = col("path")
    if not guard_str(path_c):
        return None
    rows_txt = txt_of(col("rows"))

    # stats object: ',"<col>":[min,max]' per present column, joined, the
    # leading comma sliced off, braces wrapped (an all-absent row is '{}').
    snull = pc.fill_null(col("stats_null"), False)
    inner = None
    for i, cname in enumerate(stats_cols):
        mn = txt_of(col(f"s{i}_min"))
        mx = txt_of(col(f"s{i}_max"))
        if mn is None or mx is None:
            return None
        key = json.dumps(cname)  # escaped + quoted column name
        frag = J("," + key + ":[", mn, ",", mx, "]")
        frag = pc.if_else(pc.fill_null(col(f"s{i}_has"), False), frag, "")
        inner = frag if inner is None else J(inner, frag)
    if inner is None:
        stats_txt = pc.if_else(snull, "null", "{}")
    else:
        body = pc.utf8_slice_codeunits(inner, 1)
        stats_txt = pc.if_else(snull, "null", J("{", body, "}"))

    # partition object: every part col present when the row has one
    pnull = pc.fill_null(col("part_null"), True)
    pfrag = None
    for j_, cname in enumerate(part_cols):
        v = txt_of(col(f"p{j_}"))
        if v is None:
            return None
        piece = J("," + json.dumps(cname) + ":", v)
        pfrag = piece if pfrag is None else J(pfrag, piece)
    if pfrag is None:
        part_txt = pc.if_else(pnull, "", ',"partition":{}')
    else:
        body = pc.utf8_slice_codeunits(pfrag, 1)
        part_txt = pc.if_else(pnull, "", J(',"partition":{', body, "}"))

    # dv: {"ref": ...} with "n" only when present
    dref = col("dv_ref")
    if not guard_str(dref):
        return None
    dn = col("dv_n")
    dv_tail = pc.if_else(
        pc.is_null(dn),
        pa.scalar('"}'),
        J('","n":', pc.fill_null(pc.cast(dn, pa.string()), ""), "}"),
    )
    dv_txt = pc.if_else(
        pc.invert(pc.is_null(dref)),
        J(',"dv":{"ref":"', pc.fill_null(dref, ""), dv_tail),
        "",
    )

    # bloom_ref: skipped when null OR empty (the loop's `if bref:`)
    bref = col("bloom_ref")
    if not guard_str(bref):
        return None
    b_present = pc.and_kleene(
        pc.invert(pc.is_null(bref)),
        pc.invert(pc.equal(pc.fill_null(bref, ""), "")),
    )
    bloom_txt = pc.if_else(
        pc.fill_null(b_present, False),
        J(',"bloom_ref":"', pc.fill_null(bref, ""), '"'),
        "",
    )

    # extra: already a JSON object string — merge by splicing past its '{'
    # (a malformed splice fails orjson below and falls back, never corrupts)
    ex = col("extra")
    ex_present = pc.and_kleene(
        pc.invert(pc.is_null(ex)),
        pc.invert(pc.equal(pc.fill_null(ex, ""), "")),
    )
    close_txt = pc.if_else(
        pc.fill_null(ex_present, False),
        J(",", pc.utf8_slice_codeunits(pc.fill_null(ex, "{}"), 1)),
        "}",
    )

    rows_json = J(
        '{"path":"', path_c, '","rows":', rows_txt, ',"stats":', stats_txt,
        part_txt, dv_txt, bloom_txt, close_txt,
    )
    joined = pc.binary_join(
        pa.chunked_array([pa.ListArray.from_arrays([0, n], rows_json)]), ","
    )
    try:
        return orjson.loads("[" + joined.to_pylist()[0] + "]")
    except Exception:
        return None


def _decode_typed_ckpt(d: dict, ckpt: dict) -> list[dict]:
    stats_cols = ckpt.get("stats_cols") or []
    part_cols = ckpt.get("part_cols") or []
    # pre-zip the per-entry stats triples: (c1, has, mn, mx, c2, ...) rows —
    # one flat tuple per entry beats len(stats_cols) indexed lookups
    svals = (
        list(
            zip(
                *[
                    col
                    for i in range(len(stats_cols))
                    for col in (d[f"s{i}_has"], d[f"s{i}_min"], d[f"s{i}_max"])
                ]
            )
        )
        if stats_cols
        else [()] * len(d["path"])
    )
    pvals = (
        list(zip(*[d[f"p{j}"] for j in range(len(part_cols))]))
        if part_cols
        else [()] * len(d["path"])
    )
    out = []
    rng3 = [(c, 3 * i) for i, c in enumerate(stats_cols)]
    for p, r, snull, pnull, dref, dn, bref, ex, sv, pv in zip(
        d["path"], d["rows"], d["stats_null"], d["part_null"],
        d["dv_ref"], d["dv_n"], d["bloom_ref"], d["extra"], svals, pvals,
    ):
        e = {"path": p, "rows": r}
        if snull:
            e["stats"] = None
        else:
            e["stats"] = {
                c: [sv[o + 1], sv[o + 2]] for c, o in rng3 if sv[o]
            }
        if not pnull:
            e["partition"] = dict(zip(part_cols, pv))
        if dref is not None:
            e["dv"] = {"ref": dref} if dn is None else {"ref": dref, "n": dn}
        if bref:
            e["bloom_ref"] = bref
        if ex:
            e.update(json.loads(ex))
        out.append(e)
    return out


# The sidecar as a pyarrow Table, cached — manifests (and their
# checkpoints) are immutable, so entries never go stale; keyed like
# _FILES_CACHE with the ref appended (a table dropped and re-created at
# the same path gets a new uuid'd ref). Tables are immutable and shared
# as-is, no defensive copy needed.
_CKPT_TABLE_CACHE: dict = {}
_CKPT_TABLE_CACHE_MAX = 8


def _ckpt_table(path: str, m: dict):
    """Columnar handle on a ``files_ckpt`` sidecar: the Arrow table
    itself, never materialized into Python dicts. This is what the scan
    planner, vacuum's path sweeps, and history's id chain consume — the
    100 TB design point is that a FULL cold resolve stays columnar end to
    end, and per-entry dicts are built only by consumers that genuinely
    need full fidelity (manifest rewrites, compaction scoping)."""
    import io

    import pyarrow.parquet as pq

    ck = m["files_ckpt"]
    key = (path, m.get("version"), m.get("committed_at"), ck["ref"])
    with _FILES_CACHE_LOCK:
        hit = _CKPT_TABLE_CACHE.get(key)
    if hit is not None:
        return hit
    abs_p = os.path.join(_manifest_dir(path), ck["ref"])
    table = pq.read_table(io.BytesIO(_fs().read_bytes(abs_p)))
    if table.num_rows != ck.get("count", table.num_rows):
        raise RuntimeError(
            f"parquet checkpoint {ck['ref']} at {path}: read "
            f"{table.num_rows} entries, manifest pins {ck['count']} — "
            f"truncated or corrupt checkpoint; refusing a partial file list"
        )
    with _FILES_CACHE_LOCK:
        while len(_CKPT_TABLE_CACHE) >= _CKPT_TABLE_CACHE_MAX:
            _CKPT_TABLE_CACHE.pop(next(iter(_CKPT_TABLE_CACHE)))
        _CKPT_TABLE_CACHE[key] = table
    return table


def _manifest_files_scan(path: str, m: dict) -> list[dict]:
    """Scan-plan projection of the active file list: ``path`` +
    ``partition`` + ``dv`` only — exactly the keys ``_read_entries``
    consumes. For a checkpoint-form manifest this touches 3-6 sidecar
    columns (C-speed ``to_pylist``) and skips the stats/extra payload
    entirely, so an UNPREDICATED cold scan of a 200k-file table builds
    200k three-key dicts instead of full-fidelity entries; every other
    manifest form falls back to ``_manifest_files`` (inline lists are
    below the externalization threshold by construction). The returned
    entries are a sound projection: any consumer needing rows/stats/
    bloom/extra must use ``_manifest_files``."""
    ck = m.get("files_ckpt")
    if not ck:
        return _manifest_files(path, m)
    t = _ckpt_table(path, m)
    out: list[dict] = [{"path": p} for p in t.column("path").to_pylist()]
    part_cols = ck.get("part_cols") or []
    if part_cols:
        pvals = [t.column(f"p{j}").to_pylist() for j in range(len(part_cols))]
        for e, pn, *pv in zip(out, t.column("part_null").to_pylist(), *pvals):
            if not pn:
                e["partition"] = dict(zip(part_cols, pv))
    if t.column("dv_ref").null_count != len(out):
        for e, r, n in zip(
            out, t.column("dv_ref").to_pylist(), t.column("dv_n").to_pylist()
        ):
            if r is not None:
                e["dv"] = {"ref": r} if n is None else {"ref": r, "n": n}
    return out


def _ckpt_entry_keys(path: str, m: dict) -> set:
    """Vectorized ``_ekey`` set of a checkpoint-form manifest (path +
    dv ref identity) — two sidecar columns, no dict materialization; the
    history id chain's seed."""
    t = _ckpt_table(path, m)
    return {
        f"{p}@{r}" if r is not None else f"{p}@"
        for p, r in zip(
            t.column("path").to_pylist(), t.column("dv_ref").to_pylist()
        )
    }


def _ckpt_cmp_scalar(col_type, k):
    """A ``_skip_key`` bound as a scalar of a typed sidecar's min/max
    column type, or None when the sidecar cannot compare it exactly: an
    int in int64, a number in float64, text in string — DATE and
    TIMESTAMP_NTZ bounds as their isoformat, the stats' own text, whose
    order is chronological. A float against an integer column is refused
    (float64 rounding above 2^53 could wrongly skip a file), and so are
    instants: TIMESTAMP stats text mixes local wall clocks and offsets."""
    import pyarrow as pa

    if isinstance(k, _dt.date) and not getattr(k, "tzinfo", None):
        k = k.isoformat()
    if isinstance(k, bool):
        return None
    if pa.types.is_integer(col_type) and isinstance(k, int):
        try:
            return pa.scalar(k, col_type)
        except (OverflowError, pa.lib.ArrowInvalid):
            return None
    if pa.types.is_floating(col_type) and isinstance(k, (int, float)):
        return pa.scalar(float(k), col_type)
    if pa.types.is_string(col_type) and isinstance(k, str):
        return pa.scalar(k, col_type)
    return None


def _manifest_files_pruned(
    path: str, m: dict, conjuncts: list
) -> list[dict] | None:
    """The file-skipping rule vectorized INSIDE the checkpoint resolve:
    ``_file_skip``'s stats test over a TYPED sidecar's native min/max
    columns with Arrow compute, then ONLY the surviving entries
    materialize as Python dicts. At 100k+ files this is the difference
    between reconstructing the whole file list and reconstructing the
    handful a pruned scan opens — the log-replay data skipping Delta
    performs on its checkpoint. A ``=`` conjunct over more than 64 values
    collapses to one [min, max] range pass.

    Returns a SUPERSET of what ``_file_skip`` keeps (callers re-apply it
    to the survivors, Bloom filters included), or None when no conjunct
    applies — no checkpoint, or no conjunct on a stats column whose
    literals place as exact sidecar scalars — and the caller resolves
    every entry."""
    ck = m.get("files_ckpt")
    if not ck or not conjuncts:
        return None
    import pyarrow.compute as pc

    idx = {c: i for i, c in enumerate(ck.get("stats_cols") or [])}
    types, mapping = _schema_types(m), _mapping(m)
    table = _ckpt_table(path, m)
    keep = None
    for col, op, vals in conjuncts:
        i = idx.get(_phys(mapping, col))
        if i is None or op not in _SKIP_DISPROOF or not vals:
            continue
        keys = [_skip_key(types.get(col), v, True) for v in vals]
        if None in keys:
            continue
        if len(keys) > 64:
            keys = [(min(k[0] for k in keys), max(k[1] for k in keys))]
        bounds = (table[f"s{i}_min"], table[f"s{i}_max"])
        lits = [[_ckpt_cmp_scalar(bounds[0].type, b) for b in k] for k in keys]
        if any(None in s for s in lits):
            continue
        may = None
        for s in lits:
            no = None
            for f, cmp, l_ in _SKIP_DISPROOF[op]:
                d = getattr(pc, _ARROW_CMP[cmp])(bounds[f], s[l_])
                no = d if no is None else pc.or_(no, d)
            hit = pc.invert(pc.fill_null(no, False))
            may = hit if may is None else pc.or_(may, hit)
        keep = may if keep is None else pc.and_(keep, may)
    if keep is None:
        return None
    return _decode_typed_ckpt(table.filter(keep).to_pydict(), ck)


def _maybe_parquet_checkpoint(path: str, manifest: dict, version: int) -> dict:
    """Externalize an oversized FULL manifest's file list to a parquet
    checkpoint. Runs after ``_maybe_delta_files`` — incremental manifests
    are already O(changed files) and stay JSON; only the periodic full
    checkpoint pays O(live files), and above the threshold that cost moves
    to a columnar sidecar. Readers lacking the feature must refuse
    (min_reader 3): their legacy fallback would list data dirs and
    resurrect rewritten rows. A list the typed layout cannot hold stays
    inline."""
    files = manifest.get("files")
    if files is None or len(files) < _PARQUET_CHECKPOINT_MIN_FILES:
        return manifest
    ptr = _write_parquet_checkpoint(path, files, version)
    if ptr is None:
        return manifest
    out = {k: v for k, v in manifest.items() if k != "files"}
    out["files_ckpt"] = ptr
    out["min_reader"] = 3
    return out


def _manifest_files(path: str, m: dict) -> list[dict]:
    """Active file entries of a manifest: ``{"path": rel, "rows": int|None,
    "stats": {col: [min, max]}|None}``. Delta manifests (files_base +
    files_add/files_remove) resolve against their base chain (bounded by
    ``_DELTA_MANIFEST_CHAIN_MAX``, memoized — manifests are immutable).
    Parquet checkpoint manifests (``files_ckpt``) read their columnar
    sidecar (memoized the same way). Legacy dir-level manifests are
    expanded by listing their data dirs (no stats)."""
    if "files" in m:
        return m["files"]
    if "files_ckpt" in m:
        key = (path, m.get("version"), m.get("committed_at"), "ckpt")
        if m.get("version") is not None:
            with _FILES_CACHE_LOCK:
                hit = _FILES_CACHE.get(key)
                if hit is not None:
                    return list(hit)
        out = _read_parquet_checkpoint(
            path, m["files_ckpt"], table=_ckpt_table(path, m)
        )
        if m.get("version") is not None:
            with _FILES_CACHE_LOCK:
                while len(_FILES_CACHE) >= _FILES_CACHE_MAX:
                    _FILES_CACHE.pop(next(iter(_FILES_CACHE)))
                _FILES_CACHE[key] = list(out)
        return out
    if "files_base" in m:
        # committed_at in the key guards a table dropped and re-created at
        # the same path within one process: same (path, version) can then
        # name two different manifests.
        key = (path, m.get("version"), m.get("committed_at"))
        if m.get("version") is not None:
            with _FILES_CACHE_LOCK:
                hit = _FILES_CACHE.get(key)
                if hit is not None:
                    return list(hit)
        base_files = _manifest_files(path, _read_manifest(path, m["files_base"]))
        rm = set(m.get("files_remove") or [])
        out = [e for e in base_files if _ekey(e) not in rm]
        out += list(m.get("files_add") or [])
        if m.get("version") is not None:
            with _FILES_CACHE_LOCK:
                while len(_FILES_CACHE) >= _FILES_CACHE_MAX:
                    _FILES_CACHE.pop(next(iter(_FILES_CACHE)))
                _FILES_CACHE[key] = list(out)
        return out
    out = []
    for d in m["data_dirs"]:
        full = os.path.join(path, d)
        for f in sorted(_fs().list_dir(full)):
            if f.endswith(".parquet"):
                out.append({"path": f"{d}/{f}", "rows": None, "stats": None})
    return out


# Per-file Bloom filters for point-lookup file skipping. Positions are
# xxhash64 over the STRING form of the value, seeded per hash function, mod
# _BLOOM_M_MAX (a power of two): computed by the JVM on the write path
# (_bloom_pos_expr) and natively for lookup literals
# (xxhash64.bloom_positions, bit-identical — tests/test_xxhash64.py). A
# literal whose string form the native hasher cannot reproduce gets no
# positions and every file is read. Each file's filter is sized
# adaptively: the smallest power of two >= _BLOOM_BITS_PER_VALUE *
# n_distinct, clamped to [_BLOOM_M_MIN, _BLOOM_M_MAX]. Power-of-two sizing
# makes downsizing a pure mask (x mod 2^j == (x mod 2^17) & (2^j - 1)), so
# ONE set of collected positions serves every filter size, and a lookup
# literal hashes once.
# Filters live in a per-data-dir SIDECAR (_bloom.json), carried in the
# manifest by reference — manifests stay O(files), not O(files x filter),
# across versions, and vacuuming a data dir removes its sidecar with it.
# A file whose distinct count would saturate the largest filter gets NONE
# (always scanned) — degradation is always toward extra IO, never toward a
# wrong skip. (At larger-than-local scale the positions collect can move
# JVM-side via bitmap_construct_agg; the sidecar format is unchanged.)
_BLOOM_M_MAX = 1 << 17     # 16 KiB packed
_BLOOM_M_MIN = 1 << 13
_BLOOM_BITS_PER_VALUE = 16  # ~0.5% FPR at k=3
_BLOOM_K = 3
_BLOOM_SIDECAR = "_bloom.json"
_BLOOM_CACHE: dict = {}


def _bloom_pos_expr(col: str, i: int):
    """Max-modulus bit position of hash function ``i`` for column ``col``
    (null-safe: nulls map to null and never set a bit; null lookups skip
    the bloom)."""
    c = F.col(col)
    return F.when(
        c.isNotNull(),
        F.pmod(F.xxhash64(F.lit(i), c.cast("string")), F.lit(_BLOOM_M_MAX)),
    )


def _bloom_build(position_sets: list) -> dict | None:
    """Adaptively-sized packed filter from the k max-modulus position sets
    of one file+column, or None when even the largest size would saturate."""
    import base64

    positions = {int(p) for s in position_sets for p in (s or [])}
    if not positions:
        return {"m": _BLOOM_M_MIN, "k": _BLOOM_K, "b64": ""}
    n = max(1, len(positions) // _BLOOM_K)  # ~distinct values
    if n * _BLOOM_BITS_PER_VALUE > _BLOOM_M_MAX * 2:
        return None  # would saturate: FPR too high to pay 16 KiB for
    m = _BLOOM_M_MIN
    while m < n * _BLOOM_BITS_PER_VALUE and m < _BLOOM_M_MAX:
        m <<= 1
    mask = m - 1
    bits = bytearray(m // 8)
    for p in positions:
        p &= mask
        bits[p >> 3] |= 1 << (p & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_may_contain(bloom: dict | None, positions: list[int]) -> bool:
    """Can a file with this bloom contain a value whose MAX-modulus
    positions are ``positions``? Missing/foreign/corrupt filters => must
    assume yes (conservative, the same contract as missing min/max
    stats)."""
    import base64

    if not bloom or bloom.get("k") != _BLOOM_K:
        return True
    m = bloom.get("m")
    if not isinstance(m, int) or m <= 0 or m & (m - 1) or m > _BLOOM_M_MAX:
        return True
    if bloom.get("b64") == "":
        return False  # all-null file: holds no lookup value
    try:
        bits = base64.b64decode(bloom["b64"])
    except Exception:
        return True
    if len(bits) != m // 8:
        return True
    mask = m - 1
    return all(
        bits[(p & mask) >> 3] & (1 << ((p & mask) & 7)) for p in positions
    )


def _bloom_cols_in_use(path: str, cur: dict) -> list[str]:
    """Union of bloom-indexed columns (PHYSICAL names) across the current
    manifest's sidecars — rewrite paths preserve the table's bloom
    discipline the same way they preserve min/max stats."""
    cols: set = set()
    for e in _manifest_files(path, cur) if _has_files(cur) else []:
        ref = e.get("bloom_ref")
        if ref:
            side = _bloom_sidecar(os.path.join(path, ref))
            fname = e["path"].rsplit("/", 1)[-1]
            cols.update((side.get(fname) or {}).keys())
    return sorted(cols)


def _bloom_sidecar(abs_ref: str) -> dict:
    """Load (and cache) a data dir's bloom sidecar. Data dirs are immutable
    — a new write always lands a new dir — so cache entries never go
    stale; the cache is cleared wholesale when it grows past 256 dirs."""
    if abs_ref in _BLOOM_CACHE:
        return _BLOOM_CACHE[abs_ref]
    try:
        side = json.loads(_fs().read_text(abs_ref))
    except Exception:
        side = {}
    if len(_BLOOM_CACHE) > 256:
        _BLOOM_CACHE.clear()
    _BLOOM_CACHE[abs_ref] = side
    return side


def _entry_bloom(table_path: str, entry: dict, phys_col: str) -> dict | None:
    """The bloom for one file entry + physical column, or None."""
    ref = entry.get("bloom_ref")
    if not ref:
        return None
    side = _bloom_sidecar(os.path.join(table_path, ref))
    fname = entry["path"].rsplit("/", 1)[-1]
    return (side.get(fname) or {}).get(phys_col)


# Column types whose CAST(... AS STRING) a lookup literal reproduces when it
# has the matching Python type. Any other pairing reads every file: an int
# probing a DOUBLE column would hash "5" against files that hashed "5.0".
# TIMESTAMP (with local time zone) is absent: its files hash the value in
# the session zone, but PySpark reads a naive datetime in the process's
# zone, so on a host whose zone differs the wall-clock string would miss.
_BLOOM_LIT_TYPES = {
    "byte": int, "short": int, "integer": int, "long": int, "string": str,
    "date": _dt.date, "timestamp_ntz": _dt.datetime,
}
_INTEGRAL_TYPES = ("byte", "short", "integer", "long")
# the column types ``_skip_key`` places a value of
_PLACED_TYPES = (
    *_INTEGRAL_TYPES, "float", "double", "boolean", "string", "date",
    "timestamp", "timestamp_ntz",
)
# op -> the tests that DISPROVE ``col op literal`` for a file: (file bound,
# comparison, literal bound), with 0/1 picking the file's min/max and the
# literal key's lo/hi. Disproofs, so an incomparable NaN bound (every
# comparison False) keeps the file.
_SKIP_DISPROOF = {
    "=": ((1, operator.lt, 0), (0, operator.gt, 1)),
    "<": ((0, operator.ge, 1),),
    "<=": ((0, operator.gt, 1),),
    ">": ((1, operator.le, 0),),
    ">=": ((1, operator.lt, 0),),
}
_ARROW_CMP = {
    operator.lt: "less", operator.le: "less_equal",
    operator.gt: "greater", operator.ge: "greater_equal",
}


def _schema_types(m: dict | None) -> dict:
    """Logical column -> Spark type name of a manifest's schema (simple
    types only)."""
    fields = json.loads((m or {}).get("schema") or "{}").get("fields", [])
    return {f["name"]: f["type"] for f in fields if isinstance(f["type"], str)}


def _session_zone():
    """The zone a SQL timestamp literal is read in: the active session's
    ``spark.sql.session.timeZone`` (UTC, the engine's pin in ``session.py``,
    where no session is active), or None when it is no IANA zone id."""
    from zoneinfo import ZoneInfo

    s = SparkSession.getActiveSession()
    try:
        return ZoneInfo(s.conf.get("spark.sql.session.timeZone") if s else "UTC")
    except Exception:
        return None


def _session_wall_clocks(v) -> list:
    """A TIMESTAMP value as the session zone's naive wall clock(s): a
    zone-aware datetime is one instant, a naive one this process's local
    wall clock (both instants of a DST fold); anything else passes as is.
    Empty when the value cannot be placed."""
    if not isinstance(v, _dt.datetime):
        return [v]
    zone = _session_zone()
    if zone is None:
        return []
    at = (v,) if v.tzinfo else (v.replace(fold=0), v.replace(fold=1))
    try:
        return sorted({a.astimezone(zone).replace(tzinfo=None) for a in at})
    except (OverflowError, OSError, ValueError):
        return []


def _skip_key(t, v, literal: bool):
    """``(lo, hi)``: where ``v`` — a min/max stat, or with ``literal`` a
    predicate literal — lies in one ordered domain for a column of Spark
    type ``t``; None when it cannot be placed (the file may match).
    Numbers compare as numbers, STRING in text order, DATE and
    TIMESTAMP_NTZ chronologically. TIMESTAMP compares as instants: its
    stats carry an offset (``_scan_file_entries`` and the data source's
    writer), or, written by an older engine, are the writing process's
    local wall clock, read as this process's; a naive datetime literal is
    local time too, and a string literal is read in the session zone. A
    local wall clock that a DST fold makes ambiguous spans both of its
    instants."""
    if v is None or isinstance(v, bool) != (t == "boolean"):
        return None
    if t == "boolean" or (t == "string" and isinstance(v, str)):
        return v, v
    if t in _INTEGRAL_TYPES or t in ("float", "double"):
        if not isinstance(v, (int, float)):
            return None
        # Spark compares an integral column with a floating literal, and a
        # FLOAT/DOUBLE column with an integral one, in floating point:
        # exact below the mantissa limit, where Python's comparison agrees
        lim = 2**24 if t == "float" else 2**53
        if isinstance(v, float) != (t in ("float", "double")) and not abs(v) < lim:
            return None
        return v, v
    if t == "date":
        if isinstance(v, str) and len(v) == 10:
            try:
                v = _dt.date.fromisoformat(v)
            except ValueError:
                return None
        ok = isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
        return (v, v) if ok else None
    if t not in ("timestamp", "timestamp_ntz"):
        return None
    if isinstance(v, str):
        v = _try_iso_dt(v)
        if v is not None and v.tzinfo is None and literal and t == "timestamp":
            zone = _session_zone()
            v = v.replace(tzinfo=zone) if zone is not None else None
    if not isinstance(v, _dt.datetime):
        return None
    if t == "timestamp_ntz":
        return (v, v) if v.tzinfo is None else None
    if v.tzinfo is not None:
        return v, v
    try:
        lo, hi = sorted(v.replace(fold=f).astimezone() for f in (0, 1))
    except (OverflowError, OSError, ValueError):
        return None
    return lo, hi


def _file_skip(m: dict | None, path: str):
    """THE file-skipping rule of the snapshot protocol: returns
    ``may_match(entry, conjuncts)``, whether a file of manifest ``m``
    (table at ``path``) may hold a row satisfying every ``(col, op,
    values)`` conjunct, in ``_predicate_conjuncts``' form: ``=`` holds for
    any of the values, ``<``/``<=``/``>``/``>=`` compare with one, and
    ``notnull`` (no values) asks for a non-null value.

    Min/max stats disprove a conjunct when every value lies outside the
    file's range, both sides placed by ``_skip_key`` in the convention of
    the column's type. A ``=`` value is also disproved by the file's Bloom
    filter when its Python type is one the column hashes
    (``_BLOOM_LIT_TYPES``); ``notnull`` only by a Bloom built over an
    all-null file. Whatever cannot be placed may match: a wrong skip loses
    rows, an extra file costs only I/O. Every scan, DML, MERGE, conflict
    check, maintenance scope and data-source read skips files through
    this test; ``_manifest_files_pruned`` is its vectorized stats form."""
    types, mapping = _schema_types(m), _mapping(m or {})
    keys: dict = {}
    positions: dict = {}

    def key(col, v, literal: bool):
        try:
            return keys[col, literal, type(v), v]
        except KeyError:
            out = keys[col, literal, type(v), v] = _skip_key(
                types.get(col), v, literal
            )
            return out
        except TypeError:  # unhashable value: cannot be placed
            return None

    def bloom_says_no(e: dict, col: str, phys: str, v) -> bool:
        want = _BLOOM_LIT_TYPES.get(types.get(col))
        if want is None or not isinstance(v, want) or (
            want is _dt.date and isinstance(v, _dt.datetime)
        ):
            return False
        if (type(v), v) not in positions:
            positions[type(v), v] = bloom_positions(v, _BLOOM_M_MAX, _BLOOM_K)
        pos = positions[type(v), v]
        return pos is not None and not _bloom_may_contain(
            _entry_bloom(path, e, phys), pos
        )

    def may_match(e: dict, conjuncts) -> bool:
        stats = e.get("stats") or {}
        for col, op, vals in conjuncts:
            phys = _phys(mapping, col)
            if op == "notnull":
                if not _bloom_may_contain(_entry_bloom(path, e, phys), []):
                    return False
                continue
            tests = _SKIP_DISPROOF.get(op)
            s = stats.get(phys)
            rng = None
            if s and tests:
                lo, hi = key(col, s[0], False), key(col, s[1], False)
                rng = (lo[0], hi[1]) if lo and hi else None
            bloom = op == "=" and e.get("bloom_ref")
            for v in vals:
                k = key(col, v, True) if rng else None
                if k and any(cmp(rng[f], k[l_]) for f, cmp, l_ in tests):
                    continue
                if bloom and bloom_says_no(e, col, phys, v):
                    continue
                break  # this value may match
            else:
                if vals:
                    return False  # every value disproved
        return True

    return may_match


def _files_may_match(path: str, m: dict, conjuncts: list) -> list[dict]:
    """The live entries of manifest ``m`` that ``_file_skip`` keeps for
    ``conjuncts``; a typed checkpoint prunes vectorized first."""
    files = _manifest_files_pruned(path, m, conjuncts)
    if files is None:
        files = _manifest_files(path, m)
    may = _file_skip(m, path)
    return [e for e in files if may(e, conjuncts)]


# Merge batches with at most this many DISTINCT keys get per-key candidate
# refinement (stats point-tests + blooms) instead of relying on batch-wide
# bounds alone; the refinement is driver-side python over files x keys, so
# it must stay collect-bounded.
_MERGE_KEY_PRUNE_MAX = 200


def _prune_candidates_by_keys(
    m: dict, path: str, candidates: list, key_cols: list, key_rows: list
) -> list:
    """Keep only candidate files that MAY hold at least one incoming key
    tuple: one ``=`` conjunct per key column and row through
    ``_file_skip`` (min/max stats, and Bloom bitsets where the table was
    written with ``bloom_cols``). Batch-wide bounds cannot prune a
    scattered micro-batch — a handful of keys spanning the key range
    brackets every file — but point tests can: that is what makes a small
    keyed MERGE against a big clustered or bloom-indexed table touch
    O(keys) files, not O(table). A kept file may still hold no key (stage
    2 settles it). Null key components skip their column's test. ``m`` is
    the manifest whose schema types the key columns."""
    may = _file_skip(m, path)
    rows = [
        [(c, "=", [r[c]]) for c in key_cols if r[c] is not None]
        for r in key_rows
    ]
    return [e for e in candidates if any(may(e, cj) for cj in rows)]


def _scan_file_entries(
    spark: SparkSession,
    root: str,
    rel_dir: str,
    stats_cols: Sequence[str],
    bloom_cols: Sequence[str] = (),
    partition_cols: Sequence[str] = (),
    read_schema=None,
) -> tuple[list[dict], int]:
    """List the parquet files under ``root`` and (in ONE column-pruned
    scan) compute per-file row counts, min/max stats for ``stats_cols``,
    and Bloom bitsets for ``bloom_cols`` — the metadata the one skip rule,
    ``_file_skip``, prunes by. Min/max skips range predicates on clustered
    columns; the bloom skips POINT lookups on high-cardinality unsorted
    columns, where every file's [min, max] brackets everything and range
    stats are useless. TIMESTAMP (local time zone) stats are stored as
    instants carrying their offset, so a reader in another zone places
    them right; DATE and TIMESTAMP_NTZ stats are their plain ISO form.

    ``root`` is a Hive tree with ``len(partition_cols)`` levels of
    ``key=value`` directories (a ``partitionBy`` write or an in-place
    CONVERT); a flat data dir is the tree with none, and a single file
    (CONVERT of one parquet file) is read alone. Hive entries carry their
    partition values (string form, per ``partition``) AND those values
    folded into ``stats`` as degenerate ``[v, v]`` ranges — so every path
    that skips through ``_file_skip`` prunes on partition predicates with
    zero new machinery. ``read_schema`` types the data (Spark's path
    inference alone would re-type a partition value "03" as 3). A scanned
    file matching no walked path fails closed: its rows would otherwise
    vanish from the manifest like an empty part file's."""
    fs = _fs()
    subpaths: list[str] = []

    def walk(rel: str, depth: int) -> None:
        d = os.path.join(root, rel) if rel else root
        for n in sorted(fs.list_dir(d)):
            sub = f"{rel}/{n}" if rel else n
            if depth < len(partition_cols):
                if "=" in n and not n.startswith(("_", ".")) and fs.is_dir(
                    os.path.join(d, n)
                ):
                    walk(sub, depth + 1)
            elif n.endswith(".parquet"):
                subpaths.append(sub)

    if fs.is_file(root):
        subpaths.append(os.path.basename(root))
    else:
        walk("", 0)
    if not subpaths:
        return [], 0
    rdr = spark.read
    if partition_cols:
        rdr = rdr.option("basePath", root)
    if read_schema is not None:
        rdr = rdr.schema(read_schema)
    df = rdr.parquet(root)
    instants = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp"
    }
    stat_all = list(dict.fromkeys([*stats_cols, *partition_cols]))
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stat_all:
        aggs.append(F.min(c).alias(f"_min_{c}"))
        aggs.append(F.max(c).alias(f"_max_{c}"))
    for c in bloom_cols:
        for i in range(_BLOOM_K):
            aggs.append(
                F.collect_set(_bloom_pos_expr(c, i)).alias(f"_bl{i}_{c}")
            )
    fparts = F.split(F.input_file_name(), "/")
    suffix = F.concat_ws("/", *[
        F.element_at(fparts, i) for i in range(-1 - len(partition_cols), 0)
    ])
    # decoded per file, not per row
    per_file = df.groupBy(suffix.alias("_f")).agg(*aggs)
    by_sub = {
        r["_f"]: r
        for r in per_file.withColumn("_f", _fs_form(F.col("_f"))).collect()
    }
    orphans = set(by_sub) - set(subpaths)
    if orphans:
        raise RuntimeError(
            f"file scan identity mismatch under {root}: "
            f"{len(orphans)} scanned file(s) match no walked path — "
            f"e.g. {sorted(orphans)[:2]} vs walked {subpaths[:2]}; "
            f"refusing a manifest that would drop their rows"
        )
    entries, total, sidecar = [], 0, {}
    for sub in subpaths:
        r = by_sub.get(sub)
        rows = int(r["_rows"]) if r is not None else 0
        if rows == 0:
            # Spark emits an empty part file per input partition with no
            # rows; referencing it buys nothing and COSTS elsewhere: a
            # stats-less entry defeats metadata pruning and the commit-race
            # disjointness proof (an empty file "may hold" every key), and
            # every read schedules a task for it.
            continue
        stats = {
            c: [
                _stats_repr(r[f"_{side}_{c}"], instant=c in instants)
                for side in ("min", "max")
            ]
            for c in stat_all
        }
        entry = {"path": f"{rel_dir}/{sub}", "rows": rows, "stats": stats or None}
        if partition_cols:
            entry["partition"] = _hive_partition_values(sub, partition_cols)
        built = {
            c: _bloom_build([r[f"_bl{i}_{c}"] for i in range(_BLOOM_K)])
            for c in bloom_cols
        }
        built = {c: b for c, b in built.items() if b is not None}
        if built:
            sidecar[sub] = built
            entry["bloom_ref"] = f"{rel_dir}/{_BLOOM_SIDECAR}"
        entries.append(entry)
        total += rows
    if sidecar:
        _fs().write_atomic(os.path.join(root, _BLOOM_SIDECAR), json.dumps(sidecar))
    return entries, total


def _mapping(m: dict) -> dict:
    """logical -> physical column-name map (identity entries omitted)."""
    return m.get("column_mapping", {})


def _phys(mapping: dict, logical: str) -> str:
    return mapping.get(logical, logical)


def _to_physical_df(df: DataFrame, mapping: dict) -> DataFrame:
    """Rename logical columns to their stored physical names before a data
    write — files ALWAYS store physical names, so pre- and post-rename
    files agree byte-for-byte on layout."""
    if not mapping:
        return df
    return df.select(
        *[F.col(c).alias(_phys(mapping, c)) for c in df.columns]
    )


def _read_declared(
    spark: SparkSession,
    m: dict,
    paths: list[str],
    lineage: bool = False,
    hive_root: str | None = None,
) -> DataFrame:
    """Read data files under the MANIFEST's declared schema, not the file
    footers' — after ``snapshot_add_columns`` a version legitimately mixes
    files written before and after the widening; the declared read
    null-fills the missing columns (Delta schema-evolution read semantics).
    With a ``column_mapping`` (after ``snapshot_rename_columns``) files
    store PHYSICAL names: read the physical schema, then alias back to the
    logical names. Falls back to footer inference for legacy manifests
    without a schema.

    ``lineage=True`` appends two physical-position columns the deletion-
    vector machinery keys on: ``_sn_file`` (the file's ``_entry_rid``
    suffix — ``dir/name`` for flat entries, ``2 + n_partition_cols``
    segments for Hive entries — from ``_metadata.file_path``) and
    ``_sn_pos`` (the row's position within its file,
    ``_metadata.row_index`` — stable for immutable parquet regardless of
    split planning).

    ``hive_root`` reads Hive-layout files (partition columns live in
    ``key=value`` directory names, not the files): Spark's own partition
    discovery resolves the declared schema's partition columns from the
    paths relative to the basePath — one vectorized relation, no per-file
    literal stitching."""
    from pyspark.sql.types import StructField, StructType

    n_part = len(m.get("partition_cols") or []) if hive_root else 0

    def lin(df: DataFrame) -> DataFrame:
        if not lineage:
            return df
        parts = F.split(F.col("_metadata.file_path"), "/")
        segs = [F.element_at(parts, i) for i in range(-(2 + n_part), 0)]
        return df.withColumn(
            _SN_FILE, _fs_form(F.concat_ws("/", *segs))
        ).withColumn(_SN_POS, F.col("_metadata.row_index"))

    def rd():
        r = spark.read
        if hive_root is not None:
            r = r.option("basePath", hive_root)
        return r

    if "schema" not in m:
        return lin(rd().parquet(*paths))
    schema = StructType.fromJson(json.loads(m["schema"]))
    mapping = _mapping(m)
    if not mapping:
        df = lin(rd().schema(schema).parquet(*paths))
        if hive_root is None:
            return df
        # partition discovery moves partition columns to the end of the
        # relation's output; restore the declared column order
        return df.select(
            *[f.name for f in schema.fields],
            *([_SN_FILE, _SN_POS] if lineage else []),
        )
    physical = StructType(
        [
            StructField(_phys(mapping, f.name), f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ]
    )
    df = lin(rd().schema(physical).parquet(*paths))
    return df.select(
        *[
            F.col(_phys(mapping, f.name)).alias(f.name)
            for f in schema.fields
        ],
        *([_SN_FILE, _SN_POS] if lineage else []),
    )


def _fs_form(col):
    """FILESYSTEM form of a URI-escaped path expression: Spark's
    ``_metadata.file_path`` / ``input_file_name`` return URI-encoded paths
    (space -> %20, and a literal % in a Hive partition dir name — e.g. the
    %3A a timestamp value's colon escapes to — re-encodes to %25), while
    manifest entry paths store the on-disk names. One %XX decode inverts
    the URI encoding; ``url_decode`` would ALSO turn a literal '+' into a
    space (form encoding), so '+' is protected through the round trip."""
    return F.url_decode(F.replace(col, F.lit("+"), F.lit("%2B")))


def _dirs_of(files: list[dict]) -> list[str]:
    return sorted({e["path"].rsplit("/", 1)[0] for e in files})


# --- deletion vectors ------------------------------------------------------
# A DV-mode DELETE writes NO data files: the matched rows' physical
# positions (file, row_index) land in a positions parquet, and each touched
# manifest entry points at it via ``"dv": {"ref": <rel dir>, "n": <dead>}``.
# Refs are CUMULATIVE PER FILE (a new DV commit unions the file's prior dead
# positions into the new ref), so every file references exactly one ref and
# the read path applies one anti-join. At 100 TB this is the difference
# between rewriting a 1 GB file to delete three rows and writing a 100-byte
# position list — Delta's deletion-vector table feature re-realized on the
# snapshot protocol.
_SN_FILE = "_sn_file"   # lineage column: manifest-relative dir/name
_SN_POS = "_sn_pos"     # lineage column: row position within its file
_DV_FILE = "_dv_file"   # positions-parquet column: target file rel path
_DV_POS = "_dv_pos"     # positions-parquet column: dead row position
# Positions up to this total are broadcast into the anti-join (a dead-set
# far smaller than the table is the normal case); beyond it the anti-join
# shuffles, which is still O(dead + table-being-read), never O(table^2).
_DV_BROADCAST_MAX = 4_000_000


def _live_rows(e: dict) -> int | None:
    """Live (physical minus DV-dead) row count of a manifest file entry."""
    if e.get("rows") is None:
        return None
    return e["rows"] - (e.get("dv") or {}).get("n", 0)


def _dv_ref_path(table_path: str, ref: str) -> str:
    return ref if os.path.isabs(ref) else os.path.join(table_path, ref)


def _entry_rid(e: dict) -> str:
    """Row-lineage identity of a manifest file entry — the suffix the
    ``_sn_file`` lineage column carries and DV position files key on.

    Flat entries keep the historical two-segment ``dir/name`` form. HIVE
    entries (``partition`` values derived from ``key=value`` directory
    segments) need ``2 + n_partition_cols`` segments: within ONE
    ``partitionBy`` write, Spark reuses the same job UUID and per-task
    part numbering across every partition directory, so two partitions'
    files can share their last two segments (``month=3/part-00000-<uuid>``
    under both ``year=1995`` and ``year=1996``) — a two-segment identity
    would cross-contaminate deletion vectors."""
    part = e.get("partition")
    k = 2 + (len(part) if part else 0)
    return "/".join(e["path"].split("/")[-k:])


def _hive_partition_values(subpath: str, partition_cols: Sequence[str]) -> dict:
    """Parse ``key=value`` directory segments of a file's subpath into the
    Hive string form Spark's writer produced (``__HIVE_DEFAULT_PARTITION__``
    maps to None = NULL partition value; %-escapes decode). Segment order
    must match ``partition_cols`` — the nesting order is the declaration
    order, same as Spark/Delta."""
    from urllib.parse import unquote

    segs = subpath.split("/")[:-1]
    if len(segs) != len(partition_cols):
        raise ValueError(
            f"partitioned entry {subpath!r}: expected "
            f"{len(partition_cols)} key=value segments for "
            f"{list(partition_cols)}, found {segs}"
        )
    out: dict = {}
    for seg, col in zip(segs, partition_cols):
        key, _, raw = seg.partition("=")
        if key != col:
            raise ValueError(
                f"partitioned entry {subpath!r}: segment {seg!r} does not "
                f"match declared partition column {col!r}"
            )
        val = unquote(raw)
        out[col] = None if val == "__HIVE_DEFAULT_PARTITION__" else val
    return out


def _read_entries(
    spark: SparkSession,
    path: str,
    m: dict,
    entries: list[dict],
    lineage: bool = False,
) -> DataFrame:
    """DV-aware entry read: the LIVE rows of ``entries`` under ``m``'s
    declared schema — dead positions recorded in the entries' deletion
    vectors are anti-joined out on (file, row position). The single choke
    point every protocol reader (read / scan / merge / DML / CDF / compact)
    goes through, so no path can resurrect a deleted row.

    Partitioned tables may mix two physical layouts: HIVE entries (every
    commit's ``_land`` / CONVERT of a Hive directory — partition values
    live in ``key=value`` path segments, carried per entry) read grouped
    by their Hive root through Spark's native partition discovery (one
    relation per data dir, values typed by the declared schema), and FLAT
    entries (an older engine's DML rewrites, or a data-source append onto
    exotic partition types, store partition columns as ordinary data
    columns) read through the plain declared-schema path.
    Group count is O(data dirs touched), which compaction keeps folded —
    never O(partitions)."""
    dvd = [e for e in entries if e.get("dv")]
    if (lineage or dvd) and "schema" in m:
        declared = {f["name"] for f in json.loads(m["schema"]).get("fields", [])}
        taken = declared & {_SN_FILE, _SN_POS}
        if taken:
            raise ValueError(
                f"column names {sorted(taken)} are reserved by the snapshot "
                "protocol's deletion-vector/lineage machinery"
            )
    want_lineage = lineage or bool(dvd)

    def _full(e: dict) -> str:
        return (
            e["path"] if os.path.isabs(e["path"]) else os.path.join(path, e["path"])
        )

    flat = [_full(e) for e in entries if not e.get("partition")]
    hive_groups: dict[str, list[str]] = {}
    for e in entries:
        part = e.get("partition")
        if part:
            fp = _full(e)
            root = "/".join(fp.split("/")[: -(1 + len(part))])
            hive_groups.setdefault(root, []).append(fp)
    parts_df: list[DataFrame] = []
    if flat:
        parts_df.append(_read_declared(spark, m, flat, lineage=want_lineage))
    for root in sorted(hive_groups):
        parts_df.append(
            _read_declared(
                spark, m, hive_groups[root], lineage=want_lineage,
                hive_root=root,
            )
        )
    if not parts_df:
        from pyspark.sql.types import StructType

        base = spark.createDataFrame(
            [], schema=StructType.fromJson(json.loads(m["schema"]))
        )
    else:
        base = parts_df[0]
        for p in parts_df[1:]:
            base = base.unionByName(p)
    if dvd:
        refs = sorted({e["dv"]["ref"] for e in dvd})
        dead = spark.read.parquet(
            *[_dv_ref_path(path, r) for r in refs]
        ).select(
            F.col(_DV_FILE).alias(_SN_FILE), F.col(_DV_POS).alias(_SN_POS)
        )
        n_dead = sum(e["dv"].get("n", 0) for e in dvd)
        if n_dead <= _DV_BROADCAST_MAX:
            dead = F.broadcast(dead)
        base = base.join(dead, [_SN_FILE, _SN_POS], "left_anti")
    if not lineage and dvd:
        base = base.drop(_SN_FILE, _SN_POS)
    return base


# Commit-race backoff: a create_exclusive loser re-lists, rebuilds and
# re-claims immediately today — at 1000-writer contention on an object
# store that is a hot retry loop against the metadata endpoint (plus
# conditional-PUT request charges). Full-jitter exponential backoff (the
# AWS-documented scheme: sleep ~ U[0, min(cap, base*2^n)]) de-synchronizes
# the losers; the FIRST attempt never sleeps.
_COMMIT_BACKOFF_BASE = 0.02
_COMMIT_BACKOFF_MAX = 2.0


def _commit_backoff_delay(attempt: int) -> float:
    """Seconds to sleep before retry number ``attempt`` (1-based): full
    jitter over an exponentially growing, capped window."""
    import random

    cap = min(_COMMIT_BACKOFF_MAX, _COMMIT_BACKOFF_BASE * (2 ** (attempt - 1)))
    return random.uniform(0.0, cap)


def _commit(
    path: str, build: Callable[[dict | None, int], dict], op: str | None = None
) -> int:
    """Atomically claim the next version. ``build(latest_manifest, version)``
    is re-invoked against the FRESH latest manifest on every attempt, so a
    loser of a commit race rebases on (or rejects, by raising) the state the
    winner left — never blindly re-commits a stale view (lost update).
    ``op`` stamps the committing operation into the manifest for
    ``snapshot_history`` (DESCRIBE HISTORY parity). Contended commits
    back off with full jitter between attempts and stamp their attempt
    count (``commit_attempts``) into the manifest — contention telemetry
    readable through DESCRIBE HISTORY."""
    _fs().mkdirs(_manifest_dir(path))
    attempt = 0
    txn_waits = 0
    while True:
        if attempt:
            time.sleep(_commit_backoff_delay(attempt))
        raw, hints = _list_versions_raw(path)
        # the claim number AND the build base derive from this ONE
        # listing — two listings would race a concurrent commit into the
        # gap (claim past it, build without it: lost update)
        versions = _filter_visible(path, raw, hints)
        # PENDING-staged gate: committing past another transaction's
        # undecided staged version would be a lost update when it
        # publishes. Wait briefly (it is about to publish or abort);
        # decide 'aborted' ourselves when it is stale (the stager
        # crashed); raise when a young one keeps the slot contended.
        own = _active_txn()
        vis_set = set(versions)
        pending_block = False
        for v in raw:
            if v in vis_set or v not in hints:
                continue
            m_v = _read_manifest(path, v)
            st = m_v.get("staged_txn")
            if st is None or (own is not None and own.id == st["id"]):
                continue
            state = _txn_state(path, st)
            if state != "pending":
                continue  # aborted: a permanent hole; published: visible
            age = time.time() - (m_v.get("committed_at") or 0)
            if age >= _STAGED_TXN_TIMEOUT:
                # one decision file: whoever claims it first wins, so this
                # never reverts a transaction that published concurrently
                _fs().mkdirs(os.path.dirname(st["final"]))
                _fs().create_exclusive(st["final"], "aborted")
                if _txn_state(path, st) == "published":
                    pending_block = True  # it won: re-list, it is visible
                continue
            pending_block = True
        if pending_block:
            txn_waits += 1
            if txn_waits > _STAGED_WAIT_ATTEMPTS:
                raise ConcurrentSnapshotError(
                    f"{path}: a concurrent staged transaction holds a "
                    "pending version; retry after it publishes or aborts"
                )
            attempt += 1
            continue
        latest = _read_manifest(path, versions[-1]) if versions else None
        # min_writer gate (Delta minWriterVersion): refuse BEFORE building
        # or claiming anything — an older writer committing onto a
        # feature-bearing table would carry state it doesn't understand.
        need_w = (latest or {}).get("min_writer", 1)
        if need_w > _WRITER_VERSION:
            raise UnsupportedSnapshotProtocolError(
                f"{path} needs protocol writer {need_w}; this engine "
                f"implements {_WRITER_VERSION} — upgrade before writing"
            )
        # claim numbering is over the RAW sequence: aborted/pending holes
        # keep their slot (their manifest file exists), so the next claim
        # must always be one past the highest CLAIMED version
        version = (raw[-1] if raw else 0) + 1
        manifest = build(latest, version)
        manifest["version"] = version
        manifest["committed_at"] = time.time()
        # builders that start from a copy of the previous manifest must
        # not inherit ITS contention telemetry or transaction marker
        manifest.pop("commit_attempts", None)
        manifest.pop("staged_txn", None)
        if op is not None:
            # Assignment, not setdefault: builders that start from a copy of
            # the previous manifest (constraints, schema evolution, rollback)
            # would otherwise inherit the PREVIOUS commit's op.
            manifest["op"] = op
        # Sticky table metadata: CHECK constraints and maintenance
        # bookkeeping (the applied-source-version keys incremental view
        # maintenance records) survive every commit type (overwrite,
        # append, merge, compact, zorder, schema evolution) unless the
        # build explicitly sets the key. Without the carry, compacting a
        # maintained view would drop its applied-version keys and wedge
        # the maintainer (rollback restores the TARGET's keys explicitly).
        for sticky in (
            "constraints",
            "generated",
            "identity",
            "stream_txn",
            "source_version",
            "maint_fact_version",
            "maint_dim_version",
            # partitioning is immutable table metadata: every commit type
            # (append/merge/DML/compact/schema evolution) carries it; only
            # an explicit overwrite may re-declare it
            "partition_cols",
        ):
            if sticky not in manifest and latest and latest.get(sticky) is not None:
                manifest[sticky] = latest[sticky]
        # Above _DELTA_MANIFEST_MIN_FILES files, store adds/removes against
        # the base version instead of the full list — O(changed files)
        # commit metadata (Delta's delta-log + checkpoint design).
        manifest = _maybe_delta_files(path, manifest, latest)
        # Oversized FULL manifests (the periodic checkpoints delta chains
        # rebase on) externalize their file list to a columnar parquet
        # sidecar — the JSON manifest stays a tiny pointer.
        manifest = _maybe_parquet_checkpoint(path, manifest, version)
        # staged transaction: the commit lands invisible (and demands
        # reader/writer 4 — older engines must refuse rather than treat a
        # pending version as committed state)
        if own is not None:
            manifest["staged_txn"] = {"id": own.id, "final": own.final}
            manifest["min_reader"] = max(manifest.get("min_reader", 1), 4)
        # stamp the writer requirement: the max of this commit's features
        # and the table's standing requirement (never silently downgrade)
        need = max(_required_writer(manifest), need_w)
        if need > 1:
            manifest["min_writer"] = need
        if attempt:
            manifest["commit_attempts"] = attempt + 1
        if own is not None:
            # listing-visible hint BEFORE the claim: resolvers only pay a
            # manifest read for versions the listing flags (a stale hint
            # from a lost claim race is harmless — the manifest decides)
            _fs().write_atomic(
                os.path.join(_manifest_dir(path), f"{version}.staged.json"),
                own.id,
            )
        target = os.path.join(_manifest_dir(path), f"{version}.json")
        # claim-once commit: O_EXCL locally, conditional PUT on an object
        # store (see SnapshotFS) — the loser of a race rebuilds, backs
        # off (top of loop) and retries
        if _fs().create_exclusive(target, json.dumps(manifest)):
            return version
        attempt += 1


_DATA_DIR_SEQ = __import__("itertools").count()


def _new_data_dir(path: str) -> tuple[str, str]:
    versions = snapshot_versions(path)
    hint = (versions[-1] if versions else 0) + 1
    # pid + ms alone COLLIDE for two threads of one process landing data
    # in the same millisecond (observed in the thread-stress test as an
    # AnalysisException from mode("error")); the process-wide counter
    # makes the name unique per claim.
    rel = f"v={hint}-{os.getpid()}-{int(time.time() * 1000)}-{next(_DATA_DIR_SEQ)}"
    return rel, os.path.join(path, rel)


def _land(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    cur: dict,
    stats_cols: Sequence[str] = (),
    bloom_cols: Sequence[str] = (),
) -> tuple[list[dict], int]:
    """THE landing path: write ``df`` (logical columns) as a new data dir
    of the table at ``path`` whose manifest is ``cur``, and return its
    ``(entries, n_rows)``. Every snapshot operation that writes table data
    lands it here, in the table's own layout:

    - files store the PHYSICAL names of ``cur``'s column mapping;
    - the layout is Hive (``partitionBy`` on the physical partition
      columns) exactly when ``cur`` declares ``partition_cols``, so every
      file of a partitioned table holds one partition tuple with exact
      ``[v, v]`` stats on it;
    - min/max stats go on the table's stats columns in use plus the
      ``stats_cols`` the caller names (logical);
    - Bloom filters go on the table's Bloom columns in use plus
      ``bloom_cols``, on flat layouts only; a partitioned table refuses
      ``bloom_cols``.

    A failed landing removes its data dir."""
    mapping = _mapping(cur)
    pcols = [_phys(mapping, c) for c in cur.get("partition_cols") or []]
    phys_df = _to_physical_df(df, mapping)
    if pcols and bloom_cols:
        # one partitionBy job reuses part-file names across partition
        # dirs, and the bloom sidecar is keyed by file name
        raise ValueError(
            "bloom_cols are not supported on partitioned writes: part-file "
            "names repeat across partition directories and the bloom "
            "sidecar is keyed by file name"
        )

    def cols(in_use: list, named: Sequence[str]) -> list:
        # the table's discipline (less a column a later schema change
        # dropped) plus the caller's; partition stats are exact already
        return [
            c
            for c in dict.fromkeys([
                *[c for c in in_use if c in phys_df.columns],
                *[_phys(mapping, c) for c in named],
            ])
            if c not in pcols
        ]

    stats = cols(_stats_cols_in_use(cur, path), stats_cols)
    blooms = [] if pcols else cols(_bloom_cols_in_use(path, cur), bloom_cols)
    rel, full = _new_data_dir(path)
    try:
        w = phys_df.write.mode("error")
        (w.partitionBy(*pcols) if pcols else w).parquet(full)
        return _scan_file_entries(
            spark, full, rel, stats, blooms,
            partition_cols=pcols, read_schema=phys_df.schema,
        )
    except Exception:
        # nothing references the dir yet: a failed landing leaves none
        with contextlib.suppress(OSError):
            _fs().delete_tree(full)
        raise


def snapshot_write(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str] = (),
    manifest_extra: dict | None = None,
    bloom_cols: Sequence[str] = (),
    partition_by: Sequence[str] | None = None,
) -> int:
    """Overwrite: land a new immutable data dir, then commit. Returns the
    new version. Readers of older versions are unaffected (their files are
    never touched). ``stats_cols`` adds per-file min/max stats to the
    manifest so later ``snapshot_merge`` calls can prune files;
    ``bloom_cols`` adds per-file Bloom bitsets so ``snapshot_scan`` can
    skip files on point lookups over unsorted high-cardinality columns;
    ``manifest_extra`` merges caller metadata into the manifest.

    ``partition_by`` (Delta ``partitionBy`` parity) lands a HIVE layout —
    ``df.write.partitionBy`` strips the partition columns into ``key=value``
    directories, so every file holds exactly one partition tuple — and
    records the declaration in the manifest (``partition_cols``, sticky
    across every later commit). Partition values fold into per-file
    ``stats`` as exact ``[v, v]`` ranges, so partition pruning, OCC
    partition-disjointness, and OPTIMIZE WHERE scoping ride the existing
    stats machinery (reference parity: ``process_historical_data.py:75``'s
    ``partitionBy("year","month")`` Delta fact table). An overwrite that
    OMITS ``partition_by`` on a partitioned table keeps the existing
    partitioning (Delta overwrite semantics); passing an explicit empty
    list de-partitions the table."""
    latest0 = _latest_manifest(path)
    if partition_by is None:
        partition_by = (
            list(latest0.get("partition_cols") or []) if latest0 else []
        )
    else:
        partition_by = list(partition_by)
    _validate_partition_decl(df, partition_by)
    df = _apply_generated(df, path, "overwrite")
    _enforce_constraints(df, path, "overwrite")
    df, _ident_unpin = _assign_identity(df, path, "overwrite")
    # the layout comes from the arguments: an overwrite may re-partition
    files, n = _land(
        df.sparkSession, path, df, {"partition_cols": partition_by},
        stats_cols, bloom_cols,
    )
    if _ident_unpin:
        _ident_unpin()
    schema_json = df.schema.json()

    def build(latest: dict | None, version: int) -> dict:
        # Overwrite replaces whatever the latest state is — no rebase needed.
        return {
            "data_dirs": _dirs_of(files),
            "files": files,
            "n_rows": n,
            "schema": schema_json,
            # explicit None blocks the sticky carry when an overwrite
            # deliberately de-partitions the table
            "partition_cols": partition_by or None,
            **(manifest_extra or {}),
        }

    return _commit(path, build, op="write")


def _validate_partition_decl(df: DataFrame, partition_by: Sequence[str]) -> None:
    if not partition_by:
        return
    missing = [c for c in partition_by if c not in df.columns]
    if missing:
        raise ValueError(f"partition_by columns not in the data: {missing}")
    if "v" in partition_by:
        # data dirs are named "v=<hint>-<pid>-<ms>-<seq>": a partition
        # column named v would make the layout ambiguous to the walker
        raise ValueError("'v' is reserved by the snapshot protocol's data-dir naming")
    if len(partition_by) == len(df.columns):
        raise ValueError("cannot partition by every column (no data columns left)")


def snapshot_append(
    df: DataFrame,
    path: str,
    stats_cols: Sequence[str] = (),
    manifest_extra: dict | None = None,
    bloom_cols: Sequence[str] = (),
    merge_schema: bool = False,
) -> int:
    """Append as a NEW version: new data dir + manifest carrying the current
    version's files by reference — metadata-only append, no data rewrite.
    Schema must match the current version exactly (S6 strict-append
    contract) — unless ``merge_schema`` (Delta ``mergeSchema`` parity):
    NEW incoming columns widen the table schema in the same commit
    (appended as nullable; existing files null-fill them on read through
    the declared-schema machinery), while common columns must still
    type-match exactly and existing columns may not be dropped — additive
    evolution only, no silent narrowing or retyping. On a commit race the
    loser rebases onto the winner's file list (and, with ``merge_schema``,
    re-merges against the winner's schema), so concurrent appends both
    survive. ``manifest_extra`` merges caller metadata into the committed
    manifest (used by the ingest ledger to record its pending-file batch
    atomically with the data)."""
    if not snapshot_versions(path):
        return snapshot_write(
            df, path, stats_cols, manifest_extra=manifest_extra,
            bloom_cols=bloom_cols,
        )
    df = _apply_generated(df, path, "append")
    _enforce_constraints(df, path, "append")
    df, _ident_unpin = _assign_identity(df, path, "append")
    latest0 = _latest_manifest(path) or {}
    mapping = _mapping(latest0)
    if merge_schema and latest0.get("schema") and not _schema_equiv(
        df.schema.json(), latest0["schema"]
    ):
        # validate BEFORE the physical write (a physical-name collision
        # must fail here, loudly, not as a parquet duplicate-column error);
        # the build re-merges against the fresh manifest on a race
        _merged_schema_json(path, latest0["schema"], df.schema.json(), mapping)
    _validate_partition_decl(df, latest0.get("partition_cols") or [])
    # appends land the table's own layout and keep its stats discipline
    new_files, n = _land(
        df.sparkSession, path, df, latest0, stats_cols, bloom_cols
    )
    if _ident_unpin:
        _ident_unpin()
    schema_json = df.schema.json()

    def build(latest: dict | None, version: int) -> dict:
        if latest is None:
            return {
                "data_dirs": _dirs_of(new_files),
                "files": new_files,
                "n_rows": n,
                "schema": schema_json,
                **(manifest_extra or {}),
            }
        if _mapping(latest) != mapping:
            raise ConcurrentSnapshotError(
                f"{path}: column mapping changed during append; retry"
            )
        if _schema_equiv(schema_json, latest["schema"]):
            out_schema = schema_json
        elif merge_schema:
            # re-merged per commit attempt so a lost race folds the
            # WINNER's evolution in too (both new columns land)
            out_schema = _merged_schema_json(path, latest["schema"], schema_json, mapping)
        else:
            raise ValueError(
                f"append schema mismatch at {path}: manifest={latest['schema']} "
                f"incoming={schema_json} (pass merge_schema=True to widen "
                "with the new columns)"
            )
        base = _manifest_files(path, latest)
        files = base + new_files
        base_rows = latest["n_rows"]
        out = {
            "data_dirs": _dirs_of(files),
            "files": files,
            "n_rows": base_rows + n,
            "schema": out_schema,
            **(manifest_extra or {}),
        }
        widened = _widened_cols(latest["schema"], out_schema)
        if widened:
            # records the type-widening event (DESCRIBE HISTORY) and, via
            # _required_writer, bumps min_writer on the table — the Delta
            # typeWidening table-feature discipline
            out["widened"] = widened
        if mapping:
            out["column_mapping"] = mapping
        return out

    return _commit(path, build, op="append")


def _widened_cols(old_json: str, new_json: str) -> dict:
    """{col: [old_type, new_type]} for common fields whose declared type
    changed between two schema versions (only safe widenings can)."""
    old = {f["name"]: f["type"] for f in json.loads(old_json)["fields"]}
    new = {f["name"]: f["type"] for f in json.loads(new_json)["fields"]}
    return {
        c: [old[c], new[c]]
        for c in old
        if c in new and old[c] != new[c]
        and isinstance(old[c], str) and isinstance(new[c], str)
    }


def _merged_schema_json(
    path: str, table_json: str, incoming_json: str, mapping: dict | None = None
) -> str:
    """Delta mergeSchema rule: table fields keep their order; incoming-only
    fields append as NULLABLE; a table field the incoming frame omits
    null-fills on read (the schema-evolution machinery old files already
    use). Common fields with different types: a SAFE WIDENING (Delta 3.x
    type-widening lattice — byte/short/int up to long, float to double)
    widens the declared type to the wider of the two in the same commit;
    everything else refuses — no silent retypes or narrowings. Old files
    stay readable because every read goes through the declared schema and
    Spark's parquet reader upcasts int32->int64 / float->double natively.
    A new name colliding with a renamed column's PHYSICAL name refuses
    too: files store physical names, so the collision would make old
    files' data ambiguous."""
    from pyspark.sql.types import StructField, StructType

    table = StructType.fromJson(json.loads(table_json))
    incoming = StructType.fromJson(json.loads(incoming_json))
    by_name = {f.name: f for f in incoming.fields}
    table_names = {t.name for t in table.fields}
    phys_taken = {
        p for l, p in (mapping or {}).items() if p not in table_names
    }
    out_fields = []
    for f in table.fields:
        inc = by_name.get(f.name)
        if inc is None or inc.dataType == f.dataType:
            out_fields.append(f)
        elif _widens(f.dataType, inc.dataType):
            # incoming is wider: widen the declaration (old narrow files
            # upcast on read through the declared schema)
            out_fields.append(StructField(f.name, inc.dataType, True, f.metadata))
        elif _widens(inc.dataType, f.dataType):
            # incoming is narrower: keep the wider declaration; the landed
            # file upcasts on read like any pre-widening file
            out_fields.append(f)
        else:
            raise ValueError(
                f"mergeSchema append at {path}: column {f.name!r} is "
                f"{f.dataType.simpleString()} in the table but "
                f"{inc.dataType.simpleString()} incoming — only safe "
                "widenings (byte/short/int->long, float->double) evolve; "
                "no silent retypes"
            )
    for f in incoming.fields:
        if f.name not in table_names and f.name in phys_taken:
            raise ValueError(
                f"mergeSchema append at {path}: new column {f.name!r} "
                "collides with a renamed column's stored physical name; "
                "pick another name"
            )
    new = [
        StructField(f.name, f.dataType, nullable=True)
        for f in incoming.fields
        if f.name not in table_names
    ]
    return StructType(out_fields + new).json()


# Safe type-widening lattice (Delta 3.x typeWidening): reading a narrow
# parquet file through the wider declared type is lossless and supported
# natively by Spark's vectorized reader. Anything not listed (e.g.
# long->int, double->float, string<->numeric) refuses.
_WIDEN_UP = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def _widens(narrow, wide) -> bool:
    """True when ``narrow -> wide`` is a safe (lossless) widening."""
    return wide.typeName() in _WIDEN_UP.get(narrow.typeName(), set())


def _stats_repr(v, instant: bool = False):
    """JSON-safe representation of a min/max stat value: datetime/date ->
    ISO-8601 strings (``_skip_key`` parses them back by the column's
    type); int/float/str/bool pass through. Anything else (Decimal,
    bytes, ...) -> None, which the skip rule treats as "must assume the
    file matches" — pruning stays conservative rather than risking a
    wrongly skipped file. With ``instant`` (a TIMESTAMP column, which
    ``collect()`` returns as this process's local wall clock, DST fold
    kept) a naive datetime is stored as the instant, with its offset."""
    if isinstance(v, _dt.datetime) and instant and v.tzinfo is None:
        try:
            v = v.astimezone()
        except (OverflowError, OSError, ValueError):
            return None
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if v is None or isinstance(v, (int, float, str)):
        return v
    return None


def _expr_references(expr: str, col: str) -> bool:
    """Conservative word-boundary test: does the constraint SQL mention the
    column? Backticks are stripped first so a quoted identifier
    (``\\`seq\\` > 0``) matches its bare name — without this the rename/
    drop guards would let a constrained column go and poison every later
    write. (Over-matching — e.g. the name inside a string literal — errs
    on the safe side: it blocks the schema change until the constraint is
    dropped.)"""
    import re

    return (
        re.search(
            rf"(?<![A-Za-z0-9_]){re.escape(col)}(?![A-Za-z0-9_])",
            expr.replace("`", ""),
        )
        is not None
    )


def _enforce_constraints(df: DataFrame, path: str, op: str) -> None:
    """Reject ``df`` if any row violates a table CHECK constraint. One
    filtered ``take`` over the INCOMING batch only (existing rows were
    validated when they landed or when the constraint was added) — O(batch)
    at any table size, and Spark stops the scan at the first violation."""
    latest = _latest_manifest(path)
    cons = (latest or {}).get("constraints") or {}
    if not cons:
        return
    viol = df.filter(
        ~functools.reduce(
            lambda a, b: a & b,
            [F.coalesce(F.expr(e), F.lit(False)) for e in cons.values()],
        )
    )
    bad = viol.take(1)
    if bad:
        raise ConstraintViolationError(
            f"{op} at {path} violates CHECK constraint(s) "
            f"{sorted(cons)}: example row {bad[0].asDict()}"
        )


def _commit_metadata(
    path: str,
    op: str,
    key: str,
    value: Callable[[dict], object],
    validated_v: int | None = None,
    doing: str = "",
) -> int:
    """Commit tail of a metadata-only operation: the new version is the
    latest manifest (same files, zero bytes rewritten) with ``key`` set to
    ``value(latest)`` and ``data_change=False``. ``value`` raises when the
    change no longer applies to ``latest`` (a dropped name that is gone).

    With ``validated_v``, the version a validation scan proved the change
    against, any commit landing after it refuses with
    ``ConcurrentSnapshotError`` (``doing`` names the change): data moved
    under the scan and the proof is stale. Without it, only a vanished
    table refuses (``FileNotFoundError``)."""

    def build(latest: dict | None, _version: int) -> dict:
        if validated_v is not None:
            if latest is None or latest["version"] != validated_v:
                raise ConcurrentSnapshotError(
                    f"{path}: table advanced past validated version "
                    f"{validated_v} while {doing}; retry"
                )
        elif latest is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        out = {k: v for k, v in latest.items() if k not in ("version", "committed_at")}
        out[key] = value(latest)
        out["data_change"] = False
        return out

    return _commit(path, build, op=op)


def snapshot_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ADD CONSTRAINT parity: validate the CURRENT data
    satisfies ``expr`` (one filtered scan — rows where the predicate is
    false OR null fail, matching Delta's CHECK semantics), then commit the
    constraint as table metadata (data_change=false; zero bytes
    rewritten). Every later write/append/merge validates its incoming
    batch against the constraint set. NOT NULL is the special case
    ``col IS NOT NULL``."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    validated_v = versions[-1]
    cur = _read_manifest(path, validated_v)
    if name in (cur.get("constraints") or {}):
        raise ValueError(f"constraint {name!r} already exists at {path}")
    bad = (
        snapshot_read(spark, path, validated_v)
        .filter(~F.coalesce(F.expr(expr), F.lit(False)))
        .take(1)
    )
    if bad:
        raise ConstraintViolationError(
            f"cannot add CHECK constraint {name!r} ({expr}) at {path}: "
            f"existing row violates it: {bad[0].asDict()}"
        )
    return _commit_metadata(
        path, "add_constraint", "constraints",
        lambda latest: {**(latest.get("constraints") or {}), name: expr},
        validated_v=validated_v, doing=f"adding constraint {name!r}",
    )


def snapshot_drop_constraint(path: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT parity: metadata-only commit removing
    the named constraint; raises KeyError if absent."""

    def without(latest: dict) -> dict:
        cons = dict(latest.get("constraints") or {})
        if name not in cons:
            raise KeyError(f"no constraint {name!r} at {path}")
        del cons[name]
        return cons

    return _commit_metadata(path, "drop_constraint", "constraints", without)


def _normalize_nullability(dt):
    """Recursively set every nullable/containsNull flag true and drop field
    metadata — the shape used by :func:`_schema_equiv`."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _normalize_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_normalize_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _normalize_nullability(dt.keyType),
            _normalize_nullability(dt.valueType),
            True,
        )
    return dt


def _schema_equiv(a_json: str, b_json: str) -> bool:
    """Schema compatibility for append/merge: same column names, order and
    types; nullability flags and field metadata are IGNORED (Delta parity —
    Delta compares by name/type and enforces non-nullness through NOT NULL
    constraints, which this protocol expresses as CHECK constraints). A
    literal-valued batch (non-nullable plan columns) must be appendable to
    a table created from a nullable frame, and vice versa."""
    if a_json == b_json:
        return True
    from pyspark.sql.types import StructType

    a = StructType.fromJson(json.loads(a_json))
    b = StructType.fromJson(json.loads(b_json))
    return _normalize_nullability(a) == _normalize_nullability(b)


def _generated(m: dict | None) -> dict:
    """The table's generated-column rules {col: sql_expr} (Delta
    ``GENERATED ALWAYS AS`` parity) from a manifest."""
    return (m or {}).get("generated") or {}


def _validate_generated(df: DataFrame, rules: dict, path: str, op: str) -> None:
    """Reject rows whose generated column does not equal its expression
    (null-safe, after casting the expression to the column's type so both
    sides compare in the declared type). One ``take`` over the incoming
    rows only — O(batch)."""
    if not rules:
        return
    conds = [
        F.col(c).eqNullSafe(F.expr(e).cast(df.schema[c].dataType))
        for c, e in rules.items()
        if c in df.columns
    ]
    if not conds:
        return
    bad = df.filter(~functools.reduce(lambda a, b: a & b, conds)).take(1)
    if bad:
        raise ConstraintViolationError(
            f"{op} at {path} violates GENERATED ALWAYS AS rule(s) "
            f"{sorted(rules)}: example row {bad[0].asDict()}"
        )


def snapshot_set_identity(
    spark: SparkSession, path: str, col: str, start: int = 1, step: int = 1
) -> int:
    """GENERATED ALWAYS AS IDENTITY parity: declare ``col`` (an existing
    BIGINT column) as the table's identity column. From then on
    ``snapshot_write``/``snapshot_append`` REJECT batches that supply the
    column and auto-assign monotonically advancing values instead —
    unique across concurrent writers, assigned distributed (per-partition
    offset blocks, no shuffle, no global sort), with Delta's gap
    semantics: a writer reserves its id range in a metadata commit BEFORE
    landing data, so a crashed or aborted write burns its range rather
    than ever reusing ids. The watermark (``next``) never moves backward —
    RESTORE keeps the newest watermark, exactly like Delta RESTORE.

    Scope (documented divergence): auto-assignment covers write/append
    (including the streaming ``foreach_batch`` append path); MERGE insert
    clauses do not auto-assign — a merge into an identity table manages
    the column explicitly (typically it IS the merge key).
    """
    if step == 0:
        raise ValueError("identity step must be nonzero")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    validated_v = versions[-1]
    cur = _read_manifest(path, validated_v)
    if cur.get("identity"):
        raise ValueError(
            f"{path} already has identity column "
            f"{cur['identity']['col']!r}; drop it first"
        )
    fields = {
        f["name"]: f["type"] for f in json.loads(cur["schema"]).get("fields", [])
    }
    if col not in fields:
        raise ValueError(f"no column {col!r} at {path}")
    if fields[col] != "long":
        raise ValueError(
            f"identity column {col!r} must be BIGINT, is {fields[col]}"
        )
    nxt = start
    if cur.get("n_rows"):
        agg = F.max(col) if step > 0 else F.min(col)
        got = snapshot_read(spark, path, validated_v).agg(
            agg.alias("_b"), F.count(col).alias("_n"), F.count(F.lit(1)).alias("_r")
        ).first()
        if got["_n"] != got["_r"]:
            raise ValueError(
                f"identity column {col!r} has nulls; backfill before declaring"
            )
        bound = got["_b"]
        if bound is not None:
            cand = bound + step
            nxt = cand if (cand - start) * step >= 0 else start
    return _commit_metadata(
        path, "set_identity", "identity",
        lambda _latest: {"col": col, "next": nxt, "step": step},
        validated_v=validated_v, doing=f"declaring identity on {col!r}",
    )


def snapshot_drop_identity(path: str) -> int:
    """Remove the identity declaration (metadata-only; values stay)."""

    def cleared(latest: dict) -> None:
        if not latest.get("identity"):
            raise KeyError(f"no identity column at {path}")

    return _commit_metadata(path, "drop_identity", "identity", cleared)


def _assign_identity(df: DataFrame, path: str, op: str):
    """Write-path half of identity columns. Returns ``(df, cleanup)``:
    when the table declares an identity column, the incoming frame must
    NOT carry it (GENERATED ALWAYS); this reserves ``step * count`` ids in
    a claim-once metadata commit, then assigns them with one
    ``mapInPandas`` over the PERSISTED input — per-partition offset blocks
    (O(partitions) driver metadata), contiguous within the batch, no
    shuffle. ``cleanup`` unpersists the pin and must run after the
    downstream parquet write consumed the frame."""
    latest = _latest_manifest(path)
    ident = (latest or {}).get("identity")
    if not ident:
        return df, None
    col, step = ident["col"], ident["step"]
    if col in df.columns:
        raise ValueError(
            f"{col!r} is GENERATED ALWAYS AS IDENTITY at {path}; writers "
            f"cannot supply it (op={op}) — drop the column from the batch"
        )
    from pyspark.sql.types import StructField, StructType

    df = df.persist()
    counts = {
        r["_pid"]: r["_n"]
        for r in df.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    total = sum(counts.values())
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    base_holder: dict = {}

    def build(latest_m: dict | None, _version: int) -> dict:
        cur = (latest_m or {}).get("identity")
        if not cur or cur["col"] != col:
            raise ConcurrentSnapshotError(
                f"{path}: identity column dropped/changed during {op}; retry"
            )
        base_holder["base"] = cur["next"]
        out = {
            k: v for k, v in latest_m.items() if k not in ("version", "committed_at")
        }
        out["identity"] = {**cur, "next": cur["next"] + cur["step"] * total}
        out["data_change"] = False
        return out

    _commit(path, build, op="identity_reserve")
    base = base_holder["base"]

    stored = StructType.fromJson(json.loads(latest["schema"]))
    if sorted(df.columns) == sorted(n for n in stored.fieldNames() if n != col):
        out_schema = StructType(
            [f for f in stored.fields if f.name in set(df.columns) | {col}]
        )
    else:  # overwrite with a fresh shape: identity lands last
        out_schema = StructType(
            list(df.schema.fields) + [StructField(col, stored[col].dataType, False)]
        )
    names = out_schema.fieldNames()

    def gen(batches):
        import numpy as np
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        used = base + step * offsets.get(pid, 0)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[col] = np.arange(len(pdf), dtype="int64") * step + used
            used += step * len(pdf)
            yield pdf[names]

    return df.mapInPandas(gen, schema=out_schema), (lambda: df.unpersist())


def _apply_generated(df: DataFrame, path: str, op: str, exempt=None) -> DataFrame:
    """Write-path half of generated columns: AUTO-FILL rules whose column
    is absent from the incoming frame (computed from the batch's base
    columns, cast to the declared type, reordered to the stored schema),
    and VALIDATE rules whose column the writer provided — a write cannot
    smuggle a value that disagrees with the expression. ``exempt`` marks
    rows excluded from validation (MERGE tombstone payloads, which never
    land)."""
    from pyspark.sql.types import StructType

    latest = _latest_manifest(path)
    rules = _generated(latest)
    if not rules:
        return df
    sch = StructType.fromJson(json.loads(latest["schema"]))
    types = {f.name: f.dataType for f in sch.fields}
    missing = [c for c in rules if c not in df.columns]
    for c in missing:
        df = df.withColumn(c, F.expr(rules[c]).cast(types.get(c)))
    if missing:
        # put auto-filled columns in stored-schema position so the strict
        # append/merge schema check sees the declared order
        stored_order = [c for c in sch.fieldNames() if c in df.columns]
        extra = [c for c in df.columns if c not in stored_order]
        df = df.select(*stored_order, *extra)
    present = {c: e for c, e in rules.items() if c not in missing}
    check_df = df.filter(~exempt) if exempt is not None else df
    _validate_generated(check_df, present, path, op)
    return df


def snapshot_set_generated(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """ALTER TABLE ... GENERATED ALWAYS AS parity: declare ``col`` to be
    defined by ``expr`` over the row's other columns. Validates the
    CURRENT data satisfies the rule (one filtered scan), then commits it
    as metadata (data_change=false, zero bytes rewritten). From then on
    every write path auto-fills the column when absent and validates it
    when provided; predicate UPDATEs recompute it from the post-update
    base values and reject direct assignment; rename/drop of the column
    or any column its expression references is blocked until the rule is
    dropped."""
    from pyspark.sql.types import StructType

    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    validated_v = versions[-1]
    cur = _read_manifest(path, validated_v)
    sch = StructType.fromJson(json.loads(cur["schema"]))
    if col not in sch.fieldNames():
        raise ValueError(f"snapshot_set_generated: {col!r} not in schema")
    if col in _generated(cur):
        raise ValueError(f"generated rule for {col!r} already exists at {path}")
    if _expr_references(expr, col):
        raise ValueError(
            f"snapshot_set_generated: {col!r} expression references itself"
        )
    ctype = {f.name: f.dataType for f in sch.fields}[col]
    bad = (
        snapshot_read(spark, path, validated_v)
        .filter(~F.col(col).eqNullSafe(F.expr(expr).cast(ctype)))
        .take(1)
    )
    if bad:
        raise ConstraintViolationError(
            f"cannot set GENERATED ALWAYS AS on {col!r} ({expr}) at {path}: "
            f"existing row disagrees: {bad[0].asDict()}"
        )
    return _commit_metadata(
        path, "set_generated", "generated",
        lambda latest: {**_generated(latest), col: expr},
        validated_v=validated_v, doing=f"setting generated rule on {col!r}",
    )


def snapshot_drop_generated(path: str, col: str) -> int:
    """Remove a generated-column rule (metadata-only commit); the column
    itself stays, as ordinary data."""

    def without(latest: dict) -> dict:
        rules = dict(_generated(latest))
        if col not in rules:
            raise KeyError(f"no generated rule for {col!r} at {path}")
        del rules[col]
        return rules

    return _commit_metadata(path, "drop_generated", "generated", without)


def _entry_id(e: dict) -> str:
    """Full-content identity of a manifest file entry (path + dv ref +
    stats + counts): rebase treats an entry as "unchanged by concurrent
    commits" only when the WHOLE entry is byte-identical — a concurrently
    attached deletion vector or re-stat shows up as a different id."""
    return json.dumps(e, sort_keys=True)


def _ident_decl(m: dict | None) -> tuple | None:
    """Identity declaration signature IGNORING the high-water ``next`` —
    concurrent appends legitimately advance ``next`` (the sticky carry in
    ``_commit`` keeps the winner's reservation); only a changed column or
    step invalidates an in-flight plan."""
    ident = (m or {}).get("identity")
    if not ident:
        return None
    return (ident.get("col"), ident.get("step"))


def _split_top_level_and(s: str) -> list[str] | None:
    """Split ``s`` on the keyword AND at paren/quote depth 0
    (case-insensitive); None when a depth-0 OR, or a BETWEEN anywhere (its
    embedded AND would mangle the split), makes conjunction semantics
    unsafe to assume."""
    import re

    if re.search(r"(?<![A-Za-z0-9_])BETWEEN(?![A-Za-z0-9_])", s.upper()):
        return None

    def kw_at(i: int, word: str) -> bool:
        return (
            s.upper().startswith(word, i)
            and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_"))
            and (
                i + len(word) == len(s)
                or not (s[i + len(word)].isalnum() or s[i + len(word)] == "_")
            )
        )

    parts, buf, depth, i, in_q = [], [], 0, 0, False
    while i < len(s):
        ch = s[i]
        if in_q:
            buf.append(ch)
            if ch == "'":
                in_q = False
            i += 1
            continue
        if ch == "'":
            in_q = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and kw_at(i, "AND"):
            parts.append("".join(buf))
            buf = []
            i += 3
            continue
        if depth == 0 and kw_at(i, "OR"):
            return None  # depth-0 OR: not a conjunction
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _try_iso_dt(v):
    """datetime for an ISO-ish literal/stat string (space or 'T'
    separator), else None."""
    import datetime as _dt
    import re

    if not isinstance(v, str) or not re.match(r"^\d{4}-\d{2}-\d{2}([ T]|$)", v):
        return None
    try:
        return _dt.datetime.fromisoformat(v.replace(" ", "T"))
    except ValueError:
        return None


_PRED_LIT = r"(?:'(?P<str>[^']*)'|(?P<num>-?\d+(?:\.\d+)?)|(?P<bool>(?i:true|false)))"


def _pred_parse_lit(m) -> object:
    if m.group("str") is not None:
        return m.group("str")
    if m.group("bool") is not None:
        return m.group("bool").lower() == "true"
    n = m.group("num")
    return float(n) if "." in n else int(n)


def _predicate_conjuncts(predicate: str) -> list[tuple[str, str, list]]:
    """Best-effort SOUND parse of a DML predicate into required conjuncts
    ``(col, op, values)`` — every returned conjunct MUST hold for a row to
    match. Unparseable pieces are dropped (fewer constraints = weaker but
    sound disproof); a depth-0 OR or BETWEEN voids the whole parse."""
    import re

    pieces = _split_top_level_and(predicate)
    if pieces is None:
        return []
    out: list[tuple[str, str, list]] = []
    cmp_re = re.compile(
        rf"^\s*\(?\s*`?(?P<col>[A-Za-z_][A-Za-z0-9_]*)`?\s*"
        rf"(?P<op>=|==|<=|>=|<|>)\s*{_PRED_LIT}\s*\)?\s*$"
    )
    in_re = re.compile(
        r"^\s*\(?\s*`?(?P<col>[A-Za-z_][A-Za-z0-9_]*)`?\s+(?i:IN)\s*"
        r"\((?P<body>[^()]*)\)\s*\)?\s*$"
    )
    lit_re = re.compile(rf"^\s*{_PRED_LIT}\s*$")
    for p in pieces:
        m = cmp_re.match(p)
        if m:
            op = "=" if m.group("op") == "==" else m.group("op")
            out.append((m.group("col"), op, [_pred_parse_lit(m)]))
            continue
        m = in_re.match(p)
        if m:
            vals, ok = [], True
            for item in m.group("body").split(","):
                lm = lit_re.match(item)
                if not lm:
                    ok = False
                    break
                vals.append(_pred_parse_lit(lm))
            if ok and vals:
                out.append((m.group("col"), "=", vals))
            continue
        # unparseable conjunct: dropped (sound — see docstring)
    return out


def _monotone_expr(expr: str):
    """(base_col, py_fn) for a generated-column expression that is a
    MONOTONE function of one column — the class where a range predicate
    on the base column implies a range on the generated value, so a
    partition column generated as ``year(ts)`` prunes scans whose
    predicate is on ``ts`` (Delta's generated-column partition pruning;
    SURVEY §4.1 flags exactly this: the reference's 7-day trending filter
    is on event_timestamp, not the partition cols, so its pruning never
    fires). Supported: year(c), to_date(c)/date(c), CAST(c AS DATE),
    date_trunc('year'|'month'|'week'|'day'|'hour'|'minute', c), and the
    epoch-seconds log-pipeline shapes — from_unixtime(c) (string form,
    ISO ordering keeps it monotone), year/to_date/CAST-AS-DATE/date_trunc
    over from_unixtime(c). Epoch conversion follows the engine's pinned
    UTC session timezone (session.py). month()/day() alone are NOT
    monotone across years and are deliberately absent."""
    import datetime as _dt
    import re

    def as_naive(v):
        if isinstance(v, _dt.datetime):
            return None if v.tzinfo is not None else v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, str):
            d = _try_iso_dt(v)
            return None if d is None or d.tzinfo is not None else d
        return None

    def f_year(v):
        d = as_naive(v)
        return None if d is None else d.year

    def f_date(v):
        d = as_naive(v)
        return None if d is None else d.date()

    def f_trunc(unit):
        def f(v):
            d = as_naive(v)
            if d is None:
                return None
            if unit == "year":
                return _dt.datetime(d.year, 1, 1)
            if unit == "month":
                return _dt.datetime(d.year, d.month, 1)
            if unit == "week":
                base = _dt.datetime(d.year, d.month, d.day)
                return base - _dt.timedelta(days=base.weekday())
            if unit == "hour":
                return _dt.datetime(d.year, d.month, d.day, d.hour)
            if unit == "minute":
                return _dt.datetime(d.year, d.month, d.day, d.hour, d.minute)
            return _dt.datetime(d.year, d.month, d.day)

        return f

    def as_epoch(v):
        # from_unixtime's input: epoch SECONDS (int/float, bool excluded);
        # the engine pins the session timezone UTC (session.py), so the
        # conversion is the UTC rendering Spark produces
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return None
        try:
            return _dt.datetime.fromtimestamp(v, _dt.timezone.utc).replace(
                tzinfo=None
            )
        except (OverflowError, OSError, ValueError):
            return None

    def epoch_wrap(inner_fn):
        def f(v):
            d = as_epoch(v)
            return None if d is None else inner_fn(d)

        return f

    def f_fu_str(v):
        # bare from_unixtime(c): Spark's default string form — ISO-ordered,
        # so string comparison preserves the epoch order (monotone)
        d = as_epoch(v)
        return None if d is None else d.strftime("%Y-%m-%d %H:%M:%S")

    col = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
    fu = rf"from_unixtime\s*\(\s*{col}\s*\)"
    m = re.match(rf"^\s*{fu}\s*$", expr, re.IGNORECASE)
    if m:
        return m.group(1), f_fu_str
    m = re.match(rf"^\s*year\s*\(\s*{fu}\s*\)\s*$", expr, re.IGNORECASE)
    if m:
        return m.group(1), epoch_wrap(lambda d: d.year)
    m = re.match(
        rf"^\s*(?:to_date|date)\s*\(\s*{fu}\s*\)\s*$", expr, re.IGNORECASE
    )
    if m:
        return m.group(1), epoch_wrap(lambda d: d.date())
    m = re.match(
        rf"^\s*cast\s*\(\s*{fu}\s+as\s+date\s*\)\s*$", expr, re.IGNORECASE
    )
    if m:
        return m.group(1), epoch_wrap(lambda d: d.date())
    m = re.match(
        rf"^\s*date_trunc\s*\(\s*'(year|month|week|day|hour|minute)'\s*,"
        rf"\s*{fu}\s*\)\s*$",
        expr, re.IGNORECASE,
    )
    if m:
        return m.group(2), epoch_wrap(
            lambda d, _u=m.group(1).lower(): f_trunc(_u)(d)
        )
    m = re.match(rf"^\s*year\s*\(\s*{col}\s*\)\s*$", expr, re.IGNORECASE)
    if m:
        return m.group(1), f_year
    m = re.match(
        rf"^\s*(?:to_date|date)\s*\(\s*{col}\s*\)\s*$", expr, re.IGNORECASE
    )
    if m:
        return m.group(1), f_date
    m = re.match(
        rf"^\s*cast\s*\(\s*{col}\s+as\s+date\s*\)\s*$", expr, re.IGNORECASE
    )
    if m:
        return m.group(1), f_date
    m = re.match(
        rf"^\s*date_trunc\s*\(\s*'(year|month|week|day|hour|minute)'\s*,\s*{col}\s*\)\s*$",
        expr, re.IGNORECASE,
    )
    if m:
        return m.group(2), f_trunc(m.group(1).lower())
    return None


def _derive_generated_conjuncts(m: dict, conjuncts: list) -> list:
    """Extra REQUIRED conjuncts on generated partition columns implied by
    conjuncts on their base column: ``ts >= lo`` implies
    ``year_col >= year(lo)`` for a monotone rule (``_monotone_expr``) —
    sound to add, and it makes partition [v, v] stats prune scans, DML
    discovery and OCC adds checks even when the predicate never names the
    partition column. The one derivation every skipping caller uses.

    The rule reads a datetime as the session zone's wall clock, which a
    datetime on a TIMESTAMP base column is not: a naive one is this
    process's local wall clock (what ``collect()`` returns), a zone-aware
    one an instant (a pushed data-source filter). Each is converted first;
    a local wall clock a DST fold makes ambiguous derives from the earlier
    instant for a lower bound and the later for an upper bound."""
    out = []
    gen = _generated(m)
    types = _schema_types(m)
    for g in m.get("partition_cols") or []:
        parsed = _monotone_expr(gen[g]) if gen.get(g) else None
        if not parsed:
            continue
        base, fn = parsed
        for col, op, vals in conjuncts:
            if col != base:
                continue
            if types.get(base) == "timestamp":
                walls = [_session_wall_clocks(v) for v in vals]
                if not all(walls):
                    continue
                pick = {"<": max, "<=": max, ">": min, ">=": min}.get(op)
                vals = (
                    [w for ws in walls for w in ws]
                    if pick is None
                    else [pick(ws) for ws in walls]
                )
            dvals = [_stats_repr(fn(v)) for v in vals]
            if not dvals or any(d is None for d in dvals):
                continue
            if op == "=":
                out.append((g, "=", dvals))
            elif op in ("<", "<="):
                # strict < still implies <= after flooring through fn
                out.append((g, "<=", dvals))
            elif op in (">", ">="):
                out.append((g, ">=", dvals))
    return out


def _partition_drop_split(
    files: list[dict], predicate: str, pcols: set, may_match
) -> tuple[list[dict], list[dict]] | None:
    """(dropped, kept) when the predicate is EXACTLY a conjunction of
    ``=``/``IN`` tests on partition columns and the skip rule ``may_match``
    decides every live file WHOLLY — no row can match (kept), or no row
    can lie below or above a value on each column (dropped) — the Delta
    DROP-PARTITION shape: a metadata-only commit, zero rows read. Returns
    None whenever anything is inexact (unparsed conjunct, a non-partition
    column, a file spanning values, missing stats/rows) — the caller
    falls back to the row-level scan path."""
    parsed = [_predicate_conjuncts(p) for p in _split_top_level_and(predicate) or []]
    if not parsed or any(
        len(c) != 1 or c[0][1] != "=" or c[0][0] not in pcols for c in parsed
    ):
        return None
    conj = [c[0] for c in parsed]

    def only(e: dict, col: str, v) -> bool:
        return not (
            may_match(e, [(col, "<", [v])]) or may_match(e, [(col, ">", [v])])
        )

    dropped, kept = [], []
    for e in files:
        if e.get("rows") is None:
            return None
        if not may_match(e, conj):
            kept.append(e)
        elif all(any(only(e, col, v) for v in vals) for col, _, vals in conj):
            dropped.append(e)
        else:
            return None
    return dropped, kept


def _rebase_concurrent(
    spark: SparkSession,
    path: str,
    cur: dict,
    latest: dict,
    *,
    replaced: list[dict],
    produced: list[dict],
    op: str,
    key_cols: list | None = None,
    bounds=None,
    key_rows: list | None = None,
    incoming: DataFrame | None = None,
    predicate: str | None = None,
    forbid_adds: bool = False,
    allow_any_adds: bool = False,
    read_set: list[dict] | None = None,
) -> tuple[list[dict], int]:
    """Delta-parity LOGICAL conflict detection for a rewrite commit that
    lost its version race: decide from MANIFEST METADATA whether this
    commit's plan is still valid on top of ``latest`` (concurrent commits
    landed since ``cur`` was read), and return the rebased
    ``(files, n_rows)`` — or raise ``ConcurrentSnapshotError``.

    The plan stays valid iff ALL of:
      1. table metadata is untouched — schema, column mapping, CHECK
         constraints, generated-column rules, identity declaration (the
         identity high-water may advance: ``_commit``'s sticky carry keeps
         the winner's reservation);
      2. every file entry this commit REPLACES (rewrites, re-points at a
         new deletion vector, or folds away) is still present in ``latest``
         byte-identically — a concurrent MERGE/compaction/DV-DML that
         touched one of them invalidates our read of its rows;
      2b. every file entry this commit merely READ to make its plan
         (``read_set`` — e.g. the key-pruned candidate files an insert-only
         MERGE anti-joined against, or a DV merge consulted for max-seq) is
         also still byte-identical in ``latest``: a concurrent DELETE /
         DV-repoint / rewrite of a consulted file may have removed the very
         rows that justified dropping an insert, so the plan is stale —
         Delta's ConcurrentDeleteReadException. Entries already listed in
         ``replaced`` are skipped (check 2 covers them).
      3. files ADDED by the concurrent commits provably hold none of this
         commit's merge keys: per-file min/max stats vs the incoming key
         bounds first, then per-key point tests (stats + blooms, the
         ``_prune_candidates_by_keys`` machinery) when the batch's distinct
         keys are small enough to enumerate. ``allow_any_adds`` skips the
         key test (compaction: adds never conflict with folding OTHER
         files); ``forbid_adds`` hard-conflicts on any add (a merge with
         WHEN NOT MATCHED BY SOURCE reads every target row, Delta's
         documented full-table conflict for that clause).

    Untouched files are taken from ``latest`` (not from ``cur``), so
    concurrent appends/merges on disjoint keys survive: rebased files =
    latest minus replaced plus produced. At 1000-writer scale this is what
    keeps sharded MERGE writers from serializing on full recomputes —
    the common case (each writer owns a key range, appends carry key
    stats) commits on the first retry with zero extra data reads.
    """
    def conflict(reason: str):
        raise ConcurrentSnapshotError(
            f"{path}: version moved {cur.get('version')} -> "
            f"{latest.get('version')} during {op}; {reason}"
        )

    if not _schema_equiv(cur["schema"], latest["schema"]):
        conflict("the schema changed concurrently")
    if _mapping(cur) != _mapping(latest):
        conflict("the column mapping changed concurrently")
    if (cur.get("constraints") or {}) != (latest.get("constraints") or {}):
        conflict("CHECK constraints changed concurrently (rows were not "
                 "validated against the new set)")
    if _generated(cur) != _generated(latest):
        conflict("generated-column rules changed concurrently")
    if _ident_decl(cur) != _ident_decl(latest):
        conflict("the identity declaration changed concurrently")

    latest_files = _manifest_files(path, latest)
    latest_ids = {_entry_id(e) for e in latest_files}
    replaced_ids = {_entry_id(e) for e in replaced}
    for e in replaced:
        if _entry_id(e) not in latest_ids:
            conflict(
                f"file {e['path']} this {op} rewrites was itself "
                "rewritten, re-pointed, or removed concurrently"
            )
    for e in read_set or []:
        eid = _entry_id(e)
        if eid not in replaced_ids and eid not in latest_ids:
            conflict(
                f"file {e['path']} this {op} read to classify its incoming "
                "keys was rewritten, re-pointed, or removed concurrently "
                "(the rows that justified the plan may be gone)"
            )

    base_paths = {e["path"] for e in _manifest_files(path, cur)}
    # rows == 0 entries (legacy manifests predating the empty-part-file
    # skip) can't hold any key
    adds = [
        e for e in latest_files
        if e["path"] not in base_paths and e.get("rows") != 0
    ]
    if adds and not allow_any_adds:
        may = _file_skip(latest, path)
        if forbid_adds:
            conflict(
                "a concurrent commit added rows and this merge classifies "
                "every target row (WHEN NOT MATCHED BY SOURCE)"
            )
        elif key_cols is not None and bounds is not None:
            # keyed MERGE: adds conflict only when a concurrently added
            # file MAY hold one of this batch's keys
            bound_conj = _key_bound_conjuncts(key_cols, bounds)
            overlapping = [e for e in adds if may(e, bound_conj)]
            if overlapping:
                rows = key_rows
                if rows is None and incoming is not None:
                    rows = (
                        incoming.select(*key_cols)
                        .distinct()
                        .limit(_MERGE_KEY_PRUNE_MAX + 1)
                        .collect()
                    )
                if rows is not None and len(rows) <= _MERGE_KEY_PRUNE_MAX:
                    overlapping = _prune_candidates_by_keys(
                        latest, path, overlapping, key_cols, rows
                    )
                if overlapping:
                    conflict(
                        "concurrently added file(s) "
                        f"{[e['path'] for e in overlapping[:3]]} may hold this "
                        f"{op}'s keys (stats/bloom could not prove disjointness)"
                    )
        elif predicate is not None:
            # predicate DML (UPDATE/DELETE WHERE): adds conflict only when
            # a concurrently added file MAY hold a predicate-matching row
            # (Delta's ConcurrentAppendException rule) — judged by the skip
            # rule against the predicate's required conjuncts, plus
            # conjuncts derived onto generated partition columns (an
            # append into another partition proves disjoint even when the
            # predicate only names the base timestamp column).
            conjuncts = _predicate_conjuncts(predicate)
            conjuncts = conjuncts + _derive_generated_conjuncts(cur, conjuncts)
            overlapping = [e for e in adds if may(e, conjuncts)]
            if overlapping:
                conflict(
                    "concurrently added file(s) "
                    f"{[e['path'] for e in overlapping[:3]]} may match this "
                    f"{op}'s predicate (stats could not prove otherwise)"
                )
        else:
            conflict("concurrent commits added rows")

    live_replaced = [_live_rows(e) for e in replaced]
    live_produced = [_live_rows(e) for e in produced]
    if (
        latest.get("n_rows") is None
        or any(v is None for v in live_replaced)
        or any(v is None for v in live_produced)
    ):
        conflict("legacy manifests without row counts cannot rebase")
    out = [e for e in latest_files if _entry_id(e) not in replaced_ids]
    out += list(produced)
    return out, latest["n_rows"] - sum(live_replaced) + sum(live_produced)


def _commit_swap(
    spark: SparkSession,
    path: str,
    cur: dict,
    base_version: int,
    op: str,
    *,
    replaced: list[dict],
    produced: list[dict],
    files: list[dict],
    n_rows: int,
    schema: str | None = None,
    extra: dict | None = None,
    **rebase,
) -> int:
    """Commit tail of every operation that swaps data files (MERGE, DML,
    replace/overwrite, compaction, z-order).

    The operation planned against ``cur`` (version ``base_version``) and
    hands over: the entries it ``replaced`` (rewritten, re-pointed at a new
    deletion vector, or dropped), the entries it ``produced``, and the
    resulting manifest ``files`` with their live row count ``n_rows``.
    The commit is ``{data_dirs, files, n_rows, schema, **extra}`` plus
    ``cur``'s column mapping; ``schema`` defaults to ``cur``'s (MERGE
    schema evolution widens it), ``extra`` carries caller metadata and
    ``data_change``/clustering marks. ``op`` stamps the manifest and names
    the operation in conflict messages.

    A vanished table refuses. When a concurrent commit moved the table,
    ``_rebase_concurrent`` decides whether the plan still holds on the
    fresh state and rebases ``files``/``n_rows`` onto it; ``rebase``
    selects its rule for concurrently ADDED files:
      - ``key_cols`` + ``bounds`` (+ ``key_rows`` or ``incoming``): keyed
        MERGE, adds conflict only when they may hold one of the keys;
      - ``predicate``: predicate DML, adds conflict only when they may
        match it;
      - ``forbid_adds``: any add conflicts;
      - ``allow_any_adds``: no add conflicts (content-preserving rewrites);
      - none of these: any add conflicts.
    ``read_set`` lists entries the plan read without replacing them; a
    concurrent change to one of them conflicts too."""
    mapping = _mapping(cur)

    def build(latest: dict | None, _version: int) -> dict:
        if latest is None:
            raise ConcurrentSnapshotError(f"{path}: table vanished during {op}")
        files_out, n_out = files, n_rows
        if latest["version"] != base_version:
            files_out, n_out = _rebase_concurrent(
                spark, path, cur, latest, replaced=replaced, produced=produced,
                op=op, **rebase,
            )
        out = {
            "data_dirs": _dirs_of(files_out),
            "files": files_out,
            "n_rows": n_out,
            "schema": schema or cur["schema"],
            **(extra or {}),
        }
        if mapping:
            out["column_mapping"] = mapping
        return out

    return _commit(path, build, op=op)


def _carried_rows(
    spark: SparkSession, path: str, cur: dict, entries: list[dict]
) -> int:
    """Live rows of the entries a commit carries by reference: manifest
    counts (physical minus deletion-vector dead), or one count scan when a
    legacy entry has no count."""
    if any(e["rows"] is None for e in entries):
        return _read_entries(spark, path, cur, entries).count()
    return sum(_live_rows(e) for e in entries)


def _key_bound_conjuncts(key_cols: list, bounds) -> list:
    """The batch's key bounds (``_lo_<col>``/``_hi_<col>``) as skip-rule
    range conjuncts on every key column."""
    return [
        (c, op, [bounds[f"_{side}_{c}"]])
        for c in key_cols
        for op, side in ((">=", "lo"), ("<=", "hi"))
    ]


def _key_bounds_prune(
    cur: dict, path: str, files: list[dict], keyed: DataFrame, key_cols: list
) -> tuple:
    """MERGE prune stage 1, in metadata only: the batch's key bounds (one
    aggregate job) and the files whose stats may hold a key in them."""
    bounds = keyed.agg(
        *[F.min(c).alias(f"_lo_{c}") for c in key_cols],
        *[F.max(c).alias(f"_hi_{c}") for c in key_cols],
    ).collect()[0]
    may, conj = _file_skip(cur, path), _key_bound_conjuncts(key_cols, bounds)
    return bounds, [e for e in files if may(e, conj)]


def _split_touched(
    files: list[dict], candidates: list[dict], matches: DataFrame
) -> tuple[list[dict], list[dict]]:
    """(touched, untouched) split of ``files``: the candidates holding at
    least one row of ``matches`` (a lineage read of them) are touched."""
    hit_rels = {
        r[_SN_FILE] for r in matches.select(_SN_FILE).distinct().collect()
    }
    touched_paths = {e["path"] for e in candidates if _entry_rid(e) in hit_rels}
    return (
        [e for e in files if e["path"] in touched_paths],
        [e for e in files if e["path"] not in touched_paths],
    )


def _files_holding_keys(
    spark: SparkSession, path: str, cur: dict, files: list[dict],
    candidates: list[dict], keyed: DataFrame, key_cols: list,
) -> tuple[list[dict], list[dict]]:
    """MERGE prune stage 2: ONE column-pruned key-membership scan over the
    candidates (key columns + lineage only) splits ``files`` into those
    truly holding one of ``keyed``'s keys and the rest. DV-aware: a key
    living only in a file's DEAD positions does not touch the file."""
    if not candidates:
        return [], list(files)
    return _split_touched(
        files, candidates,
        _read_entries(spark, path, cur, candidates, lineage=True)
        .select(*key_cols, _SN_FILE)
        .join(F.broadcast(keyed.select(*key_cols).distinct()), key_cols),
    )


def _merge_dv(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    cur: dict,
    base_version: int,
    key_cols: list,
    seq_col: str,
    delete_col: str | None,
    manifest_extra: dict | None,
    incoming: DataFrame,
    candidates: list[dict],
    bounds=None,
    key_rows: list | None = None,
) -> int:
    """DV-mode MERGE tail: existing rows beaten by their key's incoming seq
    are marked dead by position; the batch's surviving rows land in ONE
    fresh file. Nothing else is read back or rewritten, so the commit's
    write volume is O(batch) regardless of how many (or how large) files
    the matched keys live in."""
    from pyspark.sql import Window

    files = _manifest_files(path, cur)
    in_keys = incoming.select(*key_cols, F.col(seq_col).alias("_in_seq"))
    ref, new_dead, out_files = None, {}, files
    mx_per_key = None
    if candidates:
        matched = (
            _read_entries(spark, path, cur, candidates, lineage=True)
            .join(F.broadcast(in_keys), key_cols)
        )
        # Kill a key's existing rows only when the incoming row beats the
        # key's HIGHEST stored seq (>= : incoming wins ties, so replaying
        # an applied batch swaps identical content — a content no-op).
        w = Window.partitionBy(*key_cols)
        hits = (
            matched.withColumn("_mx", F.max(seq_col).over(w))
            .filter(F.col("_in_seq") >= F.col("_mx"))
            .select(F.col(_SN_FILE).alias(_DV_FILE), F.col(_SN_POS).alias(_DV_POS))
        )
        ref, new_dead, out_files = _dv_land_positions(spark, path, cur, hits)
        mx_per_key = matched.groupBy(*key_cols).agg(F.max(seq_col).alias("_mx"))
    winners = incoming
    if mx_per_key is not None:
        winners = (
            incoming.join(mx_per_key, key_cols, "left")
            .filter(F.col("_mx").isNull() | (F.col(seq_col) >= F.col("_mx")))
            .drop("_mx")
        )
    if delete_col is not None:
        winners = winners.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    new_files, n_new = _land(spark, path, winners, cur, key_cols)
    return _commit_swap(
        spark, path, cur, base_version, "merge_dv",
        replaced=[e for e in files if _entry_rid(e) in new_dead],
        produced=[e for e in out_files if _entry_rid(e) in new_dead] + new_files,
        files=out_files + new_files,
        n_rows=cur["n_rows"] - sum(new_dead.values()) + n_new,
        extra=manifest_extra,
        key_cols=key_cols, bounds=bounds, key_rows=key_rows, incoming=incoming,
        # candidates whose stored seq BEAT an incoming row are not
        # repointed, yet their content dropped that row from the winners
        read_set=candidates,
    )


def snapshot_merge(
    df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    seq_col: str,
    delete_col: str | None = None,
    manifest_extra: dict | None = None,
    mode: str = "rewrite",
) -> int:
    """Keyed MERGE (upsert) as a new snapshot version, rewriting ONLY the
    files that contain a matched key — Delta-MERGE semantics on the plain-
    parquet protocol, and the scale-safe replacement for whole-table
    copy-on-write (reference parity: the stream-materialized keyed table the
    append-only S7 sink cannot express).

    ``mode="dv"`` goes one step further: matched-and-beaten existing rows
    are marked dead by position (deletion vector) and ONLY the batch's
    surviving rows land in a fresh file — write cost O(batch), not
    O(touched files). A 1000-row micro-batch against a table of 1 GB files
    writes one small file plus a position list, which is what makes
    per-micro-batch MERGE commits sustainable at 100 TB (compaction with
    ``purge_dvs=True`` is the companion op). Same winner rule; one
    documented divergence: when the incoming row LOSES its seq race, dv
    mode leaves pre-existing duplicate keys uncollapsed (on merge-
    maintained tables keys are unique per version, so semantics are
    identical).

    Per key, the surviving row is the one with the highest ``seq_col``;
    on a seq tie the INCOMING row wins, which makes replaying an
    already-applied micro-batch a no-op in content (exactly-once replay,
    SURVEY.md T2).

    With ``delete_col`` (Delta ``WHEN MATCHED THEN DELETE`` parity), an
    incoming row whose flag is true is a TOMBSTONE: if it wins its key's
    seq race the key is dropped from the table; the flag column itself is
    never stored. ``manifest_extra`` merges extra metadata keys into the
    committed manifest (used by incremental maintenance to record the
    consumed source version).

    File pruning, in metadata only (no data read):
      1. per-file min/max stats from the manifest are intersected with the
         incoming batch's key bounds;
      2. surviving candidates get ONE column-pruned key-membership scan
         (key columns + ``input_file_name`` only) to find files that truly
         hold a matched key.
    Untouched files are carried into the new manifest by reference. A
    concurrent commit landing between our state read and manifest write
    triggers LOGICAL conflict detection (``_rebase_concurrent``, Delta's
    optimistic-concurrency rules): the merge REBASES — commits on top of
    the concurrent state with zero extra data reads — when none of the
    files it rewrites changed, no concurrently added file can hold one of
    its keys (manifest stats + bloom point tests), and table metadata is
    untouched; otherwise it raises ``ConcurrentSnapshotError`` (the
    rewrite plan would be stale). Sharded writers merging disjoint key
    ranges therefore never serialize on full recomputes.
    """
    key_cols = list(key_cols)
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"snapshot_merge: unknown mode {mode!r}")
    spark = df.sparkSession
    if not snapshot_versions(path):
        # First version: dedup the batch per key, drop tombstones, write.
        latest_rows = _latest_per_key(df, key_cols, seq_col)
        if delete_col is not None:
            latest_rows = latest_rows.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        return snapshot_write(
            latest_rows, path, stats_cols=key_cols, manifest_extra=manifest_extra
        )

    base_version = snapshot_versions(path)[-1]
    cur = _read_manifest(path, base_version)
    # generated columns: auto-fill absent, validate provided (tombstone
    # payloads exempt — they never land)
    df = _apply_generated(
        df, path, "merge",
        exempt=(
            F.coalesce(F.col(delete_col), F.lit(False))
            if delete_col is not None
            else None
        ),
    )
    stored_schema = (
        df.drop(delete_col).schema.json() if delete_col is not None else df.schema.json()
    )
    if not _schema_equiv(stored_schema, cur["schema"]):
        raise ValueError(
            f"merge schema mismatch at {path}: manifest={cur['schema']} "
            f"incoming={stored_schema}"
        )
    incoming = _latest_per_key(df, key_cols, seq_col)
    # CHECK constraints apply to rows that will be STORED — within-batch
    # seq losers never land (so they are validated AFTER _latest_per_key,
    # Delta parity: only rows actually written are checked), and
    # tombstones carry no data (WHEN MATCHED DELETE payloads are exempt).
    if delete_col is not None:
        _enforce_constraints(
            incoming.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
                delete_col
            ),
            path,
            "merge",
        )
    else:
        _enforce_constraints(incoming, path, "merge")

    files = _manifest_files(path, cur)
    bounds, candidates = _key_bounds_prune(cur, path, files, incoming, key_cols)
    # --- prune stage 1.5: per-key refinement for SMALL batches -----------
    # Batch-wide bounds cannot prune a scattered micro-batch; point tests
    # per incoming key (stats + blooms) can — the maintenance-wave shape.
    # (key_rows is kept for the commit-race rebase: the same point tests
    # prove a concurrently added file disjoint from this batch's keys.)
    key_rows: list | None = None
    if len(candidates) > 1:
        probe = (
            incoming.select(*key_cols)
            .distinct()
            .limit(_MERGE_KEY_PRUNE_MAX + 1)
            .collect()
        )
        if len(probe) <= _MERGE_KEY_PRUNE_MAX:
            key_rows = probe
            candidates = _prune_candidates_by_keys(
                cur, path, candidates, key_cols, key_rows
            )
    if mode == "dv":
        return _merge_dv(
            spark, df, path, cur, base_version, key_cols, seq_col,
            delete_col, manifest_extra, incoming, candidates,
            bounds=bounds, key_rows=key_rows,
        )
    touched, untouched = _files_holding_keys(
        spark, path, cur, files, candidates, incoming, key_cols
    )

    # --- rewrite: touched rows ⊎ incoming, keep highest seq per key ------
    if touched:
        existing = _read_entries(spark, path, cur, touched).withColumn(
            "_src", F.lit(0)
        )
        if delete_col is not None:
            existing = existing.withColumn(delete_col, F.lit(False))
    else:
        existing = None
    tagged = incoming.withColumn("_src", F.lit(1))
    merged_in = tagged if existing is None else existing.unionByName(tagged)
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(seq_col), F.desc("_src")  # seq wins; incoming wins seq ties
    )
    merged = (
        merged_in.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    if delete_col is not None:
        # A winning tombstone removes its key; the flag is never stored.
        merged = merged.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    new_files, n_new = _land(spark, path, merged, cur, key_cols)
    return _commit_swap(
        spark, path, cur, base_version, "merge",
        replaced=touched, produced=new_files, files=untouched + new_files,
        n_rows=_carried_rows(spark, path, cur, untouched) + n_new,
        extra=manifest_extra,
        key_cols=key_cols, bounds=bounds, key_rows=key_rows, incoming=incoming,
    )


def _mw_first_clause_idx(clauses, guard):
    """Column: 0-based index of the FIRST clause whose condition holds for
    the row (conditions default TRUE; NULL counts as not-satisfied, SQL
    three-valued semantics), or -1 — evaluated only where ``guard``."""
    expr = F.lit(-1)
    for i in reversed(range(len(clauses))):
        cnd = clauses[i].get("condition")
        c = F.expr(cnd) if cnd is not None else F.lit(True)
        expr = F.when(guard & F.coalesce(c, F.lit(False)), F.lit(i)).otherwise(
            expr
        )
    return expr


def _mw_validate(when_matched, when_not_matched, when_not_matched_by_source,
                 tcols, src_cols, gen_cols=()):
    """Clause-shape validation for snapshot_merge_when (fail fast, before
    any Spark job runs). ``gen_cols`` are GENERATED ALWAYS AS columns: an
    INSERT * clause may omit them from the source (they auto-compute)."""
    tset = set(tcols)
    gset = set(gen_cols)
    for name, clauses, actions in (
        ("when_matched", when_matched, {"update", "delete"}),
        ("when_not_matched", when_not_matched, {"insert"}),
        ("when_not_matched_by_source", when_not_matched_by_source,
         {"update", "delete"}),
    ):
        for i, cl in enumerate(clauses):
            act = cl.get("action", "insert" if name == "when_not_matched"
                         else "update")
            if act not in actions:
                raise ValueError(
                    f"snapshot_merge_when: {name}[{i}] action {act!r} not in "
                    f"{sorted(actions)}"
                )
            if act == "delete" and cl.get("set"):
                raise ValueError(
                    f"snapshot_merge_when: {name}[{i}] is a DELETE clause "
                    "but carries a 'set'"
                )
            if act == "update":
                sset = cl.get("set") or {}
                if not sset:
                    raise ValueError(
                        f"snapshot_merge_when: {name}[{i}] UPDATE needs a "
                        "non-empty 'set'"
                    )
                bad = sorted(set(sset) - tset)
                if bad:
                    raise ValueError(
                        f"snapshot_merge_when: {name}[{i}] assigns unknown "
                        f"column(s) {bad}"
                    )
            if act == "insert":
                vals = cl.get("values")
                if vals is None:
                    missing = sorted(tset - set(src_cols) - gset)
                    if missing:
                        raise ValueError(
                            f"snapshot_merge_when: {name}[{i}] INSERT * "
                            f"needs source column(s) {missing}"
                        )
                else:
                    bad = sorted(set(vals) - tset)
                    if bad:
                        raise ValueError(
                            f"snapshot_merge_when: {name}[{i}] inserts into "
                            f"unknown column(s) {bad}"
                        )


def snapshot_merge_when(
    source: DataFrame,
    path: str,
    key_cols: Sequence[str],
    when_matched: Sequence[dict] = (),
    when_not_matched: Sequence[dict] = (),
    when_not_matched_by_source: Sequence[dict] = (),
    manifest_extra: dict | None = None,
    merge_schema: bool = False,
) -> int | None:
    """General multi-clause MERGE — Delta's full ``MERGE INTO t USING s ON
    t.k = s.k WHEN ...`` surface on the snapshot protocol (reference
    parity: the conditional upsert/sync shapes `spark_utils.py`'s Delta
    writes imply but ``snapshot_merge``'s latest-per-key rule cannot
    express). Clauses are dicts evaluated IN ORDER, first satisfied
    condition wins per row (Delta semantics):

      when_matched:  {"condition": sql|None, "action": "update"|"delete",
                      "set": {col: sql_expr}}   # exprs may use t.* / s.*
      when_not_matched: {"condition": sql|None, "action": "insert",
                      "values": {col: sql_expr} | None}   # None = INSERT *
                      # unlisted target columns land NULL (Delta parity)
      when_not_matched_by_source: same shape as when_matched, but the row
                      has NO source image — expressions should reference
                      t.* only (s.* columns are NULL there).

    The ON condition is equality on ``key_cols`` (the protocol's keyed
    discipline). A target row matched by MULTIPLE source rows raises
    (Delta's multiple-source-rows error); duplicate source keys that match
    nothing insert normally. Condition/assignment expressions evaluate
    against the PRE-merge row images, and CHECK constraints validate every
    row the merge stores (updated images + inserts) — carried rows were
    validated at their own write. GENERATED ALWAYS AS columns follow
    Delta's MERGE semantics: a clause that explicitly assigns the column
    has its value VALIDATED against the rule; any other clause-produced
    row (insert omitting it, update touching a base column) gets the rule
    RECOMPUTED from the post-merge base values; carried rows keep their
    stored value.

    Scale shape: files to rewrite are discovered with the same two-stage
    metadata prune as ``snapshot_merge`` (manifest min/max vs source key
    bounds, then ONE column-pruned key-membership scan); untouched files
    carry by reference. An insert-only merge (no matched / by-source
    clauses) rewrites NOTHING — matched keys are excluded via one
    broadcast anti-join and only the insert rows land in a new file.
    ``when_not_matched_by_source`` must examine every target row, so it
    touches all files (the same full-table cost Delta documents for that
    clause). A concurrent commit landing mid-merge rebases when provably
    disjoint (``_rebase_concurrent``: rewritten files unchanged, added
    files hold none of the source keys by stats, metadata untouched —
    with a by-source clause ANY added row conflicts) and aborts with
    ``ConcurrentSnapshotError`` otherwise. Returns the new version, or
    None for a provable no-op."""
    import functools
    from pyspark.sql.types import StructType

    key_cols = list(key_cols)
    when_matched = [dict(c) for c in when_matched]
    when_not_matched = [dict(c) for c in when_not_matched]
    when_not_matched_by_source = [dict(c) for c in when_not_matched_by_source]
    if not (when_matched or when_not_matched or when_not_matched_by_source):
        raise ValueError("snapshot_merge_when: no clauses given")
    spark = source.sparkSession
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(
            f"no snapshots at {path} — MERGE needs an existing target "
            "(snapshot_write first)"
        )
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    schema = StructType.fromJson(json.loads(cur["schema"]))
    # WITH SCHEMA EVOLUTION (Delta MERGE parity): source-only columns
    # widen the target schema in the same commit — appended as nullable,
    # carried/untouched rows null-fill on read through the declared-schema
    # machinery; without the flag, extra source columns stay accessible
    # in clause expressions (s.col) but are never stored, Delta's default.
    new_fields: list = []
    if merge_schema:
        from pyspark.sql.types import StructField

        have = set(schema.fieldNames())
        new_fields = [
            StructField(f.name, f.dataType, nullable=True)
            for f in source.schema.fields
            if f.name not in have
        ]
        phys_taken = {
            p for _l, p in _mapping(cur).items() if p not in have
        }
        for f in new_fields:
            if f.name in phys_taken:
                raise ValueError(
                    f"MERGE schema evolution at {path}: new column "
                    f"{f.name!r} collides with a renamed column's stored "
                    "physical name; pick another name"
                )
        if new_fields:
            schema = StructType(list(schema.fields) + new_fields)
    types = {f.name: f.dataType for f in schema.fields}
    tcols = schema.fieldNames()
    missing_keys = sorted(set(key_cols) - set(tcols))
    if missing_keys:
        raise ValueError(
            f"snapshot_merge_when: key column(s) {missing_keys} not in table"
        )
    gen_rules = _generated(cur)
    _mw_validate(when_matched, when_not_matched, when_not_matched_by_source,
                 tcols, source.columns, gen_cols=gen_rules)
    reserved = (
        {"_t_present", "_s_present", "_mw_changed"}
        | {f"_mw_gen_{gc}" for gc in gen_rules}
    ) & (set(source.columns) | set(tcols))
    if reserved:
        raise ValueError(
            f"snapshot_merge_when: column name(s) {sorted(reserved)} are "
            "reserved by the merge machinery"
        )
    files = _manifest_files(path, cur)

    bounds, candidates = _key_bounds_prune(cur, path, files, source, key_cols)

    # Delta guard: a target row matched by >1 source row is an error.
    dup_keys = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .drop("_c")
    )
    if candidates and dup_keys.limit(1).count() > 0:
        n_bad = (
            _read_entries(spark, path, cur, candidates)
            .select(*key_cols)
            .join(F.broadcast(dup_keys), key_cols)
            .limit(1)
            .count()
        )
        if n_bad:
            raise ValueError(
                "snapshot_merge_when: multiple source rows match the same "
                "target row — deduplicate the source on the merge keys"
            )

    rewrite_matched = bool(when_matched) or bool(when_not_matched_by_source)
    src_eff = source
    consulted: list[dict] = []  # read-but-not-rewritten files (rebase read_set)
    if when_not_matched_by_source:
        # Every target row must be classified — all live files are touched.
        touched, untouched = list(files), []
    elif rewrite_matched:
        touched, untouched = _files_holding_keys(
            spark, path, cur, files, candidates, source, key_cols
        )
    else:
        # Insert-only merge: rewrite nothing; drop source rows whose key
        # already exists (one broadcast anti-join against candidate keys).
        touched, untouched = [], list(files)
        if candidates:
            existing_keys = (
                _read_entries(spark, path, cur, candidates)
                .select(*key_cols)
                .distinct()
            )
            src_eff = source.join(existing_keys, key_cols, "left_anti")
            # the anti-join READ these files to drop already-present keys:
            # a concurrent delete of one invalidates that decision
            # (Delta's ConcurrentDeleteReadException for insert-only MERGE)
            consulted = list(candidates)
    if not touched and not when_not_matched:
        return None  # no matched files, nothing to insert: provable no-op

    # --- full-outer join of touched target rows vs (effective) source ----
    if touched:
        tgt = _read_entries(spark, path, cur, touched)
        for f in new_fields:
            # schema evolution: stored rows have no value for the new
            # columns yet — typed nulls, same as untouched files on read
            tgt = tgt.withColumn(f.name, F.lit(None).cast(f.dataType))
    else:
        tgt = spark.createDataFrame([], schema)
    t = tgt.withColumn("_t_present", F.lit(True)).alias("t")
    s = src_eff.withColumn("_s_present", F.lit(True)).alias("s")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_cols],
    )
    joined = t.join(s, cond, "full_outer")
    t_p = F.coalesce(F.col("t._t_present"), F.lit(False))
    s_p = F.coalesce(F.col("s._s_present"), F.lit(False))
    matched, s_only, t_only = t_p & s_p, s_p & ~t_p, t_p & ~s_p
    m_idx = _mw_first_clause_idx(when_matched, matched)
    i_idx = _mw_first_clause_idx(when_not_matched, s_only)
    n_idx = _mw_first_clause_idx(when_not_matched_by_source, t_only)
    m_act = [c.get("action", "update") for c in when_matched]
    n_act = [c.get("action", "update") for c in when_not_matched_by_source]

    drop = s_only & (i_idx == -1)
    changed = s_only & (i_idx != -1)
    for i, a in enumerate(m_act):
        if a == "delete":
            drop = drop | (matched & (m_idx == i))
        else:
            changed = changed | (matched & (m_idx == i))
    for i, a in enumerate(n_act):
        if a == "delete":
            drop = drop | (t_only & (n_idx == i))
        else:
            changed = changed | (t_only & (n_idx == i))

    out_cols = []
    for c in tcols:
        cases = []
        for i, cl in enumerate(when_matched):
            if m_act[i] == "update" and c in cl["set"]:
                cases.append((matched & (m_idx == i), F.expr(cl["set"][c])))
        for i, cl in enumerate(when_not_matched):
            vals = cl.get("values")
            if vals is None:
                # INSERT * with a generated column absent from the source:
                # placeholder NULL here, recomputed from the landed base
                # values below (Delta parity)
                e = (
                    F.lit(None)
                    if c in gen_rules and c not in source.columns
                    else F.expr(f"s.{c}")
                )
            elif c in vals:
                e = F.expr(vals[c])
            else:
                e = F.lit(None)
            cases.append((s_only & (i_idx == i), e))
        for i, cl in enumerate(when_not_matched_by_source):
            if n_act[i] == "update" and c in cl["set"]:
                cases.append((t_only & (n_idx == i), F.expr(cl["set"][c])))
        expr = None
        for cnd, e in cases:
            expr = F.when(cnd, e) if expr is None else expr.when(cnd, e)
        col = expr.otherwise(F.col(f"t.{c}")) if expr is not None else F.col(
            f"t.{c}"
        )
        out_cols.append(col.cast(types[c]).alias(c))

    # Which firing clause EXPLICITLY assigned each generated column: those
    # rows keep the clause's value (validated below); every other
    # clause-produced row gets the rule RECOMPUTED from its post-merge base
    # values — Delta's MERGE semantics for GENERATED ALWAYS AS (an insert
    # omitting the column computes it; an update touching a base column
    # refreshes it). Carried/unchanged rows keep their stored value.
    gen_flag_cols = []
    for gc in gen_rules:
        expl = F.lit(False)
        for i, cl in enumerate(when_matched):
            if m_act[i] == "update" and gc in cl["set"]:
                expl = expl | (matched & (m_idx == i))
        for i, cl in enumerate(when_not_matched):
            vals = cl.get("values")
            provided = (
                gc in source.columns if vals is None else gc in vals
            )
            if provided:
                expl = expl | (s_only & (i_idx == i))
        for i, cl in enumerate(when_not_matched_by_source):
            if n_act[i] == "update" and gc in cl["set"]:
                expl = expl | (t_only & (n_idx == i))
        gen_flag_cols.append(expl.alias(f"_mw_gen_{gc}"))

    out = joined.filter(~drop).select(
        *out_cols, changed.alias("_mw_changed"), *gen_flag_cols
    )
    for gc, ge in gen_rules.items():
        out = out.withColumn(
            gc,
            F.when(
                F.col("_mw_changed") & ~F.col(f"_mw_gen_{gc}"),
                F.expr(ge).cast(types[gc]),
            ).otherwise(F.col(gc)),
        )
    helper = ["_mw_changed", *[f"_mw_gen_{gc}" for gc in gen_rules]]
    changed_rows = out.filter(F.col("_mw_changed")).drop(*helper)
    _enforce_constraints(changed_rows, path, "merge")
    # explicitly-assigned generated values must agree with the rule
    # (recomputed rows satisfy it by construction)
    _validate_generated(changed_rows, gen_rules, path, "merge")
    out = out.drop(*helper)
    if not touched and out.isEmpty():
        return None  # insert clauses matched no rows: no-op

    new_files, n_new = _land(spark, path, out, cur, key_cols)
    return _commit_swap(
        spark, path, cur, base_version, "merge",
        replaced=touched, produced=new_files, files=untouched + new_files,
        n_rows=_carried_rows(spark, path, cur, untouched) + n_new,
        schema=schema.json(), extra=manifest_extra,
        key_cols=key_cols, bounds=bounds, incoming=source,
        # WHEN NOT MATCHED BY SOURCE classifies every target row (Delta's
        # documented full-table conflict for the clause)
        forbid_adds=bool(when_not_matched_by_source),
        read_set=consulted,
    )


def _stats_cols_in_use(cur: dict, path: str | None = None) -> list[str]:
    """Union of per-file stats columns (PHYSICAL names) recorded in the
    current manifest — predicate DML preserves whatever stats discipline
    the table already has, so merge pruning keeps firing afterwards.
    Pass ``path`` so delta manifests can resolve their base chain."""
    if path is not None and _has_files(cur):
        entries = _manifest_files(path, cur)
    else:
        entries = cur.get("files") or []
    cols: set[str] = set()
    for e in entries:
        cols.update((e.get("stats") or {}).keys())
    return sorted(cols)


def _predicate_file_split(
    spark: SparkSession, path: str, cur: dict, predicate: str
) -> tuple[list[dict], list[dict]]:
    """(touched, untouched) manifest file entries for a row predicate: the
    skip rule over the predicate's required conjuncts (plus conjuncts
    DERIVED onto generated partition columns) bounds the candidate set in
    metadata, then ONE scan projecting only the predicate's input columns
    + input_file_name finds the files that truly hold a matching row.
    Catalyst prunes the scan to the referenced columns, so at 100 TB the
    discovery pass reads a couple of columns of the candidate files,
    never the table."""
    files = _manifest_files(path, cur)
    if not files:
        return [], []
    conjuncts = _predicate_conjuncts(predicate)
    conjuncts = conjuncts + _derive_generated_conjuncts(cur, conjuncts)
    may = _file_skip(cur, path)
    candidates = [e for e in files if may(e, conjuncts)]
    if not candidates:
        return [], list(files)
    return _split_touched(
        files, candidates,
        _read_entries(spark, path, cur, candidates, lineage=True)
        .filter(F.expr(predicate)),
    )


def _rewrite_touched(
    spark: SparkSession,
    path: str,
    cur: dict,
    base_version: int,
    touched: list[dict],
    untouched: list[dict],
    rewrite,
    op: str,
    predicate: str | None = None,
) -> int:
    """Shared predicate-DML tail: rewrite ``touched`` files through
    ``rewrite(df) -> df``, carry ``untouched`` by reference, commit with a
    stale-state conflict check (a lost version race rebases when the
    rewritten files are untouched in the fresh manifest and concurrently
    added files provably cannot match ``predicate``). Stats columns in
    use are recomputed for the new files."""
    new_files, n_new = _land(
        spark, path, rewrite(_read_entries(spark, path, cur, touched)), cur
    )
    return _commit_swap(
        spark, path, cur, base_version, op,
        replaced=touched, produced=new_files, files=untouched + new_files,
        n_rows=_carried_rows(spark, path, cur, untouched) + n_new,
        predicate=predicate,
    )


def snapshot_delete_where(
    spark: SparkSession, path: str, predicate: str, mode: str = "rewrite"
) -> int | None:
    """Predicate DELETE, Delta ``DELETE FROM t WHERE ...`` parity — the
    GDPR-shape DML that matters at 100 TB. Rows where the predicate is
    NULL are kept (SQL three-valued semantics: DELETE removes rows where
    the predicate is TRUE). Returns the new version, or None when nothing
    matched (no-op, no commit — rerunnable).

    ``mode="rewrite"`` (copy-on-write): only files that actually hold a
    matching row are rewritten (one column-pruned discovery scan finds
    them); everything else is carried by reference. The change feed sees
    the rewrite as a normal data commit, so keyed CDF emits exactly the
    deleted rows.

    ``mode="dv"`` (deletion vectors): NO data files are written at all —
    the matched rows' physical positions land in a positions parquet and
    each touched manifest entry points at it. Deleting three rows from a
    1 GB file costs a position list, not a gigabyte rewrite; at 100 TB
    this is the only delete shape that stays O(matched rows). Every
    protocol reader applies the vectors (``_read_entries``), the change
    feed diffs them into exact row-level deletes (keyed AND keyless), and
    ``snapshot_compact(purge_dvs=True)`` folds them away. Min/max/bloom
    file stats keep describing the PHYSICAL file — a superset, so pruning
    stays conservative-correct.

    Concurrency: a commit landing mid-DELETE rebases when the files this
    delete touches are unchanged in the fresh manifest and concurrently
    added files provably cannot match the predicate (min/max stats vs the
    predicate's required conjuncts — Delta's ConcurrentAppendException
    rule); otherwise ``ConcurrentSnapshotError``."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"snapshot_delete_where: unknown mode {mode!r}")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    pcols = cur.get("partition_cols") or []
    if pcols and mode == "rewrite":
        # DROP-PARTITION fast path: a pure partition predicate over exact
        # [v, v]-stat files decides whole files in METADATA — no scan, no
        # rewrite, the commit just stops referencing the dropped entries.
        # At 100 TB this turns "delete a year" from a rewrite into a
        # manifest diff. Falls through whenever anything is inexact.
        split = _partition_drop_split(
            _manifest_files(path, cur), predicate, set(pcols),
            _file_skip(cur, path),
        )
        if split is not None:
            dropped, kept = split
            if not dropped:
                return None
            return _commit_swap(
                spark, path, cur, base_version, "delete_where",
                replaced=dropped, produced=[], files=kept,
                n_rows=sum(_live_rows(e) for e in kept), predicate=predicate,
            )
    if mode == "dv":
        return _delete_where_dv(spark, path, cur, base_version, predicate)
    touched, untouched = _predicate_file_split(spark, path, cur, predicate)
    if not touched:
        return None
    return _rewrite_touched(
        spark, path, cur, base_version, touched, untouched,
        lambda df: df.filter(~F.coalesce(F.expr(predicate), F.lit(False))),
        "delete_where", predicate=predicate,
    )


def _dv_land_positions(
    spark: SparkSession, path: str, cur: dict, hits: DataFrame
) -> tuple[str | None, dict, list[dict]]:
    """Shared DV-DML tail: land ``hits`` — (_dv_file, _dv_pos) of LIVE rows
    being killed — in a new cumulative positions parquet and re-point the
    touched entries at it. Refs are cumulative per file (the new ref
    unions each touched file's prior dead positions), so a file always
    carries exactly one ref and readers apply one anti-join. Prior refs
    stay on disk for time travel (vacuum reclaims them with their
    manifests). Returns ``(ref_rel, per_file_new_dead, out_files)``;
    ``ref_rel`` is None when nothing matched (no orphan dir left)."""
    files = _manifest_files(path, cur)
    # ONE table scan: land the new positions first, then read the (tiny)
    # result back for per-file counts and the cumulative carry.
    rel, full_dir = _new_data_dir(path)
    hits.write.mode("error").parquet(full_dir)
    new_dead = {
        r[_DV_FILE]: r["_n"]
        for r in spark.read.parquet(full_dir)
        .groupBy(_DV_FILE)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    if not new_dead:
        _fs().delete_tree(full_dir)  # no-op DML leaves no orphan dir
        return None, {}, files
    touched = [e for e in files if _entry_rid(e) in new_dead]
    prior_refs = sorted({e["dv"]["ref"] for e in touched if e.get("dv")})
    if prior_refs:
        # Cumulative refs: append each touched file's prior dead set, so
        # the new ref alone describes the file (one anti-join on read).
        (
            spark.read.parquet(*[_dv_ref_path(path, r) for r in prior_refs])
            .filter(F.col(_DV_FILE).isin(sorted(new_dead)))
            .write.mode("append")
            .parquet(full_dir)
        )
    out_files = []
    for e in files:
        rid = _entry_rid(e)
        if rid not in new_dead:
            out_files.append(e)
            continue
        e2 = dict(e)
        e2["dv"] = {
            "ref": rel,
            # new hits were LIVE rows (the discovery read is DV-aware), so
            # they are disjoint from the prior dead set: counts add.
            "n": (e.get("dv") or {}).get("n", 0) + new_dead[rid],
        }
        out_files.append(e2)
    return rel, new_dead, out_files


# marker inside the in-task scope-guard message so the driver can
# translate the Spark job failure back into the protocol's ValueError
_REPLACE_SCOPE_MARK = "REPLACE_WHERE_SCOPE"


def snapshot_replace_where(
    df: DataFrame,
    path: str,
    predicate: str,
    manifest_extra: dict | None = None,
) -> int:
    """Delta ``replaceWhere`` parity: in ONE commit, delete every stored
    row matching ``predicate`` and insert ``df``'s rows — the atomic
    backfill shape ("rewrite this day/partition") a partitioned lake runs
    constantly. Every incoming row must itself satisfy the predicate
    (fail-closed validation, Delta semantics): a backfill can never leak
    rows outside its declared scope.

    Scale shape: a pure partition predicate drops whole files in METADATA
    (zero rows read); otherwise only the files that actually hold a
    matching row are rewritten (their non-matching rows survive), and
    everything else is carried by reference. On a commit race the rebase
    rules are the predicate-DML ones: concurrent commits on files outside
    the replaced set rebase; a concurrent append that may match the
    predicate conflicts (its rows would be silently deleted)."""
    spark = df.sparkSession
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    df = _apply_generated(df, path, "replace_where")
    _enforce_constraints(df, path, "replace_where")
    if "schema" in cur and not _schema_equiv(df.schema.json(), cur["schema"]):
        raise ValueError(
            f"replace_where schema mismatch at {path}: "
            f"manifest={cur['schema']} incoming={df.schema.json()}"
        )
    # Fail-closed scope validation, folded INTO the write job: every row
    # evaluates assert_true(predicate) inside the write tasks, so a 100 TB
    # backfill makes ONE pass over its source instead of a validation scan
    # plus the write (the round-10 double evaluation). A violating row
    # aborts the job mid-write — before any commit — and ``_land`` sweeps
    # the partial data dir, so fail-closed still means "nothing landed".
    scope_ok = F.coalesce(F.expr(predicate), F.lit(False))
    # the failure detail reports only the PREDICATE's columns: pulling the
    # whole row into the guard would force every source column into the
    # filter stage (observable as double evaluation of computed columns)
    import re as _re

    pred_cols = [
        c for c in df.columns
        if _re.search(rf"\b{_re.escape(c)}\b", predicate)
    ]
    detail = (
        F.to_json(F.struct(*[F.col(c) for c in pred_cols]))
        if pred_cols
        else F.lit("(no predicate columns in the row)")
    )
    df = df.where(
        F.assert_true(
            scope_ok,
            F.concat(
                F.lit(
                    f"{_REPLACE_SCOPE_MARK} at {path}: incoming row "
                    f"violates the scope {predicate!r}: "
                ),
                detail,
            ),
        ).isNull()
    )
    df, _ident_unpin = _assign_identity(df, path, "replace_where")
    try:
        incoming, _n_in = _land(spark, path, df, cur)
    except Exception as exc:
        msg = str(exc)
        if _REPLACE_SCOPE_MARK in msg:
            start = msg.index(_REPLACE_SCOPE_MARK)
            raise ValueError(
                "replaceWhere " + msg[start + len(_REPLACE_SCOPE_MARK):]
                .split("\n", 1)[0].strip()
            ) from exc
        raise
    finally:
        if _ident_unpin:
            _ident_unpin()
    pcols = list(cur.get("partition_cols") or [])
    split = (
        _partition_drop_split(
            _manifest_files(path, cur), predicate, set(pcols),
            _file_skip(cur, path),
        )
        if pcols
        else None
    )
    rewritten: list[dict] = []
    if split is not None:
        touched, untouched = split
    else:
        touched, untouched = _predicate_file_split(spark, path, cur, predicate)
        if touched:
            # survivors: the touched files' NON-matching rows
            keep_df = _read_entries(spark, path, cur, touched).filter(
                ~F.coalesce(F.expr(predicate), F.lit(False))
            )
            rewritten, _n_kept = _land(spark, path, keep_df, cur)
    produced = rewritten + incoming
    return _commit_swap(
        spark, path, cur, base_version, "replace_where",
        replaced=touched, produced=produced, files=untouched + produced,
        n_rows=(
            _carried_rows(spark, path, cur, untouched)
            + sum(_live_rows(e) for e in produced)
        ),
        extra=manifest_extra, predicate=predicate,
    )


def snapshot_dynamic_partition_overwrite(
    df: DataFrame, path: str, manifest_extra: dict | None = None
) -> int:
    """Spark's ``partitionOverwriteMode=dynamic`` on the snapshot protocol:
    overwrite EXACTLY the partitions present in ``df`` (metadata drop of
    their current files + Hive-layout insert, one commit); every other
    partition is untouched. The idempotent-backfill shape: re-running a
    day's job replaces that day, never the table.

    Requires a partitioned table whose live entries all carry partition
    values: every commit lands its files in the table's layout
    (``_land``), so only flat files an older engine's rewrites or a data-
    source append onto exotic partition types left lack them; such tables
    should OPTIMIZE first or use ``snapshot_replace_where``. Incoming
    partition tuples match entries' exact ``[v, v]`` stats through the
    skip rule's typed keys. Conservative on races: a concurrent commit
    ADDING rows conflicts (its rows might land in an overwritten
    partition); commits on untouched files rebase."""
    spark = df.sparkSession
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    pcols = list(cur.get("partition_cols") or [])
    if not pcols:
        raise ValueError(
            f"dynamic partition overwrite needs a partitioned table; "
            f"{path} declares none"
        )
    mapping = _mapping(cur)
    df = _apply_generated(df, path, "dynamic_overwrite")
    _enforce_constraints(df, path, "dynamic_overwrite")
    if "schema" in cur and not _schema_equiv(df.schema.json(), cur["schema"]):
        raise ValueError(
            f"dynamic overwrite schema mismatch at {path}: "
            f"manifest={cur['schema']} incoming={df.schema.json()}"
        )
    files = _manifest_files(path, cur)
    if any(not e.get("partition") for e in files):
        raise ValueError(
            f"dynamic partition overwrite at {path}: live files without "
            "partition values (flat files from an older engine's rewrites "
            "or a data-source append onto exotic partition types) — "
            "OPTIMIZE first or use snapshot_replace_where"
        )
    types = _schema_types(cur)
    unplaced = [c for c in pcols if types.get(c) not in _PLACED_TYPES]
    if unplaced:
        # their stats are [None, None] (``_stats_repr``): every file would
        # match every incoming tuple and the overwrite drop them all
        raise ValueError(
            f"dynamic partition overwrite at {path}: partition column(s) "
            f"{unplaced} have a type whose values the manifest stats cannot "
            "compare; use snapshot_replace_where"
        )

    def key(c: str, v):
        # a partition value placed as the skip rule places stats: a
        # TIMESTAMP is an instant, whatever zone its stat was written in
        k = _skip_key(types.get(c), v, False)
        return v if k is None else k

    tuples = {
        tuple(
            key(c, _stats_repr(r[c], instant=types.get(c) == "timestamp"))
            for c in pcols
        )
        for r in df.select(*pcols).distinct().collect()
    }

    def entry_tuple(e: dict):
        st = e.get("stats") or {}
        vals = []
        for c in pcols:
            s = st.get(_phys(mapping, c))
            if not s or s[0] != s[1]:
                return None
            vals.append(key(c, s[0]))
        return tuple(vals)

    dropped = [e for e in files if entry_tuple(e) in tuples]
    kept = [e for e in files if entry_tuple(e) not in tuples]
    df2, _ident_unpin = _assign_identity(df, path, "dynamic_overwrite")
    new_files, n_in = _land(spark, path, df2, cur)
    if _ident_unpin:
        _ident_unpin()
    return _commit_swap(
        spark, path, cur, base_version, "dynamic_overwrite",
        replaced=dropped, produced=new_files, files=kept + new_files,
        n_rows=sum(_live_rows(e) for e in kept) + n_in, extra=manifest_extra,
        # multi-column tuple membership has no single-predicate form for
        # the adds check: any concurrent add conflicts
        forbid_adds=True,
    )


def _delete_where_dv(
    spark: SparkSession, path: str, cur: dict, base_version: int, predicate: str
) -> int | None:
    """DV-mode DELETE tail: mark matched live rows dead; write no data."""
    files = _manifest_files(path, cur)
    if not files:
        return None
    live = _read_entries(spark, path, cur, files, lineage=True)
    hits = live.filter(F.expr(predicate)).select(
        F.col(_SN_FILE).alias(_DV_FILE), F.col(_SN_POS).alias(_DV_POS)
    )
    ref, new_dead, out_files = _dv_land_positions(spark, path, cur, hits)
    if ref is None:
        return None
    return _commit_swap(
        spark, path, cur, base_version, "delete_dv",
        replaced=[e for e in files if _entry_rid(e) in new_dead],
        produced=[e for e in out_files if _entry_rid(e) in new_dead],
        files=out_files, n_rows=cur["n_rows"] - sum(new_dead.values()),
        predicate=predicate,
    )


def _update_where_dv(
    spark: SparkSession,
    path: str,
    cur: dict,
    base_version: int,
    predicate: str,
    assignments: dict,
    types: dict,
    field_names: list[str],
) -> int | None:
    """DV-mode UPDATE tail (Delta DV-update parity): the matched rows'
    OLD images are marked dead by position and their UPDATED images land
    in a fresh data file — untouched rows in touched files are never
    rewritten, so the write cost is O(matched rows), not O(touched
    files). The keyed change feed sees exactly update_preimage/postimage
    (dead positions on the old side, the new file on the new side);
    keyless sees delete(old image) + insert(new image) with no carried
    noise — tighter than the rewrite path's whole-file swap."""
    files = _manifest_files(path, cur)
    if not files:
        return None
    live = _read_entries(spark, path, cur, files, lineage=True)
    matched = live.filter(F.coalesce(F.expr(predicate), F.lit(False)))
    hits = matched.select(
        F.col(_SN_FILE).alias(_DV_FILE), F.col(_SN_POS).alias(_DV_POS)
    )
    ref, new_dead, out_files = _dv_land_positions(spark, path, cur, hits)
    if ref is None:
        return None
    # Updated images: every assignment RHS evaluates against the
    # PRE-update row (the matched live image), cast back to the declared
    # type; constraints validate what will actually be stored.
    image = matched.select(
        *[
            (
                F.expr(assignments[c]).cast(types[c]).alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in field_names
        ]
    )
    # generated columns recompute from the post-update base values
    for gc, ge in _generated(cur).items():
        image = image.withColumn(gc, F.expr(ge).cast(types[gc]))
    _enforce_constraints(image, path, "update_dv")
    new_files, n_new = _land(spark, path, image, cur)
    if n_new != sum(new_dead.values()):
        raise RuntimeError(
            f"dv-update image drift at {path}: marked {sum(new_dead.values())} "
            f"dead but wrote {n_new} updated rows"
        )
    return _commit_swap(
        spark, path, cur, base_version, "update_dv",
        replaced=[e for e in files if _entry_rid(e) in new_dead],
        produced=[e for e in out_files if _entry_rid(e) in new_dead] + new_files,
        # dead added == images added
        files=out_files + new_files, n_rows=cur["n_rows"],
        predicate=predicate,
    )


def snapshot_update_where(
    spark: SparkSession, path: str, predicate: str, assignments: dict,
    mode: str = "rewrite",
) -> int | None:
    """Predicate UPDATE, Delta ``UPDATE t SET ... WHERE ...`` parity:
    each assignment is a SQL expression over the PRE-update row's columns,
    cast back to the column's declared type so the schema is bit-stable.
    Updated rows are validated against the table's CHECK constraints (an
    UPDATE cannot smuggle a violation past write-path enforcement).
    Returns the new version or None when nothing matched.

    ``mode="rewrite"`` rewrites only the files holding a matching row.
    ``mode="dv"`` marks the matched rows' old images dead by position and
    writes ONLY the updated images to a fresh file — write cost O(matched
    rows) instead of O(touched files); updating 100 rows spread across a
    hundred 1 GB files writes one tiny file plus a position list.

    Concurrency: same rebase-or-abort rule as ``snapshot_delete_where`` —
    a lost version race commits anyway when the touched files are
    unchanged and concurrent adds provably cannot match the predicate."""
    from pyspark.sql.types import StructType

    if mode not in ("rewrite", "dv"):
        raise ValueError(f"snapshot_update_where: unknown mode {mode!r}")
    if not assignments:
        raise ValueError("snapshot_update_where: no assignments given")
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    schema = StructType.fromJson(json.loads(cur["schema"]))
    types = {f.name: f.dataType for f in schema.fields}
    unknown = sorted(set(assignments) - set(types))
    if unknown:
        raise ValueError(f"snapshot_update_where: unknown column(s) {unknown}")
    gen_rules = _generated(cur)
    gen_hit = sorted(set(assignments) & set(gen_rules))
    if gen_hit:
        raise ValueError(
            f"snapshot_update_where: column(s) {gen_hit} are GENERATED "
            "ALWAYS AS — they recompute from the updated row; assign the "
            "base columns instead"
        )
    if mode == "dv":
        return _update_where_dv(
            spark, path, cur, base_version, predicate, assignments, types,
            schema.fieldNames(),
        )
    touched, untouched = _predicate_file_split(spark, path, cur, predicate)
    if not touched:
        return None
    pred = F.coalesce(F.expr(predicate), F.lit(False))

    def rewrite(df: DataFrame) -> DataFrame:
        # SQL/Delta UPDATE semantics: the predicate and EVERY assignment
        # RHS evaluate against the PRE-update row. One select (not
        # sequential withColumn) so no assignment can observe another's
        # output or flip the predicate mid-row.
        out = df.select(
            *[
                (
                    F.when(pred, F.expr(assignments[c]).cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in schema.fieldNames()
            ]
        )
        # Generated columns recompute from the POST-update base values
        # (Delta parity). Applying to every row is a no-op for unmatched
        # rows — their bases are unchanged and the stored value already
        # equals the expression (the table invariant).
        for gc, ge in gen_rules.items():
            out = out.withColumn(gc, F.expr(ge).cast(types[gc]))
        # Constraints are checked on the rewritten image of the rows that
        # matched on the ORIGINAL data — an assignment that falsifies its
        # own predicate cannot hide the row from enforcement.
        updated_image = df.filter(pred).select(
            *[
                (
                    F.expr(assignments[c]).cast(types[c]).alias(c)
                    if c in assignments
                    else F.col(c)
                )
                for c in schema.fieldNames()
            ]
        )
        for gc, ge in gen_rules.items():
            updated_image = updated_image.withColumn(
                gc, F.expr(ge).cast(types[gc])
            )
        _enforce_constraints(updated_image, path, "update_where")
        return out

    return _rewrite_touched(
        spark, path, cur, base_version, touched, untouched, rewrite,
        "update_where", predicate=predicate,
    )


def _latest_per_key(
    df: DataFrame, key_cols: Sequence[str], seq_col: str
) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.desc(seq_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the latest (or a specific historical) version — time travel.

    ``version`` is ``VERSION AS OF``; ``as_of`` (a unix timestamp) is
    ``TIMESTAMP AS OF``: the newest version committed at or before that
    instant (Delta resolves the same way from commit timestamps). Passing
    both is an error; a timestamp older than retention (or before the
    first commit) raises like Delta's out-of-range time travel."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    if version is not None and as_of is not None:
        raise ValueError("pass either version or as_of, not both")
    if as_of is not None:
        eligible = [
            v for v in versions
            if (_read_manifest(path, v).get("committed_at") or 0) <= as_of
        ]
        if not eligible:
            raise ValueError(
                f"no version at {path} committed at or before {as_of}"
            )
        version = eligible[-1]
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    m = _read_manifest(path, v)
    if _has_files(m):
        # scan-plan projection: an unpredicated read needs path/partition/
        # dv only — a checkpoint-form manifest stays columnar, no
        # full-fidelity dict rebuild
        files = _manifest_files_scan(path, m)
        if not files:
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], schema=StructType.fromJson(json.loads(m["schema"]))
            )
        return _read_entries(spark, path, m, files)
    return _read_declared(
        spark, m, [os.path.join(path, d) for d in m["data_dirs"]]
    )


def snapshot_compact(
    spark: SparkSession,
    path: str,
    small_file_max_rows: int = 1_000_000,
    target_files: int | None = None,
    purge_dvs: bool = False,
    where: str | None = None,
) -> int | None:
    """OPTIMIZE: fold the latest version's small files into fewer, larger
    ones and commit the result as a NEW version — content-identical, fewer
    files. Delta OPTIMIZE semantics on the snapshot protocol: readers of any
    prior version are untouched (their files are only dereferenced, never
    deleted — ``snapshot_vacuum`` reclaims them later). A concurrent
    commit landing mid-compaction REBASES when it did not touch any file
    being folded (appends/disjoint merges never conflict with folding
    other files — ``_rebase_concurrent`` with ``allow_any_adds``) and
    aborts with ``ConcurrentSnapshotError`` otherwise (compaction is
    always safe to just re-run).

    Files with more than ``small_file_max_rows`` rows (or legacy entries
    with unknown counts) are carried by reference; the small ones are read
    once, coalesced to ``target_files`` outputs (default: total small rows /
    ``small_file_max_rows``, min 1), and rewritten. Returns the new version,
    or ``None`` when fewer than two small files exist (nothing to fold).

    Small-file proliferation is the failure mode of per-micro-batch MERGE
    commits at scale — every batch adds a rewrite dir; compaction is the
    companion maintenance op (reference parity: Delta's OPTIMIZE next to
    ``MinioService.cs``'s active-file replay, which degrades linearly with
    file count).
    """
    versions = snapshot_versions(path)
    if not versions:
        return None
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    files = _manifest_files(path, cur)
    small = [
        e for e in files if e["rows"] is not None and e["rows"] <= small_file_max_rows
    ]
    if where is not None:
        # OPTIMIZE ... WHERE (Delta parity): fold only files the predicate
        # MAY touch, judged by the skip rule — compaction preserves
        # content, so the conservative "may match" scoping is always safe;
        # it just bounds the rewrite to the hot region (e.g. the current
        # ingest day) instead of the whole table. An unprovable predicate
        # errors loudly rather than silently compacting everything.
        conjuncts = _predicate_conjuncts(where)
        if not conjuncts:
            raise ValueError(
                f"snapshot_compact: WHERE {where!r} has no stats-checkable "
                "conjunct (supported: top-level AND of column-vs-literal "
                "comparisons / IN lists); run without WHERE to compact all"
            )
        may = _file_skip(cur, path)
        small = [e for e in small if may(e, conjuncts)]
    if purge_dvs:
        # REORG PURGE parity: files carrying a deletion vector join the
        # rewrite set regardless of size, materializing their deletes into
        # clean files (the new entries carry no dv). WHERE scopes this set
        # the same way it scopes the small-file set.
        seen = {e["path"] for e in small}
        small += [
            e
            for e in files
            if e.get("dv")
            and e["rows"] is not None
            and e["path"] not in seen
            and (where is None or may(e, conjuncts))
        ]
    small_paths = {e["path"] for e in small}
    big = [e for e in files if e["path"] not in small_paths]
    if len(small) < 2 and not (purge_dvs and any(e.get("dv") for e in small)):
        return None
    small_rows = sum(_live_rows(e) for e in small)
    n_out = target_files or max(1, small_rows // max(small_file_max_rows, 1))
    folded = _read_entries(spark, path, cur, small)
    if cur.get("partition_cols"):
        # Partitioned tables compact WITHIN partitions (Delta OPTIMIZE
        # bin-packs per partition): repartition on the partition columns
        # keeps each tuple in one task (≈ one output file per tuple).
        folded = folded.repartition(
            max(n_out, 1), *[F.col(c) for c in cur["partition_cols"]]
        )
    else:
        folded = folded.coalesce(n_out)
    new_files, n_new = _land(spark, path, folded, cur)
    if n_new != small_rows:
        # Not an assert: integrity checks must survive ``python -O``.
        raise RuntimeError(
            f"compaction row-count drift at {path}: {small_rows} in, {n_new} out"
        )
    return _commit_swap(
        spark, path, cur, base_version, "compact",
        replaced=small, produced=new_files, files=big + new_files,
        n_rows=cur["n_rows"],
        # Delta marks OPTIMIZE commits dataChange=false; the change feed
        # skips them so keyless consumers don't see the whole compacted
        # set as insert+delete (see snapshot_changes).
        extra={"data_change": False},
        allow_any_adds=True,
    )


def _z_numeric(df: DataFrame, c: str):
    """Order-comparable DOUBLE proxy for a z-order column. Numerics and
    date/timestamps cast directly. Strings pack their first 7 bytes
    big-endian (codepoints clamped to 255): order-preserving for ASCII
    prefixes, approximate beyond — which only costs clustering QUALITY
    (equal-depth bucketing absorbs the distortion); correctness never
    depends on the curve."""
    dt = dict(df.dtypes).get(c)
    if dt == "string":
        e = F.lit(0).cast("double")
        for i in range(1, 8):
            ch = F.least(
                F.coalesce(F.ascii(F.substring(F.col(c), i, 1)), F.lit(0)),
                F.lit(255),
            )
            e = e * 256.0 + ch.cast("double")
        return F.when(F.col(c).isNull(), F.lit(None).cast("double")).otherwise(e)
    return F.col(c).cast("double")


def _zvalue(df: DataFrame, cols: Sequence[str], bits: int = 8):
    """Morton (Z-order) key over ``cols`` as ONE JVM-side column.

    Each column is rank-normalized to a ``bits``-wide bucket id via its
    empirical CDF — split points from ``approxQuantile`` (one
    Greenwald-Khanna pass, driver receives 2^bits-1 doubles: metadata
    scale), assignment via an array fold over the broadcast split literals.
    Equal-depth (not equal-width) buckets make the curve robust to
    outliers and skewed distributions. Strings ride an order-preserving
    byte-prefix proxy (``_z_numeric``). No global sort, no window, no
    per-row Python: the fold is codegen'd shiftleft/or arithmetic.
    """
    nb = (1 << bits) - 1
    ranked = df
    rank_cols = []
    probs = [i / (nb + 1) for i in range(1, nb + 1)]
    # ONE Greenwald-Khanna pass for every clustered column (the
    # multi-column approxQuantile form) — a per-column loop would scan the
    # table len(cols) times before the rewrite scan even starts.
    casted = df.select(*[_z_numeric(df, c).alias(c) for c in cols])
    all_splits = casted.approxQuantile(list(cols), probs, 0.001)
    for c, splits in zip(cols, all_splits):
        arr = F.array(*[F.lit(float(s)) for s in splits])
        rc = f"_zr_{c}"
        proxy = _z_numeric(df, c)
        ranked = ranked.withColumn(
            rc,
            F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda acc, s: acc
                + F.when(proxy >= s, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long"),
            ),
        )
        rank_cols.append(rc)
    z = F.lit(0).cast("long")
    for bit in range(bits - 1, -1, -1):
        for rc in rank_cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(F.col(rc), bit).bitwiseAND(F.lit(1))
            )
    return ranked.withColumn("_zval", z), rank_cols


def snapshot_zorder(
    spark: SparkSession,
    path: str,
    cols: Sequence[str],
    target_files: int = 8,
    bits: int = 8,
    where: str | None = None,
) -> int | None:
    """OPTIMIZE [WHERE <pred>] ZORDER BY: rewrite the in-scope files
    clustered along a Morton curve over ``cols`` and commit as a new
    ``data_change=false`` version with per-file min/max stats on those
    columns (plus whatever stats discipline the folded files carried).

    A linear sort clusters one column perfectly and the others not at all;
    the Z-curve gives every listed column locality, so ``snapshot_scan``
    range predicates on ANY of them skip most files. This is the Delta
    ``OPTIMIZE ZORDER BY`` maintenance op re-realized on the snapshot
    protocol (the reference's serving layer replays every active file on
    each TTL refresh, ``MinioService.cs:71-216`` — clustering + stats
    pruning is what makes that replay sub-linear at scale).

    ``where`` scopes the rewrite to the files the predicate MAY touch
    (min/max stats, ``_predicate_conjuncts`` — exactly the OPTIMIZE WHERE
    scoping): on a partitioned table, ``where="year = 2024"`` re-clusters
    one partition's files and carries everything else by reference.

    Content-identical rewrite: same rows, new layout. A concurrent commit
    landing mid-cluster REBASES when it did not touch any file being
    folded (appends and disjoint merges never conflict — the same
    ``allow_any_adds`` treatment as compaction; concurrently added files
    simply stay unclustered until the next maintenance pass) and aborts
    with ``ConcurrentSnapshotError`` when it rewrote or DV-re-pointed a
    folded file. At 1000-writer scale this is what lets z-order
    maintenance land on a hot table at all.
    """
    versions = snapshot_versions(path)
    if not versions:
        return None
    base_version = versions[-1]
    cur = _read_manifest(path, base_version)
    files = _manifest_files(path, cur)
    if where is not None:
        conjuncts = _predicate_conjuncts(where)
        if not conjuncts:
            raise ValueError(
                f"snapshot_zorder: WHERE {where!r} has no stats-checkable "
                "conjunct (supported: top-level AND of column-vs-literal "
                "comparisons / IN lists); run without WHERE to cluster all"
            )
        may = _file_skip(cur, path)
        folded = [e for e in files if may(e, conjuncts)]
    else:
        folded = list(files)
    if not folded:
        return None
    folded_paths = {e["path"] for e in folded}
    carried = [e for e in files if e["path"] not in folded_paths]
    folded_rows = (
        None
        if any(e.get("rows") is None for e in folded)
        else sum(_live_rows(e) for e in folded)
    )
    data = _read_entries(spark, path, cur, folded)

    zdf, helper_cols = _zvalue(data, cols, bits)
    pcols = list(cur.get("partition_cols") or [])
    # Partitioned tables z-order WITHIN partitions (Delta semantics):
    # range-partitioning on (partition cols, zval) aligns task splits to
    # partition boundaries first and the curve within each.
    clustered = (
        zdf.repartitionByRange(
            target_files, *[F.col(c) for c in pcols], F.col("_zval")
        )
        .sortWithinPartitions(*pcols, "_zval")
        .drop("_zval", *helper_cols)
    )
    new_files, n_new = _land(spark, path, clustered, cur, cols)
    if folded_rows is not None and n_new != folded_rows:
        raise RuntimeError(
            f"zorder row-count drift at {path}: {folded_rows} in, {n_new} out"
        )
    extra = {"data_change": False, "clustered_by": list(cols)}
    if where is not None:
        extra["clustered_where"] = where
    return _commit_swap(
        spark, path, cur, base_version, "zorder",
        replaced=folded, produced=new_files, files=carried + new_files,
        n_rows=cur["n_rows"], extra=extra, allow_any_adds=True,
    )


def snapshot_scan(
    spark: SparkSession,
    path: str,
    predicates: dict[str, tuple] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned read: open only the files whose manifest min/max stats
    may contain the requested ``{col: (lo, hi)}`` ranges, then re-apply the
    predicates exactly. Semantically identical to ``snapshot_read`` +
    ``filter`` — the manifest stats only decide which files are OPENED
    (file skipping on plain parquet, the same contract as Delta data
    skipping). Files without stats for a column are always read.

    POINT predicates (``lo == hi``) additionally consult per-file Bloom
    bitsets when the table was written with ``bloom_cols`` — the skipping
    that works where min/max cannot: a needle lookup on an unsorted
    high-cardinality column (every file's range brackets every key, but
    ~all blooms reject it). A bloom hit is only "maybe" — the exact
    re-filter below keeps semantics identical either way.
    """
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = versions[-1] if version is None else version
    m = _read_manifest(path, v)
    predicates = predicates or {}
    conjuncts = [
        cj
        for c, (lo, hi) in predicates.items()
        for cj in (
            [(c, "=", [lo])] if lo == hi
            else [(c, ">=", [lo]), (c, "<=", [hi])]
        )
    ]
    # generated-column partition pruning: a range on the BASE column of a
    # monotone generated partition column implies one on the partition
    # value, so its [v, v] stats fire though the caller never names it
    kept = _files_may_match(
        path, m, conjuncts + _derive_generated_conjuncts(m, conjuncts)
    )
    if not kept:
        base = snapshot_read(spark, path, v).limit(0)
    else:
        base = _read_entries(spark, path, m, kept)
    for c, (lo, hi) in predicates.items():
        base = base.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
    return base


def snapshot_scan_in(
    spark: SparkSession,
    path: str,
    col: str,
    values: Sequence,
    version: int | None = None,
) -> DataFrame:
    """IN-list point lookup: open only the files that may hold ANY of
    ``values`` (per-value min/max stats + Bloom membership), then re-apply
    ``col IN (values)`` exactly. The N-key fetch a serving layer issues
    against a 100 TB table: file-set union is computed from manifest
    metadata, the literals hash natively on the driver (no Spark job), and
    the data read is bounded by files actually holding requested keys plus
    the bloom's false positives."""
    vals = [v for v in values if v is not None]
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = versions[-1] if version is None else version
    m = _read_manifest(path, v)
    kept = _files_may_match(path, m, [(col, "=", vals)]) if vals else []
    if not kept:
        return snapshot_read(spark, path, v).limit(0)
    base = _read_entries(spark, path, m, kept)
    return base.filter(F.col(col).isin(list(vals)))


def _dv_swap_changes(
    spark: SparkSession,
    path: str,
    m_to: dict,
    swaps: list[tuple],
    added_ref_by_path: dict,
    ent_by_id: dict,
) -> DataFrame:
    """Exact row-level changes for DV SWAPS — window endpoints where a file
    kept its path but its deletion vector ref moved. Deletes are the
    positions dead at the new ref but not the old; inserts (rollback
    un-deletes) the reverse. Cost is O(position-list sizes + matched rows),
    never O(files) — the cheap CDF deletion vectors exist to enable."""
    def ref_positions(r: str | None, paths: list[str]) -> DataFrame | None:
        if r is None:
            return None
        pdf = spark.createDataFrame([(x,) for x in paths], [_DV_FILE])
        return (
            spark.read.parquet(_dv_ref_path(path, r))
            .join(F.broadcast(pdf), [_DV_FILE])
        )

    # Group by the (old ref, new ref) pair: one position diff per pair
    # covers every file that moved between those refs.
    groups: dict[tuple, list[str]] = {}
    for p, r_old, r_new in swaps:
        groups.setdefault((r_old, r_new), []).append(
            _entry_rid(ent_by_id[(p, r_new)])
        )
    del_parts: list[DataFrame] = []
    ins_parts: list[DataFrame] = []
    for (r_old, r_new), rels in sorted(
        groups.items(), key=lambda kv: (kv[0][0] or "", kv[0][1] or "")
    ):
        dn = ref_positions(r_new, rels)
        do = ref_positions(r_old, rels)
        if dn is not None:
            del_parts.append(
                dn if do is None else dn.join(do, [_DV_FILE, _DV_POS], "left_anti")
            )
        if do is not None:
            ins_parts.append(
                do if dn is None else do.join(dn, [_DV_FILE, _DV_POS], "left_anti")
            )

    def union_all(parts: list[DataFrame]) -> DataFrame | None:
        out = None
        for p in parts:
            out = p if out is None else out.unionByName(p)
        return out

    # Raw physical read of the swapped files (dv stripped: position joins
    # select the rows, not the anti-join) under m_to's declared schema.
    raw_entries = []
    for p, _, _ in swaps:
        e = dict(ent_by_id[(p, added_ref_by_path[p])])
        e.pop("dv", None)
        raw_entries.append(e)
    raw = _read_entries(spark, path, m_to, raw_entries, lineage=True)
    data_cols = [c for c in raw.columns if c not in (_SN_FILE, _SN_POS)]

    def rows_at(pos: DataFrame | None, change: str) -> DataFrame | None:
        if pos is None:
            return None
        keyed = pos.select(
            F.col(_DV_FILE).alias(_SN_FILE), F.col(_DV_POS).alias(_SN_POS)
        )
        return (
            raw.join(keyed, [_SN_FILE, _SN_POS])
            .select(*data_cols)
            .withColumn("_change_type", F.lit(change))
        )

    parts = [
        x
        for x in (
            rows_at(union_all(del_parts), "delete"),
            rows_at(union_all(ins_parts), "insert"),
        )
        if x is not None
    ]
    out = union_all(parts)
    if out is None:
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(m_to["schema"]))
        out = spark.createDataFrame([], schema=schema).withColumn(
            "_change_type", F.lit("")
        )
    return out


def snapshot_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key_cols: Sequence[str] = (),
) -> DataFrame:
    """Change data feed between two versions (Delta CDF parity on the
    snapshot protocol): row-level changes computed from the MANIFEST file
    diff, so cost is O(changed files), never O(table) — the property that
    makes incremental downstream consumption (silver rebuilds, training-set
    refresh) viable when the table is 100 TB and a micro-batch touched three
    files.

    Without ``key_cols`` (append-only consumption): rows in files added
    since ``from_version`` are ``insert``, rows in files dropped are
    ``delete``. With ``key_cols`` the file-level sets are reconciled per
    key the way Delta CDF does: a key only in new files is ``insert``, only
    in old files is ``delete``, present in both with different payloads
    yields ``update_preimage`` + ``update_postimage``, and rows merely
    carried into a rewritten file (byte-identical payload) emit nothing.

    Output: the table's columns plus ``_change_type``. Requires both
    versions to still be within the vacuum horizon (their files on disk).
    Keyed mode assumes keys are unique per version — the invariant every
    ``snapshot_merge``-maintained table holds; on an append-built table
    with duplicate keys the per-key reconciliation would multiply rows
    (use the keyless mode there).

    Compaction handling: keyed mode processes ``data_change=false``
    commits as ordinary file swaps — rows merely carried through an
    OPTIMIZE land on both sides of the per-key reconciliation with equal
    payloads and cancel (``eqNullSafe``), so the feed still excludes them,
    and cancellation stays exact when a later commit rewrites a compacted
    file. The cost is that a window spanning a compaction reads the
    compacted file set on both sides (the compaction itself was an
    O(compacted-set) rewrite, so this does not change the asymptotic
    cost of the window). Keyless mode skips rewrite commits outright
    (its contract is append-only tables, where compaction outputs are
    never removed by later data changes); if a later data-change commit
    DOES remove a skipped commit's output, the walk falls back to
    processing every commit, which keeps insert-minus-delete net-exact
    but emits carried rows as paired insert+delete.
    """
    versions = snapshot_versions(path)
    if from_version not in versions:
        raise ValueError(f"version {from_version} not in {versions}")
    v_to = versions[-1] if to_version is None else to_version
    if v_to not in versions:
        raise ValueError(f"version {v_to} not in {versions}")
    if from_version > v_to:
        # An inverted range would silently swap insert/delete labels.
        raise ValueError(
            f"from_version {from_version} > to_version {v_to} at {path}"
        )
    m_to = _read_manifest(path, v_to)
    # Walk the commit chain rather than diffing the endpoint manifests:
    # a file added then later removed inside the window cancels out, and
    # (keyless mode) pure-rewrite commits (snapshot_compact, manifest
    # data_change=false) can be skipped the way Delta CDF excludes
    # OPTIMIZE commits from the feed. (Vacuum only drops a prefix of
    # versions, so the surviving chain between two surviving versions is
    # always contiguous.)
    chain = [v for v in versions if from_version <= v <= v_to]
    chain_manifests = [_read_manifest(path, v) for v in chain]

    # File IDENTITY is (path, dv ref): a DV-delete commit keeps the path
    # but re-points its deletion vector, and the feed must see that as
    # remove(old identity) + add(new identity) — keyed mode then emits the
    # dead keys as deletes via the per-key reconciliation, and keyless
    # mode diffs the two position sets into exact row-level changes.
    ent_by_id: dict[tuple, dict] = {}

    def files_of(m: dict) -> set[tuple]:
        out = set()
        for e in _manifest_files(path, m):
            i = (e["path"], (e.get("dv") or {}).get("ref"))
            out.add(i)
            ent_by_id[i] = e
        return out

    def walk(skip_rewrites: bool) -> tuple[set[tuple], set[tuple]] | None:
        added_set: set[tuple] = set()
        removed_set: set[tuple] = set()
        # Files introduced by a skipped rewrite commit carry content that
        # may duplicate files still sitting in added_set; if a later
        # data-change commit removes one, pure file algebra double-counts
        # (the round-4 keyed CDF bug) — signal the caller to re-walk
        # without skipping, where cancellation is exact.
        skip_outputs: set[tuple] = set()
        prev_files = files_of(chain_manifests[0])
        for m in chain_manifests[1:]:
            cur_files = files_of(m)
            if skip_rewrites and not m.get("data_change", True):
                skip_outputs |= cur_files - prev_files
                prev_files = cur_files
                continue
            for p in cur_files - prev_files:
                if p in removed_set:
                    removed_set.discard(p)
                else:
                    added_set.add(p)
            for p in prev_files - cur_files:
                if p in skip_outputs:
                    return None  # poison: carried content being removed
                if p in added_set:
                    added_set.discard(p)
                else:
                    removed_set.add(p)
            prev_files = cur_files
        return added_set, removed_set

    # Keyed mode never skips: per-key reconciliation cancels carried rows
    # exactly, including across post-compaction rewrites. Keyless mode
    # skips for Delta-CDF parity, falling back when the skip is unsound.
    sets = walk(skip_rewrites=not key_cols)
    if sets is None:
        sets = walk(skip_rewrites=False)
    id_key = lambda i: (i[0], i[1] or "")  # noqa: E731 — None-safe sort
    added = sorted(sets[0], key=id_key)
    removed = sorted(sets[1], key=id_key)

    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m_to["schema"]))

    def read_ids(ids: list[tuple]) -> DataFrame:
        if not ids:
            return spark.createDataFrame([], schema=schema)
        return _read_entries(spark, path, m_to, [ent_by_id[i] for i in ids])

    if not key_cols:
        # A DV swap (same path, different ref on the two sides) is diffed
        # POSITION-WISE into exact row-level changes: positions dead in the
        # new ref but not the old are deletes; positions undeleted by a
        # rollback are inserts. Carried live rows emit nothing — exactly
        # Delta CDF's behavior for DV commits, with no key columns needed.
        added_ref_by_path = {p: r for (p, r) in added}
        swaps = [
            (p, r_old, added_ref_by_path[p])
            for (p, r_old) in removed
            if p in added_ref_by_path
        ]
        swap_paths = {p for (p, _, _) in swaps}
        ins = read_ids([i for i in added if i[0] not in swap_paths])
        dels = read_ids([i for i in removed if i[0] not in swap_paths])
        out = ins.withColumn("_change_type", F.lit("insert")).unionByName(
            dels.withColumn("_change_type", F.lit("delete"))
        )
        if swaps:
            out = out.unionByName(
                _dv_swap_changes(spark, path, m_to, swaps, added_ref_by_path, ent_by_id)
            )
        return out

    new_rows = read_ids(added)
    old_rows = read_ids(removed)

    key_cols = list(key_cols)
    payload = [c for c in schema.fieldNames() if c not in key_cols]
    if not payload:
        # key-only table: no payload to diff — presence changes only
        ins = new_rows.join(old_rows, key_cols, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        dels = old_rows.join(new_rows, key_cols, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return ins.unionByName(dels)
    n = new_rows.select(*key_cols, F.struct(*payload).alias("_n"))
    r = old_rows.select(*key_cols, F.struct(*payload).alias("_r"))
    j = n.join(r, key_cols, "full_outer")

    def shape(side: str, change: str) -> DataFrame:
        return j.filter(side_filters[change]).select(
            *key_cols,
            *[F.col(f"{side}.{c}").alias(c) for c in payload],
            F.lit(change).alias("_change_type"),
        )

    side_filters = {
        "insert": F.col("_r").isNull() & F.col("_n").isNotNull(),
        "delete": F.col("_n").isNull() & F.col("_r").isNotNull(),
        "update_postimage": F.col("_n").isNotNull()
        & F.col("_r").isNotNull()
        & ~F.col("_n").eqNullSafe(F.col("_r")),
    }
    side_filters["update_preimage"] = side_filters["update_postimage"]
    return (
        shape("_n", "insert")
        .unionByName(shape("_r", "delete"))
        .unionByName(shape("_r", "update_preimage"))
        .unionByName(shape("_n", "update_postimage"))
    )


def snapshot_consume_changes(
    spark: SparkSession,
    path: str,
    cursor_path: str,
    key_cols: Sequence[str] = (),
) -> tuple[DataFrame, int, Callable[[], None]]:
    """Cursor-based incremental consumption of a snapshot table's changes —
    the downstream half of the CDF: a consumer (silver rebuild, training-set
    refresh) calls this per run, applies the returned delta, then commits
    the cursor. At-least-once: a crash between apply and commit replays the
    same delta next run, so the application step must be idempotent (keyed
    MERGE / overwrite-by-key both are).

    Returns ``(changes, to_version, commit)``:
    - first run (no cursor): the whole current version as ``insert`` rows —
      the initial load;
    - caught up: an empty frame with the change schema;
    - otherwise: ``snapshot_changes(last_seen, latest)``.
    ``commit()`` durably advances the cursor to ``to_version`` (atomic
    write+rename).
    """
    versions = snapshot_versions(path)
    latest = versions[-1]
    last: int | None = None
    if _fs().exists(cursor_path):
        last = int(_fs().read_text(cursor_path).strip())
    if last is not None and last not in versions:
        raise StaleCursorError(
            f"{path}: cursor at version {last}, but only {versions} survive "
            "vacuum — re-bootstrap (drop derived state + cursor, take a "
            "fresh initial load)"
        )
    if last is None:
        changes = snapshot_read(spark, path, latest).withColumn(
            "_change_type", F.lit("insert")
        )
    elif last == latest:
        changes = snapshot_changes(spark, path, latest, latest, key_cols).limit(0)
    else:
        changes = snapshot_changes(spark, path, last, latest, key_cols)

    def commit() -> None:
        _fs().write_atomic(cursor_path, str(latest))

    return changes, latest, commit


def _hist_bin(col: str, lo: float, hi: float, nbins: int):
    """Bin index for a fixed-width histogram over [lo, hi): 0 = underflow,
    1..nbins = interior, nbins+1 = overflow, null -> null (binned nowhere).
    The clamp guards the floating-point edge where (x - lo) / w rounds a
    just-below-hi value up to nbins + 1."""
    x = F.col(col).cast("double")
    w = (float(hi) - float(lo)) / int(nbins)
    raw = (F.floor((x - F.lit(float(lo))) / F.lit(w)) + F.lit(1)).cast("int")
    return (
        F.when(x < F.lit(float(lo)), F.lit(0))
        .when(x >= F.lit(float(hi)), F.lit(nbins + 1))
        .otherwise(F.least(F.lit(nbins), F.greatest(F.lit(1), raw)))
    )


def histogram_quantile(hist, q: float, lo: float, hi: float, nbins: int):
    """Approximate quantile Column from a maintained ``hist_<c>`` array
    (layout per ``_hist_bin``): the midpoint of the first bin whose
    cumulative count reaches ceil(q * total), clamped to [lo, hi] for the
    under/overflow bins; null when the group's histogram is empty. Error is
    bounded by half a bin width for in-range data — the fixed price that
    buys O(nbins) maintained state per group instead of a value log, which
    is what makes a percentile view maintainable at 100 TB (the histogram
    is exact under insert AND delete, so the estimate never drifts from a
    full recompute's). Pure array-fold expressions — no UDF, no shuffle."""
    h = hist if not isinstance(hist, str) else F.col(hist)
    zero = F.lit(0).cast("long")
    total = F.aggregate(h, zero, lambda a, x: a + x)
    target = F.ceil(total.cast("double") * F.lit(float(q))).cast("long")
    found = F.aggregate(
        h,
        F.struct(
            zero.alias("c"), F.lit(-1).alias("i"), F.lit(0).alias("p")
        ),
        lambda acc, x: F.struct(
            (acc["c"] + x).alias("c"),
            F.when(
                (acc["i"] == -1) & ((acc["c"] + x) >= target), acc["p"]
            )
            .otherwise(acc["i"])
            .alias("i"),
            (acc["p"] + 1).alias("p"),
        ),
        lambda acc: acc["i"],
    )
    w = (float(hi) - float(lo)) / int(nbins)
    return (
        F.when((total <= 0) | (found < 0), F.lit(None).cast("double"))
        .when(found == 0, F.lit(float(lo)))
        .when(found == nbins + 1, F.lit(float(hi)))
        .otherwise(F.lit(float(lo)) + (found.cast("double") - 0.5) * F.lit(w))
    )


def snapshot_maintain_aggregate(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    cursor_path: str,
    group_cols: Sequence[str],
    sum_cols: Sequence[str] = (),
    key_cols: Sequence[str] = (),
    minmax_cols: Sequence[str] = (),
    approx_distinct_cols: Sequence[str] = (),
    histogram_cols: Sequence[tuple] = (),
) -> int | None:
    """Incrementally maintain a grouped COUNT/SUM materialized view of a
    snapshot table from its change feed — the engine-level API for the
    pattern the reference's serving layer approximates with re-read-on-TTL
    (``MinioService.cs:53-66``): a downstream aggregate that stays current
    without recomputing over the full source.

    The view is itself a snapshot table at ``view_path`` with schema
    ``group_cols + n (count) + sum_<c> per sum_cols + min_<c>/max_<c> per
    minmax_cols + _maint_v``. Each call:

    1. pulls the source delta via ``snapshot_consume_changes`` (insert /
       delete / update pre+post rows),
    2. folds it to SIGNED per-group contributions (+1 insert/postimage,
       −1 delete/preimage) — count and sum are self-decrementable,
    3. for ``minmax_cols`` (NOT self-decrementable): groups whose delta is
       insert-only fold as ``least/greatest(old, incoming-min/max)``;
       groups touched by any delete/preimage get a TARGETED recompute —
       one pass over the source semi-joined (broadcast) to exactly those
       group keys, so the cost is O(source rows in deleted-from groups),
       never O(view) and never a full re-aggregation of untouched groups.
       (With ``stats_cols=group_cols`` on the source the semi-join scan
       additionally prunes whole files by manifest min/max.)
       ``approx_distinct_cols`` follow the same insert-fold/recompute-on-
       delete split: each maintains a Datasketches HLL sketch column
       ``hll_<c>`` (estimate with ``F.hll_sketch_estimate``). HLL union is
       register-wise max, so folding the insert delta's sketch into the
       stored sketch yields EXACTLY the sketch of the union stream — the
       incremental estimate equals a full recompute's, not an
       approximation of it. Deletes are not subtractable from an HLL, so
       deleted-from groups ride the same targeted-recompute semi-join.
       At 100 TB this is the only way a distinct-count view stays cheap:
       the merge state is one fixed-size sketch per group instead of a
       per-group distinct set, and the micro-batch cost is O(changed
       rows), not O(distinct values).
       ``histogram_cols`` — each entry ``(col, lo, hi, nbins)`` — maintain
       a fixed-width bin-count array ``hist_<c>`` (underflow + nbins
       interior + overflow). Histograms are an abelian group under
       elementwise addition, so signed deltas fold EXACTLY for deletes too:
       no recompute branch, O(nbins) state per group, and
       ``histogram_quantile`` derives approximate percentiles from the
       maintained array — the incremental percentile view that a naive
       approach would recompute from all values.
    4. MERGEs only the touched groups into the view, tombstoning groups
       whose count reaches zero (``delete_col``),
    5. advances the cursor.

    Exactly-once: the view manifest records ``source_version``, which is
    the AUTHORITATIVE applied state (the cursor is a hint that commits
    after the view and can lag behind it across a crash). When the view
    exists, the delta is computed from the view's recorded version, not
    the cursor — so a crash between view commit and cursor commit never
    re-applies the already-folded prefix even if the source advanced
    before the recovery call (the at-least-once replay of
    ``snapshot_consume_changes`` made idempotent). Scale: the
    delta shuffle is O(changed rows), the merge rewrites only files holding
    touched groups (stats-pruned), and the view never sees the full source.

    Returns the new view version, or None when already caught up.

    ``rebuild_share``: when the refresh slice reaches this share of the
    view's rows, the maintainer abandons the targeted MERGE and rebuilds
    the whole view as one overwrite — measured (scripts/
    bench_maintenance.py, 100M-row fact): a 10% dim churn whose fact keys
    are scattered across every file makes the merge rewrite ~the whole
    table PLUS the delta machinery (79s) while the from-scratch rebuild
    costs 40s, so past the threshold merging only adds overhead. The
    right value depends on key clustering (z-ordered fact keys keep
    merges file-local and could run higher); ``None`` disables the
    fast path.
    """
    group_cols = list(group_cols)
    sum_cols = list(sum_cols)
    minmax_cols = list(minmax_cols)
    approx_distinct_cols = list(approx_distinct_cols)
    histogram_cols = [tuple(h) for h in histogram_cols]
    needs_recompute = bool(minmax_cols or approx_distinct_cols)
    changes, to_v, commit = snapshot_consume_changes(
        spark, source_path, cursor_path, key_cols
    )

    view_exists = bool(snapshot_versions(view_path))
    if view_exists:
        applied = _latest_manifest(view_path).get("source_version")
        applied = -1 if applied is None else applied  # None: pre-maintenance rollback
        if applied >= to_v:
            commit()  # crash-recovery fast-forward: view already has this
            return None
        if applied >= 0:
            # The cursor may lag the view (crash between view commit and
            # cursor commit). Consuming the cursor's delta would re-apply
            # the (cursor, applied] prefix the view already folded in —
            # silent aggregate corruption once the source has advanced.
            # The view's recorded source_version is authoritative: consume
            # exactly the unapplied suffix.
            if applied not in snapshot_versions(source_path):
                raise StaleCursorError(
                    f"{source_path}: view applied version {applied} no "
                    "longer survives vacuum — re-bootstrap (drop view + "
                    "cursor, take a fresh initial load)"
                )
            changes = snapshot_changes(
                spark, source_path, applied, to_v, key_cols
            )

    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    is_add = F.col("_change_type").isin("insert", "update_postimage")
    is_del = F.col("_change_type").isin("delete", "update_preimage")
    aggs = [F.sum(sign).cast("long").alias("_d_n")]
    for c in sum_cols:
        aggs.append(F.sum(sign * F.col(c)).alias(f"_d_sum_{c}"))
    for c in minmax_cols:
        aggs.append(F.min(F.when(is_add, F.col(c))).alias(f"_ins_min_{c}"))
        aggs.append(F.max(F.when(is_add, F.col(c))).alias(f"_ins_max_{c}"))
    for c in approx_distinct_cols:
        # Sketch of the insert-side values only; all-null input yields an
        # EMPTY sketch (estimate 0), so the fold below is total.
        aggs.append(
            F.hll_sketch_agg(F.when(is_add, F.col(c))).alias(f"_ins_hll_{c}")
        )
    for hc, lo, hi, nb in histogram_cols:
        # Per-bin SIGNED counts: histograms are an abelian group under
        # elementwise addition, so — unlike min/max/HLL — deletes subtract
        # exactly and the maintained array NEVER needs a recompute. Null
        # values bin to null and contribute to no bucket (count/sum parity).
        b = _hist_bin(hc, lo, hi, nb)
        aggs.append(
            F.array(
                *[
                    F.sum(F.when(b == i, sign).otherwise(F.lit(0)))
                    .cast("long")
                    for i in range(nb + 2)
                ]
            ).alias(f"_d_hist_{hc}")
        )
    if needs_recompute:
        aggs.append(
            F.max(F.when(is_del, F.lit(True)).otherwise(F.lit(False))).alias(
                "_has_del"
            )
        )
    delta = changes.groupBy(*group_cols).agg(*aggs)

    if needs_recompute:
        # Targeted recompute for groups that lost rows: min/max/HLL are not
        # self-decrementable, so re-aggregate exactly those groups from the
        # CURRENT source (broadcast semi-join on the touched group keys).
        # No forced broadcast: these relations are O(touched groups) — tiny
        # for a typical micro-batch but unbounded for a bulk delete, and a
        # forced broadcast hint would OOM the driver exactly then. AQE
        # picks broadcast when they really are small.
        del_groups = delta.filter(F.col("_has_del")).select(*group_cols)
        # Pin the recompute to the version being applied (to_v), not the
        # latest: a concurrent write landing between change consumption and
        # this read would otherwise leak not-yet-applied rows into the
        # rebuilt state. The min/max/HLL folds are idempotent (least/
        # greatest/union), so latest-read was correct-but-wasteful here —
        # the pin keeps every maintenance wave a pure function of
        # (applied, to_v]. to_v survives vacuum by the applied-version
        # checks above (StaleCursorError otherwise).
        recomputed = (
            snapshot_read(spark, source_path, to_v)
            .join(del_groups, group_cols, "semi")
            .groupBy(*group_cols)
            .agg(
                *[F.min(c).alias(f"_rc_min_{c}") for c in minmax_cols],
                *[F.max(c).alias(f"_rc_max_{c}") for c in minmax_cols],
                *[
                    F.hll_sketch_agg(c).alias(f"_rc_hll_{c}")
                    for c in approx_distinct_cols
                ],
            )
        )
        delta = delta.join(recomputed, group_cols, "left")

    # The folded delta is consumed by SEVERAL actions downstream (the
    # emptiness probe, the merge's key-bounds collect, its key-membership
    # scan, and the rewrite itself) — without persisting, each one would
    # re-execute the whole CDF reconciliation + recompute join. The delta
    # is O(touched groups): tiny relative to the work that produced it.
    delta = delta.persist()
    try:

        # Per-group min/max: a recomputed value (groups that lost rows) wins;
        # otherwise fold the incoming inserts against the stored value.
        def minmax_out(mc: str, stored_min=None, stored_max=None) -> list:
            rc_min, rc_max = F.col(f"_rc_min_{mc}"), F.col(f"_rc_max_{mc}")
            ins_min, ins_max = F.col(f"_ins_min_{mc}"), F.col(f"_ins_max_{mc}")
            if stored_min is None:
                new_min, new_max = ins_min, ins_max
            else:
                new_min = F.least(stored_min, ins_min)
                new_max = F.greatest(stored_max, ins_max)
            return [
                F.coalesce(rc_min, new_min).alias(f"min_{mc}"),
                F.coalesce(rc_max, new_max).alias(f"max_{mc}"),
            ]

        # Per-group HLL: a recomputed sketch (groups that lost rows) wins;
        # otherwise union the insert-side sketch into the stored one. Union is
        # register-wise max, so fold order cannot drift the estimate.
        def hll_out(hc: str, stored=None) -> F.Column:
            rc = F.col(f"_rc_hll_{hc}")
            ins = F.col(f"_ins_hll_{hc}")
            if stored is None:
                folded = ins
            else:
                folded = F.when(stored.isNull(), ins).otherwise(
                    F.hll_union(stored, ins)
                )
            return F.coalesce(rc, folded).alias(f"hll_{hc}")

        # Per-group histogram: stored + signed delta, elementwise. Exact
        # under any insert/delete/update mix — no recompute branch exists.
        def hist_out(hc: str, stored=None) -> F.Column:
            d = F.col(f"_d_hist_{hc}")
            if stored is None:
                folded = d
            else:
                folded = F.when(stored.isNull(), d).otherwise(
                    F.zip_with(stored, d, lambda x, y: x + y)
                )
            return folded.alias(f"hist_{hc}")

        def relax_hll_nullability(df: DataFrame) -> DataFrame:
            # hll_sketch_agg infers NON-nullable while the update path's
            # coalesce chain is nullable; the strict merge schema check
            # compares nullability, so pin every sketch column nullable. A
            # value-preserving runtime condition is the only reliable
            # launderer: when(lit(True), x) and .to(schema) both keep the
            # proven non-nullability.
            out = df
            for hc in approx_distinct_cols:
                name = f"hll_{hc}"
                out = out.withColumn(
                    name, F.when(F.octet_length(F.col(name)) >= 0, F.col(name))
                )
            for hc, *_ in histogram_cols:
                name = f"hist_{hc}"
                out = out.withColumn(
                    name, F.when(F.size(F.col(name)) >= 0, F.col(name))
                )
            return out

        if not view_exists:
            init = delta.filter(F.col("_d_n") > 0).select(
                *group_cols,
                F.col("_d_n").alias("n"),
                *[F.col(f"_d_sum_{c}").alias(f"sum_{c}") for c in sum_cols],
                *[c for mc in minmax_cols for c in minmax_out(mc)],
                *[hll_out(hc) for hc in approx_distinct_cols],
                *[hist_out(hc) for hc, *_ in histogram_cols],
                F.lit(to_v).cast("long").alias("_maint_v"),
            )
            v = snapshot_write(
                relax_hll_nullability(init),
                view_path,
                stats_cols=group_cols,
                manifest_extra={"source_version": to_v},
            )
            commit()
            return v
        # emptiness probe on the PERSISTED delta (changes empty <=> delta
        # empty: every change row lands in some group) — this is also the
        # action that materializes the cache for the merge's reuse
        if len(delta.take(1)) == 0:
            commit()
            return None

        current = snapshot_read(spark, view_path).select(
            *group_cols,
            "n",
            *[f"sum_{c}" for c in sum_cols],
            *[c for mc in minmax_cols for c in (f"min_{mc}", f"max_{mc}")],
            *[f"hll_{hc}" for hc in approx_distinct_cols],
            *[f"hist_{hc}" for hc, *_ in histogram_cols],
        )
        joined = delta.join(current, group_cols, "left")
        new_n = F.coalesce(F.col("n"), F.lit(0)) + F.col("_d_n")
        upsert = joined.select(
            *group_cols,
            new_n.alias("n"),
            *[
                (
                    F.coalesce(F.col(f"sum_{c}"), F.lit(0))
                    + F.col(f"_d_sum_{c}")
                ).alias(f"sum_{c}")
                for c in sum_cols
            ],
            *[
                c
                for mc in minmax_cols
                for c in minmax_out(mc, F.col(f"min_{mc}"), F.col(f"max_{mc}"))
            ],
            *[hll_out(hc, F.col(f"hll_{hc}")) for hc in approx_distinct_cols],
            *[hist_out(hc, F.col(f"hist_{hc}")) for hc, *_ in histogram_cols],
            F.lit(to_v).cast("long").alias("_maint_v"),
            (new_n == 0).alias("_tomb"),
        )
        v = snapshot_merge(
            relax_hll_nullability(upsert),
            view_path,
            key_cols=group_cols,
            seq_col="_maint_v",
            delete_col="_tomb",
            manifest_extra={"source_version": to_v},
        )
    finally:
        # One finally covers EVERY exit — the bootstrap write, emptiness
        # probe, recompute join and the merge can all raise; without it
        # the cached delta leaks for the session's lifetime.
        delta.unpersist()
    commit()
    return v


def topk_view_read(
    spark: SparkSession, view_path: str, k: int | None = None
) -> DataFrame:
    """Serve a ``snapshot_maintain_topk`` view as ranked rows: one row per
    (group, rank) with the order value and the source key struct ``ky`` —
    a metadata-cheap explode of the per-group buffer, never a source read."""
    view = snapshot_read(spark, view_path)
    buf = F.col("buf") if k is None else F.slice("buf", 1, k)
    group_cols = [c for c in view.columns if c not in ("n", "buf", "_maint_v")]
    return view.select(
        *group_cols,
        F.posexplode(buf).alias("_pos", "_e"),
    ).select(
        *group_cols,
        (F.col("_pos") + 1).cast("int").alias("rank"),
        F.col("_e.o").alias("o"),
        F.col("_e.ky").alias("ky"),
    )


def snapshot_maintain_topk(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    cursor_path: str,
    group_cols: Sequence[str],
    order_col: str,
    key_cols: Sequence[str],
    k: int,
    buffer: int | None = None,
) -> int | None:
    """Incrementally maintain a per-group TOP-K view (the k highest
    ``order_col`` rows per group) of a keyed snapshot table from its change
    feed — the serving-layer leaderboard/ranking shape the reference
    recomputes per request (``RecommendationService.cs`` top-N scoring)
    kept current for O(changed rows) per micro-batch.

    State: ONE row per group — exact live row count ``n`` (rows with a
    non-null order value; signed fold, self-decrementable) and ``buf``, the
    group's top ``buffer`` (default ``max(2k, k+8)``) elements as a sorted
    array of ``struct(o, ky)`` (order value, source-key struct), descending
    lexicographic. The extra ``buffer - k`` slack absorbs deletions of
    ranked rows without touching the source.

    Per delta, per touched group:
    - inserts/postimages fold in: buffer := top-``buffer`` of
      (stored minus deleted-keys) union incoming — array algebra, exact,
      because a full buffer's cutoff can only RISE under inserts;
    - deletes/preimages remove their key from the buffer; the result is
      exact unless the buffer is left INCOMPLETE — fewer than
      ``min(buffer, n)`` elements means rows below the old cutoff now
      belong in it, and only the source knows them. Exactly those groups
      get a targeted recompute (semi-join on the group keys, one pruned
      source pass), the same discipline as min/max/HLL maintenance.
    - groups whose ``n`` reaches 0 are tombstoned out of the view.

    Exactly-once: the view manifest's ``source_version`` is authoritative
    (crash between view commit and cursor commit never double-folds) —
    identical contract to ``snapshot_maintain_aggregate``. Read the view
    with :func:`topk_view_read`.

    Null order values are excluded from both ``n`` and the buffer (SQL
    top-k semantics: NULLS don't rank); key uniqueness per version is the
    keyed-feed invariant every merge-maintained source holds.
    """
    group_cols = list(group_cols)
    key_cols = list(key_cols)
    if k <= 0:
        raise ValueError("snapshot_maintain_topk: k must be positive")
    kp = buffer if buffer is not None else max(2 * k, k + 8)
    if kp < k:
        raise ValueError(f"snapshot_maintain_topk: buffer {kp} < k {k}")
    changes, to_v, commit = snapshot_consume_changes(
        spark, source_path, cursor_path, key_cols
    )

    view_exists = bool(snapshot_versions(view_path))
    if view_exists:
        applied = _latest_manifest(view_path).get("source_version")
        applied = -1 if applied is None else applied
        if applied >= to_v:
            commit()
            return None
        if applied >= 0:
            if applied not in snapshot_versions(source_path):
                raise StaleCursorError(
                    f"{source_path}: view applied version {applied} no "
                    "longer survives vacuum — re-bootstrap"
                )
            changes = snapshot_changes(
                spark, source_path, applied, to_v, key_cols
            )

    has_ord = F.col(order_col).isNotNull()
    is_add = F.col("_change_type").isin("insert", "update_postimage") & has_ord
    is_del = F.col("_change_type").isin("delete", "update_preimage") & has_ord
    elem = F.struct(
        F.col(order_col).alias("o"),
        F.struct(*[F.col(c) for c in key_cols]).alias("ky"),
    )
    ky = F.struct(*[F.col(c) for c in key_cols])

    def topb(arr):
        # descending lexicographic (o, ky), truncated to the buffer size —
        # the ONE ordering every path (fold, recompute, bootstrap) uses
        return F.slice(F.reverse(F.array_sort(arr)), 1, kp)

    # One canonical buffer type (everything nullable): collect_list proves
    # non-nullability per path, and bootstrap/merge/recompute each prove
    # DIFFERENT flags — the strict merge schema check would reject the
    # drift, so every path casts to this.
    from pyspark.sql.types import ArrayType, StructField, StructType

    ch_types = {f.name: f.dataType for f in changes.schema.fields}
    buf_t = ArrayType(
        StructType(
            [
                StructField("o", ch_types[order_col], True),
                StructField(
                    "ky",
                    StructType(
                        [StructField(c, ch_types[c], True) for c in key_cols]
                    ),
                    True,
                ),
            ]
        ),
        True,
    )

    delta = changes.groupBy(*group_cols).agg(
        F.sum(
            F.when(is_add, F.lit(1)).when(is_del, F.lit(-1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("_d_n"),
        F.collect_list(F.when(is_add, elem)).alias("_ins"),
        F.collect_list(F.when(is_del, ky)).alias("_dels"),
    )
    delta = delta.persist()
    try:
        if not view_exists:
            init = delta.filter(F.col("_d_n") > 0).select(
                *group_cols,
                F.col("_d_n").alias("n"),
                topb(F.col("_ins")).cast(buf_t).alias("buf"),
                F.lit(to_v).cast("long").alias("_maint_v"),
            )
            v = snapshot_write(
                init,
                view_path,
                stats_cols=group_cols,
                manifest_extra={"source_version": to_v},
            )
            commit()
            return v
        if len(delta.take(1)) == 0:
            commit()
            return None

        current = snapshot_read(spark, view_path).select(*group_cols, "n", "buf")
        joined = delta.join(current, group_cols, "left")
        # a brand-new group has NULL buf; slice(_ins, 1, 0) is an empty
        # array of exactly the element type, so coalesce stays well-typed
        stored = F.coalesce(F.col("buf"), F.slice(F.col("_ins"), 1, 0))
        # fold: (stored \ deleted keys) ∪ inserts, re-ranked, truncated
        folded = topb(
            F.concat(
                F.filter(
                    stored,
                    lambda e: ~F.array_contains(F.col("_dels"), e["ky"]),
                ),
                F.col("_ins"),
            )
        )
        new_n = F.coalesce(F.col("n"), F.lit(0)) + F.col("_d_n")
        n_old = F.coalesce(F.col("n"), F.lit(0))
        # Recompute iff a delete removed a STORED element while live rows
        # existed below the buffer's cutoff (n_old > stored size): those
        # invisible rows may now rank, and no amount of insert refill can
        # prove they don't — a size test alone misses the case where
        # incoming inserts refill the buffer ABOVE a below-cutoff
        # contender. Deletes below the cutoff, or on a buffer that holds
        # the whole group, fold exactly.
        hit_del = F.exists(
            stored, lambda e: F.array_contains(F.col("_dels"), e["ky"])
        )
        needs_rc = hit_del & (n_old > F.size(stored))
        staged = joined.select(
            *group_cols,
            new_n.alias("n"),
            folded.alias("buf"),
            needs_rc.alias("_rc"),
        ).persist()
        try:
            rc_groups = staged.filter(F.col("_rc")).select(*group_cols)
            src_elem = F.struct(
                F.col(order_col).alias("o"),
                F.struct(*[F.col(c) for c in key_cols]).alias("ky"),
            )
            # Pin to to_v: unlike the min/max/HLL folds (idempotent), the
            # buffer fold CONCATs inserts — a recompute that read LATEST
            # would bake in rows from versions beyond to_v, and the next
            # wave's re-fold of those same inserts would duplicate (o, ky)
            # leaderboard entries until eviction. to_v survives vacuum by
            # the applied-version checks above (StaleCursorError otherwise).
            recomputed = (
                snapshot_read(spark, source_path, to_v)
                .filter(F.col(order_col).isNotNull())
                .join(rc_groups, group_cols, "semi")
                .groupBy(*group_cols)
                .agg(topb(F.collect_list(src_elem)).alias("_rc_buf"))
            )
            upsert = (
                staged.join(recomputed, group_cols, "left")
                .select(
                    *group_cols,
                    F.col("n"),
                    F.when(F.col("_rc"), F.coalesce(F.col("_rc_buf"), F.col("buf")))
                    .otherwise(F.col("buf"))
                    .cast(buf_t)
                    .alias("buf"),
                    F.lit(to_v).cast("long").alias("_maint_v"),
                    (F.col("n") <= 0).alias("_tomb"),
                )
            )
            v = snapshot_merge(
                upsert,
                view_path,
                key_cols=group_cols,
                seq_col="_maint_v",
                delete_col="_tomb",
                manifest_extra={"source_version": to_v},
            )
        finally:
            staged.unpersist()
    finally:
        delta.unpersist()
    commit()
    return v


def _commit_schema(
    path: str, op: str, evolve: Callable[[dict], tuple[str, dict]]
) -> int:
    """Commit tail of schema evolution: the latest version's files under
    the schema and column mapping ``evolve(latest)`` returns (it raises
    when the change does not apply) — metadata only, ``data_change=False``.
    A vanished table refuses with ``FileNotFoundError``."""

    def build(latest: dict | None, _version: int) -> dict:
        if latest is None:
            raise FileNotFoundError(f"no snapshots at {path}")
        schema_json, mapping = evolve(latest)
        out = {
            "data_dirs": latest["data_dirs"],
            "n_rows": latest["n_rows"],
            "schema": schema_json,
            "data_change": False,
        }
        if _has_files(latest):
            out["files"] = _manifest_files(path, latest)
        if mapping:
            out["column_mapping"] = mapping
        return out

    return _commit(path, build, op=op)


def snapshot_add_columns(path: str, new_fields) -> int:
    """Schema evolution, Delta ``ADD COLUMNS`` parity: commit a NEW version
    whose manifest carries the WIDENED schema over the SAME files — a pure
    metadata commit (``data_change=false``; zero bytes rewritten at any
    table size). Readers of the new version see the added columns as NULL
    for pre-existing rows because every data read goes through the
    manifest's declared schema (``_read_declared``); time travel to older
    versions still shows the old schema. Appends/merges after the widening
    must present the new schema — the strict check is unchanged, it just
    compares against the evolved manifest.

    ``new_fields`` is a list of ``pyspark.sql.types.StructField`` (or a
    StructType) to append. Adding a field that already exists raises.
    """
    from pyspark.sql.types import StructType

    fields = list(new_fields.fields if isinstance(new_fields, StructType) else new_fields)
    if not fields:
        raise ValueError("snapshot_add_columns: no fields given")

    def evolve(latest: dict) -> tuple[str, dict]:
        schema = StructType.fromJson(json.loads(latest["schema"]))
        existing = set(schema.fieldNames())
        for f in fields:
            if f.name in existing:
                raise ValueError(
                    f"snapshot_add_columns: column {f.name!r} already exists"
                )
            schema = schema.add(f)
        mapping = _mapping(latest)
        logical_names = [f["name"] for f in json.loads(latest["schema"])["fields"]]
        phys_in_use = {_phys(mapping, n) for n in logical_names}
        for f in fields:
            if f.name in phys_in_use:
                raise ValueError(
                    f"snapshot_add_columns: {f.name!r} collides with a "
                    "stored physical column name (rename history)"
                )
        return schema.json(), mapping

    return _commit_schema(path, "add_columns", evolve)


def snapshot_rename_columns(path: str, renames: dict) -> int:
    """Schema evolution, RENAME COLUMNS via column mapping (Delta column
    mapping parity): a metadata-only commit that changes the LOGICAL name
    while the files keep storing the original PHYSICAL name — zero bytes
    rewritten, and old files stay readable because every data read maps
    physical -> logical through the manifest's ``column_mapping``. Time
    travel shows each version's own names; stats stay valid because their
    keys are physical. Renaming a missing column, renaming onto an existing
    logical name, or colliding with a stored physical name raises."""
    from pyspark.sql.types import StructField, StructType

    if not renames:
        raise ValueError("snapshot_rename_columns: no renames given")

    def evolve(latest: dict) -> tuple[str, dict]:
        schema = StructType.fromJson(json.loads(latest["schema"]))
        names = schema.fieldNames()
        mapping = dict(_mapping(latest))
        pcols = set(latest.get("partition_cols") or [])
        for old_name, new_name in renames.items():
            if old_name not in names:
                raise ValueError(
                    f"snapshot_rename_columns: {old_name!r} not in schema"
                )
            if old_name in pcols:
                # partition values live in key=value DIRECTORY NAMES — a
                # logical-only rename would desynchronize the layout from
                # the declaration (Delta refuses likewise)
                raise ValueError(
                    f"snapshot_rename_columns: {old_name!r} is a partition "
                    "column; partitioned layouts bind physical names"
                )
            for cname, cexpr in (latest.get("constraints") or {}).items():
                if _expr_references(cexpr, old_name):
                    raise ValueError(
                        f"snapshot_rename_columns: {old_name!r} referenced "
                        f"by CHECK constraint {cname!r} ({cexpr}); drop the "
                        "constraint first (constraints bind LOGICAL names)"
                    )
            for gcol, gexpr in _generated(latest).items():
                if gcol == old_name or _expr_references(gexpr, old_name):
                    raise ValueError(
                        f"snapshot_rename_columns: {old_name!r} is (or is "
                        f"referenced by) generated column {gcol!r} "
                        f"({gexpr}); drop the rule first"
                    )
            if new_name in names and new_name != old_name:
                raise ValueError(
                    f"snapshot_rename_columns: {new_name!r} already exists"
                )
        phys_in_use = {_phys(mapping, n) for n in names}
        new_fields = []
        for f in schema.fields:
            if f.name in renames:
                new_name = renames[f.name]
                physical = mapping.pop(f.name, f.name)
                if new_name != physical:
                    if new_name in phys_in_use - {physical}:
                        raise ValueError(
                            f"snapshot_rename_columns: {new_name!r} collides "
                            "with a stored physical column name"
                        )
                    mapping[new_name] = physical
                new_fields.append(
                    StructField(new_name, f.dataType, f.nullable, f.metadata)
                )
            else:
                new_fields.append(f)
        return StructType(new_fields).json(), mapping

    return _commit_schema(path, "rename_columns", evolve)


def snapshot_drop_columns(path: str, names: Sequence[str]) -> int:
    """Schema evolution, DROP COLUMNS: commit a NEW version whose manifest
    schema omits ``names`` over the SAME files — metadata-only, zero bytes
    rewritten. Because every read projects the manifest's declared schema,
    the dropped column simply stops being read (parquet column projection);
    the bytes remain in old files until those files are naturally rewritten
    by merges/compactions, exactly Delta's drop-column behavior under
    column mapping. Time travel to older versions still shows the column.
    Dropping a missing column, or every column, raises."""
    from pyspark.sql.types import StructType

    drop = set(names)
    if not drop:
        raise ValueError("snapshot_drop_columns: no columns given")

    def evolve(latest: dict) -> tuple[str, dict]:
        schema = StructType.fromJson(json.loads(latest["schema"]))
        have = set(schema.fieldNames())
        missing = drop - have
        if missing:
            raise ValueError(
                f"snapshot_drop_columns: {sorted(missing)} not in schema"
            )
        kept = [f for f in schema.fields if f.name not in drop]
        if not kept:
            raise ValueError("snapshot_drop_columns: cannot drop every column")
        for cname, cexpr in (latest.get("constraints") or {}).items():
            hit = sorted(c for c in drop if _expr_references(cexpr, c))
            if hit:
                raise ValueError(
                    f"snapshot_drop_columns: {hit} referenced by CHECK "
                    f"constraint {cname!r} ({cexpr}); drop the constraint "
                    "first (Delta parity)"
                )
        for gcol, gexpr in _generated(latest).items():
            hit = sorted(
                c for c in drop if c == gcol or _expr_references(gexpr, c)
            )
            if hit:
                raise ValueError(
                    f"snapshot_drop_columns: {hit} is (or is referenced by) "
                    f"generated column {gcol!r} ({gexpr}); drop the rule "
                    "first"
                )
        phit = sorted(drop & set(latest.get("partition_cols") or []))
        if phit:
            # the layout's key=value directories ARE this column's storage
            raise ValueError(
                f"snapshot_drop_columns: {phit} are partition columns; "
                "re-partition via an explicit overwrite first"
            )
        return StructType(kept).json(), {
            k: v for k, v in _mapping(latest).items() if k not in drop
        }

    return _commit_schema(path, "drop_columns", evolve)


def snapshot_table_stats(path: str) -> dict:
    """O(manifest) health snapshot of a table — the numbers a maintenance
    scheduler decides on without touching data: file counts/sizes-in-rows,
    deletion-vector dead weight, version count."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = _read_manifest(path, versions[-1])
    files = _manifest_files(path, m)
    dead = sum((e.get("dv") or {}).get("n", 0) for e in files)
    physical = sum(e["rows"] for e in files if e["rows"] is not None)
    return {
        "version": versions[-1],
        "n_versions": len(versions),
        "n_files": len(files),
        "n_rows": m.get("n_rows"),
        "physical_rows": physical,
        "dead_rows": dead,
        "dead_ratio": (dead / physical) if physical else 0.0,
        "files_with_dv": sum(1 for e in files if e.get("dv")),
    }


def snapshot_auto_optimize(
    spark: SparkSession,
    path: str,
    small_file_max_rows: int = 1_000_000,
    max_small_files: int = 8,
    max_dead_ratio: float = 0.2,
) -> int | None:
    """Policy-driven OPTIMIZE: compact (purging deletion vectors) only when
    the manifest says the table needs it — more than ``max_small_files``
    small files (per-micro-batch MERGE commits accumulate them) or more
    than ``max_dead_ratio`` of physical rows dead under DVs (DV DML
    accumulates those; past the threshold the read-path anti-join tax
    outweighs the write savings). The DECISION is O(manifest) — a no-op
    call on a healthy 100 TB table reads zero data, which is what makes
    running this after every ingest wave sustainable. Returns the new
    version or None (healthy)."""
    versions = snapshot_versions(path)
    if not versions:
        return None
    m = _read_manifest(path, versions[-1])
    files = _manifest_files(path, m)
    small = sum(
        1
        for e in files
        if e["rows"] is not None and e["rows"] <= small_file_max_rows
    )
    dead = sum((e.get("dv") or {}).get("n", 0) for e in files)
    physical = sum(e["rows"] for e in files if e["rows"] is not None)
    dead_ratio = (dead / physical) if physical else 0.0
    if small <= max_small_files and dead_ratio <= max_dead_ratio:
        return None
    return snapshot_compact(
        spark, path, small_file_max_rows=small_file_max_rows, purge_dvs=dead > 0
    )


def snapshot_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY parity: one record per surviving version, newest
    first — the audit view of the commit log (version, operation, commit
    time, row/file counts, per-commit operation metrics, and whether the
    commit changed data or was metadata-only). Reads manifests only;
    O(versions), never touches data. Versions older than the vacuum
    horizon are gone by design — history is as long as retention, exactly
    like Delta's.

    Operation metrics (Delta operationMetrics shape): ``net_rows`` (live
    row delta vs the previous surviving version), ``n_files_added`` /
    ``n_files_removed`` (manifest entry churn — a DV re-point counts on
    both sides, the same way Delta's DV commits swap add actions). Delta
    manifests carry the diff EXPLICITLY, so the metrics there are a field
    read, not a set difference."""
    versions = snapshot_versions(path)
    out = []
    prev_ids: set | None = None
    prev_n: int | None = None
    prev_rows: int | None = None
    first = True
    for v in versions:
        m = _read_manifest(path, v)
        has_files = _has_files(m)
        ck = m.get("files_ckpt")
        n_rows = m.get("n_rows")
        ids: set | None = None
        n_files: int | None = None
        if not has_files:
            added = removed = None
        elif "files_add" in m:
            # delta manifest: explicit per-version churn (files_base is
            # always v-1 by construction) — a field read, no resolution;
            # the id chain carries forward incrementally (O(changed)) so
            # a later full manifest can still set-diff against it
            added, removed = len(m["files_add"]), len(m["files_remove"])
            n_files = (
                prev_n + added - removed
                if prev_n is not None
                else len(_manifest_files(path, m))
            )
            if prev_ids is not None:
                rm = set(m.get("files_remove") or [])
                ids = {k for k in prev_ids if k not in rm} | {
                    _ekey(e) for e in (m.get("files_add") or [])
                }
        elif ck is not None:
            # parquet checkpoint: the pointer carries the count; decoding
            # the sidecar per retained version would make DESCRIBE HISTORY
            # O(versions x files) — exactly what the pointer design ends
            n_files = ck["count"]
            # always seed the id chain (vectorized: two sidecar columns,
            # never full dicts) — without the seed, a table whose full
            # manifests are ALL checkpoint-form would report
            # added/removed = None forever
            ids = _ckpt_entry_keys(path, m)
            if first:
                added, removed = n_files, 0
            elif prev_ids is not None:
                added = len(ids - prev_ids)
                removed = len(prev_ids - ids)
            else:
                added = removed = None  # prior version itself unresolvable
        else:
            files = _manifest_files(path, m)
            ids = {_ekey(e) for e in files}
            n_files = len(files)
            if first:
                added, removed = len(ids), 0
            elif prev_ids is not None:
                added = len(ids - prev_ids)
                removed = len(prev_ids - ids)
            else:
                added = removed = None
        out.append(
            {
                "version": v,
                "op": m.get("op"),
                "committed_at": m.get("committed_at"),
                "n_rows": n_rows,
                "n_files": n_files,
                "net_rows": (
                    n_rows - prev_rows
                    if n_rows is not None and prev_rows is not None
                    else n_rows
                ),
                "n_files_added": added,
                "n_files_removed": removed,
                "data_change": m.get("data_change", True),
                "constraints": sorted(m.get("constraints") or {}),
                # contention telemetry: how many claim attempts this
                # commit needed (1 = uncontended, stored only when > 1)
                "commit_attempts": m.get("commit_attempts", 1),
            }
        )
        prev_ids = ids
        prev_n = n_files
        prev_rows = n_rows
        first = False
    out.reverse()
    return out


def snapshot_detail(path: str) -> dict:
    """DESCRIBE DETAIL parity: one record describing the CURRENT version —
    location, format, row/file counts, total data bytes, partition-ish
    layout (data dirs), declared features (constraints/identity/column
    mapping), and commit times. Metadata plane only except the per-file
    ``stat`` for sizes — O(files), never reads data pages."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    m = _read_manifest(path, versions[-1])
    # the scan projection suffices: detail needs paths only (plus sizes
    # from stat) — never the full-fidelity stats/extra rebuild
    files = _manifest_files_scan(path, m)
    size = 0
    for e in files:
        fp = e["path"] if os.path.isabs(e["path"]) else os.path.join(path, e["path"])
        try:
            size += os.path.getsize(fp)
        except OSError:
            pass  # vacuumed-from-under external ref: size is best-effort
    first = _read_manifest(path, versions[0])
    if "files" in m:
        manifest_form = "inline"
    elif "files_ckpt" in m:
        manifest_form = "parquet_checkpoint"
    elif "files_base" in m:
        manifest_form = "delta"
    else:
        manifest_form = "legacy_dirs"
    ck = m.get("files_ckpt")
    ckpt_bytes = None
    if ck is not None:
        try:
            ckpt_bytes = _fs().size(
                os.path.join(_manifest_dir(path), ck["ref"])
            )
        except Exception:
            ckpt_bytes = None
    return {
        "location": path,
        "format": "snapshot",
        "version": m["version"],
        "num_files": len(files),
        "num_rows": m.get("n_rows"),
        "size_bytes": size,
        "data_dirs": len(m.get("data_dirs") or []),
        "constraints": sorted(m.get("constraints") or {}),
        "identity_col": (m.get("identity") or {}).get("col"),
        "generated_cols": sorted(_generated(m) or {}),
        "column_mapping": bool(_mapping(m)),
        "partition_cols": list(m.get("partition_cols") or []),
        "created_at": first.get("committed_at"),
        "last_modified": m.get("committed_at"),
        "retained_versions": len(versions),
        # protocol/metadata plane (round-12 additions): the manifest's
        # storage form, its checkpoint sidecar size, and the
        # reader/writer feature gates a fleet upgrade plans around
        "manifest_form": manifest_form,
        "checkpoint_layout": (ck or {}).get("layout"),
        "checkpoint_bytes": ckpt_bytes,
        "min_reader": m.get("min_reader", 1),
        "min_writer": m.get("min_writer", 1),
    }


def snapshot_partitions(path: str, version: int | None = None) -> list[dict]:
    """SHOW PARTITIONS, from METADATA only: one record per partition tuple
    with its live row count and file count — entries carry their
    partition values, so a 100 TB table answers this without opening a
    file. Flat entries (pre-purity rewrites) aggregate under a None
    tuple so nothing is silently uncounted."""
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = versions[-1] if version is None else version
    m = _read_manifest(path, v)
    pcols = list(m.get("partition_cols") or [])
    if not pcols:
        raise ValueError(f"{path} is not partitioned")
    agg: dict[tuple, dict] = {}
    for e in _manifest_files(path, m):
        part = e.get("partition")
        key = tuple(part.get(c) for c in pcols) if part else None
        slot = agg.setdefault(key, {"n_rows": 0, "n_files": 0})
        slot["n_rows"] += _live_rows(e) or 0
        slot["n_files"] += 1
    out = []
    for key in sorted(agg, key=lambda k: ("",) * len(pcols) if k is None else tuple(str(x) for x in k)):
        rec = dict(zip(pcols, key)) if key is not None else dict.fromkeys(pcols)
        rec.update(agg[key])
        out.append(rec)
    return out


def snapshot_files_df(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """The version's ACTIVE FILE LIST as a DataFrame — distributed resolve
    of the metadata plane, for inventory/audit jobs that aggregate over
    file metadata (bytes per partition, rows per file, DV debt).

    Typed schema: ``path`` string, ``rows`` long, ``partition``
    map<string,string> (null when unpartitioned), ``dv_ref`` string,
    ``dv_n`` long, ``bloom_ref`` string, plus ``smin_<c>``/``smax_<c>``
    per stats column — natively typed, so Spark aggregates them without
    any JSON parsing.

    Resolution by manifest form:
    - ``files_ckpt``: Spark reads the columnar sidecar DIRECTLY
      (parallel, column-prunable) when it lives on a Spark-readable
      filesystem — at millions of files the list never materializes on
      the driver;
    - ``files_base`` chains: the base resolves recursively (its horizon is
      a checkpoint), then the O(changed files) removes filter out and adds
      union in — the distributed twin of ``_manifest_files``;
    - inline ``files`` / legacy dir: driver entries (small by
      construction, or a list the typed layout cannot hold).
    """
    versions = snapshot_versions(path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    return _files_df_of(spark, path, _read_manifest(path, v))


def _entries_to_files_df(spark: SparkSession, entries: list[dict]) -> DataFrame:
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    stats_cols: list[str] = []
    for e in entries:
        for c in e.get("stats") or {}:
            if c not in stats_cols:
                stats_cols.append(c)
    pa_types = {bool: BooleanType(), int: LongType(), float: DoubleType()}

    def spark_type(c):
        vals = [
            v
            for e in entries
            for v in (e.get("stats") or {}).get(c) or []
            if v is not None
        ]
        ts = {type(v) for v in vals}
        if ts == {bool} or ts == {int} or ts == {float}:
            return pa_types[next(iter(ts))]
        return StringType()  # strings, mixed, or all-None: stringified

    fields = [
        StructField("path", StringType()),
        StructField("rows", LongType()),
        StructField("partition", MapType(StringType(), StringType())),
        StructField("dv_ref", StringType()),
        StructField("dv_n", LongType()),
        StructField("bloom_ref", StringType()),
    ]
    stypes = {c: spark_type(c) for c in stats_cols}
    for c in stats_cols:
        fields.append(StructField(f"smin_{c}", stypes[c]))
        fields.append(StructField(f"smax_{c}", stypes[c]))

    def coerce(c, v):
        if v is None or not isinstance(stypes[c], StringType):
            return v
        return v if isinstance(v, str) else json.dumps(v)

    rows = []
    for e in entries:
        st = e.get("stats") or {}
        dv = e.get("dv") or {}
        row = [
            e["path"],
            e.get("rows"),
            e.get("partition"),
            dv.get("ref"),
            dv.get("n"),
            e.get("bloom_ref"),
        ]
        for c in stats_cols:
            mn, mx = st.get(c) or (None, None)
            row += [coerce(c, mn), coerce(c, mx)]
        rows.append(tuple(row))
    return spark.createDataFrame(rows, StructType(fields))


def _files_df_of(spark: SparkSession, path: str, m: dict) -> DataFrame:
    ck = m.get("files_ckpt")
    if ck is not None:
        abs_p = os.path.join(_manifest_dir(path), ck["ref"])
        if os.path.isfile(abs_p):
            df = spark.read.parquet(abs_p)
            stats_cols = ck.get("stats_cols") or []
            part_cols = ck.get("part_cols") or []
            sel = [F.col("path"), F.col("rows")]
            if part_cols:
                kv = []
                for j_, c in enumerate(part_cols):
                    kv += [F.lit(c), F.col(f"p{j_}")]
                sel.append(
                    F.when(F.col("part_null"), F.lit(None))
                    .otherwise(F.create_map(*kv))
                    .alias("partition")
                )
            else:
                sel.append(
                    F.lit(None)
                    .cast("map<string,string>")
                    .alias("partition")
                )
            sel += [
                F.col("dv_ref"),
                F.col("dv_n"),
                F.col("bloom_ref"),
            ]
            for i, c in enumerate(stats_cols):
                sel.append(F.col(f"s{i}_min").alias(f"smin_{c}"))
                sel.append(F.col(f"s{i}_max").alias(f"smax_{c}"))
            return df.select(*sel)
        # metadata plane on a non-Spark-readable store: driver reconstruct
        return _entries_to_files_df(spark, _read_parquet_checkpoint(path, ck))
    if "files_base" in m:
        base = _files_df_of(spark, path, _read_manifest(path, m["files_base"]))
        ek = F.concat_ws(
            "@", F.col("path"), F.coalesce(F.col("dv_ref"), F.lit(""))
        )
        # removes/adds are O(changed files) — in-list + small union
        rm = list(m.get("files_remove") or [])
        out = base.where(~ek.isin(rm)) if rm else base
        adds = list(m.get("files_add") or [])
        if adds:
            out = out.unionByName(
                _entries_to_files_df(spark, adds), allowMissingColumns=True
            )
        return out
    return _entries_to_files_df(spark, _manifest_files(path, m))


def snapshot_rollback(path: str, version: int) -> int:
    """RESTORE: commit a NEW version whose manifest points at an old
    version's files (history is preserved — same as Delta RESTORE)."""
    m = _read_manifest(path, version)

    def build(latest: dict | None, _version: int) -> dict:
        out = {
            "data_dirs": m["data_dirs"],
            "n_rows": m["n_rows"],
            "schema": m["schema"],
        }
        if _has_files(m):
            out["files"] = _manifest_files(path, m)
        if _mapping(m):
            out["column_mapping"] = _mapping(m)
        # restore the target version's constraint set (possibly empty) —
        # explicit so _commit's sticky carry can't resurrect a newer set
        out["constraints"] = m.get("constraints", {})
        # same for maintenance bookkeeping: a rolled-back maintained view
        # resumes from the TARGET's applied source versions (the merge
        # replay of the suffix is idempotent), not the newest manifest's.
        # Always assigned — an explicit None (target predates maintenance)
        # blocks the sticky carry of a newer manifest's keys.
        for k in ("source_version", "maint_fact_version", "maint_dim_version"):
            out[k] = m.get(k)
        return out

    return _commit(path, build, op="rollback")


def snapshot_convert(
    spark: SparkSession,
    parquet_dir: str,
    path: str,
    stats_cols: Sequence[str] = (),
) -> int:
    """CONVERT TO SNAPSHOT (Delta's ``CONVERT TO DELTA`` parity): register
    an EXISTING plain-parquet file or flat directory as version 1 of a
    snapshot table at ``path`` — zero rows copied or rewritten at any
    size. The manifest references the parquet by ABSOLUTE path (external
    refs, the shallow-clone discipline, so this table's vacuum never
    deletes the source data), and ONE column-pruned scan computes per-file
    row counts and min/max ``stats_cols`` so merge/scan pruning fires from
    the first commit. Schema comes from the parquet itself.

    Divergence from Delta, by design: the transaction log lands in a NEW
    table directory instead of inside the source (converting must not
    mutate data it doesn't own; Delta writes ``_delta_log`` into the
    directory). Later commits land local data dirs next to the manifests;
    DML/compaction simply stop referencing the originals. Bloom sidecars
    are not built here for the same no-mutation reason — rewrite paths
    (compact/zorder/merge) add them under the table's own roof.

    Hive-partitioned layouts (``key=value`` subdirectories — the single
    most common lake layout, e.g. the reference's year/month-partitioned
    fact table, ``process_historical_data.py:75``) convert IN PLACE:
    partition columns and their per-file values derive from the directory
    names (typed by Spark's partition discovery), land in the manifest as
    ``partition_cols`` + per-entry ``partition`` values + exact ``[v, v]``
    stats, and every later scan prunes on partition predicates before
    touching data."""
    if snapshot_versions(path):
        raise ValueError(
            f"snapshot_convert: {path} is already a snapshot table"
        )
    src = os.path.abspath(parquet_dir)
    fs = _fs()
    pcols: list[str] = []
    if fs.is_file(src):
        rel = os.path.dirname(src)  # the file's entry path: ``src`` itself
    elif fs.is_dir(src):
        rel, names = src, fs.list_dir(src)
        if any(
            fs.is_dir(os.path.join(src, n)) and not n.startswith(("_", "."))
            for n in names
        ):
            pcols = _infer_hive_partition_cols(src)
        elif not any(n.endswith(".parquet") for n in names):
            raise FileNotFoundError(f"no .parquet files in {src}")
    else:
        raise FileNotFoundError(src)
    entries, n = _scan_file_entries(
        spark, src, rel, list(stats_cols), partition_cols=pcols
    )
    rids = [_entry_rid(e) for e in entries]
    dupes = {r for r in rids if rids.count(r) > 1}
    if dupes:
        # the lineage identity is a path SUFFIX; a hand-laid layout
        # repeating filenames across partitions at the same depth would
        # cross-contaminate deletion vectors
        raise ValueError(
            "snapshot_convert: duplicate file identities across "
            f"partitions ({sorted(dupes)[:3]}); re-layout with unique "
            "file names or rewrite through snapshot_write"
        )
    schema_json = spark.read.parquet(src).schema.json()

    def build(latest: dict | None, _version: int) -> dict:
        out = {
            "data_dirs": _dirs_of(entries),
            "files": entries,
            "n_rows": n,
            "schema": schema_json,
            "converted_from": src,
        }
        if pcols:
            out["partition_cols"] = pcols
        return out

    return _commit(path, build, op="convert")


def _infer_hive_partition_cols(src: str) -> list[str]:
    """Partition column names from a Hive directory tree, in nesting order
    (= declaration order). Refuses mixed or non-``key=value`` levels."""
    fs = _fs()
    pcols: list[str] = []
    probe = src
    while True:
        dirs = [
            n
            for n in fs.list_dir(probe)
            if fs.is_dir(os.path.join(probe, n)) and not n.startswith(("_", "."))
        ]
        if not dirs:
            return pcols
        keys = {n.split("=", 1)[0] for n in dirs if "=" in n}
        if len(keys) != 1 or any("=" not in n for n in dirs):
            raise ValueError(
                f"snapshot_convert: {probe} mixes partition levels "
                f"({sorted(dirs)[:4]}); not a uniform key=value layout"
            )
        pcols.append(next(iter(keys)))
        probe = os.path.join(probe, sorted(dirs)[0])


def snapshot_clone(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE parity: commit a version at ``dst`` whose manifest
    references ``src``'s data files by ABSOLUTE path — zero data copied,
    O(metadata) cost at any table size. The clone is immediately writable:
    later commits at ``dst`` land their own local data dirs; compaction /
    DML at ``dst`` simply stop referencing the external files. ``dst``'s
    vacuum never deletes external (absolute) refs, so the source is safe
    from the clone's retention — deleting source data out from under a
    shallow clone is the one hazard Delta documents for this op, guarded
    here structurally. Cloning onto an existing table replaces its state
    (CREATE OR REPLACE semantics) as a new commit; ``version`` clones a
    historical source version (time-travel clone)."""
    src_abs = os.path.abspath(src)
    versions = snapshot_versions(src)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {src}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    m = _read_manifest(src, v)
    files = []
    for e in _manifest_files(src, m):
        e2 = dict(e)
        if not os.path.isabs(e2["path"]):
            e2["path"] = os.path.join(src_abs, e2["path"])
        if e2.get("bloom_ref") and not os.path.isabs(e2["bloom_ref"]):
            e2["bloom_ref"] = os.path.join(src_abs, e2["bloom_ref"])
        if e2.get("dv") and not os.path.isabs(e2["dv"]["ref"]):
            # Position files stay source-relative INSIDE the parquet
            # (_dv_file matches the lineage _sn_file either way); only the
            # ref pointer needs absolutizing.
            e2["dv"] = dict(e2["dv"], ref=os.path.join(src_abs, e2["dv"]["ref"]))
        files.append(e2)

    def build(latest: dict | None, _version: int) -> dict:
        out = {
            "data_dirs": _dirs_of(files),
            "files": files,
            "n_rows": m["n_rows"],
            "schema": m["schema"],
            "constraints": m.get("constraints", {}),
            "cloned_from": {"path": src_abs, "version": v},
        }
        if m.get("partition_cols"):
            # the clone inherits the source's partitioning: its entries
            # carry partition values, so the declaration must ride along
            out["partition_cols"] = m["partition_cols"]
        if _mapping(m):
            out["column_mapping"] = _mapping(m)
        return out

    return _commit(dst, build, op="clone")


def snapshot_vacuum(
    path: str,
    keep_last: int = 2,
    orphan_min_age_sec: float = 600.0,
    dry_run: bool = False,
) -> list[str]:
    """Drop data no longer referenced by the last ``keep_last`` manifests
    (and the older manifests themselves). Returns removed paths. Like Delta
    VACUUM this breaks time travel past the horizon.

    Orphaned ``v=*`` dirs (data landed, manifest never committed) are only
    swept once older than ``orphan_min_age_sec`` — a concurrent writer that
    has landed its data but not yet committed its manifest is mid-protocol,
    not dead (Delta VACUUM's retention window exists for the same reason).
    Committed-but-expired data has no such race and is removed immediately.

    Orphaned FILES inside live dirs are swept under the same age guard:
    the streaming DataSource sink lands every micro-batch's files into one
    per-query dir, so a replayed batch's files (or a crashed task's) sit
    unreferenced in a dir that stays live — invisible to readers but
    unbounded dead storage without file-level GC. Deletion-vector position
    dirs are excluded (their parquet is referenced as a dir, not per-file).

    ``dry_run`` (Delta ``VACUUM ... DRY RUN`` parity) returns exactly what
    a real run would remove — manifests included via side effect of the
    drop list — and deletes nothing.
    """
    fs = _fs()
    versions = snapshot_versions(path)
    if versions:
        # vacuum mutates outside _commit: apply the same min_writer gate
        need_w = _read_manifest(path, versions[-1]).get("min_writer", 1)
        if need_w > _WRITER_VERSION:
            raise UnsupportedSnapshotProtocolError(
                f"{path} needs protocol writer {need_w}; this engine "
                f"implements {_WRITER_VERSION} — upgrade before vacuuming"
            )
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    keep_set = set(keep)
    # Delta-manifest chains: resolve everything BEFORE any manifest is
    # deleted, and MATERIALIZE a retained delta manifest whose base falls
    # past the horizon (content-equivalent full rewrite via write_atomic —
    # readers see either form; Delta's checkpoint-at-the-horizon move).
    keep_manifests = []
    # parquet checkpoints referenced by retained manifests (or written by
    # materialization below) must survive the checkpoint GC at the end
    live_ckpt_names: set[str] = set()
    for v in keep:
        m = _read_manifest(path, v)
        if "files_ckpt" in m:
            live_ckpt_names.add(m["files_ckpt"]["ref"].rsplit("/", 1)[-1])
        if "files_base" in m:
            full = {
                k: x
                for k, x in m.items()
                if k not in (
                    "files_base", "files_add", "files_remove",
                    "files_chain", "min_reader",
                )
            }
            full["files"] = _manifest_files(path, m)
            if m["files_base"] not in keep_set and not dry_run:
                # an oversized materialized list externalizes to a parquet
                # checkpoint exactly like a committed full manifest would
                towrite = _maybe_parquet_checkpoint(path, full, v)
                # re-derive the writer requirement like _commit does: the
                # externalized files_ckpt is a v3 writer feature, and the
                # materialized manifest must never stamp a LOWER
                # requirement than its own features imply
                need_w = max(
                    towrite.get("min_writer", 1), _required_writer(towrite)
                )
                if need_w > 1:
                    towrite["min_writer"] = need_w
                if "files_ckpt" in towrite:
                    live_ckpt_names.add(
                        towrite["files_ckpt"]["ref"].rsplit("/", 1)[-1]
                    )
                fs.write_atomic(
                    os.path.join(_manifest_dir(path), f"{v}.json"),
                    json.dumps(towrite),
                )
            m = full
        keep_manifests.append(m)
    # Staged-transaction versions are INVISIBLE to the retention window
    # above. Decided-aborted ones are permanently dead: drop their
    # manifests now (their data dirs become orphans the age-guarded sweep
    # reclaims). Stale PENDING ones get decided 'aborted' first (the
    # single decision file settles any race with a slow publish); young
    # pending ones are protected — their manifests join the live set so
    # no sweep can eat a mid-flight transaction's data.
    raw_vs, hint_vs = _list_versions_raw(path)
    vis_set = set(versions)
    for v in raw_vs:
        if v in vis_set:
            continue
        m_v = _read_manifest(path, v)
        st = m_v.get("staged_txn")
        if st is None:
            continue
        state = _txn_state(path, st)
        if state == "pending":
            age = time.time() - (m_v.get("committed_at") or 0)
            if age >= _STAGED_TXN_TIMEOUT and not dry_run:
                fs.mkdirs(os.path.dirname(st["final"]))
                fs.create_exclusive(st["final"], "aborted")
                state = _txn_state(path, st)
        if state == "aborted":
            drop = drop + [v]
        else:
            keep_manifests.append(m_v)  # pending/just-published: protect
    dropped_manifests = {v: _read_manifest(path, v) for v in drop}
    dropped_by_version = {
        v: _manifest_files_scan(path, m) for v, m in dropped_manifests.items()
    }
    dropped_ckpt_names = {
        m["files_ckpt"]["ref"].rsplit("/", 1)[-1]
        for m in dropped_manifests.values()
        if "files_ckpt" in m
    } - live_ckpt_names
    live_files = {
        e["path"] for m in keep_manifests for e in _manifest_files_scan(path, m)
    }
    live_dirs = {p.rsplit("/", 1)[0] for p in live_files}
    # Deletion-vector position dirs referenced by retained manifests are
    # live data — without this a vacuum (or the orphan sweep) would delete
    # the dead-row bookkeeping out from under live files.
    live_dirs |= {
        e["dv"]["ref"]
        for m in keep_manifests
        for e in _manifest_files_scan(path, m)
        if e.get("dv") and not os.path.isabs(e["dv"]["ref"])
    }
    removed = []
    for v in drop:
        dropped = dropped_by_version[v]
        for e in dropped:
            if os.path.isabs(e["path"]):
                # External ref (shallow clone): the data belongs to the
                # source table; this table's retention must never touch it.
                continue
            d = e["path"].rsplit("/", 1)[0]
            if d not in live_dirs and fs.is_dir(os.path.join(path, d)):
                if not dry_run:
                    fs.delete_tree(os.path.join(path, d))
                removed.append(d)
            elif (
                d in live_dirs
                and e["path"] not in live_files
                and fs.is_file(os.path.join(path, e["path"]))
            ):
                # merge rewrote this file but siblings in its dir are live
                if not dry_run:
                    fs.delete_file(os.path.join(path, e["path"]))
                removed.append(e["path"])
        for e in dropped:
            ref = (e.get("dv") or {}).get("ref")
            if (
                ref
                and not os.path.isabs(ref)
                and ref not in live_dirs
                and fs.is_dir(os.path.join(path, ref))
            ):
                if not dry_run:
                    fs.delete_tree(os.path.join(path, ref))
                removed.append(ref)
        if not dry_run:
            fs.delete_file(os.path.join(_manifest_dir(path), f"{v}.json"))
            hint = os.path.join(_manifest_dir(path), f"{v}.staged.json")
            if fs.is_file(hint):
                fs.delete_file(hint)
    # Orphans from crashed writes (data dir, no surviving manifest): honor
    # the retention window — a too-eager sweep would delete a concurrent
    # writer's landed-but-uncommitted data mid-commit.
    now = time.time()
    # Hive-partitioned data dirs nest key=value subdirs, so live_dirs holds
    # LEAF paths ("v=5-x/year=1995/month=3"); the orphan test below sees the
    # TOP-LEVEL name ("v=5-x") and must not sweep a dir whose leaves are live.
    live_top = {d.split("/", 1)[0] for d in live_dirs}
    for entry in fs.list_dir(path):
        if entry.startswith("v=") and entry not in live_top:
            full = os.path.join(path, entry)
            if fs.is_dir(full) and now - fs.mtime(full) >= orphan_min_age_sec:
                if not dry_run:
                    fs.delete_tree(full)
                removed.append(entry)
    # Orphan files inside LIVE data dirs (stream-sink replays, aborted
    # tasks in shared per-query dirs): unreferenced by every retained
    # manifest AND older than the horizon. DV-ref dirs host positions
    # parquet referenced at dir granularity — never file-swept.
    live_dv_dirs = {
        e["dv"]["ref"]
        for m in keep_manifests
        for e in _manifest_files_scan(path, m)
        if e.get("dv") and not os.path.isabs(e["dv"]["ref"])
    }
    for d in sorted(
        {p.rsplit("/", 1)[0] for p in live_files if not os.path.isabs(p)}
        - live_dv_dirs
    ):
        full_d = os.path.join(path, d)
        if not fs.is_dir(full_d):
            continue
        for fname in fs.list_dir(full_d):
            if not fname.endswith(".parquet"):
                continue
            rel = f"{d}/{fname}"
            fp = os.path.join(full_d, fname)
            if (
                rel not in live_files
                and fs.is_file(fp)
                and now - fs.mtime(fp) >= orphan_min_age_sec
            ):
                if not dry_run:
                    fs.delete_file(fp)
                removed.append(rel)
    # Stale staged hints (claim-race losers, or versions dropped above):
    # a hint without a manifest is pure noise once past the age guard.
    raw_after = set(raw_vs) - set(drop)
    for hv in hint_vs:
        hint = os.path.join(_manifest_dir(path), f"{hv}.staged.json")
        if (
            (hv not in raw_after or hv in set(drop))
            and fs.is_file(hint)
            and (hv in set(drop) or now - fs.mtime(hint) >= orphan_min_age_sec)
        ):
            if not dry_run:
                if fs.is_file(hint):
                    fs.delete_file(hint)
            removed.append(f"_snapshots/{hv}.staged.json")
    # Parquet checkpoint GC: a dropped version's checkpoint is definitively
    # dead (its manifest is gone). Anything else unreferenced in the
    # checkpoints dir is a commit-race loser's orphan — age-guarded, since
    # an in-flight commit writes its checkpoint BEFORE its manifest lands.
    ckpt_dir = os.path.join(_manifest_dir(path), "checkpoints")
    if fs.is_dir(ckpt_dir):
        for fname in fs.list_dir(ckpt_dir):
            if not fname.endswith(".parquet") or fname in live_ckpt_names:
                continue
            fp = os.path.join(ckpt_dir, fname)
            if fname in dropped_ckpt_names or (
                fs.is_file(fp) and now - fs.mtime(fp) >= orphan_min_age_sec
            ):
                if not dry_run:
                    fs.delete_file(fp)
                removed.append(f"_snapshots/checkpoints/{fname}")
    return removed


def snapshot_maintain_join(
    spark: SparkSession,
    fact_path: str,
    dim_path: str,
    view_path: str,
    fact_key_cols: Sequence[str],
    fact_join_col: str,
    dim_join_col: str,
    dim_payload_cols: Sequence[str],
    how: str = "inner",
    rebuild_share: float | None = 0.2,
) -> int | None:
    """Incrementally maintain an enriched JOIN view ``fact ⋈ dim`` from the
    two tables' change feeds — view maintenance beyond aggregates (the
    delta-join rule ΔV = ΔF ⋈ D  ∪  F ⋈ ΔD, specialized to the fact→dim
    equi-join every serving layer materializes).

    Contract: ``fact`` is keyed by ``fact_key_cols`` (merge-maintained,
    unique per version); ``dim`` is keyed by ``dim_join_col`` (unique —
    the N:1 enrichment shape); ``dim_payload_cols`` must not collide with
    fact column names. ``how`` is ``inner`` or ``left``.

    Per call, cost is O(changed rows), never O(view):
      1. fact delta (keyed CDF since the view's recorded fact version):
         changed fact keys re-derive by joining the PINNED current dim;
         deleted fact keys tombstone.
      2. dim delta: the changed dim keys (O(changed), broadcast) select
         exactly the fact rows that join to them (one semi-join, file-
         pruned by manifest stats when the fact carries them); those rows
         re-derive against the new dim state. A dim delete removes its
         fact rows from an inner view and NULLs their payload in a left
         view — both fall out of re-deriving through the current dim.
      3. one ``snapshot_merge`` upserts touched keys / tombstones dropped
         ones; untouched view files are carried by reference.

    Exactly-once WITHOUT a cursor file: the applied source versions
    (``maint_fact_version`` / ``maint_dim_version``) ride in the view's
    own manifest, committed atomically WITH the data they describe — there
    is no window where state and cursor disagree, the property the
    aggregate maintainer has to defend with its authoritative-version
    rule. Replay after a crashed merge re-derives the same rows with the
    same ``_maint_v`` seq; seq ties resolve to the incoming row, so the
    content is idempotent. Both deltas read PINNED versions (the latest at
    entry), so concurrent source commits during the call cannot tear the
    view; a concurrent view commit raises ``ConcurrentSnapshotError`` as
    everywhere else.

    Returns the new view version, or None when already caught up.

    ``rebuild_share``: when the refresh slice reaches this share of the
    view's rows, the maintainer abandons the targeted MERGE and rebuilds
    the whole view as one overwrite — measured (scripts/
    bench_maintenance.py, 100M-row fact): a 10% dim churn whose fact keys
    are scattered across every file makes the merge rewrite ~the whole
    table PLUS the delta machinery (79s) while the from-scratch rebuild
    costs 40s, so past the threshold merging only adds overhead. The
    right value depends on key clustering (z-ordered fact keys keep
    merges file-local and could run higher); ``None`` disables the
    fast path.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    fact_key_cols = list(fact_key_cols)
    dim_payload_cols = list(dim_payload_cols)
    fv_to = snapshot_versions(fact_path)[-1]
    dv_to = snapshot_versions(dim_path)[-1]
    fact_now = snapshot_read(spark, fact_path, version=fv_to)
    collide = set(dim_payload_cols) & set(fact_now.columns)
    if collide:
        raise ValueError(f"dim payload collides with fact columns: {collide}")
    # The dim key joins under a RESERVED name: dropping it afterward by
    # string is then unambiguous even when fact and dim name the join
    # column identically (a column-reference drop is fragile here — plan
    # re-aliasing across the delta paths can detach the reference and turn
    # the drop into a silent no-op, observed in the incremental path).
    _dim_k = "_maint_dim_key"
    reserved = {_dim_k, "_maint_v", "_del"}
    taken = reserved & (set(fact_now.columns) | set(dim_payload_cols))
    if taken:
        raise ValueError(
            f"column names {sorted(taken)} are reserved by "
            "snapshot_maintain_join (internal key/seq/tombstone columns)"
        )
    dim_now = (
        snapshot_read(spark, dim_path, version=dv_to)
        .select(dim_join_col, *dim_payload_cols)
        .withColumnRenamed(dim_join_col, _dim_k)
    )

    seq = fv_to + dv_to  # strictly grows whenever either source advances

    def derive(fact_rows: DataFrame) -> DataFrame:
        """(Re-)derive view rows for a slice of the fact."""
        j = fact_rows.join(
            dim_now, fact_rows[fact_join_col] == dim_now[_dim_k], how
        ).drop(_dim_k)
        return j.withColumn("_maint_v", F.lit(seq).cast("long"))

    versions = snapshot_versions(view_path)
    if not versions:
        bootstrap = derive(fact_now)
        return snapshot_merge(
            bootstrap.withColumn("_del", F.lit(False)),
            view_path,
            key_cols=fact_key_cols,
            seq_col="_maint_v",
            delete_col="_del",
            manifest_extra={
                "maint_fact_version": fv_to,
                "maint_dim_version": dv_to,
            },
        )

    m = _latest_manifest(view_path)
    fva = m.get("maint_fact_version")
    dva = m.get("maint_dim_version")
    fva = -1 if fva is None else fva  # None: view predates maintenance
    dva = -1 if dva is None else dva
    if fva >= fv_to and dva >= dv_to:
        return None
    for applied, src in ((fva, fact_path), (dva, dim_path)):
        if applied not in snapshot_versions(src):
            raise StaleCursorError(
                f"{src}: applied version {applied} no longer survives "
                "vacuum — re-bootstrap the join view"
            )

    # --- fact delta: changed keys + deleted keys -------------------------
    if fva < fv_to:
        fd = snapshot_changes(spark, fact_path, fva, fv_to, fact_key_cols)
        fact_changed_keys = fd.select(*fact_key_cols).distinct()
        dead = fd.groupBy(*fact_key_cols).agg(
            F.max(
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"), 1
                ).otherwise(0)
            ).alias("_alive")
        )
        fact_deleted_keys = dead.filter(F.col("_alive") == 0).drop("_alive")
    else:
        empty = fact_now.select(*fact_key_cols).limit(0)
        fact_changed_keys, fact_deleted_keys = empty, empty

    # --- dim delta: changed join keys ------------------------------------
    if dva < dv_to:
        dim_changed_keys = (
            snapshot_changes(spark, dim_path, dva, dv_to, [dim_join_col])
            .select(dim_join_col)
            .distinct()
        )
    else:
        dim_changed_keys = dim_now.select(
            F.col(_dim_k).alias(dim_join_col)
        ).limit(0)

    # --- refresh slice: fact rows needing re-derivation ------------------
    by_fact = fact_now.join(
        F.broadcast(fact_changed_keys), fact_key_cols, "left_semi"
    )
    by_dim = fact_now.join(
        F.broadcast(dim_changed_keys),
        fact_now[fact_join_col] == dim_changed_keys[dim_join_col],
        "left_semi",
    )
    refresh = by_fact.unionByName(by_dim).dropDuplicates(fact_key_cols)
    if rebuild_share is not None:
        refresh = refresh.persist()
        n_view = m.get("n_rows") or 0
        if refresh.count() >= rebuild_share * max(1, n_view):
            try:
                return snapshot_write(
                    derive(fact_now), view_path, stats_cols=fact_key_cols,
                    manifest_extra={
                        "maint_fact_version": fv_to,
                        "maint_dim_version": dv_to,
                    },
                )
            finally:
                refresh.unpersist()
    upserts = derive(refresh).withColumn("_del", F.lit(False))

    # Inner view: refreshed fact rows that no longer match any dim row must
    # LEAVE the view (their old enrichment may be stored) — tombstone the
    # refresh slice's unmatched keys. Left view keeps them (null payload).
    tomb_keys = fact_deleted_keys
    if how == "inner":
        unmatched = refresh.join(
            upserts.select(*fact_key_cols), fact_key_cols, "left_anti"
        ).select(*fact_key_cols)
        tomb_keys = tomb_keys.unionByName(unmatched).distinct()

    null_cols = [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in upserts.schema.fields
        if f.name not in fact_key_cols + ["_maint_v", "_del"]
    ]
    tombstones = tomb_keys.select(
        *fact_key_cols,
        *null_cols,
        F.lit(seq).cast("long").alias("_maint_v"),
        F.lit(True).alias("_del"),
    ).select(*upserts.columns)

    # persist: snapshot_merge takes several internal actions over its
    # source; unpersisted, each would re-run the semi-joins + derivation
    batch = upserts.unionByName(tombstones).persist()
    try:
        return snapshot_merge(
            batch,
            view_path,
            key_cols=fact_key_cols,
            seq_col="_maint_v",
            delete_col="_del",
            manifest_extra={
                "maint_fact_version": fv_to,
                "maint_dim_version": dv_to,
            },
        )
    finally:
        batch.unpersist()
        if rebuild_share is not None:
            refresh.unpersist()
