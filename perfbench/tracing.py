"""Layer wrappers for the traced run.

Each wrapper replaces one public engine function in every module namespace
that holds it, times the call and counts what it did. The engine code is
not changed; ``Tracer.restore`` puts the originals back.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict

from probes import du_bytes

ENGINE = "music_recommendation_service_spark"
MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self) -> None:
        self.t: dict[str, float] = defaultdict(float)  # seconds per layer
        self.n: dict[str, float] = defaultdict(float)  # counters
        self.marks: list[tuple[str, float]] = []  # (layer, call start)
        self._patched: list[tuple[object, str, object]] = []
        self._local = threading.local()

    # -- patching ---------------------------------------------------------
    def _replace(self, fn, wrapper) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- sources/writers scratch cache --------------------------------------
    def install_scratch(self) -> None:
        from music_recommendation_service_spark.sources import writers

        tracer = self
        orig_write = writers._scratch_write
        orig_mat = writers.scratch_materialize
        orig_lookup = writers.scratch_lookup
        orig_async = writers.scratch_materialize_async

        @functools.wraps(orig_write)
        def scratch_write(df, path, digest, schema_json):
            orig_write(df, path, digest, schema_json)
            tracer.n["scratch.written_mb"] += du_bytes(path) / MB
            tracer._local.wrote = True

        @functools.wraps(orig_mat)
        def scratch_materialize(df, name="scratch", reuse=True):
            tracer._local.wrote = False
            t0 = time.perf_counter()
            try:
                return orig_mat(df, name, reuse)
            finally:
                tracer.t["scratch.materialize"] += time.perf_counter() - t0
                tracer.n["scratch.calls"] += 1
                miss = tracer._local.wrote or not reuse
                tracer.n["scratch.misses" if miss else "scratch.hits"] += 1

        @functools.wraps(orig_lookup)
        def scratch_lookup(df, name="scratch"):
            t0 = time.perf_counter()
            out = orig_lookup(df, name)
            tracer.t["scratch.materialize"] += time.perf_counter() - t0
            tracer.n["scratch.calls"] += 1
            tracer.n["scratch.misses" if out is None else "scratch.hits"] += 1
            return out

        @functools.wraps(orig_async)
        def scratch_materialize_async(df, name="scratch"):
            t0 = time.perf_counter()
            orig_async(df, name)
            tracer.t["scratch.materialize"] += time.perf_counter() - t0

        writers._scratch_write = scratch_write
        self._patched.append((writers, "_scratch_write", orig_write))
        self._replace(orig_mat, scratch_materialize)
        self._replace(orig_lookup, scratch_lookup)
        self._replace(orig_async, scratch_materialize_async)

    # -- pipelines: the medallion writes ---------------------------------------
    def install_pipeline(self, on_write) -> None:
        """``on_write(path)`` runs after each landed table, in the caller's
        thread, so the caller can close one pipeline stage and open the next."""
        from music_recommendation_service_spark import pipelines

        for name in ("write_table", "write_partitioned"):
            orig = getattr(pipelines, name)

            def wrapped(df, path, *cols, _orig=orig):
                _orig(df, path, *cols)
                on_write(path)

            self._patched.append((pipelines, name, orig))
            setattr(pipelines, name, functools.wraps(orig)(wrapped))

    # -- sources/snapshots: commits inside incremental ingest -----------------
    def install_lake(self, ledger_path: str) -> None:
        from music_recommendation_service_spark import pipelines
        from music_recommendation_service_spark.sources import snapshots

        tracer = self

        local = self._local

        def timed(layer, orig):
            # counted only inside incremental_file_ingest, and only the
            # outermost call: snapshot_append and snapshot_merge call
            # snapshot_write on a table's first commit
            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                if not getattr(local, "ingest", False) or getattr(local, "busy", False):
                    return orig(*args, **kwargs)
                local.busy = True
                t0 = time.perf_counter()
                tracer.marks.append((layer, t0))
                try:
                    return orig(*args, **kwargs)
                finally:
                    tracer.t[layer] += time.perf_counter() - t0
                    tracer.n[layer] += 1
                    local.busy = False
            return wrapped

        orig_merge = snapshots.snapshot_merge
        merge_timed = timed("lake.ledger_merge", orig_merge)
        seen: set[str] = set()

        @functools.wraps(orig_merge)
        def snapshot_merge(df, path, *args, **kwargs):
            if os.path.normpath(path) != os.path.normpath(ledger_path):
                return orig_merge(df, path, *args, **kwargs)
            names = {r[0] for r in df.select("file_name").collect()}
            if names - seen:
                tracer.n["lake.ledger_merges_useful"] += 1
            seen.update(names)
            return merge_timed(df, path, *args, **kwargs)

        self._replace(orig_merge, snapshot_merge)
        for fn in (snapshots.snapshot_append, snapshots.snapshot_write):
            self._replace(fn, timed("lake.append", fn))
        orig_probe = pipelines._ledger_done_df

        @functools.wraps(orig_probe)
        def ledger_done_df(*args, **kwargs):
            tracer.marks.append(("lake.ledger_probe", time.perf_counter()))
            return orig_probe(*args, **kwargs)

        self._replace(orig_probe, ledger_done_df)
        orig_ingest = pipelines.incremental_file_ingest

        @functools.wraps(orig_ingest)
        def incremental_file_ingest(*args, **kwargs):
            local.ingest = True
            try:
                return orig_ingest(*args, **kwargs)
            finally:
                local.ingest = False

        self._replace(orig_ingest, incremental_file_ingest)

    def probe_time(self, since: float) -> float:
        """Ledger probe seconds after ``since``: from each probe's start to
        the next append's start (the probe's collect runs in between)."""
        total, probe_at = 0.0, None
        for kind, t in self.marks:
            if t < since:
                continue
            if kind == "lake.ledger_probe":
                probe_at = t
            elif kind == "lake.append" and probe_at is not None:
                total += t - probe_at
                probe_at = None
        return total
