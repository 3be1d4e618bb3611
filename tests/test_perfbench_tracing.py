"""perfbench's traced run (``perfbench/run.py --trace 1``) times engine
layers by swapping engine functions by name (``perfbench/tracing.py``).
This guards those names: renaming or deleting one breaks the install here
instead of silently breaking the traced benchmark."""

from __future__ import annotations

import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_tracer_patches_engine_functions_and_restores(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    from tracing import ENGINE, Tracer

    from music_recommendation_service_spark import pipelines
    from music_recommendation_service_spark.sources import snapshots, writers

    patched = [
        (writers, "_scratch_write"),
        (writers, "scratch_materialize"),
        (writers, "scratch_lookup"),
        (writers, "scratch_materialize_async"),
        (pipelines, "write_table"),
        (pipelines, "write_partitioned"),
        (pipelines, "_ledger_done_df"),
        (pipelines, "incremental_file_ingest"),
        (snapshots, "snapshot_merge"),
        (snapshots, "snapshot_append"),
        (snapshots, "snapshot_write"),
    ]
    originals = {id(getattr(m, n)) for m, n in patched}

    def engine_refs() -> dict:
        return {
            (name, attr): val
            for name, mod in list(sys.modules.items())
            if mod is not None and name.startswith(ENGINE)
            for attr, val in list(vars(mod).items())
            if id(val) in originals
        }

    before = engine_refs()
    tracer = Tracer()
    tracer.install_scratch()
    tracer.install_pipeline(lambda path: None)
    tracer.install_lake("/nonexistent/ledger")
    try:
        for m, n in patched:
            assert id(getattr(m, n)) not in originals, f"{m.__name__}.{n}"
    finally:
        tracer.restore()
    assert engine_refs() == before
    for m, n in patched:
        assert getattr(m, n) is before[(m.__name__, n)], f"{m.__name__}.{n}"
