"""The traced benchmark run (perfbench/tracing.py) wraps program methods by
name. Installing its hooks needs no Spark context, so this guard installs
them, checks every hooked attribute was really wrapped, and checks
``unwrap_all`` restores each one: renaming a hooked method fails here
instead of in the next traced run."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _load_tracing(monkeypatch):
    # tracing.py imports its sibling modules (workloads, gen) by bare name
    monkeypatch.syspath_prepend(str(PERFBENCH))
    for name in ("workloads", "gen"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", PERFBENCH / "tracing.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tracing_hooks_install_and_unwrap(monkeypatch):
    tracing = _load_tracing(monkeypatch)
    tracer = tracing.Tracer()
    extra = {"buckets_rewritten": {}, "bytes_written": {}, "input_bytes": {}}
    try:
        tracing.install(tracer, extra)
        hooked = {}
        for owner, attr, orig in tracer._undo:
            hooked.setdefault((owner, attr), orig)   # first = the original
        for (owner, attr), orig in hooked.items():
            assert getattr(owner, attr) is not orig, f"{owner.__name__}.{attr}"
    finally:
        tracer.unwrap_all()
    names = {f"{o.__name__}.{a}" for o, a in hooked}
    assert {"Pipeline.run_available", "Pipeline._load_file",
            "Pipeline._recompute_stats", "Pipeline._audit",
            "ParquetMergeSink.upsert", "StreamingCorpusIngest.drain",
            "StreamingCorpusIngest._handle_batch", "DataFrame.count",
            "DataFrameWriter.parquet"} <= names
    for (owner, attr), orig in hooked.items():
        assert getattr(owner, attr) is orig, f"{owner.__name__}.{attr}"
