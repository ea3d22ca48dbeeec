"""Traced run: spans around the program's public functions, one Spark job
tag per span, and the event-log fold that turns both into the per-layer
metrics.

The wrappers live here, in the benchmark, and only the traced run
installs them; the program itself is unchanged. A span records (name,
start, end, parent, operation id). While a span is open its tag
(``perfbench-span-<id>``) is added to the calling thread's Spark job tags,
so every job, stage and task the span caused can be found again in the
event log. A span's self time is its duration minus the part of it that
its child spans cover.

Standalone use, on the files a traced run leaves in ``perfbench/.work``:

    python3 perfbench/tracing.py perfbench/.work/trace

It reads ``spans.json`` and the event log under ``eventlog/``, prints the
per-layer table and writes it to ``per_layer.json``.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from workloads import WORK, jvm_hwm_mb, timed_loop

TAG = "perfbench-span-"
TRACE_DIR = WORK / "trace"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        if self.sc is not None:
            self.sc.addJobTag(f"{TAG}{sid}")
        try:
            yield rec
        finally:
            if self.sc is not None:
                self.sc.removeJobTag(f"{TAG}{sid}")
            self.stack.remove(sid)
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper that opens a span. ``name``
        is a string or a function of the call's arguments."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            n = name(*args, **kwargs) if callable(name) else name
            if n is None:
                return orig(*args, **kwargs)
            with tracer.span(n):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def inside(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self.stack)


# ------------------------------------------------------------- span algebra

def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children[s["id"]], s["start"], s["end"])
            for s in spans}


def descendants(spans: list[dict]) -> dict[int, set[int]]:
    """Span id -> ids of the span and everything below it."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    out = {}
    for s in spans:
        seen, todo = set(), [s["id"]]
        while todo:
            i = todo.pop()
            seen.add(i)
            todo.extend(kids[i])
        out[s["id"]] = seen
    return out


# ---------------------------------------------------------- event-log fold

def _tags(props: dict | None) -> set[int]:
    raw = (props or {}).get("spark.job.tags", "")
    return {int(t[len(TAG):]) for t in raw.split(",") if t.startswith(TAG)}


def fold_event_log(log_dir: Path) -> dict:
    """Jobs (tags, submit, end) and per-stage task sums from every event
    file under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    files = sorted(p for p in glob.glob(str(log_dir / "**" / "*"),
                                         recursive=True) if os.path.isfile(p))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "tags": _tags(ev.get("Properties")),
                        "submit": ev["Submission Time"] / 1000, "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    stages[key] = {"tags": _tags(ev.get("Properties")),
                                   "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
                                   "gc_s": 0.0, "shuffle_write_mb": 0.0,
                                   "spill_mb": 0.0, "records_read": 0}
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    st["tasks"] += 1
                    st["task_s"] += m["Executor Run Time"] / 1e3
                    st["cpu_s"] += m["Executor CPU Time"] / 1e9
                    st["gc_s"] += m["JVM GC Time"] / 1e3
                    st["shuffle_write_mb"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"] / 2**20
                    st["spill_mb"] += (m["Memory Bytes Spilled"]
                                       + m["Disk Bytes Spilled"]) / 2**20
                    st["records_read"] += m["Input Metrics"]["Records Read"]
    return {"jobs": jobs, "stages": list(stages.values())}


class Layers:
    """Per-span Spark totals: a span owns the jobs and stages tagged with
    it or with any span below it."""

    STAGE_KEYS = ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
                  "spill_mb", "records_read")

    def __init__(self, spans: list[dict], fold: dict):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.desc = descendants(spans)
        self.fold = fold

    def jobs(self, sid: int) -> list[dict]:
        ids = self.desc[sid]
        return [j for j in self.fold["jobs"].values() if j["tags"] & ids]

    def stage_sum(self, sid: int) -> dict:
        ids = self.desc[sid]
        out = dict.fromkeys(self.STAGE_KEYS, 0.0)
        out["stages"] = 0
        for st in self.fold["stages"]:
            if st["tags"] & ids:
                out["stages"] += 1
                for k in self.STAGE_KEYS:
                    out[k] += st[k]
        return out

    def driver_gap(self, sid: int) -> float:
        """Span time during which none of its Spark jobs was running."""
        s = self.by_id[sid]
        iv = [(j["submit"], j["end"] or s["end"]) for j in self.jobs(sid)]
        return (s["end"] - s["start"]) - covered(iv, s["start"], s["end"])

    def named(self, name: str, op: int | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (op is None or s["op"] == op)]

    def per_op(self, name: str, ops: list[int], fn=None) -> list[float]:
        """Per operation: the sum over spans called ``name`` of ``fn``
        (default: duration)."""
        fn = fn or (lambda s: s["end"] - s["start"])
        return [sum(fn(s) for s in self.named(name, op)) for op in ops]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ------------------------------------------------- per-workload layer tables

def spark_layer(lay: Layers, prefix: str, tops: list[dict],
                persisted_after: int) -> dict:
    """Event-log totals per top-level span (one per operation), as means."""
    sums = [lay.stage_sum(s["id"]) for s in tops]
    out = {
        f"{prefix}.cachescope.persisted_after": (persisted_after, "count"),
        f"{prefix}.spark.jobs": (mean(len(lay.jobs(s["id"])) for s in tops),
                                 "count"),
        f"{prefix}.spark.stages": (mean(x["stages"] for x in sums), "count"),
        f"{prefix}.spark.tasks": (mean(x["tasks"] for x in sums), "count"),
    }
    for k, unit in (("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB")):
        out[f"{prefix}.spark.{k}"] = (mean(x[k] for x in sums), unit)
    return out


def layers_iot(lay: Layers, ops: list[int], extra: dict) -> dict:
    jobs = lambda s: len(lay.jobs(s["id"]))              # noqa: E731
    scanned = lambda s: lay.stage_sum(s["id"])["records_read"]  # noqa: E731
    files = [s for s in lay.named("streaming.pipeline.file") if s["op"] in ops]
    written = sum(extra["bytes_written"].values())
    read = sum(extra["input_bytes"].values())
    return {
        "streaming.pipeline.file_s": (median(s["end"] - s["start"]
                                             for s in files), "s"),
        "sources.csv_ingest.load_s": (median(lay.per_op(
            "sources.csv_ingest.load", ops)), "s"),
        "sources.csv_ingest.jobs": (mean(lay.per_op(
            "sources.csv_ingest.load", ops, jobs)), "count"),
        "sinks.upsert.merge_s": (median(lay.per_op(
            "sinks.upsert.merge", ops)), "s"),
        "sinks.upsert.jobs": (mean(lay.per_op(
            "sinks.upsert.merge", ops, jobs)), "count"),
        "sinks.upsert.buckets_rewritten": (mean(
            extra["buckets_rewritten"].get(str(op), 0) for op in ops),
            "count"),
        "sinks.upsert.bytes_written": (mean(
            extra["bytes_written"].get(str(op), 0) for op in ops), "B"),
        "sinks.upsert.write_amplification": (written / max(1, read), "ratio"),
        "streaming.pipeline.recompute_stats_s": (median(lay.per_op(
            "streaming.pipeline.recompute_stats", ops)), "s"),
        "streaming.pipeline.stats_jobs": (mean(lay.per_op(
            "streaming.pipeline.recompute_stats", ops, jobs)), "count"),
        "streaming.pipeline.stats_rows_scanned": (mean(lay.per_op(
            "streaming.pipeline.recompute_stats", ops, scanned)), "count"),
        "sinks.upsert.audit_append_s": (median(lay.per_op(
            "sinks.upsert.audit_append", ops)), "s"),
        "streaming.pipeline.driver_gap_s": (median(
            lay.driver_gap(s["id"]) for s in files), "s"),
    }


STREAM_COUNTS = ["streaming.corpus.read", "operators.quality.gate",
                 "operators.incremental.dedup"]


def layers_stream(lay: Layers, ops: list[int], extra: dict) -> dict:
    out = {
        "streaming.corpus.batch_s": (median(lay.per_op(
            "streaming.corpus.batch", ops)), "s"),
        "streaming.corpus.trigger_gap_s": (median(
            d - b for d, b in zip(lay.per_op("streaming.corpus.drain", ops),
                                  lay.per_op("streaming.corpus.batch", ops))),
            "s"),
    }
    for name in STREAM_COUNTS + ["streaming.corpus.write"]:
        out[f"{name}_s"] = (median(lay.per_op(name, ops)), "s")
    audit = extra["audit"]
    n_in = sum(a["n_in"] for a in audit)
    n_good = n_in - sum(a["n_low_quality"] for a in audit)
    out["operators.quality.keep_ratio"] = (n_good / max(1, n_in), "ratio")
    out["operators.incremental.dup_ratio"] = (
        sum(a["n_dup"] for a in audit) / max(1, n_good), "ratio")
    out["operators.incremental.index_rows"] = (extra["index_rows"], "count")
    return out


LAYER_TABLES = {"iot_upsert": layers_iot, "corpus_stream": layers_stream}
TOP_SPAN = {"iot_upsert": "streaming.pipeline.file",
            "corpus_stream": "streaming.corpus.drain"}


def per_layer(trace: dict, fold: dict) -> dict:
    """All per-layer metrics of a saved trace: {name: (value, unit)}."""
    lay = Layers(trace["spans"], fold)
    out = {}
    for wl, info in trace["workloads"].items():
        ops = info["ops"]
        tops = [lay.named(TOP_SPAN[wl], op)[0] for op in ops]
        out.update(LAYER_TABLES[wl](lay, ops, info["extra"]))
        out.update(spark_layer(lay, wl, tops, info["persisted_after"]))
        # the least share of an operation's wall its top-level span covers
        out[f"{wl}.tracing.top_span_cover"] = (min(
            (s["end"] - s["start"]) / (b - a)
            for s, (a, b) in zip(tops, info["op_walls"])), "ratio")
        if "peak_rss_mb" in info:   # the named workload
            out["jvm.peak_rss_mb"] = (info["peak_rss_mb"], "MB")
    return out


def self_time_table(spans: list[dict]) -> dict:
    """Span name -> (count, median duration, median self time)."""
    st = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append((s["end"] - s["start"], st[s["id"]]))
    return {n: (len(v), median(d for d, _ in v), median(x for _, x in v))
            for n, v in sorted(by_name.items())}


def write_table(trace: dict, metrics: dict, path: Path) -> None:
    print(f"{'span':40s} {'n':>4s} {'p50 s':>9s} {'self p50 s':>11s}")
    for name, (n, dur, own) in self_time_table(trace["spans"]).items():
        print(f"{name:40s} {n:4d} {dur:9.3f} {own:11.3f}")
    for name, (value, unit) in metrics.items():
        print(f"{name:48s} {value:14.6g} {unit}")
    path.write_text(json.dumps({k: {"value": v, "unit": u}
                                for k, (v, u) in metrics.items()}, indent=1))


# ------------------------------------------------------------- the run

def install(tracer: Tracer, extra: dict) -> None:
    """Wrap the program's public functions (and the benchmark's own
    operation boundaries) with spans."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from datapump_spark.sinks.upsert import ParquetMergeSink
    from datapump_spark.streaming.corpus import StreamingCorpusIngest
    from datapump_spark.streaming.pipeline import Pipeline

    # iot_upsert
    tracer.wrap(Pipeline, "run_available", "streaming.pipeline.file")
    tracer.wrap(Pipeline, "_load_file", "sources.csv_ingest.load")
    tracer.wrap(Pipeline, "_recompute_stats",
                "streaming.pipeline.recompute_stats")
    tracer.wrap(Pipeline, "_audit", "sinks.upsert.audit_append")
    tracer.wrap(ParquetMergeSink, "upsert", "sinks.upsert.merge")
    _count_rewrites(tracer, Pipeline, ParquetMergeSink, extra)
    # corpus_stream: one child span per eager action of the batch
    tracer.wrap(StreamingCorpusIngest, "drain", "streaming.corpus.drain")
    tracer.wrap(StreamingCorpusIngest, "_handle_batch",
                "streaming.corpus.batch")
    counts = {"batch": None, "i": 0}

    def count_name(*_a, **_k):
        if not tracer.inside("streaming.corpus.batch"):
            return None
        batch = max(i for i in tracer.stack
                    if tracer.spans[i]["name"] == "streaming.corpus.batch")
        if counts["batch"] != batch:
            counts.update(batch=batch, i=0)
        counts["i"] += 1
        return STREAM_COUNTS[min(counts["i"], len(STREAM_COUNTS)) - 1]

    tracer.wrap(DataFrame, "count", count_name)
    tracer.wrap(DataFrameWriter, "parquet",
                lambda *_a, **_k: "streaming.corpus.write"
                if tracer.inside("streaming.corpus.batch") else None)


def _bucket_files(vdir) -> dict:
    if vdir is None:
        return {}
    return {(p.parent.name, p.stat().st_ino): p.stat().st_size
            for p in vdir.glob("pk_bucket=*/*") if p.is_file()}


def _count_rewrites(tracer: Tracer, pipeline_cls, sink_cls,
                    extra: dict) -> None:
    """Per operation: the bytes of the input file, and the buckets and
    bytes an upsert wrote anew (not hard-linked forward)."""
    load, upsert = pipeline_cls._load_file, sink_cls.upsert

    @functools.wraps(load)
    def counted_load(self, path):
        extra["input_bytes"][tracer.op] = path.stat().st_size
        return load(self, path)

    @functools.wraps(upsert)
    def counted_upsert(self, spark, df, table, keys):
        before = _bucket_files(self.current_version(table))
        out = upsert(self, spark, df, table, keys)
        new = {k: v for k, v in _bucket_files(
            self.current_version(table)).items() if k not in before}
        extra["buckets_rewritten"][tracer.op] = len({b for b, _ in new})
        extra["bytes_written"][tracer.op] = sum(new.values())
        return out

    pipeline_cls._load_file = counted_load
    sink_cls.upsert = counted_upsert
    tracer._undo += [(pipeline_cls, "_load_file", load),
                     (sink_cls, "upsert", upsert)]


def traced_run(spark, workloads: dict, names: list[str], args) -> dict:
    """Set up every workload in ``names``, run each traced for
    ``args.seconds``, then one untraced operation of the named workload
    for the tracing-overhead note."""
    names = [args.workload] + [n for n in names if n != args.workload]
    wls = {n: workloads[n](spark, WORK, args.seed) for n in names}
    for wl in wls.values():
        shutil.rmtree(wl.work, ignore_errors=True)
        wl.generate()
        wl.start()
        wl.warm()

    extra = {"buckets_rewritten": {}, "bytes_written": {}, "input_bytes": {}}
    tracer = Tracer(spark.sparkContext)
    install(tracer, extra)
    info, errors, attempted, failed = {}, [], 0, 0
    op_ids = itertools.count()

    def traced_op(wl):
        tracer.op = next(op_ids)
        ops.append(tracer.op)
        t = time.time()
        try:
            return wl.op()
        finally:
            walls.append((t, time.time()))
            tracer.op = None

    try:
        for name, wl in wls.items():
            ops: list[int] = []
            walls: list[tuple[float, float]] = []
            persisted = persisted_rdds(spark)
            r = timed_loop(wl, args.seconds, on_op=traced_op)
            attempted += r["attempted"]
            failed += r["failed"]
            info[name] = {"ops": ops, "op_walls": walls,
                          "traced_latencies": r["latencies"],
                          "persisted_after": persisted_rdds(spark) - persisted,
                          "extra": _extra(wl, extra, ops)}
    finally:
        tracer.unwrap_all()
    main_wl = wls[args.workload]
    untraced = timed_loop(main_wl, 0)
    attempted += untraced["attempted"]
    failed += untraced["failed"]
    info[args.workload]["peak_rss_mb"] = jvm_hwm_mb(spark)
    for name, wl in wls.items():
        errs = wl.check()
        if errs:
            failed = attempted
        errors += [f"{name}: {e}" for e in errs]
    traced = median(info[args.workload]["traced_latencies"])
    plain = median(untraced["latencies"])
    notes = {"tracing_overhead": (
        f"{traced / plain - 1:+.3f} (median traced {args.workload} "
        f"operation {traced:.3f} s against one operation without span "
        f"wrappers, {plain:.3f} s, run after it with the event log still on; "
        "warm-up makes the later one faster, so this reads high)")}
    return {"workload": args.workload, "errors": errors,
            "attempted": attempted, "failed": failed, "notes": notes,
            "trace": {"spans": tracer.spans, "workloads": info}}


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _extra(wl, extra: dict, ops: list[int]) -> dict:
    if wl.name == "iot_upsert":
        return {k: {str(op): extra[k].get(op, 0) for op in ops}
                for k in ("buckets_rewritten", "bytes_written", "input_bytes")}
    # batch ids count the drained batches, warm batches first
    first = len(wl.done) - len(ops)
    return {"audit": [r.asDict() for r in wl.audit_rows()
                      if r["__batch_id"] >= first],
            "index_rows": wl.index_rows()}


def finish_traced_run(result: dict) -> dict:
    """After the session stopped (the event log is complete): save the
    spans, fold the log and report the per-layer metrics."""
    trace = result.pop("trace")
    (TRACE_DIR / "spans.json").write_text(json.dumps(trace))
    metrics = per_layer(trace, fold_event_log(TRACE_DIR / "eventlog"))
    write_table(trace, metrics, TRACE_DIR / "per_layer.json")
    result["metrics"] = metrics
    return result


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    d = Path(argv[0])
    trace = json.loads((d / "spans.json").read_text())
    metrics = per_layer(trace, fold_event_log(d / "eventlog"))
    write_table(trace, metrics, d / "per_layer.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
