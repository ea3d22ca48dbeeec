"""The benchmark workloads.

Each workload is a closed loop with one client (the driver thread). It
generates its inputs into files during set-up, runs untimed warm
operations on inputs of their own, and then performs operations one at
a time until the run's time is up. ``check`` compares the program's
outputs with expectations computed in pure Python from the generated
inputs.

Sizing: an operation takes seconds, never a fraction of one, and none is
timed before the warm pass; sub-second operations timed in a cold JVM
moved by several percent between runs of unchanged code. On an idle
4-vCPU host an operation takes 3-5 s and the set-up 13-20 s (a cold JVM
plus the warm pass), and a busy shared host doubles both. So a run
times one operation: the budget of 4 + 22 x (workloads) runs leaves no
room for more.

- ``iot_upsert``: one operation drops one IoT CSV file into the job's
  queue and drains it with ``Pipeline.run_available`` (load, dedupe,
  MERGE upsert, then the descriptive, mode and hourly stats recomputed
  over the whole table).
- ``corpus_stream``: one operation drops one jsonl batch into the
  drop-box and drains it with ``StreamingCorpusIngest.drain``
  (AvailableNow, one file per trigger).
"""

from __future__ import annotations

import shutil
import sys
import time
from collections import Counter
from pathlib import Path

import gen

# everything a run writes: inputs, outputs, Spark scratch, traces
WORK = Path(__file__).resolve().parent / ".work"


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_hwm_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found")


def timed_loop(wl, seconds: float, on_op=None) -> dict:
    """Closed loop: the next operation starts when the previous one ended.
    At least one operation runs. ``on_op(wl)`` replaces ``wl.op()`` (the
    traced run's hook)."""
    lat, records, attempted, failed = [], 0, 0, 0
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while wl.has_next() and (not lat or time.perf_counter() < deadline):
        s = time.perf_counter()
        n, ok = wl.op() if on_op is None else on_op(wl)
        lat.append(time.perf_counter() - s)
        attempted += 1
        if ok:
            records += n
        else:
            failed += 1
    wall = time.perf_counter() - t0
    if not wl.has_next() and wall < seconds:
        print(f"[{wl.name}] inputs ran out after {wall:.1f} s", file=sys.stderr)
    return {"latencies": lat, "records": records, "attempted": attempted,
            "failed": failed, "wall": wall}


class Workload:
    """Base class. ``generate`` writes the inputs under ``stage/``;
    ``start`` opens one output area that the warm pass and the timed
    operations share, so the timed operations meet the program in its
    steady state (table or index already present)."""

    name = ""
    record = ""             # what throughput counts

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work / self.name
        self.seed = seed
        self.stage = self.work / "stage"
        self.warm_stage = self.work / "warm_stage"
        self.out = self.work / "out"
        self.inputs: list = []
        self.warm_inputs: list = []
        self.done: list = []

    def generate(self) -> None:
        raise NotImplementedError

    def start(self) -> None:
        """Fresh output area; the operations consume ``inputs``."""
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        self.queue = list(self.inputs)
        self._open()

    def _open(self) -> None:
        pass

    def warm(self) -> None:
        for item in self.warm_inputs:
            if not self._op(item):
                raise RuntimeError(f"{self.name}: warm pass failed")
            self.done.append(item)

    def has_next(self) -> bool:
        return bool(self.queue)

    def op(self) -> tuple[int, bool]:
        """Run the next operation; returns (records, ok)."""
        item = self.queue.pop(0)
        try:
            ok = self._op(item)
        except Exception as err:    # noqa: BLE001 — a failed operation is counted, not fatal
            print(f"[{self.name}] operation failed: {err!r}")
            ok = False
        if ok:
            self.done.append(item)
        return self.records(item), ok

    def _op(self, item) -> bool:
        raise NotImplementedError

    def records(self, item) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Correctness problems of the outputs so far (empty when correct)."""
        raise NotImplementedError


# ------------------------------------------------------------------ iot_upsert

IOT_COLS = ["DateTime", "Sensor_id", "PM25", "PM10", "AQI", "LAT", "LONG",
            "Remarks"]
# The descriptive and mode stats keep a timestamp, a string and a numeric
# column: every branch of both operators runs, at well under half the
# jobs of all eight columns (the run budget has no room for more).
IOT_STATS_COLS = ("DateTime", "Sensor_id", "PM25")
_NOT_STATS = ",".join(c for c in IOT_COLS if c not in IOT_STATS_COLS)
IOT_JOB = {
    "TargetOrg": "bench", "TargetPackage": "iot", "TargetResource": "air",
    "PrimaryKey": "DateTime,Sensor_id", "Dedupe": "last", "Truncate": False,
    "Stats": [{"Kind": "descriptive", "DropColumns": _NOT_STATS},
              {"Kind": "mode", "DropColumns": _NOT_STATS},
              {"Kind": "H", "GroupBy": "Sensor_id", "DropColumns": "LAT,LONG"}],
}
IOT_FILES = 8
# pandas describe(include='all') rows of a table with numeric and string
# columns: count, unique, top, freq, mean, std, min, 25%, 50%, 75%, max
IOT_DESCRIBE_ROWS = 11


class IotUpsert(Workload):
    name = "iot_upsert"
    record = "rows"

    def generate(self):
        self.inputs = gen.iot_files(self.stage, self.seed, IOT_FILES)
        self.warm_inputs = gen.iot_files(self.warm_stage, self.seed + 1, 1,
                                         first_index=90_000)

    def _open(self):
        from datapump_spark.jobspec import JobSpec
        from datapump_spark.sinks.upsert import ParquetMergeSink
        from datapump_spark.streaming.pipeline import Pipeline

        self.inbox = self.out / "inbox"
        self.inbox.mkdir()
        job = JobSpec.from_dict({**IOT_JOB,
                                 "InputFile": str(self.inbox / "*.csv")})
        self.sink = ParquetMergeSink(self.out / "lake")
        self.pipe = Pipeline(self.spark, job, self.sink, self.out / "processed",
                             self.out / "problems")

    def _op(self, f: gen.IotFile) -> bool:
        shutil.copy2(f.path, self.inbox / f.path.name)
        res = self.pipe.run_available()
        return not res.quarantined and len(res.processed) == 1

    def records(self, f):
        return len(f.rows)

    def check(self):
        from pyspark.sql import functions as F

        errors = []
        if not self.done:
            return errors
        expected: dict = {}
        for f in self.done:             # newest file wins, last row in file
            for row in f.rows:
                expected[(row[0], row[1])] = row
        want = {(ts.strftime("%Y-%m-%d %H:%M:%S"), *rest)
                for (ts, *rest) in expected.values()}
        table = self.sink.read(self.spark, "air")
        got_rows = table.select(
            F.date_format("DateTime", "yyyy-MM-dd HH:mm:ss"),
            *IOT_COLS[1:]).collect()
        got = {tuple(r) for r in got_rows}
        if len(got_rows) != len(expected) or got != want:
            errors.append(
                f"iot table: {len(got_rows)} rows, expected {len(expected)}; "
                f"{len(got - want)} unexpected, {len(want - got)} missing")
        # the hourly resample has one row per (sensor, hour); the mode
        # table one row per tied modal value of the column with most ties
        hours = {(v[1], v[0].replace(minute=0, second=0))
                 for v in expected.values()}
        rows = {"air-H": len(hours), "air-stats": IOT_DESCRIBE_ROWS,
                "air-mode": max(_ties([v[i] for v in expected.values()])
                                for i, c in enumerate(IOT_COLS)
                                if c in IOT_STATS_COLS)}
        for name, n in rows.items():
            got_n = self.sink.read(self.spark, name).count()
            if got_n != n:
                errors.append(f"{name}: {got_n} rows, expected {n}")
        return errors


def _ties(values: list) -> int:
    """How many values share the highest count (nulls ignored)."""
    counts = Counter(v for v in values if v is not None)
    top = max(counts.values(), default=0)
    return sum(1 for c in counts.values() if c == top)


# --------------------------------------------------------------- corpus_stream

STREAM_BATCHES = 8
# the stream path's batch time kept falling over its first five batches
# in a fresh JVM (JIT); after one warm batch the timed batch varied by
# 15% between runs, after two by 10%
STREAM_WARM_BATCHES = 2


class CorpusStream(Workload):
    name = "corpus_stream"
    record = "docs"

    def generate(self):
        self.inputs = gen.doc_batches(self.stage, self.seed, STREAM_BATCHES)
        self.warm_inputs = gen.doc_batches(self.warm_stage, self.seed + 1,
                                           STREAM_WARM_BATCHES,
                                           first_index=90_000)

    def _open(self):
        from datapump_spark.streaming.corpus import StreamingCorpusIngest

        self.inbox = self.out / "inbox"
        self.inbox.mkdir()
        self.ingest = StreamingCorpusIngest(self.spark, str(self.inbox),
                                            str(self.out / "corpus"))
        self.checkpoint = self.out / "checkpoint"

    def _op(self, b: gen.DocBatch) -> bool:
        shutil.copy2(b.path, self.inbox / b.path.name)
        self.ingest.drain(self.checkpoint)
        return True

    def records(self, b):
        return len(b.ids)

    def check(self):
        errors = []
        if not self.done:
            return errors
        audit = {r["__batch_id"]: r for r in self.audit_rows()}
        seen: set[str] = set()
        batches = self.done
        if len(audit) != len(batches):
            errors.append(f"audit has {len(audit)} batches, "
                          f"expected {len(batches)}")
        for bid, b in enumerate(batches):
            n_adm = 0
            for doc_id in sorted(b.ids):
                if doc_id in b.low_quality:
                    continue
                fp = gen.normalise(b.texts[doc_id])
                if fp not in seen:
                    seen.add(fp)
                    n_adm += 1
            a = audit.get(bid)
            if a is None:
                continue
            want = (len(b.ids), len(b.low_quality),
                    len(b.ids) - len(b.low_quality) - n_adm, n_adm)
            got = (a["n_in"], a["n_low_quality"], a["n_dup"], a["n_admitted"])
            if a["n_in"] != a["n_low_quality"] + a["n_dup"] + a["n_admitted"]:
                errors.append(f"batch {bid}: n_in != low + dup + admitted {got}")
            if got != want:
                errors.append(f"batch {bid}: audit {got}, expected {want}")
        corpus = self.spark.read.parquet(self.ingest.corpus_dir) \
            .select("doc_id", "text").collect()
        # the program's fingerprint is md5 of this normalised text
        fps = Counter(gen.normalise(r["text"]) for r in corpus)
        shared = sum(1 for c in fps.values() if c > 1)
        if shared:
            errors.append(f"corpus: {shared} fingerprints admitted twice")
        if len(corpus) != len(seen):
            errors.append(f"corpus: {len(corpus)} docs, expected {len(seen)}")
        return errors

    def audit_rows(self):
        return self.spark.read.parquet(self.ingest.audit_dir).collect()

    def index_rows(self) -> int:
        return self.spark.read.parquet(self.ingest.index_dir).count()


WORKLOADS = {w.name: w for w in (IotUpsert, CorpusStream)}
