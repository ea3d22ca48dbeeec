"""Host-speed reference: a fixed Spark job that uses none of the program.

The machine this benchmark runs on is shared, and its speed drifts: the
same operation on unchanged code took 2.5x longer in one hour than in
the next, far beyond any bound a benchmark could hold. So every timing
the benchmark reports is scaled by the speed of the host at the time of
the run, measured in the same JVM with this job:

    reported = measured * REF_NOMINAL_S / median(reference times of the run)

``REF_NOMINAL_S`` is about the reference's median on an idle 4-vCPU
host, so a reported figure reads as the seconds the work would take
there. Scaled this way, the same operation read within a few percent
while the host's own speed halved.

The job mixes what the workloads spend their time on: a parquet write
and read, a shuffle aggregate and short jobs whose cost is planning and
scheduling on the driver. One run of it takes a fraction of a second, so
a benchmark run repeats it and takes the median. It runs in its own session with the
SQL settings it depends on pinned, so a change to the program's session
settings or code changes the workloads' times but not the reference's.
"""

from __future__ import annotations

import shutil
import statistics
import time
from pathlib import Path

REF_NOMINAL_S = 0.45
# timed runs of the job on each side of a run's timed loop; each side
# starts with an untimed run, because the first run after JVM warm-up or
# after a workload operation ran up to 30% slower than the next
REF_RUNS = 3

PINNED_SQL_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.sql.codegen.wholeStage": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "snappy",
}


class HostReference:
    """Runs the reference job and keeps its times."""

    def __init__(self, spark, work: Path):
        self.session = spark.newSession()
        for k, v in PINNED_SQL_CONF.items():
            self.session.conf.set(k, v)
        self.path = work / "reference"
        self.times: list[float] = []

    def measure(self) -> None:
        """One untimed run of the job, then REF_RUNS timed ones."""
        self._job()
        for _ in range(REF_RUNS):
            t = time.perf_counter()
            self._job()
            self.times.append(time.perf_counter() - t)

    def _job(self) -> None:
        from pyspark.sql import functions as F

        s = self.session
        shutil.rmtree(self.path, ignore_errors=True)
        (s.range(0, 100_000, numPartitions=4)
         .selectExpr("id % 1009 AS k", "sha2(cast(id AS string), 256) AS h")
         .write.parquet(str(self.path)))
        s.read.parquet(str(self.path)).groupBy("k").agg(F.max("h")).collect()
        for i in range(2):
            s.range(1000).selectExpr(f"id % {i + 3} AS g").groupBy("g") \
                .count().collect()

    def scale(self) -> float:
        """Factor that turns this run's seconds into idle-host seconds."""
        return REF_NOMINAL_S / statistics.median(self.times)
