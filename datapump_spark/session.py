"""SparkSession construction with scale-oriented defaults.

The same config set is intended to behave well from local[32] tests up to a
1000-executor cluster: AQE handles runtime partition coalescing and skew
splitting, so the static ``spark.sql.shuffle.partitions`` only needs to be an
upper bound; broadcast threshold is left at default (10 MB) because dimension
broadcasting in the operators is explicit via ``F.broadcast``. Cached
plans keep their shuffle partitioning (Spark's default
``canChangeCachedPlanOutputPartitioning=false``); only the corpus
stream's own session lets AQE coalesce them (PERF.md ledger).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def tuned_builder(app_name: str = "datapump-spark") -> SparkSession.Builder:
    """Builder with the engine's standard configs (no master set — the
    deployment picks local[n]/YARN/K8s)."""
    return (
        SparkSession.builder.appName(app_name)
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and dynamic join-strategy switching — the core knob that lets one
        # config span sf0.001 tests and 100 TB production.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE partition sizing (r13): parallelismFirst=false (the Spark
        # docs' production hint) was A/B'd and REJECTED: it won -9% on
        # the tiny-shuffle sf0.1 subset at 32 cores (26.7 -> 24.2 s
        # min-of-3; 8 cores flat) but THROTTLED compute-dense shuffles
        # as soon as data grew — the sparse_sim pair join at 2x corpus
        # ran 20.2 s vs 9.1 s with the default, because advisory BYTES
        # are a bad proxy for quadratic per-byte compute and the
        # coalescer packed the join into one reducer. Scale wins the
        # tie (the whole point of the engine). Both are runtime SQL
        # confs: a profile where bytes DO track compute sets them with
        # ``spark.conf.set``.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
        # Deterministic timestamp semantics for the DuckDB oracle and for
        # cross-cluster reproducibility: all sessions run in UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps as INT64 micros. Spark 4.1's default, INT96,
        # gets no min/max in the footer, so ParquetMergeSink could not
        # bound a timestamp-keyed file and would read every file of the
        # table on each merge. This session conf gives exact INT64
        # min/max; a per-write ``.option(...)`` does not override it
        # (measured, Spark 4.1.2). Reads take either encoding.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python call-site capture off. PySpark 4.1 turns it on by default:
        # every wrapped Column/DataFrame call then walks the Python stack
        # and makes extra py4j round trips (active session, a conf read,
        # an origin set and clear). One iot_upsert queue file makes ~450
        # such calls; without them its round trips fall from ~7,000 to
        # ~2,500 and its median op from 6.5 s to 5.8 s (4 vCPU). Errors
        # keep their error class and message and lose only the Python
        # file:line in the query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Local testing default; production overrides via spark-submit. AQE
        # coalesces down from this bound so oversizing is cheap.
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
        # JVM sizing (guide §5): local-mode Spark defaults to a 1 GiB
        # driver heap — which in local[n] IS the whole engine (every
        # executor thread's execution/storage memory, broadcasts, the
        # shuffle machinery). 174 bench queries in 1 GiB meant constant
        # GC and multi-x run-to-run swings (measured r12: q_bm25_topk
        # 6.9 s vs 15.8 s across identical runs). 12 GiB on a 128 GiB
        # box is still conservative; production clusters size
        # spark.executor.memory / memoryOverhead instead (the setting
        # only applies when the session launches the JVM, i.e. local
        # runs — a cluster spark-submit overrides it).
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # Read-side split sizing: 128 MB splits keep scan tasks balanced.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Default openCostInBytes (4 MB) makes any file under ~4 MB a single
        # split, so a small-but-expensive-per-row scan (text/levenshtein/
        # regex kernels over a few-MB parquet) runs on ONE core. 64 KB keeps
        # sub-4MB inputs splittable by row group; on real >128 MB inputs the
        # maxPartitionBytes bound dominates and nothing changes.
        .config("spark.sql.files.openCostInBytes", "65536")
    )


def get_session(app_name: str = "datapump-spark", master: str | None = None) -> SparkSession:
    """Get-or-create a tuned session. ``master`` defaults to local[cpus]."""
    b = tuned_builder(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    return b.master(master).getOrCreate()


def ensure_utc(spark: SparkSession) -> SparkSession:
    """Force UTC on a session we did not build (e.g. the driver's).

    Timestamp-bucketing operators (resample) and the DuckDB oracle compare
    naive timestamps; session-TZ drift would shift every window boundary.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark
