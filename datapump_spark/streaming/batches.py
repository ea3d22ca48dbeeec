"""The batch-store layout both streaming ingests write.

Every store is partitioned by ``__batch_id`` and each micro-batch
overwrites only its own partition (dynamic partition overwrite), so a
replayed batch replaces what its first run wrote instead of appending
twice: exactly-once through an idempotent sink.

A batch reads a store's earlier state with :func:`read_before`, which
sees only partitions ``< batch_id``. Batch b's decisions then depend on
batches 0..b-1 alone, so a replay repeats them whether or not b's own
or later partitions are already on disk.

Both ingests drain through :func:`await_drain`; the corpus ingest and
streaming/pipeline.py write their one-row audit frames with
:func:`literal_row`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Overwrite this batch's ``__batch_id`` partition of ``path``."""
    (df.withColumn("__batch_id", F.lit(batch_id))
     .write.partitionBy("__batch_id")
     .option("partitionOverwriteMode", "dynamic")
     .mode("overwrite").parquet(path))


def read_before(spark: SparkSession, path: str, schema: str,
                batch_id: int) -> DataFrame:
    """The ``schema`` columns of the rows batches ``< batch_id`` wrote to
    ``path``; empty before the store's first batch lands."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    return (spark.read.schema(f"{schema}, __batch_id int").parquet(path)
            .where(F.col("__batch_id") < batch_id).drop("__batch_id"))


def literal_row(spark: SparkSession,
                fields: list[tuple[object, str, str]]) -> DataFrame:
    """One row of ``(value, type, name)`` literals over ``range(1)``: a
    JVM-side row, with no job to parallelize a local list."""
    return spark.range(1).select(
        *[F.lit(v).cast(t).alias(c) for v, t, c in fields])


def await_drain(q: StreamingQuery, timeout: float,
                checkpoint_dir: str | os.PathLike) -> None:
    """Wait for the AvailableNow query ``q`` to finish. Past ``timeout``
    seconds it is stopped and :class:`TimeoutError` is raised, so a slow
    drain never returns with its query still running on the checkpoint."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"drain of checkpoint {checkpoint_dir} did not "
                           f"finish in {timeout} s; its query was stopped")
