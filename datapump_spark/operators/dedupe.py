"""Primary-key dedupe and duplicate accounting.

Reference behavior (datapump.py:446-456): per input file,
``df.drop_duplicates(subset=pk_list, keep='first'|'last')`` where first/last
means *file row order*, plus a ``DUPES: n/m`` diagnostic
(datapump.py:449-450) computed as duplicated-row count.

Spark design: "file row order" does not exist on a distributed scan, so the
caller must provide (or we synthesize) an explicit ordering column. For batch
CSV ingestion we synthesize one with :func:`with_file_order`; for the
oracle-checked variants we order by an existing unique key. Keep-first =
``min_by(struct(row), ord)`` per PK group; keep-last = ``max_by``. A plain
``dropDuplicates`` is NOT faithful for ``last`` (SURVEY §2.3 F4).

Scale: the aggregation shuffles once on the PK, with a map-side partial
combine (one state row per key, so hot keys collapse before the shuffle) and
no sort. At 100 TB the PK partitioning is the natural clustering for the
downstream MERGE sink, so this shuffle is reused. No collect, no Python rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapump_spark.functions.sqltext import sql_ident


def dupe_count(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Count of rows that share a PK with an earlier row (reference
    ``df.duplicated(subset=pk).sum()``, datapump.py:449).

    Equals total rows minus distinct key groups; computed as two
    aggregates in one job (partial aggregation map-side, single shuffle).
    Returns a 1-row DataFrame ``(dupe_count bigint)``.
    """
    per_key = df.groupBy(*[F.col(sql_ident(k)) for k in keys]) \
        .agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.coalesce(F.sum("cnt") - F.count(F.lit(1)), F.lit(0))
        .cast("bigint").alias("dupe_count")
    )


def dedupe_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    keep: str = "first",
) -> DataFrame:
    """Keep exactly one row per key group: the one with min (keep='first')
    or max (keep='last') ``order_col``. Faithful port of datapump.py:446-456
    with explicit, deterministic ordering.

    ``keep=''`` (reference's falsy no-op, datapump.py:446) returns df as-is.
    """
    if not keep:
        return df
    if keep not in ("first", "last"):
        raise ValueError(f"keep must be 'first', 'last' or '' — got {keep!r}")
    pick = F.min_by if keep == "first" else F.max_by
    row = F.struct(*[F.col(sql_ident(c)) for c in df.columns])
    out = df.groupBy(*[F.col(sql_ident(k)) for k in keys]) \
        .agg(pick(row, F.col(sql_ident(order_col))).alias("__row"))
    return out.select("__row.*")


def with_file_order(df: DataFrame, col_name: str = "__file_order") -> DataFrame:
    """Attach a within-file ordering surrogate for CSV ingestion dedupe.

    For file-source frames the surrogate is EXACT across multi-split giant
    files: ``struct(file_path, _metadata.file_block_start, within-partition
    row index)``. A >128 MB CSV is read as several byte-range splits whose
    partition order Spark does not guarantee (splits are packed by size);
    the split's byte offset restores file order regardless of which
    executor read which split, and the monotonic id orders rows inside a
    split. Struct comparison is lexicographic, so the column drops straight
    into ``min_by``/``max_by``/window ``ORDER BY``.

    Non-file frames (no ``_metadata``) fall back to ``struct('', 0,
    monotonic id)`` — exact whenever the frame is a single in-order
    partition. Both paths emit the SAME struct<path,block,row> type, and
    file-source availability is detected by forcing analysis of a
    ``_metadata`` probe (``.schema``) rather than relying on
    ``withColumn`` raising eagerly — under deferred-analysis clients
    (Spark Connect) the latter never fires and the error would surface
    only at action time.
    """
    mid = F.monotonically_increasing_id()
    try:
        df.select("_metadata").schema  # forces analysis on classic AND Connect
        has_meta = True
    except Exception:  # noqa: BLE001 — _metadata unresolvable: not a file source
        has_meta = False
    if has_meta:
        return df.withColumn(col_name, F.struct(
            F.col("_metadata.file_path").alias("path"),
            F.col("_metadata.file_block_start").alias("block"),
            mid.alias("row")))
    return df.withColumn(col_name, F.struct(
        F.lit("").alias("path"),
        F.lit(0).cast("long").alias("block"),
        mid.alias("row")))
