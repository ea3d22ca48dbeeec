"""Per-column value counts, and the mode with ties built on them (pandas
``df.mode()`` parity).

Reference (datapump.py:337-344): ranked modal values per column; ties produce
multiple rows sorted ascending; the row index becomes a ``stat`` column
(0,1,2,…). Columns are INDEPENDENT — row k holds each column's k-th modal
value, not co-occurring records (SURVEY §2.4 A3). Spark's builtin ``mode()``
returns a single value, so ties need the count-and-rank plan below.

Scale: ``value_counts`` reads the input once and groups it once for all
columns (a shuffle of distinct values only, map-side combine first); one
window partitioned by column ranks them and one groupBy on the rank index
assembles the columns — the same four exchanges for any number of columns.
Limit: a column's distinct values share one window partition, so a
near-unique column such as ``DateTime`` (every value ties) is ranked in one
task, as an unpartitioned window over its counts would be.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.functions.sqltext import sql_ident


def value_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """``(__col int, _0 … _{n-1}, __cnt bigint)``: one row per distinct
    non-null value of each column, ``__col`` its position in ``cols``. In a
    row of column i only ``_i`` (column i's type) is set, so ordering by
    ``_0 … _{n-1}`` within one ``__col`` orders by that column's value."""
    pos = [f"_{i}" for i in range(len(cols))]
    rows = [F.when(F.col(p).isNotNull(), F.struct(
        F.lit(i).alias("__col"),
        *[F.when(F.lit(i == j), F.col(q)).alias(q) for j, q in enumerate(pos)]))
        for i, p in enumerate(pos)]
    return (
        df.select(*[F.col(sql_ident(c)).alias(p) for c, p in zip(cols, pos)])
        .select(F.explode(F.array(*rows)).alias("__v"))
        .where(F.col("__v").isNotNull())
        .select("__v.*")
        .groupBy("__col", *pos)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def column_modes(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """pandas df.mode() shape: ``stat`` rank index + one column per input
    column holding its rank-k modal value (NULL once a column's ties are
    exhausted). Output sorted by stat."""
    pos = [f"_{i}" for i in range(len(cols))]
    # highest count first, then ascending value: the running max over this
    # order is the column's max count on every row, and the tied modal
    # values take row numbers 1…k
    w = Window.partitionBy("__col").orderBy(F.col("__cnt").desc(), *pos)
    modal = (
        value_counts(df, cols)
        .select("__col", *pos, "__cnt",
                F.max("__cnt").over(w).alias("__mx"),
                (F.row_number().over(w) - 1).cast("bigint").alias("stat"))
        .where(F.col("__cnt") == F.col("__mx"))
    )
    return (
        modal.groupBy("stat")
        .agg(*[F.max(F.when(F.col("__col") == i, F.col(p))).alias(c)
               for i, (c, p) in enumerate(zip(cols, pos))])
        .orderBy("stat")
    )
