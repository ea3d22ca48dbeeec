"""Descriptive statistics (pandas ``df.describe(include='all')`` parity).

Reference (datapump.py:329-336,343,355-356,371): one row per stat in
{count, unique, top, freq, mean, std, min, 25%, 50%, 75%, max} × one column
per input column; numeric columns get count/mean/std/min/percentiles/max,
string columns get count/unique/top/freq; a leading ``stat`` text column is
the primary key. Percentiles use linear interpolation — Spark's exact
``percentile`` matches pandas; ``percentile_approx``/``summary()`` do NOT
(SURVEY §2.4 A2).

Scale design: all numeric stats for all columns are computed in ONE global
aggregation (map-side partial aggregates, single-row result — no shuffle of
data rows, only of partial states). ``unique``/``top``/``freq`` come from ONE
``mode.value_counts`` table over all string columns (one scan, one groupBy:
a shuffle of distinct values only) and one global aggregate over it, each
column's stats conditional aggregates — no window, no join, no per-column
pass. The row-per-stat pivot happens on the single-row aggregate output.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapump_spark.functions.sqltext import sql_ident
from datapump_spark.operators.mode import value_counts
from datapump_spark.operators.resample import numeric_columns

NUMERIC_STATS = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]
STRING_STATS = ["count", "unique", "top", "freq"]
ALL_STATS = ["count", "unique", "top", "freq", "mean", "std", "min",
             "25%", "50%", "75%", "max"]


def _long(row: DataFrame, cols: Sequence[str], stats: Sequence[str]) -> DataFrame:
    """(column, stat, value) rows from a one-row aggregate whose columns
    are aliased ``{column index}__{stat}``."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.lit(s).alias("stat"),
                 F.col(f"{i}__{s}").alias("value"))
        for i, c in enumerate(cols)
        for s in stats
    ]
    return row.select(F.explode(F.array(*structs)).alias("kv")).select("kv.*")


def describe_numeric(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format numeric describe: (column, stat, value double).

    One aggregation pass for every column; stats ordered as NUMERIC_STATS.
    """
    aggs = []
    for i, name in enumerate(cols):
        c = F.col(sql_ident(name))
        stats = [F.count(c), F.avg(c), F.stddev_samp(c), F.min(c),
                 *[F.percentile(c, F.lit(q)) for q in (0.25, 0.5, 0.75)],
                 F.max(c)]
        aggs += [e.cast("double").alias(f"{i}__{s}")
                 for s, e in zip(NUMERIC_STATS, stats)]
    return _long(df.agg(*aggs), cols, NUMERIC_STATS)


def describe_string(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Long-format string describe: (column, stat, value string).

    One global aggregate over the value-count table: per column, count =
    sum of its counts, unique = number of its values, freq = max count,
    top = the value with the highest count, ties resolved to the smallest
    value (``min_by`` on (-count, value)) — deterministic. An all-null
    column has no value counts: count and unique "0" (as pandas reports),
    top and freq NULL.
    """
    aggs = []
    for i in range(len(cols)):
        mine, v = F.col("__col") == i, F.col(f"_{i}")
        cnt = F.when(mine, F.col("__cnt"))
        stats = [F.coalesce(F.sum(cnt), F.lit(0)), F.count(F.when(mine, 1)),
                 F.min_by(v, F.when(mine, F.struct(-F.col("__cnt"), v))),
                 F.max(cnt)]
        aggs += [e.cast("string").alias(f"{i}__{s}")
                 for s, e in zip(STRING_STATS, stats)]
    return _long(value_counts(df, cols).agg(*aggs), cols, STRING_STATS)


def describe_table(df: DataFrame) -> DataFrame:
    """Reference-shaped wide describe: ``stat`` + one all-string column per
    numeric or string input column, rows ordered like pandas
    describe(include='all') (datapump.py:332-336). Inapplicable cells are
    NULL (elided at the sink by the sparse-record writer, SURVEY §2.3 F2).
    Other columns (timestamps, …) are left out; a frame with none of
    either kind raises ``ValueError`` naming its columns and types.
    """
    numeric_cols = numeric_columns(df)
    string_cols = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.StringType)]
    if not numeric_cols and not string_cols:
        got = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in df.schema.fields)
        raise ValueError(f"describe needs a numeric or string column, got: "
                         f"{got or 'no columns'}")

    longs = []
    if numeric_cols:
        longs.append(
            describe_numeric(df, numeric_cols)
            .withColumn("value", F.col("value").cast("string"))
        )
    if string_cols:
        longs.append(describe_string(df, string_cols))
    order = F.lit(list(ALL_STATS))
    return (
        reduce(DataFrame.unionByName, longs).groupBy("stat")
        .pivot("column", [*numeric_cols, *string_cols])
        .agg(F.first("value"))
        .withColumn("__ord", F.array_position(order, F.col("stat")))
        .orderBy("__ord")
        .drop("__ord")
    )


def gini_concentration(
    df,
    group_col: str,
    weight_col: str,
):
    """Gini coefficient of how unevenly ``weight_col`` mass concentrates
    across ``group_col`` (one row out: n_groups, total, gini ∈ [0, 1)).
    THE corpus-curation concentration report: a pre-training mix where
    three domains carry 90% of tokens has a Gini near 1 and needs
    per-domain caps (operators/sampling.group_cap) before training.

    Computed on the per-group totals via the sorted-cumulative formula
    G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n with x ascending (i 1-based) — an
    ordered running sum over the GROUP table (group-cardinality-sized,
    not row-sized; the single-partition sort is over n_groups rows,
    which is the already-aggregated small side). Ties order by group id
    so the rank assignment — though not the Gini value, which is
    tie-invariant — is deterministic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per = df.groupBy(group_col).agg(
        F.sum(weight_col).cast("double").alias("__x"))
    w = Window.orderBy(F.col("__x").asc(), F.col(group_col).asc())
    ranked = per.withColumn("__i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.round(F.sum("__x"), 6).alias("total"),
        F.round(
            (2.0 * F.sum(F.col("__i") * F.col("__x")))
            / (F.count(F.lit(1)) * F.sum("__x"))
            - (F.count(F.lit(1)) + 1) / F.count(F.lit(1)),
            6).alias("gini"),
    )
