"""Z-order (Morton) data layout for multi-column data skipping.

Extends the reference (a pandas pipeline has no layout concept). At
100 TB the dominant cost is the scan, and parquet min/max row-group
statistics prune it — but sorting by one column only clusters that
column. Interleaving the bits of k columns into a single *z-value* and
range-partitioning + sorting by it keeps every participating column
locally clustered, so a predicate on ANY of them skips most row groups
(the Delta/Iceberg ``OPTIMIZE ZORDER BY`` idea, built here from plain
column expressions).

Plan shape: one aggregate for per-column min/max (a broadcast of one
row), pure bit-arithmetic projection (codegen'd, no UDF), then
``repartitionByRange(zval)`` — a single range-shuffle, exactly what any
global sort costs. The payoff is row groups skipped by a 2-predicate
filter, z-ordered vs single-column-sorted layout (PERF.md, historical
measurement); ``test_zorder`` pins that both columns stay clustered.

The bit math is integer-exact and engine-agnostic; ``zvalue_sql``
emits the identical expression in DuckDB syntax so the oracle gate can
hash-compare z-values (q_zorder).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scale(col: str, mn: str, mx: str, bits: int) -> Column:
    """Map an integer column into [0, 2**bits) by min/max scaling.
    Integer-only math (``div``, never a double divide) so Spark and
    DuckDB agree bit-for-bit at scaling boundaries."""
    top = (1 << bits) - 1
    return F.expr(
        f"(({col} - {mn}) * {top}) div greatest({mx} - {mn}, 1)")


def zvalue(scaled: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of pre-scaled integer columns:
    bit i of column j lands at position ``i*k + j``. Pure shift/and/or
    expression tree (k·bits terms) — whole-stage codegen, no UDF."""
    k = len(scaled)
    terms = [
        F.shiftleft(F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + j)
        for i in range(bits) for j, c in enumerate(scaled)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zvalue_sql(scaled_exprs: list[str], bits: int = 16) -> str:
    """DuckDB twin of :func:`zvalue` over pre-scaled integer SQL fragments."""
    k = len(scaled_exprs)
    terms = [
        f"((({e} >> {i}) & 1) << {i * k + j})"
        for i in range(bits) for j, e in enumerate(scaled_exprs)
    ]
    return " | ".join(terms)


def scale_sql(expr: str, mn: str, mx: str, bits: int) -> str:
    """DuckDB twin of :func:`_scale` (integer floor division)."""
    top = (1 << bits) - 1
    return f"(({expr} - {mn}) * {top}) // greatest({mx} - {mn}, 1)"


def with_zvalue(df: DataFrame, cols: list[str], bits: int = 16,
                out_col: str = "zval") -> DataFrame:
    """Append the z-value of ``cols`` (integer columns; min/max scaled to
    ``bits`` bits each). One tiny aggregate broadcast + a projection."""
    if not 1 <= len(cols) * bits <= 63:
        raise ValueError("k*bits must fit in a signed 64-bit value")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
    stats = df.agg(*aggs)
    j = df.crossJoin(F.broadcast(stats))
    scaled = [
        _scale(f"`{c}`", f"`__mn_{c}`", f"`__mx_{c}`", bits)
        for c in cols
    ]
    return (j.withColumn(out_col, zvalue(scaled, bits))
            .drop(*[f"__mn_{c}" for c in cols], *[f"__mx_{c}" for c in cols]))


def zorder_by(df: DataFrame, cols: list[str], bits: int = 16,
              num_partitions: int | None = None) -> DataFrame:
    """Cluster ``df`` for multi-column skipping: z-value projection, one
    range shuffle on it, in-partition sort, helper column dropped. Write
    the result with any parquet sink; row-group stats do the rest."""
    z = with_zvalue(df, cols, bits)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (z.repartitionByRange(n, "zval")
            .sortWithinPartitions("zval")
            .drop("zval"))
