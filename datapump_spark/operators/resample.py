"""Frequency resample: time-bucketed mean of every numeric column per group.

Reference (datapump.py:287-327, core :294):
``data_df.groupby(GroupBy).resample(Kind).mean()`` — group by key column(s),
bucket the datetime index at a pandas offset alias, mean every numeric
column. Output = (group keys, bucket-start ts, means); the group key is kept
(the reference's attempt to drop it always fails — SURVEY §2.13.2).

Spark design: a single ``groupBy(keys, bucket(ts))`` aggregation.
- Calendar-aligned units (hour/day/week/month/quarter/year) use
  ``date_trunc`` — one codegen'd expression, bucket = period start.
- Arbitrary fixed intervals ("15 minutes") use ``window(ts, interval).start``
  (epoch-aligned tumbling window, matches pandas fixed-offset buckets).
Gap buckets: pandas resample EMITS empty all-NaN buckets per group; the
reference then elides the NaNs so gaps degenerate to key+ts-only rows
(SURVEY §2.4 A1). Default here is dense=False (no gap rows — documented
divergence, SURVEY §2.13.3); ``dense=True`` reproduces gap rows via
``sequence()`` + explode + left join.

Scale: one shuffle on (keys, bucket) with map-side partial aggregation;
Catalyst prunes the scan to keys+ts+numeric columns. At 100 TB with a
date-partitioned source table, bucket-by-day aggregations also get partition
pruning when a time filter is present. The dense variant builds the bucket
spine from the per-group min/max — a second small aggregate — and joins
spine←agg with a shuffle on the same (keys, bucket) partitioning, so AQE
reuses the exchange layout.
"""

from __future__ import annotations

from collections.abc import Sequence

from datapump_spark.cachescope import scoped_persist
from datapump_spark.functions.sqltext import sql_ident

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# pandas offset alias → (date_trunc unit | None, interval string)
# (reference validates Kind via pandas to_offset, datapump.py:386-392)
_ALIAS = {
    "H": ("hour", "1 hour"),
    "h": ("hour", "1 hour"),
    "D": ("day", "1 day"),
    "d": ("day", "1 day"),
    "W": ("week", "7 days"),
    "M": ("month", None),
    "MS": ("month", None),
    "Q": ("quarter", None),
    "QS": ("quarter", None),
    "A": ("year", None),
    "Y": ("year", None),
    "YS": ("year", None),
    "T": (None, "1 minute"),
    "min": (None, "1 minute"),
    "S": (None, "1 second"),
}


# months per calendar alias (for 2M / 3Q / 2Y multiples)
_CAL_MONTHS = {"M": 1, "MS": 1, "Q": 3, "QS": 3, "A": 12, "Y": 12, "YS": 12}

# pandas weekday abbreviations, Monday=0 … Sunday=6
_DOW = {"MON": 0, "TUE": 1, "WED": 2, "THU": 3, "FRI": 4, "SAT": 5, "SUN": 6}

_BASE_SECONDS = {"hour": 3600, "minute": 60, "second": 1, "day": 86400,
                 "days": 86400}


def _parse_kind(kind: str) -> tuple[str, object]:
    """Translate a pandas-style offset alias to a bucket spec:

    - ``('trunc', unit)``       calendar unit via date_trunc
    - ``('window', interval)``  epoch-aligned fixed window
    - ``('months', k)``         k-month periods anchored at 1970-01
    - ``('week_anchor', d)``    weeks shifted so they END on weekday d-1
                                (pandas 'W-SUN' = weeks ending Sunday)

    Raises on unknown aliases like the reference's to_offset gate
    (datapump.py:386-392). Fractional multiples of fixed units are
    converted to whole seconds ('1.5H' → 5400 s); fractions that do not
    land on a whole second, and fractional/zero calendar multiples, are
    rejected instead of silently truncated (ADVICE r1)."""
    if kind in _ALIAS:
        unit, interval = _ALIAS[kind]
        return ("trunc", unit) if unit is not None else ("window", interval)
    # anchored weeks: W-SUN … (weeks ENDING on the named day, pandas-style;
    # the bucket label is the week START, see quirk 10)
    if kind.startswith("W-"):
        day = kind[2:].upper()
        if day not in _DOW:
            raise ValueError(f"unsupported resample kind: {kind!r}")
        start_dow = (_DOW[day] + 1) % 7          # week starts the day after
        return ("week_anchor", (7 - start_dow) % 7)
    # numeric-prefixed aliases: 15T, 30min, 12H, 7D, 2M, 3Q, 1.5H ...
    i = 0
    while i < len(kind) and (kind[i].isdigit() or kind[i] == "."):
        i += 1
    if i == 0:
        raise ValueError(f"unsupported resample kind: {kind!r}")
    suffix, n_str = kind[i:], kind[:i]
    mult = float(n_str)
    if mult <= 0:
        raise ValueError(f"resample multiple must be positive: {kind!r}")
    if suffix in _CAL_MONTHS:
        if mult <= 0 or mult != int(mult):
            raise ValueError(
                f"calendar multiple must be a positive integer: {kind!r}")
        return ("months", int(mult) * _CAL_MONTHS[suffix])
    if suffix not in _ALIAS or _ALIAS[suffix][1] is None:
        raise ValueError(f"unsupported resample kind: {kind!r}")
    base_n, base_unit = _ALIAS[suffix][1].split(" ", 1)
    if mult == int(mult):
        return ("window", f"{int(mult) * int(base_n)} {base_unit}")
    total_sec = mult * int(base_n) * _BASE_SECONDS[base_unit]
    if total_sec <= 0 or total_sec != int(total_sec):
        raise ValueError(
            f"fractional multiple {kind!r} is not a whole number of seconds")
    return ("window", f"{int(total_sec)} second")


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType)


def numeric_columns(df: DataFrame, exclude: Sequence[str] = ()) -> list[str]:
    return [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, _NUMERIC) and f.name not in exclude
    ]


def freq_resample(
    df: DataFrame,
    group_by: Sequence[str],
    ts_col: str,
    kind: str,
    value_cols: Sequence[str] | None = None,
    dense: bool = False,
    bucket_alias: str | None = None,
) -> DataFrame:
    """groupBy(group_by, bucket(ts)).avg(numeric columns).

    Output columns: *group_by, bucket ts (named ``bucket_alias`` or ts_col,
    reference keeps the date column name), mean of each value column under
    its original name (pandas .mean() keeps names).
    """
    spec_kind, spec = _parse_kind(kind)
    if value_cols is None:
        value_cols = numeric_columns(df, exclude=[*group_by, ts_col])
    out_ts = bucket_alias or ts_col

    ts = F.col(sql_ident(ts_col))
    if spec_kind == "trunc":
        bucket = F.date_trunc(spec, ts)
    elif spec_kind == "window":
        bucket = F.window(ts, spec)["start"]
    elif spec_kind == "months":
        # k-month periods anchored at 1970-01: floor months-since-epoch
        m = (F.year(ts) - F.lit(1970)) * 12 + F.month(ts) - 1
        p = F.floor(m / spec) * spec
        bucket = F.to_timestamp(
            F.add_months(F.lit("1970-01-01").cast("date"), p))
    else:  # week_anchor: shift so date_trunc('week') lands on the anchor
        delta = F.expr(f"interval {spec} days")
        bucket = F.date_trunc("week", ts + delta) - delta

    keys = [F.col(sql_ident(g)) for g in group_by]
    aggs = [F.avg(F.col(sql_ident(c))).alias(c) for c in value_cols]
    agg = df.groupBy(*keys, bucket.alias(out_ts)).agg(*aggs)
    if not dense:
        return agg

    # Dense spine: per-group min/max bucket → sequence → explode → left join.
    # The resampled aggregate feeds BOTH the spine derivation and the
    # join's right side — persist it (bucket-count-sized) so the
    # groupBy-over-the-fact-table runs once (r12, guide §1.2/§5).
    agg = scoped_persist(agg)
    if spec_kind == "trunc":
        step = {"hour": "1 hour", "day": "1 day", "week": "7 days",
                "month": "1 month", "quarter": "3 months", "year": "1 year"}[spec]
    elif spec_kind == "window":
        step = spec
    elif spec_kind == "months":
        step = f"{spec} months"
    else:
        step = "7 days"
    n, u = step.split(" ", 1)
    ival = F.expr(f"interval {n} {u}")
    spine = (
        agg.groupBy(*keys)
        .agg(F.min(sql_ident(out_ts)).alias("__lo"),
             F.max(sql_ident(out_ts)).alias("__hi"))
        .select(*keys,
                F.explode(F.sequence("__lo", "__hi", ival)).alias(out_ts))
    )
    return spine.join(agg, on=[*group_by, out_ts], how="left")
