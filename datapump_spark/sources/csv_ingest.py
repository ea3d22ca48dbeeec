"""CSV scan + multi-format timestamp parse + reference-parity type inference.

Reference behaviors ported:
- S4 CSV scan (datapump.py:442-444): header row, whitespace after delimiters
  tolerated (``skipinitialspace=True``) → ``ignoreLeadingWhiteSpace``.
- S5 multi-format datetime parse (datapump.py:439-443,89-92,117): a list of
  strptime formats tried in order per value → ``coalesce(try_to_timestamp(c,
  f1), try_to_timestamp(c, f2), …)`` — a single codegen'd JVM expression, no
  UDF (the reference's only UDF-like hook, SURVEY §2.12).
- P5 type inference (datapump.py:149-166): per column decide
  int | float | timestamp | text. pandas infers numerics during read and
  sniffs datetimes on object columns; here every per-column check is folded
  into ONE aggregation pass over the raw all-string scan (count of non-null
  values that fail each candidate parse). Nullable int stays int (documented
  improvement over pandas' int→float null promotion, SURVEY §1.2).

Scale: inference is a single global aggregate with partial (map-side) states.
``ingest_csv`` infers on a sample by default (``DEFAULT_INFER_SAMPLE_ROWS``):
the first ``ceil(sample_rows / splits)`` rows of every split of the scan
(Catalyst's per-partition ``LocalLimit``), so the type probes run on
O(sample_rows) rows spread over every split's task, each task stops reading
its split at the bound, and nothing is shuffled: inference is one job. The
bound is per split, not global: an input is inferred from every row only
when no split holds more than ``ceil(sample_rows / splits)`` rows (any
single-split file of at most ``sample_rows`` rows). A multi-file glob with
uneven files can leave rows of its larger files unchecked even when the
whole input is under ``sample_rows``. The schema is then declared for the
full scan; pass ``sample_rows=None`` to force exhaustive inference (the
oracle-checked ``q_type_infer`` does). The parse itself never leaves the
JVM.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapump_spark.functions.sqltext import sql_ident

# Reference defaults (datapump.py:89-92), strptime → Spark DateTimeFormatter.
# Order preserved: 2-digit-year formats are tried first, like the reference.
DEFAULT_DATE_FORMATS = [
    "yy-MM-dd HH:mm:ss",
    "yy/MM/dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy/MM/dd HH:mm:ss",
]

# DuckDB strptime twins of the Spark patterns above, for oracle SQL.
DUCKDB_DATE_FORMATS = [
    "%y-%m-%d %H:%M:%S",
    "%y/%m/%d %H:%M:%S",
    "%Y-%m-%d %H:%M:%S",
    "%Y/%m/%d %H:%M:%S",
]

# Inference sample bound: big enough that type flips past it are freak rows
# (which try_cast degrades to NULL, not an error), small enough that the
# inference scan stays O(1) as the input grows.
DEFAULT_INFER_SAMPLE_ROWS = 100_000


def _shape_regex(fmt: str) -> str | None:
    """Anchored digit-shape regex for a fixed-width numeric format, or None
    when the format has fields we can't shape-check (then parse unguarded).
    A string failing the shape can never parse under the format, so the
    guard only skips guaranteed-NULL attempts."""
    import re

    out, i = [], 0
    widths = {"yyyy": 4, "yy": 2, "MM": 2, "dd": 2, "HH": 2, "mm": 2, "ss": 2}
    while i < len(fmt):
        for tok in ("yyyy", "yy", "MM", "dd", "HH", "mm", "ss"):
            if fmt.startswith(tok, i):
                out.append(r"\d{%d}" % widths[tok])
                i += len(tok)
                break
        else:
            ch = fmt[i]
            if ch.isalpha():
                return None  # unknown pattern letter — don't guard
            out.append(re.escape(ch))
            i += 1
    return "^" + "".join(out) + "$"


def multi_format_ts(col: str | Column, formats: Sequence[str] = DEFAULT_DATE_FORMATS) -> Column:
    """First format that parses wins; NULL if none do (S5).

    Each attempt is guarded by a digit-shape regex: failed
    ``try_to_timestamp`` attempts are exception-driven in the JVM
    (expensive), while a regex miss is a cheap scan — on non-matching
    strings (numeric or text columns probed during inference, and every
    format before the one that fits) the guard is ~3× faster."""
    c = F.col(sql_ident(col)) if isinstance(col, str) else col
    tries = []
    for f in formats:
        rx = _shape_regex(f)
        t = F.try_to_timestamp(c, F.lit(f))
        tries.append(F.when(c.rlike(rx), t) if rx else t)
    return F.coalesce(*tries)


def read_csv_raw(spark: SparkSession, path: str) -> DataFrame:
    """S4 scan, all columns as strings (typing happens in :func:`ingest_csv`).

    ``ignoreLeadingWhiteSpace`` mirrors pandas ``skipinitialspace=True``
    (datapump.py:444); empty strings become NULL like pandas' default NaN
    handling of empty fields.
    """
    return spark.read.options(header=True, ignoreLeadingWhiteSpace=True,
                              nullValue="").csv(path)


def _split_heads(df: DataFrame, n: int) -> DataFrame:
    """The first ``n`` rows of every partition of ``df``: Catalyst's
    ``LocalLimit``, which PySpark does not expose on its own (``limit``
    pairs it with a global limit that gathers the rows into one task).
    Each task stops reading its split after ``n`` rows."""
    jvm, jdf = df.sparkSession._jvm, df._jdf
    bound = jvm.org.apache.spark.sql.catalyst.expressions.Literal(
        n, jvm.org.apache.spark.sql.types.DataTypes.IntegerType)
    plan = jvm.org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
        bound, jdf.logicalPlan())
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(jdf.sparkSession(), plan),
        df.sparkSession)


@dataclass(frozen=True)
class InferredField:
    name: str
    ckan_type: str  # 'int' | 'float' | 'timestamp' | 'text'  (datapump.py:149-166)

    @property
    def spark_type(self) -> str:
        return {"int": "bigint", "float": "double",
                "timestamp": "timestamp", "text": "string"}[self.ckan_type]


def infer_ckan_fields(
    raw: DataFrame,
    ts_formats: Sequence[str] = DEFAULT_DATE_FORMATS,
    sample_rows: int | None = None,
) -> list[InferredField]:
    """Decide int/float/timestamp/text per column in one aggregation pass.

    A column is ``int`` when every non-null value try_casts to bigint,
    ``float`` when every non-null value try_casts to double, ``timestamp``
    when every non-null value parses under one of ``ts_formats``, else
    ``text``. Precedence int → float → timestamp mirrors pandas' read-time
    numeric inference followed by the reference's datetime sniff on object
    columns (datapump.py:153-166). All-null columns degrade to text
    (pandas object → text).

    ``raw`` is a file scan (:func:`read_csv_raw`). With ``sample_rows``
    only the first ``ceil(sample_rows / splits)`` rows of each split are
    checked, so a value past that bound in its split cannot change the
    verdict; ``None`` checks every row.
    """
    if sample_rows:
        # The first ceil(sample_rows / splits) rows of every split, in the
        # same job as the aggregate and with no shuffle: limit() would add a
        # global limit that funnels the sample into one task. The split
        # count only plans the scan; it runs no job.
        splits = max(1, raw._jdf.rdd().getNumPartitions())
        df = _split_heads(raw, -(-sample_rows // splits))
    else:
        df = raw
    aggs = []
    for i, c in enumerate(raw.columns):
        col = F.col(sql_ident(c))
        nn = col.isNotNull()
        # A double-castable string can never match a timestamp format (every
        # format has space-separated time parts), so count it as a ts-parse
        # failure WITHOUT running the 4-way strptime coalesce — numeric
        # columns skip timestamp parsing entirely. Same counts, ~10× less
        # parse work on numeric-heavy inputs.
        # Shape guard on the bigint probe, same trick as multi_format_ts:
        # an ANSI string→bigint cast accepts exactly optional-sign digits
        # with surrounding whitespace, so the regex rejects (cheaply, no
        # JVM exception) everything try_cast would reject — except
        # overflow, which try_cast itself still catches.
        int_shape = col.rlike(r"^\s*[+-]?\d+\s*$")
        aggs += [
            F.sum(F.when(nn, 1).otherwise(0)).alias(f"{i}__nn"),
            F.sum(F.when(nn & (~int_shape | col.try_cast("bigint").isNull()),
                         1).otherwise(0)).alias(f"{i}__badint"),
            F.sum(F.when(nn & col.try_cast("double").isNull(), 1).otherwise(0)).alias(f"{i}__badfloat"),
            F.sum(
                F.when(nn & col.try_cast("double").isNotNull(), 1)
                 .when(nn & multi_format_ts(col, ts_formats).isNull(), 1)
                 .otherwise(0)
            ).alias(f"{i}__badts"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    fields = []
    for i, c in enumerate(raw.columns):
        nn = row[f"{i}__nn"] or 0
        if nn == 0:
            fields.append(InferredField(c, "text"))
        elif row[f"{i}__badint"] == 0:
            fields.append(InferredField(c, "int"))
        elif row[f"{i}__badfloat"] == 0:
            fields.append(InferredField(c, "float"))
        elif row[f"{i}__badts"] == 0:
            fields.append(InferredField(c, "timestamp"))
        else:
            fields.append(InferredField(c, "text"))
    return fields


def ingest_csv(
    spark: SparkSession,
    path: str,
    ts_formats: Sequence[str] = DEFAULT_DATE_FORMATS,
    sample_rows: int | None = DEFAULT_INFER_SAMPLE_ROWS,
) -> DataFrame:
    """S4+S5+P5 composed: raw scan → infer → typed projection."""
    raw = read_csv_raw(spark, path)
    return project_typed(raw, infer_ckan_fields(raw, ts_formats, sample_rows),
                         ts_formats)


def project_typed(
    df: DataFrame,
    fields: Sequence[InferredField],
    ts_formats: Sequence[str] = DEFAULT_DATE_FORMATS,
) -> DataFrame:
    """Cast each inferred field to its type; every other column of ``df``
    (row-order or source-file bookkeeping) passes through after them.

    Pure column expressions (try_cast / multi_format_ts) — whole-stage
    codegen, no Python.
    """
    cols = []
    for f in fields:
        c = F.col(sql_ident(f.name))
        if f.ckan_type == "timestamp":
            cols.append(multi_format_ts(c, ts_formats).alias(f.name))
        elif f.ckan_type == "text":
            cols.append(c)
        else:
            cols.append(c.try_cast(f.spark_type).alias(f.name))
    names = {f.name for f in fields}
    return df.select(*cols, *[F.col(sql_ident(c)) for c in df.columns
                              if c not in names])
