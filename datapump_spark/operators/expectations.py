"""Declarative data-quality expectation suite (Great-Expectations-style,
Spark-first).

The reference validates inputs procedurally while loading (jobspec field
checks, CSV header sniffing — ``datapump.py:22-53,168-240``); a 100 TB
pipeline needs the audit as a *queryable artifact* instead: one tall frame
of (table, check, violated, total, ok) rows that a gate can join against.

Design for scale:
- Column-level checks (nulls, ranges, set membership, uniqueness-by-count)
  compile to ONE aggregate pass per table — a single map-side-partial
  shuffle regardless of how many checks are registered.
- Referential-integrity checks are LEFT ANTI joins, counted. The dimension
  side broadcasts when small; the join stays key-only (two columns cross
  the shuffle, never payloads).
- Nothing collects; the suite result is itself a DataFrame that can be
  written next to the data (audit-table pattern, SURVEY §2.10 A4).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, functions as F

from datapump_spark.functions.sqltext import sql_ident


def _sql_lit(v) -> str:
    """SQL literal rendering for the string-predicate helpers below.
    Floats carry the ``D`` suffix so they parse as DOUBLE (a bare SQL
    decimal literal would be DECIMAL — same comparison result after
    promotion, but keep the types identical to the Column API).
    Handles the Column-API edge cases the old repr() fallthrough broke
    (r12 ADVICE): None renders as NULL, non-finite floats as CAST
    literals, and unsupported types raise instead of emitting
    unparseable repr() text. Assumes the session default
    spark.sql.parser.escapedStringLiterals=false (backslash escapes
    active), which tuned_builder never changes."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, float):
        if v != v:                                  # NaN
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, int):
        return repr(v)
    raise TypeError(
        f"unsupported literal type for SQL predicate: {type(v).__name__!s} "
        f"({v!r}); pass str/int/float/bool/None or build a Column predicate")


@dataclass(frozen=True)
class Check:
    """One expectation: ``predicate`` is a boolean Column — or a SQL
    boolean expression string (the builders below emit strings: one
    server-side parse instead of a py4j round trip per Column node,
    r12 optimization round, guide §7.3) — over a single table's rows; a
    row where the predicate is False (or null) counts as a violation."""

    name: str
    predicate: Column | str

    def violation_expr(self) -> Column:
        if isinstance(self.predicate, str):
            return F.expr(
                f"CAST(sum(CASE WHEN coalesce(CAST(({self.predicate}) AS "
                "BOOLEAN), false) THEN 0 ELSE 1 END) AS BIGINT)")
        ok = F.coalesce(self.predicate.cast("boolean"), F.lit(False))
        return F.sum(F.when(ok, 0).otherwise(1)).cast("bigint")


def not_null(col: str) -> Check:
    return Check(f"not_null:{col}", f"{sql_ident(col)} IS NOT NULL")


def in_range(col: str, lo, hi) -> Check:
    """Closed-interval range check (null fails via the coalesce above)."""
    return Check(f"in_range:{col}",
                 f"{sql_ident(col)} >= {_sql_lit(lo)} "
                 f"AND {sql_ident(col)} <= {_sql_lit(hi)}")


def in_set(col: str, values) -> Check:
    return Check(f"in_set:{col}",
                 f"{sql_ident(col)} IN "
                 f"({', '.join(_sql_lit(v) for v in values)})")


def matches(col: str, regex: str) -> Check:
    return Check(f"matches:{col}", f"{sql_ident(col)} RLIKE {_sql_lit(regex)}")


@dataclass
class ExpectationSuite:
    """Row-level checks plus table-level uniqueness / RI expectations."""

    table: str
    checks: list[Check] = field(default_factory=list)
    unique_keys: list[str] = field(default_factory=list)
    # (fact_key, dim_df, dim_key, dim_name): RI checks fused into the same
    # single pass — each becomes a key-only broadcast LEFT join (distinct
    # dim keys, so row counts are preserved) and one more sum in the
    # aggregate. The fact table is scanned ONCE for the whole suite no
    # matter how many row checks + RI checks are registered.
    ri: list[tuple] = field(default_factory=list)

    def run(self, df: DataFrame) -> DataFrame:
        """All row-level checks + RI orphan counts + total count in ONE
        aggregation job over ONE scan; each uniqueness check is one extra
        count-distinct aggregate (kept separate so the row-level pass
        stays a cheap single accumulator row)."""
        aggs = [F.count(F.lit(1)).cast("bigint").alias("__total")]
        for c in self.checks:
            aggs.append(c.violation_expr().alias(c.name))
        for k in self.unique_keys:
            # violations = rows beyond one per key = count(k) - distinct(k)
            aggs.append(F.expr(
                f"CAST(count(`{k}`) - count(DISTINCT `{k}`) AS BIGINT)"
            ).alias(f"unique:{k}"))
        ri_names = []
        for i, (fk, dim, dk, dname) in enumerate(self.ri):
            probe = F.broadcast(
                dim.select(F.col(dk).alias(f"__dk{i}"),
                           F.lit(True).alias(f"__hit{i}")).distinct())
            df = df.join(probe, F.col(fk) == F.col(f"__dk{i}"), "left")
            name = f"ri:{self.table}.{fk}->{dname}.{dk}"
            ri_names.append(name)
            aggs.append(
                F.sum(F.when(F.col(f"__hit{i}").isNull(), 1).otherwise(0))
                .cast("bigint").alias(name))
        row = df.agg(*aggs)
        names = [c.name for c in self.checks] + [
            f"unique:{k}" for k in self.unique_keys] + ri_names
        pairs = F.expr("array(" + ", ".join(
            f"named_struct('check', {_sql_lit(n)}, 'violated', `{n}`)"
            for n in names) + ")")
        return (
            row.select(F.col("__total"), F.explode(pairs).alias("p"))
            .select(
                F.lit(self.table).alias("table_name"),
                F.col("p.check").alias("check"),
                F.col("p.violated").alias("violated"),
                F.col("__total").alias("total"),
                (F.col("p.violated") == 0).alias("ok"),
            )
        )


def referential_integrity(
    fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str,
    fact_name: str, dim_name: str, broadcast_dim: bool = True,
) -> DataFrame:
    """Orphan check: fact keys with no matching dimension row. Key-only
    anti join (both sides projected to the key column before the join);
    the dim side broadcasts by default — at 100 TB the fact side never
    moves for a dimension lookup."""
    f = fact.select(F.col(fact_key).alias("__fk"))
    d = dim.select(F.col(dim_key).alias("__dk")).distinct()
    if broadcast_dim:
        d = F.broadcast(d)
    orphans = f.join(d, F.col("__fk") == F.col("__dk"), "left_anti")
    orph = orphans.agg(F.count(F.lit(1)).cast("bigint").alias("violated"))
    tot = fact.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    # Single-row × single-row broadcast cross-join keeps the whole check
    # lazy — no driver-side count() action per RI check.
    return orph.join(F.broadcast(tot)).select(
        F.lit(fact_name).alias("table_name"),
        F.lit(f"ri:{fact_name}.{fact_key}->{dim_name}.{dim_key}").alias("check"),
        F.col("violated"),
        F.col("total"),
        (F.col("violated") == 0).alias("ok"),
    )


def run_suites(suites: list[tuple[ExpectationSuite, DataFrame]],
               ri_checks: list[DataFrame] = ()) -> DataFrame:
    """Union every suite + RI result into the single tall audit frame."""
    out = None
    for suite, df in suites:
        part = suite.run(df)
        out = part if out is None else out.unionByName(part)
    for ri in ri_checks:
        out = ri if out is None else out.unionByName(ri)
    return out


def benford_deviation(
    df,
    value_col: str,
    group_col: str | None = None,
):
    """First-digit distribution vs Benford's law — the numeric-forensics
    screen (fabricated or unit-mangled numeric columns diverge hard from
    log10(1+1/d)): per digit 1-9, observed count/frequency, expected
    frequency, and the chi-square contribution; one row per digit (per
    group). Total χ² = sum of the contributions; compare against the
    χ²(8) critical value of the caller's chosen α.

    Digit extraction is string-side: the FIRST NONZERO digit of the
    absolute value's decimal rendering (so 0.05 → 5, and no log10 float
    edge at powers of ten); expected frequencies are python-computed
    literals (engine libm never enters); zero/null values are excluded
    (they carry no leading digit). One aggregation, fully codegen.
    """
    import math

    from pyspark.sql import functions as F

    exp = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    keys = [group_col] if group_col else []
    digit = F.regexp_extract(
        F.abs(F.col(value_col)).cast("decimal(38,6)").cast("string"),
        r"[1-9]", 0)
    # try_to_number, not cast: a value like 0.000 has no nonzero digit,
    # so regexp_extract yields '' — ANSI cast('') would throw whenever
    # the engine evaluates this subexpression before the between()
    # filter (evaluation ORDER is not contractual: interpreted mode's
    # subexpression elimination runs it eagerly even though codegen
    # happened to short-circuit it)
    base = (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .withColumn("__d", F.try_to_number(digit, F.lit("9")).cast("int"))
        .where(F.col("__d").between(1, 9))
    )
    counts = base.groupBy(*keys, "__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"))
    totals = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__tot"))
    exp_arr = F.lit([exp[d] for d in range(1, 10)])
    j = counts.join(F.broadcast(totals), keys) if keys else \
        counts.crossJoin(F.broadcast(totals))
    e_freq = F.element_at(exp_arr, F.col("__d"))
    return j.select(
        *keys, F.col("__d").alias("digit"), "n",
        F.round(F.col("n") / F.col("__tot"), 6).alias("obs_freq"),
        F.round(e_freq, 6).alias("exp_freq"),
        F.round(F.pow(F.col("n") - e_freq * F.col("__tot"), 2)
                / (e_freq * F.col("__tot")), 6).alias("chi2_part"),
    )
