"""A2 describe + A3 mode vs pandas models (datapump.py:329-344)."""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
import pytest

from datapump_spark.operators.describe import describe_numeric, describe_string, describe_table
from datapump_spark.operators.mode import column_modes

ROWS = [
    (1.0, "x"), (2.0, "y"), (2.0, "x"), (3.0, "z"),
    (4.0, "x"), (None, "y"), (10.0, None),
]
COLS = ["v", "s"]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "v double, s string")


def test_describe_numeric_matches_pandas(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    desc = pdf["v"].describe()  # count mean std min 25% 50% 75% max
    got = {r["stat"]: r["value"] for r in describe_numeric(df, ["v"]).collect()}
    for stat, key in [("count", "count"), ("mean", "mean"), ("std", "std"),
                      ("min", "min"), ("25%", "25%"), ("50%", "50%"),
                      ("75%", "75%"), ("max", "max")]:
        assert math.isclose(got[stat], desc[key], rel_tol=1e-9), stat


def test_describe_string_matches_pandas(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    desc = pdf["s"].describe()  # count unique top freq
    got = {r["stat"]: r["value"] for r in describe_string(df, ["s"]).collect()}
    assert got["count"] == str(desc["count"])
    assert got["unique"] == str(desc["unique"])
    assert got["top"] == desc["top"]
    assert got["freq"] == str(desc["freq"])


def test_describe_table_shape(df):
    wide = describe_table(df).toPandas()
    assert list(wide.columns) == ["stat", "v", "s"]
    # numeric col has no unique/top/freq; string col has no mean
    by_stat = wide.set_index("stat")
    assert by_stat.loc["unique", "v"] is None
    assert by_stat.loc["mean", "s"] is None
    assert by_stat.loc["count", "v"] == "6.0"  # non-null count, float-formatted


def test_mode_matches_pandas_with_ties(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    expected = pdf.mode()  # v -> [2.0]; s -> [x]
    got = column_modes(df, ["v", "s"]).toPandas().sort_values("stat")
    assert list(got["v"].dropna()) == list(expected["v"].dropna())
    assert list(got["s"].dropna()) == list(expected["s"].dropna())


def test_mode_tie_ordering(spark):
    df = spark.createDataFrame([(3,), (3,), (1,), (1,), (2,)], "x int")
    got = column_modes(df, ["x"]).toPandas()
    # ties ranked ascending by value, stat = 0-based rank (pandas parity)
    assert list(got["stat"]) == [0, 1]
    assert list(got["x"]) == [1, 3]


def test_edge_empty_and_all_null_inputs(spark):
    """Operators degrade gracefully on empty / all-null input (the driver
    may call any query on any SF; no operator may throw on degenerate
    data)."""
    from datapump_spark.operators.describe import describe_numeric, describe_string
    from datapump_spark.operators.mode import column_modes
    from datapump_spark.operators.resample import freq_resample

    empty = spark.createDataFrame([], "k bigint, ts timestamp, v double, s string")
    nulls = spark.createDataFrame(
        [(1, None, None, None), (2, None, None, None)],
        "k bigint, ts timestamp, v double, s string")

    assert len(describe_numeric(empty, ["v"]).collect()) == 8   # stats rows, null values
    assert len(describe_numeric(nulls, ["v"]).collect()) == 8
    assert len(describe_string(nulls, ["s"]).collect()) == 4
    assert column_modes(nulls, ["s", "v"]).count() == 0         # no non-null modes
    assert freq_resample(empty, ["k"], "ts", "H").count() == 0


def test_gini_concentration(spark):
    from pyspark.sql import functions as F

    from datapump_spark.operators.describe import gini_concentration

    # perfectly even mass → gini 0
    even = spark.createDataFrame(
        [(f"g{i}", 10.0) for i in range(8)], "g string, w double")
    r = gini_concentration(even, "g", "w").collect()[0]
    assert r["gini"] == 0.0 and r["n_groups"] == 8 and r["total"] == 80.0
    # one group holds everything → gini → (n-1)/n
    skewed = spark.createDataFrame(
        [("a", 1000.0)] + [(f"g{i}", 0.0) for i in range(9)],
        "g string, w double")
    r2 = gini_concentration(skewed, "g", "w").collect()[0]
    assert r2["gini"] == pytest.approx(9 / 10, abs=1e-6)
    # invariance to input layout
    r3 = gini_concentration(skewed.repartition(5), "g", "w").collect()[0]
    assert r3["gini"] == r2["gini"]


def test_stats_operators_accept_odd_column_names(spark):
    """Caller names reach Spark only as quoted identifiers: every stats
    operator gives the same answer over ``a.b`` / ``a`b Join`` / ``t.s``
    as over plain names."""
    from datapump_spark.operators.resample import freq_resample

    rows = [(1.0, "x", "2021-10-01 00:10:00"), (2.0, "y", "2021-10-01 00:20:00"),
            (2.0, "x", "2021-10-01 01:00:00"), (None, None, "2021-10-01 01:30:00")]
    plain = spark.createDataFrame(rows, "v double, s string, ts string") \
        .selectExpr("v", "s", "cast(ts as timestamp) AS ts")
    odd = plain.toDF("a.b", "a`b Join", "t.s")

    def same(got, want):
        assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))

    names = {"v": "a.b", "s": "a`b Join"}
    same(describe_numeric(odd, ["a.b"]).replace(names, subset=["column"]),
         describe_numeric(plain, ["v"]).replace(names, subset=["column"]))
    same(describe_string(odd, ["a`b Join"]),
         describe_string(plain, ["s"]).replace(names, subset=["column"]))
    wide = describe_table(odd)
    assert wide.columns == ["stat", "a.b", "a`b Join"]
    same(wide, describe_table(plain))
    modes = column_modes(odd, ["a.b", "a`b Join"])
    assert modes.columns == ["stat", "a.b", "a`b Join"]
    same(modes, column_modes(plain, ["v", "s"]))
    hourly = freq_resample(odd, ["a`b Join"], "t.s", "H", value_cols=["a.b"])
    assert hourly.columns == ["a`b Join", "t.s", "a.b"]
    same(hourly, freq_resample(plain, ["s"], "ts", "H", value_cols=["v"]))


def test_describe_table_without_describable_columns_names_them(spark):
    """A frame left with only a timestamp (e.g. DropColumns kept just
    DateTime) fails with the columns and their types, not an IndexError."""
    only_ts = spark.createDataFrame([(1,)], "k int").selectExpr(
        "current_timestamp() AS DateTime")
    with pytest.raises(ValueError, match=r"numeric or string.*DateTime timestamp"):
        describe_table(only_ts)


def test_describe_string_two_columns_one_all_null_matches_pandas(spark):
    rows = [("b", None), ("a", None), ("c", None), ("a", None), ("b", None),
            ("a", None)]
    df = spark.createDataFrame(rows, "s string, n string")
    pdf = pd.DataFrame(rows, columns=["s", "n"], dtype=object)
    got = {(r["column"], r["stat"]): r["value"]
           for r in describe_string(df, ["s", "n"]).collect()}
    assert len(got) == 8
    desc = pdf["s"].describe()
    assert got["s", "count"] == str(desc["count"])
    assert got["s", "unique"] == str(desc["unique"])
    assert got["s", "top"] == desc["top"] == "a"
    assert got["s", "freq"] == str(desc["freq"])
    desc_n = pdf["n"].describe()
    assert got["n", "unique"] == str(desc_n["unique"]) == "0"
    assert pd.isna(desc_n["top"]) and got["n", "top"] is None
    assert pd.isna(desc_n["freq"]) and got["n", "freq"] is None
    assert got["n", "count"] == str(desc_n["count"]) == "0"


def test_mode_all_null_column_next_to_three_way_tie(spark):
    rows = [(None, 3, 1.5, "q"), (None, 1, 1.5, "q"), (None, 2, 0.5, "r"),
            (None, 3, None, "q"), (None, 2, 1.5, None), (None, 1, 0.5, "r")]
    df = spark.createDataFrame(rows, "n string, t int, d double, s string")
    got = column_modes(df, df.columns).toPandas()
    assert list(got.columns) == ["stat", "n", "t", "d", "s"]
    assert list(got["stat"]) == [0, 1, 2]
    expected = pd.DataFrame(rows, columns=["n", "t", "d", "s"]).mode()
    assert got["n"].isna().all() and expected["n"].isna().all()
    assert list(got["t"]) == list(expected["t"]) == [1, 2, 3]
    assert list(got["d"].dropna()) == list(expected["d"].dropna()) == [1.5]
    assert list(got["s"].dropna()) == list(expected["s"].dropna()) == ["q"]


def test_mode_plan_shape_does_not_grow_with_columns(spark, tmp_path):
    """One scan and a fixed number of exchanges, however many columns
    (operators counted as ``scripts/run_queries.py plan`` counts them)."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a", 1.0, 2), (2, "b", 1.0, 2)],
                          "a int, b string, c double, d int").write.parquet(path)
    df = spark.read.parquet(path)

    def plan(cols):
        return column_modes(df, cols)._jdf.queryExecution() \
            .executedPlan().toString()

    one, four = plan(["a"]), plan(["a", "b", "c", "d"])
    assert one.count("FileScan") == four.count("FileScan") == 1
    assert one.count("Exchange") == four.count("Exchange")
    for op in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"):
        assert op not in four
