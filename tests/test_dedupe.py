"""F3/F4: dupe count + keep-first/last dedupe vs a pandas model
(reference datapump.py:446-456)."""

from __future__ import annotations

import pandas as pd
import pytest

from datapump_spark.operators.dedupe import dedupe_by_key, dupe_count

ROWS = [
    # (ord, sensor, ts, v) — PK (sensor, ts); dupes with differing v
    (0, "a", "t1", 1.0),
    (1, "a", "t1", 2.0),
    (2, "b", "t1", 3.0),
    (3, "a", "t2", 4.0),
    (4, "b", "t1", 5.0),
    (5, "b", "t1", 6.0),
    (6, "c", "t3", 7.0),
]
COLS = ["ord", "sensor", "ts", "v"]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, COLS)


def test_dupe_count_matches_pandas(df):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    expected = int(pdf.duplicated(subset=["sensor", "ts"], keep="first").sum())
    got = dupe_count(df, ["sensor", "ts"]).collect()[0]["dupe_count"]
    assert got == expected == 3
    # a key whose name holds a dot, a backtick and a space counts the same
    odd = df.withColumnRenamed("sensor", "a.b`c Join")
    assert dupe_count(odd, ["a.b`c Join", "ts"]).first()["dupe_count"] == 3


@pytest.mark.parametrize("keep", ["first", "last"])
def test_dedupe_matches_pandas(df, keep):
    pdf = pd.DataFrame(ROWS, columns=COLS)
    expected = pdf.drop_duplicates(subset=["sensor", "ts"], keep=keep)
    got = dedupe_by_key(df, ["sensor", "ts"], "ord", keep).toPandas()
    assert sorted(got["ord"]) == sorted(expected["ord"])
    # values of the surviving rows, not just their ids
    assert sorted(got["v"]) == sorted(expected["v"])


def test_dedupe_empty_keep_is_noop(df):
    assert dedupe_by_key(df, ["sensor", "ts"], "ord", "").count() == len(ROWS)


def test_dedupe_bad_keep_raises(df):
    with pytest.raises(ValueError):
        dedupe_by_key(df, ["sensor", "ts"], "ord", "both")


@pytest.mark.parametrize("keep", ["first", "last"])
def test_file_order_exact_on_multi_split_file(spark, tmp_path, keep):
    """A CSV big enough to be read as MULTIPLE byte-range splits must
    still dedupe to pandas' first/last-occurrence-in-file row — the
    (file_path, file_block_start, row-in-split) surrogate restores file
    order regardless of split packing (old per-split ids did not)."""
    import csv as _csv

    from datapump_spark.operators.dedupe import with_file_order

    path = tmp_path / "big.csv"
    n, n_keys = 40_000, 37
    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["k", "v", "pad"])
        for i in range(n):
            w.writerow([i % n_keys, i, "x" * 64])   # ~70 B/row ⇒ ~2.8 MB

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        df = spark.read.option("header", True).csv(str(path))
        assert df.rdd.getNumPartitions() > 4      # genuinely multi-split
        ordered = with_file_order(df)
        got = dedupe_by_key(ordered, ["k"], "__file_order", keep) \
            .select("k", "v").collect()
        pdf = pd.read_csv(path, dtype=str)
        want = pdf.drop_duplicates(subset=["k"], keep=keep)
        assert {(r["k"], r["v"]) for r in got} == \
            set(zip(want["k"], want["v"]))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
