"""S4/S5/P5: CSV scan, multi-format timestamp parse, type inference
(datapump.py:442-473,149-166)."""

from __future__ import annotations

from datetime import datetime

import pytest

from datapump_spark.queries import IOT_GLOB
from datapump_spark.sources.csv_ingest import (
    infer_ckan_fields,
    ingest_csv,
    multi_format_ts,
    read_csv_raw,
)


@pytest.fixture(scope="module")
def typed(spark):
    return ingest_csv(spark, IOT_GLOB)


def test_inferred_types(spark):
    fields = {f.name: f.ckan_type for f in infer_ckan_fields(read_csv_raw(spark, IOT_GLOB))}
    assert fields == {
        "DateTime": "timestamp", "Sensor_id": "text",
        "PM25": "float", "PM10": "float",
        "AQI": "int",  # nullable int stays int (improvement over pandas)
        "LAT": "float", "LONG": "float", "Remarks": "text",
    }


def test_multiformat_parse_all_rows(typed):
    # every fixture DateTime is written in one of the 4 reference formats
    assert typed.where(typed.DateTime.isNull()).count() == 0


def test_two_digit_year_parses_to_2021(spark):
    df = spark.createDataFrame([("21-10-01 05:00:00",), ("2021/10/01 05:00:00",)], "s string")
    got = [r[0] for r in df.select(multi_format_ts("s")).collect()]
    assert got == [datetime(2021, 10, 1, 5)] * 2


def test_whitespace_and_nulls(typed):
    # leading whitespace after commas must not leak into values
    sensors = {r[0] for r in typed.select("Sensor_id").distinct().collect()}
    assert all(not s.startswith(" ") for s in sensors)
    # empty AQI fields are NULL, not 0
    assert typed.where(typed.AQI.isNull()).count() > 0


def test_free_text_not_sniffed_as_timestamp(spark):
    fields = {f.name: f.ckan_type for f in infer_ckan_fields(read_csv_raw(spark, IOT_GLOB))}
    assert fields["Remarks"] == "text"


def test_sampled_inference_bounds_the_scan(spark, tmp_path):
    """sample_rows actually limits what inference sees: a type flip AFTER
    the sample bound doesn't change the verdict (the stray value degrades
    to NULL via try_cast), while full inference catches it."""
    from datapump_spark.sources.csv_ingest import infer_ckan_fields, read_csv_raw

    p = tmp_path / "flip.csv"
    p.write_text("a\n" + "\n".join(["1"] * 10) + "\nnot-a-number\n")
    raw = read_csv_raw(spark, str(p))
    assert infer_ckan_fields(raw, sample_rows=5)[0].ckan_type == "int"
    assert infer_ckan_fields(raw, sample_rows=None)[0].ckan_type == "text"


def test_sampled_inference_matches_full_on_fixture(spark):
    from datapump_spark.queries import IOT_GLOB
    from datapump_spark.sources.csv_ingest import infer_ckan_fields, read_csv_raw

    raw = read_csv_raw(spark, IOT_GLOB)
    assert infer_ckan_fields(raw, sample_rows=200) == infer_ckan_fields(raw)


@pytest.fixture()
def small_splits(spark):
    """Split every file scan into ~4 KB byte ranges for the test."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    yield
    spark.conf.set(key, old)


def _multi_split_csv(tmp_path, text_row=None):
    """An int, a float, a timestamp and a text column over 3,000 rows;
    with ``text_row`` the int column holds 'oops' in that row."""
    rows = [f"{i if i != text_row else 'oops'},{i / 4},"
            f"2021-10-01 {i % 24:02d}:00:00,t{i % 7}" for i in range(3000)]
    p = tmp_path / "multi.csv"
    p.write_text("n,x,ts,s\n" + "\n".join(rows) + "\n")
    return str(p)


def test_sampled_inference_matches_full_on_multi_split_file(spark, tmp_path,
                                                            small_splits):
    raw = read_csv_raw(spark, _multi_split_csv(tmp_path))
    assert raw._jdf.rdd().getNumPartitions() > 1
    sampled = infer_ckan_fields(raw, sample_rows=200)
    assert sampled == infer_ckan_fields(raw)
    assert [f.ckan_type for f in sampled] == ["int", "float", "timestamp",
                                              "text"]


def test_sampled_inference_bounds_every_split(spark, tmp_path, small_splits):
    """sample_rows=10 checks the first ceil(10 / splits) rows of each
    split: a text value past that bound in its split leaves the column
    int, while exhaustive inference sees it."""
    from pyspark.sql import functions as F

    raw = read_csv_raw(spark, _multi_split_csv(tmp_path, text_row=1500))
    splits = raw._jdf.rdd().getNumPartitions()
    assert splits > 1
    (index,) = (raw.select(F.monotonically_increasing_id()
                           .bitwiseAND(F.lit((1 << 33) - 1)).alias("i"), "n")
                .where(F.col("n") == "oops").select("i").first())
    assert index >= -(-10 // splits)
    assert infer_ckan_fields(raw, sample_rows=10)[0].ckan_type == "int"
    assert infer_ckan_fields(raw, sample_rows=None)[0].ckan_type == "text"


def test_sampled_inference_bound_is_per_split_on_uneven_glob(spark, tmp_path,
                                                             small_splits):
    """The sample bound is per split, not global: over a glob of a
    10-row and a 190-row file (200 rows, each file its own split),
    sample_rows=200 checks the first 100 rows of each file, so a text
    value in row 150 of the larger file leaves the column int while
    exhaustive inference sees it."""
    (tmp_path / "a.csv").write_text(
        "n\n" + "".join(f"{i}\n" for i in range(10)))
    (tmp_path / "b.csv").write_text("n\n" + "".join(
        f"{'oops' if i == 150 else i}\n" for i in range(190)))
    raw = read_csv_raw(spark, str(tmp_path / "*.csv"))
    assert raw._jdf.rdd().getNumPartitions() == 2
    assert infer_ckan_fields(raw, sample_rows=200)[0].ckan_type == "int"
    assert infer_ckan_fields(raw, sample_rows=None)[0].ckan_type == "text"
    assert infer_ckan_fields(raw, sample_rows=400)[0].ckan_type == "text"
