"""K5 namespace management: org gate, package-on-demand, resource/alias
views over the versioned sink (reference datapump.py:691,493-523,224-225)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from datapump_spark.jobspec import JobSpec
from datapump_spark.sinks.catalog import NamespaceError, SparkCatalogNamespace
from datapump_spark.sinks.upsert import ParquetMergeSink
from datapump_spark.streaming.pipeline import Pipeline

FIXTURE_DIR = Path(__file__).parent / "data" / "iot"

JOB = {
    "InputFile": "",  # filled per-test
    "TargetOrg": "cat-org",
    "TargetPackage": "cat-pkg",
    "TargetResource": "cat-res",
    "PrimaryKey": "DateTime,Sensor_id",
    "Dedupe": "last",
    "Stats": [{"Kind": "descriptive"}],
}


@pytest.fixture()
def ns(spark):
    """Namespace with cleanup — the session catalog outlives each test."""
    ns = SparkCatalogNamespace(spark)
    yield ns
    for db in spark.catalog.listDatabases():
        if db.name.startswith(("_dp_org__cat_", "cat_org__")):
            spark.sql(f"DROP DATABASE IF EXISTS `{db.name}` CASCADE")
    spark.sql("DROP VIEW IF EXISTS `default`.`cat_org_cat_pkg_cat_res`")


def test_identifier_validation(ns):
    with pytest.raises(NamespaceError):
        ns.create_org("evil`; DROP TABLE x --")
    with pytest.raises(NamespaceError):
        ns.ensure_package("ok-org", "bad name with spaces")


def test_org_gate_and_package_create(ns):
    # unknown org → hard failure (datapump.py:504-507)
    with pytest.raises(NamespaceError, match="cat-org"):
        ns.ensure_package("cat-org", "cat-pkg")
    ns.create_org("cat-org")
    assert ns.org_exists("cat-org")
    db = ns.ensure_package("cat-org", "cat-pkg")   # creates on demand
    assert db == "cat_org__cat_pkg" and ns.package_exists("cat-org", "cat-pkg")
    assert ns.ensure_package("cat-org", "cat-pkg") == db   # idempotent


@pytest.mark.slow
def test_pipeline_sync_registers_views(spark, ns, tmp_path):
    inbox = tmp_path / "input"
    inbox.mkdir()
    files = sorted(FIXTURE_DIR.glob("*.csv"))[:2]
    shutil.copy(files[0], inbox / files[0].name)
    sink = ParquetMergeSink(tmp_path / "lake")
    job = JobSpec.from_dict({**JOB, "InputFile": str(inbox / "*.csv")})
    pipe = Pipeline(spark, job, sink, tmp_path / "processed",
                    tmp_path / "problems", catalog=ns)

    # org gate fires before any file is consumed
    with pytest.raises(NamespaceError):
        pipe.run_available()
    assert list(inbox.glob("*.csv"))

    ns.create_org("cat-org")
    assert pipe.run_available().processed

    res = spark.sql("SELECT * FROM `cat_org__cat_pkg`.`cat_res`")
    assert res.count() == sink.read(spark, "cat-res").count() > 0
    assert res.columns == sink.read(spark, "cat-res").columns
    # derived stats table + global alias view (K1/K6)
    assert spark.sql("SELECT * FROM `cat_org__cat_pkg`.`cat_res_stats`").count() > 0
    alias = spark.sql("SELECT * FROM `default`.`cat_org_cat_pkg_cat_res`")
    assert alias.count() == res.count()

    # second drain publishes a NEW sink version; views must re-point
    shutil.copy(files[1], inbox / files[1].name)
    assert pipe.run_available().processed
    assert (spark.sql("SELECT * FROM `cat_org__cat_pkg`.`cat_res`").count()
            == sink.read(spark, "cat-res").count())


def test_resource_view_shows_columns_only_new_files_carry(spark, ns, tmp_path):
    """After an add-column upsert the files it did not touch keep the
    old schema; the resource view must still show the new column. Each
    version carries a ``_common_metadata`` summary of its manifest's
    schema, which Spark's schema inference reads before any data file.
    Three add-column rounds: a view that took one data file's schema
    would have to pick the newest file every time. An append that adds
    a column widens the summary too."""
    sink = ParquetMergeSink(tmp_path / "lake")
    for lo in range(0, 600, 100):
        sink.upsert(spark, spark.range(lo, lo + 50, numPartitions=1)
                    .selectExpr("id AS k", "id * 2 AS a"), "t", ["k"])
    ns.create_org("cat-org")
    for col, lo in (("b", 300), ("c", 100), ("d", 500)):
        sink.upsert(spark, spark.range(lo, lo + 10, numPartitions=1)
                    .selectExpr("id AS k", "id * 2 AS a", f"'{col}' AS {col}"),
                    "t", ["k"])
        name = ns.register_resource("cat-org", "cat-pkg", "cat-res", sink, "t")
        view = spark.sql(f"SELECT * FROM {name}")
        assert view.columns == sink.read(spark, "t").columns
        assert view.count() == 300
    sink.append(spark.range(2).selectExpr("id AS k"), "log")
    sink.append(spark.range(2, 3).selectExpr("id AS k", "'x' AS note"), "log")
    name = ns.register_resource("cat-org", "cat-pkg", "cat-log", sink, "log")
    assert spark.sql(f"SELECT * FROM {name}").columns == ["k", "note"]
