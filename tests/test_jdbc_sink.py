"""JdbcUpsertSink: executor-side ON CONFLICT upsert through a DB-API
connection factory (sqlite stands in for Postgres/CKAN-datastore)."""

from __future__ import annotations

import sqlite3
from functools import partial

import pytest

from datapump_spark.sinks.upsert import JdbcUpsertSink


def test_upsert_sql_postgres_shape():
    sink = JdbcUpsertSink(lambda: None, dialect="postgres")
    sql = sink.upsert_sql("t", ["k", "a", "b"], ["k"])
    assert sql == (
        'INSERT INTO "t" ("k", "a", "b") VALUES (%s, %s, %s) '
        'ON CONFLICT ("k") DO UPDATE SET "a" = excluded."a", "b" = excluded."b"'
    )


def test_sqlite_roundtrip_upsert(spark, tmp_path):
    db = tmp_path / "sink.db"
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "m" ("k" INTEGER PRIMARY KEY, "v" TEXT)')

    sink = JdbcUpsertSink(partial(sqlite3.connect, str(db)), dialect="sqlite")

    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    sink.upsert(df1, "m", ["k"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string").coalesce(1)
    sink.upsert(df2, "m", ["k"])

    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute('SELECT "k", "v" FROM "m"').fetchall())
    # idempotent by PK: row 2 updated in place, not duplicated
    assert rows == [(1, "a"), (2, "B"), (3, "c")]


def test_dedupe_batch_by_pk_last_wins():
    from datapump_spark.sinks.upsert import dedupe_batch_by_pk

    batch = [(1, "a"), (2, "b"), (1, "A"), (3, "c"), (1, "A2")]
    out = dedupe_batch_by_pk(batch, [0])
    assert sorted(out) == [(1, "A2"), (2, "b"), (3, "c")]


def test_sqlite_duplicate_pk_in_one_batch(spark, tmp_path):
    """A batch containing the same PK twice must not error and must land
    one row (postgres would raise 'cannot affect row a second time'
    without the in-batch dedupe)."""
    db = tmp_path / "dupe.db"
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "m" ("k" INTEGER PRIMARY KEY, "v" TEXT)')
    sink = JdbcUpsertSink(partial(sqlite3.connect, str(db)), dialect="sqlite")
    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "b")], "k long, v string").coalesce(1)
    sink.upsert(df, "m", ["k"])
    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute('SELECT "k", "v" FROM "m"').fetchall())
    assert rows == [(1, "y"), (2, "b")]


def test_sqlite_upsert_quotes_hostile_identifiers(spark, tmp_path):
    """Table and column names holding a double quote and a space: the
    generated SQL doubles the embedded quote instead of closing the
    identifier early."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    table, key, val = 'my "t', 'k "id', 'a"b c'
    db = tmp_path / "hostile.db"
    with sqlite3.connect(db) as conn:
        conn.execute('CREATE TABLE "my ""t" ("k ""id" INTEGER PRIMARY KEY, '
                     '"a""b c" TEXT)')
    sink = JdbcUpsertSink(partial(sqlite3.connect, str(db)), dialect="sqlite")
    schema = StructType([StructField(key, LongType()),
                         StructField(val, StringType())])
    sink.upsert(spark.createDataFrame([(1, "a"), (2, "b")], schema)
                .coalesce(1), table, [key])
    sink.upsert(spark.createDataFrame([(2, "B")], schema).coalesce(1),
                table, [key])
    with sqlite3.connect(db) as conn:
        rows = sorted(conn.execute('SELECT * FROM "my ""t"').fetchall())
    assert rows == [(1, "a"), (2, "B")]
