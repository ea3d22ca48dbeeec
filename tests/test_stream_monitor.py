"""streaming/monitor.py: pinned-baseline PSI scoring of micro-batches."""

from __future__ import annotations

import random
from pathlib import Path

import pytest


@pytest.fixture(scope="module")
def monitor(spark):
    from datapump_spark.streaming.monitor import DriftMonitor

    rng = random.Random(3)
    ref = spark.createDataFrame(
        [(rng.gauss(0.0, 1.0),) for _ in range(5000)], "v double")
    return DriftMonitor("v", alert_psi=0.25).fit_baseline(ref)


def test_same_distribution_no_alert(spark, monitor):
    rng = random.Random(9)
    b = spark.createDataFrame(
        [(rng.gauss(0.0, 1.0),) for _ in range(2000)], "v double")
    rec = monitor.score_batch(b, 1)
    assert rec["n"] == 2000 and not rec["alert"] and rec["psi"] < 0.05


def test_shifted_batch_alerts(spark, monitor):
    rng = random.Random(10)
    b = spark.createDataFrame(
        [(rng.gauss(2.5, 1.0),) for _ in range(2000)], "v double")
    rec = monitor.score_batch(b, 2)
    assert rec["alert"] and rec["psi"] > 0.25 and 0 < rec["tvd"] <= 1


def test_save_load_round_trip(spark, monitor, tmp_path):
    from datapump_spark.streaming.monitor import DriftMonitor

    p = tmp_path / "baseline.json"
    monitor.save(p)
    loaded = DriftMonitor.load(p)
    rng = random.Random(11)
    b = spark.createDataFrame(
        [(rng.gauss(0.0, 1.0),) for _ in range(500)], "v double")
    assert loaded.score_batch(b, 0) == monitor.score_batch(b, 0)


def test_streaming_foreachbatch_audit(spark, monitor, tmp_path):
    """Real availableNow stream through the audit_sink foreachBatch."""
    rng = random.Random(12)
    src = tmp_path / "feed"
    src.mkdir()
    spark.createDataFrame([(rng.gauss(0.0, 1.0),) for _ in range(800)],
                          "v double").coalesce(1) \
        .write.parquet(str(src / "b0"))
    spark.createDataFrame([(rng.gauss(3.0, 1.0),) for _ in range(800)],
                          "v double").coalesce(1) \
        .write.parquet(str(src / "b1"))
    q = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1).parquet(str(src / "*"))
        .writeStream
        .foreachBatch(monitor.audit_sink(spark, tmp_path / "audit"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    audit = spark.read.parquet(str(tmp_path / "audit")).collect()
    assert len(audit) == 2
    by_alert = sorted(r["alert"] for r in audit)
    assert by_alert == [False, True]    # one clean batch, one shifted


def test_failed_audit_write_leaves_no_torn_file(spark, monitor, tmp_path,
                                                monkeypatch):
    """A record write that raises after writing part of its file leaves
    no visible file behind, so the audit table still reads, with its
    earlier record in the monitor's column types."""
    import pyarrow.parquet as pq

    audit = tmp_path / "audit"
    handle = monitor.audit_sink(spark, audit)
    batch = spark.createDataFrame([(0.1,), (0.2,)], "v double")
    handle(batch, 0)
    write_table = pq.write_table

    def torn(table, where, *args, **kwargs):
        write_table(table, where, *args, **kwargs)
        data = Path(where).read_bytes()
        Path(where).write_bytes(data[:len(data) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="disk full"):
        handle(batch, 1)
    assert [p.name for p in audit.iterdir()] == ["batch-000000000000.parquet"]
    df = spark.read.parquet(str(audit))
    assert df.dtypes == [("batch_id", "bigint"), ("n", "bigint"),
                         ("psi", "double"), ("tvd", "double"),
                         ("alert", "boolean")]
    assert [(r["batch_id"], r["n"]) for r in df.collect()] == [(0, 2)]
