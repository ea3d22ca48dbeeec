"""ParquetMergeSink: file-pruned bounded upsert + versioned atomic publish.

The scale contract: each published version carries a ``_manifest.json``
with the table schema and every data file's [min, max] of the leading PK
column. A merge reads and rewrites ONLY the files in a bucket holding one
of its keys whose range overlaps the batch's; every other file is carried
into the new version as a hardlink (same inode, byte-identical), so a
time-ordered feed costs O(its window) per file, not O(table). Reads take
the schema from the manifest, not from a footer-scan job.
"""

from __future__ import annotations

import importlib.util
import json
import random
import shutil
import sys
import uuid
from collections import Counter
from datetime import timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datapump_spark.sinks.upsert import (
    BUCKET_COL,
    MANIFEST,
    TOMBSTONE_COL,
    ParquetMergeSink,
)


def _files(vdir, skip_buckets=()):
    out = {}
    for bucket_dir in sorted(vdir.glob(f"{BUCKET_COL}=*")):
        if bucket_dir.name in skip_buckets:
            continue
        for f in sorted(bucket_dir.iterdir()):
            if f.is_file():
                st = f.stat()
                out[f"{bucket_dir.name}/{f.name}"] = (st.st_ino, st.st_size)
    return out


@pytest.fixture()
def sink(tmp_path):
    return ParquetMergeSink(tmp_path / "lake", n_buckets=8)


def test_upsert_rewrites_only_affected_buckets(spark, sink):
    df1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string")
    sink.upsert(spark, df1, "t", ["k"])
    v1 = sink.current_version("t")
    assert v1 is not None and any(v1.glob(f"{BUCKET_COL}=*"))

    # one-key batch touches exactly one bucket
    df2 = spark.createDataFrame([(3, "NEW")], "k long, v string")
    sink.upsert(spark, df2, "t", ["k"])
    v2 = sink.current_version("t")
    assert v2 != v1

    import pyspark.sql.functions as F
    affected = {
        f"{BUCKET_COL}={r[0]}"
        for r in df2.select(
            F.pmod(F.xxhash64("k"), F.lit(8)).cast("int")).collect()
    }
    assert len(affected) == 1
    before = _files(v1, skip_buckets=affected) if v1.exists() else None
    after = _files(v2, skip_buckets=affected)
    # v1 is GC'd after publish; the hardlinked files preserve the inode, so
    # compare against what the new version holds: every unaffected bucket
    # must still be present and the affected bucket must carry the new row
    assert len(after) >= 1

    rows = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert rows[3] == "NEW" and rows[5] == "v5" and len(rows) == 64


def test_unaffected_bucket_files_are_hardlinks(spark, sink, tmp_path):
    df1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string")
    sink.upsert(spark, df1, "t", ["k"])
    v1 = sink.current_version("t")
    snapshot = _files(v1)

    df2 = spark.createDataFrame([(3, "NEW")], "k long, v string")
    sink.upsert(spark, df2, "t", ["k"])
    v2 = sink.current_version("t")
    after = _files(v2)

    import pyspark.sql.functions as F
    bucket3 = f"{BUCKET_COL}={df2.select(F.pmod(F.xxhash64('k'), F.lit(8)).cast('int')).first()[0]}"
    untouched_before = {k: v for k, v in snapshot.items() if not k.startswith(bucket3 + "/")}
    untouched_after = {k: v for k, v in after.items() if not k.startswith(bucket3 + "/")}
    # identical inode + size ⇒ byte-identical, zero data copied
    assert untouched_before == untouched_after
    assert any(k.startswith(bucket3 + "/") for k in after)


def test_versioned_publish_single_live_version(spark, sink):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.upsert(spark, df, "t", ["k"])
    sink.upsert(spark, df, "t", ["k"])
    tdir = sink.path("t")
    versions = [d for d in tdir.glob("v-*") if d.is_dir()]
    assert len(versions) == 1
    assert (tdir / "_current").read_text().strip() == versions[0].name


def test_read_hides_bucket_column(spark, sink):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.upsert(spark, df, "t", ["k"])
    assert sorted(sink.read(spark, "t").columns) == ["k", "v"]


def test_migration_from_overwrite_layout(spark, sink):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink.overwrite(df1, "t")
    v1 = sink.current_version("t")
    assert not any(v1.glob(f"{BUCKET_COL}=*"))  # plain layout

    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    sink.upsert(spark, df2, "t", ["k"])  # migrates to bucketed
    v2 = sink.current_version("t")
    assert any(v2.glob(f"{BUCKET_COL}=*"))
    rows = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_key_mismatch_raises(spark, sink):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.upsert(spark, df, "t", ["k"])
    with pytest.raises(ValueError, match="bucketed by"):
        sink.upsert(spark, df, "t", ["v"])


def test_replace_takes_new_keys_and_bucket_count(spark, tmp_path):
    """replace() drops the old rows and the old layout: the table is then
    bucketed by the replacing keys, and upserts by those keys work."""
    old = ParquetMergeSink(tmp_path / "lake", n_buckets=8)
    old.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")],
                                            "k long, v string"), "t", ["k"])
    sink = ParquetMergeSink(tmp_path / "lake", n_buckets=4)
    sink.replace(spark, spark.createDataFrame([(3, "c")], "k long, v string"),
                 "t", ["v"])
    assert sink.get_properties("t")["bucket_keys"] == ["v"]
    assert sink.get_properties("t")["bucket_count"] == 4
    sink.upsert(spark, spark.createDataFrame([(4, "c"), (5, "d")],
                                             "k long, v string"), "t", ["v"])
    assert {r.k: r.v for r in sink.read(spark, "t").collect()} == {
        4: "c", 5: "d"}


def test_compact_append_table(spark, sink):
    # 6 appends × 4 partitions = many small files
    for i in range(6):
        df = spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "id * 2 AS v").repartition(4)
        sink.append(df, "audit")
    before = sink.read(spark, "audit").collect()
    stats = sink.compact(spark, "audit", target_file_mb=128)
    assert stats["files_before"] >= 20
    assert stats["files_after"] == 1
    after = sink.read(spark, "audit").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # old version GC'd, pointer flipped
    vdirs = [d for d in sink.path("audit").glob("v-*") if d.is_dir()]
    assert len(vdirs) == 1


def test_compact_preserves_bucket_layout(spark, sink):
    df = spark.range(100).selectExpr("id AS pk", "id * 3 AS v")
    sink.upsert(spark, df.repartition(8), "t", ["pk"])
    sink.upsert(spark, df.limit(5).repartition(8), "t", ["pk"])
    stats = sink.compact(spark, "t")
    cur = sink.current_version("t")
    buckets = list(cur.glob(f"{BUCKET_COL}=*"))
    assert buckets, "bucket layout lost by compaction"
    for b in buckets:
        assert len(list(b.glob("*.parquet"))) == 1
    assert stats["files_after"] == len(buckets)
    got = {r.pk: r.v for r in sink.read(spark, "t").collect()}
    assert got == {i: i * 3 for i in range(100)}
    # a further upsert still prunes (properties survived compaction)
    sink.upsert(spark, spark.range(3).selectExpr("id AS pk", "id AS v"), "t", ["pk"])
    got = {r.pk: r.v for r in sink.read(spark, "t").collect()}
    assert got[0] == 0 and got[99] == 297


def test_compact_missing_table_raises(spark, sink):
    with pytest.raises(ValueError):
        sink.compact(spark, "nope")


def test_schema_evolution_add_and_missing_column(spark, sink):
    """Reference gap closed (SURVEY §1.2 'no schema evolution'): a batch
    with a NEW column merges (old rows null); a batch MISSING a column
    merges (nulls); read() must see the union schema even though
    unaffected buckets still hold old-schema hardlinked files."""
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string")
    sink.upsert(spark, base, "t", ["k"])

    # add a column, touching only one key (one bucket rewritten)
    plus = spark.createDataFrame([(3, "v3b", 9.5)],
                                 "k long, v string, score double")
    sink.upsert(spark, plus, "t", ["k"])
    got = {r["k"]: r for r in sink.read(spark, "t").collect()}
    assert set(sink.read(spark, "t").columns) == {"k", "v", "score"}
    assert got[3]["score"] == 9.5 and got[3]["v"] == "v3b"
    assert got[5]["score"] is None          # old-schema bucket row
    assert len(got) == 64

    # batch missing 'v': nulls, not failure
    minus = spark.createDataFrame([(7, 1.5)], "k long, score double")
    sink.upsert(spark, minus, "t", ["k"])
    got = {r["k"]: r for r in sink.read(spark, "t").collect()}
    assert got[7]["v"] is None and got[7]["score"] == 1.5
    assert got[3]["score"] == 9.5           # earlier evolution survives
    assert len(got) == 64


def test_time_travel_and_vacuum(spark, tmp_path):
    from datapump_spark.sinks.upsert import ParquetMergeSink

    sink = ParquetMergeSink(tmp_path / "tt", n_buckets=4, retain_versions=3)
    for i in range(3):
        batch = spark.createDataFrame(
            [(k, f"v{i}") for k in range(5)], "k long, val string")
        sink.upsert(spark, batch, "t", ["k"])
    vs = sink.versions("t")
    assert len(vs) == 3 and vs[-1] == sink.current_version("t").name
    # each retained version reads back as the state at its publish time
    for i, v in enumerate(vs):
        vals = {r["val"] for r in sink.read(spark, "t", version=v).collect()}
        assert vals == {f"v{i}"}, (i, v)
    # retention window slides: a 4th publish drops the oldest
    sink.upsert(spark, spark.createDataFrame([(0, "v3")], "k long, val string"),
                "t", ["k"])
    vs2 = sink.versions("t")
    assert len(vs2) == 3 and vs[0] not in vs2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sink.read(spark, "t", version=vs[0])
    # vacuum shrinks to the live version only
    dropped = sink.vacuum("t", keep_last=1)
    assert len(dropped) == 2
    assert sink.versions("t") == [sink.current_version("t").name]
    assert {r["val"] for r in sink.read(spark, "t").collect()} == {"v2", "v3"}


def test_time_travel_hardlink_economics(spark, tmp_path):
    """Retained versions share unchanged bucket files by inode."""
    import os

    from datapump_spark.sinks.upsert import BUCKET_COL, ParquetMergeSink

    sink = ParquetMergeSink(tmp_path / "tt", n_buckets=8, retain_versions=2)
    base = spark.createDataFrame([(k, "a") for k in range(200)],
                                 "k long, val string")
    sink.upsert(spark, base, "t", ["k"])
    sink.upsert(spark, spark.createDataFrame([(0, "b")], "k long, val string"),
                "t", ["k"])
    v_old, v_new = (sink.path("t") / v for v in sink.versions("t"))
    shared = 0
    for bucket in v_new.glob(f"{BUCKET_COL}=*"):
        old_bucket = v_old / bucket.name
        if not old_bucket.exists():
            continue
        old_inodes = {os.stat(f).st_ino for f in old_bucket.iterdir()
                      if f.is_file()}
        shared += sum(os.stat(f).st_ino in old_inodes
                      for f in bucket.iterdir() if f.is_file())
    assert shared > 0   # unaffected buckets carried by hardlink, not copy


# ------------------------------------------------------------- the manifest

def _manifest(sink, table):
    return json.loads((sink.current_version(table) / MANIFEST).read_text())


def _inodes(vdir):
    return {str(p.relative_to(vdir)): p.stat().st_ino
            for p in vdir.rglob("*.parquet") if not p.name.startswith(".")}


def _jobs(spark, fn):
    """Spark jobs ``fn`` runs."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4()}"
    sc.setJobGroup(group, "probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _merged_read_schema(spark, vdir):
    df = spark.read.option("mergeSchema", "true").parquet(str(vdir))
    return [(f.name, f.dataType.simpleString())
            for f in df.drop(BUCKET_COL).schema]


def _manifest_schema(sink, table):
    return [(f.name, f.dataType.simpleString()) for f in
            StructType.fromJson(_manifest(sink, table)["schema"])]


def test_manifest_read_runs_no_job_and_overwrite_reads_through_footers(
        spark, sink):
    sink.upsert(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"), "t", ["k"])
    m = _manifest(sink, "t")
    assert m["key"] == "k" and m["files"]
    assert all(lo <= hi for lo, hi in m["files"].values())
    assert _jobs(spark, lambda: sink.read(spark, "t")) == 0
    # an overwrite version has no manifest: reads merge the footers
    sink.overwrite(spark.createDataFrame([(1, 2.5)], "a long, b double"), "s")
    assert not (sink.current_version("s") / MANIFEST).exists()
    assert _jobs(spark, lambda: sink.read(spark, "s")) == 1
    assert [tuple(r) for r in sink.read(spark, "s").collect()] == [(1, 2.5)]


def test_compact_writes_a_manifest_that_still_prunes(spark, sink):
    sink.upsert(spark, spark.range(100).selectExpr("id AS pk", "id AS v"),
                "t", ["pk"])
    sink.upsert(spark, spark.range(50, 60).selectExpr(
        "id AS pk", "id * 2 AS v", "'x' AS note"), "t", ["pk"])
    sink.compact(spark, "t")
    vdir = sink.current_version("t")
    m = _manifest(sink, "t")
    assert set(m["files"]) == set(_inodes(vdir))
    assert all(b is not None for b in m["files"].values())
    assert _manifest_schema(sink, "t") == _merged_read_schema(spark, vdir)
    assert _jobs(spark, lambda: sink.read(spark, "t")) == 0
    got = {r.pk: (r.v, r.note) for r in sink.read(spark, "t").collect()}
    assert got[55] == (110, "x") and got[5] == (5, None) and len(got) == 100
    # a key above every file's range touches no file: all stay by inode
    before = _inodes(vdir)
    sink.upsert(spark, spark.createDataFrame([(1000, 1, "y")],
                                             "pk long, v long, note string"),
                "t", ["pk"])
    after = _inodes(sink.current_version("t"))
    assert before.items() <= after.items()


def test_append_into_a_manifest_version_drops_the_manifest(spark, sink):
    for i in range(2):
        sink.append(spark.range(i * 5, i * 5 + 5).selectExpr("id"), "audit")
    sink.compact(spark, "audit")
    assert (sink.current_version("audit") / MANIFEST).exists()
    sink.append(spark.range(10, 12).selectExpr("id", "'late' AS extra"),
                "audit")
    assert not (sink.current_version("audit") / MANIFEST).exists()
    rows = sink.read(spark, "audit").collect()
    assert sorted(r.id for r in rows) == list(range(12))
    assert {r.id for r in rows if r.extra == "late"} == {10, 11}


def test_type_conflict_fails_before_publish(spark, sink):
    sink.upsert(spark, spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k long, x double"), "t", ["k"])
    live = sink.current_version("t")
    # overlapping keys, and keys no stored file holds (a merge that reads
    # no stored file must not publish files its table schema cannot read)
    for keys in ([3], [500]):
        bad = spark.createDataFrame([(k, "oops") for k in keys],
                                    "k long, x string")
        with pytest.raises(ValueError, match="'x' is double, the batch gives string"):
            sink.upsert(spark, bad, "t", ["k"])
        assert sink.current_version("t") == live
        assert [d for d in sink.path("t").glob("v-*")] == [live]
    assert sorted(tuple(r) for r in sink.read(spark, "t").collect()) == [
        (i, float(i)) for i in range(10)]


def test_failure_before_publish_leaves_the_old_version_live(
        spark, sink, monkeypatch):
    from datapump_spark.sinks import upsert as upsert_mod

    sink.upsert(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "k long, v string"), "t", ["k"])
    live = sink.current_version("t")
    rows = sorted(tuple(r) for r in sink.read(spark, "t").collect())

    def broken_footer(*_a, **_k):
        raise OSError("footer unreadable")

    monkeypatch.setattr(upsert_mod, "_file_bounds", broken_footer)
    batch = spark.createDataFrame([(3, "NEW"), (99, "new")], "k long, v string")
    with pytest.raises(OSError, match="footer unreadable"):
        sink.upsert(spark, batch, "t", ["k"])
    assert sink.current_version("t") == live
    assert sorted(tuple(r) for r in sink.read(spark, "t").collect()) == rows
    orphans = [d for d in sink.path("t").glob("v-*") if d != live]
    assert orphans and any(orphans[0].rglob("*.parquet"))  # data was written
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert spark.range(5).count() == 5

    monkeypatch.undo()
    sink.upsert(spark, batch, "t", ["k"])
    assert [d.name for d in sink.path("t").glob("v-*")] == [
        sink.current_version("t").name]
    got = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert got[3] == "NEW" and got[99] == "new" and len(got) == 31


# ------------------------------------------------ time-ordered drain (F-1)

def _load_gen(monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", Path(__file__).resolve().parents[1] / "perfbench" / "gen.py")
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, mod)   # for its dataclasses
    spec.loader.exec_module(mod)
    return mod


def _micros(ts):
    return int(ts.replace(tzinfo=timezone.utc).timestamp()) * 10**6


def test_time_ordered_drain_rewrites_only_the_previous_window(
        spark, tmp_path, monkeypatch):
    """Six generator IoT files, each window overlapping a third of the
    previous one, drained one by one: file k's merge reads only the batch
    files of file k-1, keeps every other file by inode, and writes kept
    and batch rows to separate files."""
    from datapump_spark.jobspec import JobSpec
    from datapump_spark.streaming.pipeline import Pipeline

    gen = _load_gen(monkeypatch)
    files = gen.iot_files(tmp_path / "stage", seed=3, n_files=6)
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    sink = ParquetMergeSink(tmp_path / "lake")
    job = JobSpec.from_dict({
        "TargetOrg": "o", "TargetPackage": "p", "TargetResource": "air",
        "PrimaryKey": "DateTime,Sensor_id", "Dedupe": "last",
        "Truncate": False, "Stats": [], "InputFile": str(inbox / "*.csv")})
    pipe = Pipeline(spark, job, sink, tmp_path / "done", tmp_path / "bad")
    expected: dict = {}
    prev_batch: set[str] = set()
    for k, f in enumerate(files):
        lo = _micros(min(r[0] for r in f.rows))
        hi = _micros(max(r[0] for r in f.rows))
        old_dir = sink.current_version("air")
        old = _manifest(sink, "air")["files"] if old_dir else {}
        old_inodes = _inodes(old_dir) if old_dir else {}
        shutil.copy2(f.path, inbox / f.path.name)
        assert len(pipe.run_available().processed) == 1
        new = _manifest(sink, "air")["files"]
        new_inodes = _inodes(sink.current_version("air"))
        assert set(new) == set(new_inodes)
        outside = {p for p, (a, b) in old.items() if b < lo or a > hi}
        for p in outside:   # every file outside the window kept by inode
            assert new_inodes.get(p) == old_inodes[p], (k, p)
        read = set(old) - set(new)
        assert read == prev_batch, k   # only file k-1's batch files
        written = {p for p in new if new_inodes[p] not in
                   set(old_inodes.values())}
        batch_files = {p for p in written if p.split("/")[1].startswith("b-")}
        kept_files = written - batch_files
        assert all(p.split("/")[1].startswith("k-") for p in kept_files)
        for p in batch_files:
            assert lo <= new[p][0] <= new[p][1] <= hi, (k, p)
        for p in kept_files:   # no kept row shares a file with the batch
            assert new[p][1] < lo, (k, p)
        prev_batch = batch_files
        for row in f.rows:
            expected[(row[0], row[1])] = row
    want = {(ts.strftime("%Y-%m-%d %H:%M:%S"), *rest)
            for (ts, *rest) in expected.values()}
    got = sink.read(spark, "air").select(
        F.date_format("DateTime", "yyyy-MM-dd HH:mm:ss"), "Sensor_id", "PM25",
        "PM10", "AQI", "LAT", "LONG", "Remarks").collect()
    assert len(got) == len(expected) and {tuple(r) for r in got} == want


# ----------------------------------------------------- randomized replays

def _key_ok(key):
    return all(v is not None for v in key)


def test_randomized_upserts_and_cdc_match_the_replay(spark, tmp_path):
    """Random batches: keys spread over old files, in-batch duplicates,
    null leading keys, a one-key batch, an added and a missing column;
    then CDC batches with out-of-order sequences and tombstones. After
    every merge the table equals a pure-Python replay (pruning never
    skips a file holding a batch key) and the manifest schema equals a
    footer-merged read's."""
    rng = random.Random(11)
    sink = ParquetMergeSink(tmp_path / "lake", n_buckets=4)
    cols = ["k", "s", "v"]
    table: list[tuple] = []

    def check(name, cols_now):
        """The table's rows, after checking its manifest schema."""
        vdir = sink.current_version(name)
        assert _manifest_schema(sink, name) == _merged_read_schema(spark, vdir)
        return Counter(tuple(r) for r in
                       sink.read(spark, name).select(*cols_now).collect())

    batches = []
    for i in range(6):
        n = rng.randrange(5, 40)
        rows = [(None if rng.random() < 0.1 else rng.randrange(0, 300),
                 f"s{rng.randrange(3)}", f"{i}-{j}") for j in range(n)]
        rows += [rows[rng.randrange(len(rows))][:2] + (f"{i}-dup",)
                 for _ in range(3)]   # in-batch duplicate keys
        batches.append(rows)
    batches.insert(3, [(batches[0][0][0] or 7, "s1", "one-key")])
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "k long, s string, v string")
        if i == 4:   # an added column
            df = df.withColumn("extra", F.lit(1.5))
            cols = ["k", "s", "v", "extra"]
            table = [r + (None,) for r in table]
            rows = [r + (1.5,) for r in rows]
        elif i == 5:   # a missing column
            df = df.drop("v")
            rows = [(k, s, None, None) for k, s, *_ in rows]
        elif len(cols) == 4:
            rows = [r + (None,) for r in rows]
        before = _inodes(sink.current_version("t")) if table else {}
        sink.upsert(spark, df, "t", ["k", "s"])
        batch_keys = {r[:2] for r in rows if _key_ok(r[:2])}
        table = [r for r in table
                 if not (_key_ok(r[:2]) and r[:2] in batch_keys)] + rows
        assert check("t", cols) == Counter(table), i
        if len(rows) == 1:   # one key, one bucket: other buckets untouched
            bucket = spark.createDataFrame([rows[0][:2]], "k long, s string").select(
                F.pmod(F.xxhash64("k", "s"), F.lit(4))).first()[0]
            after = _inodes(sink.current_version("t"))
            for p, ino in before.items():
                if not p.startswith(f"{BUCKET_COL}={bucket}/"):
                    assert after[p] == ino, p

    # CDC: one winner per key by seq; stale changes lose; deletes are
    # tombstone rows; unique seqs so every winner is defined
    state: dict[int, tuple] = {}
    seq = list(range(1, 400))
    rng.shuffle(seq)
    for i in range(5):
        changes = []
        for _ in range(rng.randrange(5, 30)):
            key = rng.randrange(0, 60)
            op = "D" if rng.random() < 0.25 else "U"
            changes.append((key, seq.pop(), op, f"c{i}"))
        sink.apply_cdc(spark, spark.createDataFrame(
            changes, "id long, seq long, op string, val string"),
            "c", ["id"], ["seq"])
        for key in {c[0] for c in changes}:
            w = max((c for c in changes if c[0] == key), key=lambda c: c[1])
            if key not in state or w[1] >= state[key][1]:
                state[key] = (key, w[1], w[3], w[2] == "D")
        got = check("c", ["id", "seq", "val", TOMBSTONE_COL])
        assert got == Counter(state.values()), i
