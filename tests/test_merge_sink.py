"""ParquetMergeSink: file-pruned bounded upsert + versioned atomic publish.

The scale contract: each published version carries a ``_manifest.json``
with the table schema, its keys and every data file's [min, max] of the
leading PK column. A merge reads and rewrites ONLY the files whose range
overlaps the batch's; every other file is carried into the new version
as a hardlink (same inode, byte-identical), so a time-ordered feed costs
O(its window) per file, not O(table). Reads take the schema from the
manifest, not from a footer-scan job.
"""

from __future__ import annotations

import importlib.util
import json
import random
import re
import shutil
import sys
import uuid
from collections import Counter
from datetime import timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from datapump_spark.sinks import upsert
from datapump_spark.sinks.upsert import (
    MANIFEST,
    SUMMARY,
    TOMBSTONE_COL,
    ParquetMergeSink,
)


@pytest.fixture()
def sink(tmp_path):
    return ParquetMergeSink(tmp_path / "lake")


def _four_files(spark, sink):
    """Table ``t`` of keys 0..63 in four one-file upserts with the
    disjoint ranges [0, 15], [16, 31], [32, 47], [48, 63]."""
    for lo in range(0, 64, 16):
        sink.upsert(spark, spark.range(lo, lo + 16, numPartitions=1)
                    .selectExpr("id AS k", "concat('v', id) AS v"), "t", ["k"])
    files = _manifest(sink, "t")["files"]
    assert sorted(files.values()) == [[lo, lo + 15] for lo in range(0, 64, 16)]
    return files, _inodes(sink.current_version("t"))


def _file_of(files, key):
    return next(p for p, (lo, hi) in files.items() if lo <= key <= hi)


def test_upsert_rewrites_only_the_overlapping_file(spark, sink):
    """A one-key batch reads the one file whose range holds its key and
    writes that file's other rows and the batch row anew; every other
    file keeps its inode."""
    files, before = _four_files(spark, sink)
    sink.upsert(spark, spark.createDataFrame([(20, "NEW")], "k long, v string"),
                "t", ["k"])
    after = _inodes(sink.current_version("t"))
    hit = _file_of(files, 20)
    assert {p: before[p] for p in files if p != hit}.items() <= after.items()
    new = {p for p, ino in after.items() if ino not in before.values()}
    assert hit not in after and len(new) == 2
    assert sorted(p[:2] for p in new) == ["b-", "k-"]
    new_files = _manifest(sink, "t")["files"]
    assert sorted(new_files[p] for p in new) == [[16, 31], [20, 20]]
    rows = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert rows[20] == "NEW" and rows[5] == "v5" and len(rows) == 64


def test_untouched_files_are_hardlinks(spark, sink):
    """A batch beyond every range reads nothing and keeps all four files
    by inode; one spanning a range boundary rewrites exactly the two
    files on either side of it."""
    files, before = _four_files(spark, sink)
    sink.upsert(spark, spark.createDataFrame([(1000, "far")], "k long, v string"),
                "t", ["k"])
    after = _inodes(sink.current_version("t"))
    # identical inode ⇒ byte-identical, zero data copied
    assert before.items() <= after.items() and len(after) == 5

    sink.upsert(spark, spark.createDataFrame([(31, "x"), (32, "y")],
                                             "k long, v string"), "t", ["k"])
    final = _inodes(sink.current_version("t"))
    hit = {_file_of(files, 31), _file_of(files, 32)}
    assert {p: ino for p, ino in after.items() if p not in hit}.items() \
        <= final.items()
    assert not hit & set(final)
    rows = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert (rows[31], rows[32], rows[1000], rows[30]) == ("x", "y", "far", "v30")
    assert len(rows) == 65


def test_versioned_publish_single_live_version(spark, sink):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.upsert(spark, df, "t", ["k"])
    sink.upsert(spark, df, "t", ["k"])
    tdir = sink.path("t")
    versions = [d for d in tdir.glob("v-*") if d.is_dir()]
    assert len(versions) == 1
    assert (tdir / "_current").read_text().strip() == versions[0].name


def test_migration_from_overwrite_layout(spark, sink):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink.overwrite(df1, "t")
    m = _manifest(sink, "t")
    assert (m["keys"], m["files"]) == (None, None)  # no keys recorded

    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    sink.upsert(spark, df2, "t", ["k"])  # read whole, rewritten keyed
    assert _manifest(sink, "t")["keys"] == ["k"]
    rows = {r.k: r.v for r in sink.read(spark, "t").collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}


def test_key_mismatch_raises(spark, sink):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    sink.upsert(spark, df, "t", ["k"])
    live = sink.current_version("t")
    with pytest.raises(ValueError,
                       match=r"keyed by \['k'\], the merge by \['v'\]"):
        sink.upsert(spark, df, "t", ["v"])
    files = _inodes(live)
    with pytest.raises(ValueError, match=r"keyed by \['k'\]: upsert"):
        sink.append(df, "t")   # would bypass the key
    assert _inodes(live) == files
    assert [d for d in sink.path("t").glob("v-*")] == [live]


def test_replace_publishes_new_keys_with_its_data(spark, sink, monkeypatch):
    """replace() drops the old rows and the old keys: the table is then
    keyed by the replacing keys, and upserts by those keys work. The keys
    live in the manifest, so a replace that fails before its publish
    leaves the old rows AND the old keys."""
    from datapump_spark.sinks import upsert as upsert_mod

    sink.upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")],
                                             "k long, v string"), "t", ["k"])
    batch = spark.createDataFrame([(3, "c")], "k long, v string")

    def broken_footer(*_a, **_k):
        raise OSError("footer unreadable")

    monkeypatch.setattr(upsert_mod, "_file_bounds", broken_footer)
    with pytest.raises(OSError, match="footer unreadable"):
        sink.replace(spark, batch, "t", ["v"])
    monkeypatch.undo()
    assert _manifest(sink, "t")["keys"] == ["k"]
    assert {r.k for r in sink.read(spark, "t").collect()} == {1, 2}

    sink.replace(spark, batch, "t", ["v"])
    assert _manifest(sink, "t")["keys"] == ["v"]
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
    stats = sink.compact(spark, "audit")
    assert stats["files_before"] >= 20
    assert stats["files_after"] == 1
    after = sink.read(spark, "audit").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # old version GC'd, pointer flipped
    vdirs = [d for d in sink.path("audit").glob("v-*") if d.is_dir()]
    assert len(vdirs) == 1


def test_compact_clusters_by_the_leading_key(spark, sink, monkeypatch):
    """A time-ordered table compacted into several files: the files hold
    disjoint key ranges, so merging the next window rewrites only the
    file that overlaps it and the rest keep their inodes. A later merge
    compacts only the small files below it, never the larger ones."""
    for lo in range(0, 400, 50):   # windows overlapping their predecessor
        sink.upsert(spark, spark.range(max(0, lo - 10), lo + 50)
                    .selectExpr("id AS pk", f"id + {lo} AS v"), "t", ["pk"])
    want = {r.pk: r.v for r in sink.read(spark, "t").collect()}
    vdir = sink.current_version("t")
    total_mb = sum(p.stat().st_size for p in vdir.glob("*.parquet")) / 2**20
    monkeypatch.setattr(upsert, "TARGET_FILE_MB", total_mb / 3.5)
    stats = sink.compact(spark, "t")
    assert stats["files_after"] == 4 < stats["files_before"]
    ranges = sorted(_manifest(sink, "t")["files"].values())
    assert len(ranges) == 4
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
    assert _manifest(sink, "t")["keys"] == ["pk"]
    assert {r.pk: r.v for r in sink.read(spark, "t").collect()} == want

    files = _manifest(sink, "t")["files"]
    before = _inodes(sink.current_version("t"))
    sink.upsert(spark, spark.range(390, 440).selectExpr("id AS pk", "-id AS v"),
                "t", ["pk"])
    after = _inodes(sink.current_version("t"))
    last = _file_of(files, 399)
    assert {p: before[p] for p in files if p != last}.items() <= after.items()
    assert last not in after
    got = {r.pk: r.v for r in sink.read(spark, "t").collect()}
    assert got == {**want, **{k: -k for k in range(390, 440)}}

    # a merge compacts only its cold files: those below the batch and
    # under half a target; the three larger compacted files stay
    big = {p: ino for p, ino in after.items() if p in files}
    small = set(after) - set(big)
    size = {p: (sink.current_version("t") / p).stat().st_size for p in after}
    assert max(size[p] for p in small) < min(size[p] for p in big)
    monkeypatch.setattr(upsert, "TARGET_FILE_MB",
                        2 * min(size[p] for p in big) / 2**20)
    monkeypatch.setattr(upsert, "COLD_FILES", len(small) - 1)
    sink.upsert(spark, spark.range(1000, 1010).selectExpr("id AS pk", "-id AS v"),
                "t", ["pk"])
    final = _inodes(sink.current_version("t"))
    ranges = _manifest(sink, "t")["files"]
    assert big.items() <= final.items() and not small & set(final)
    c_files = sorted(ranges[p] for p in set(final) - set(big)
                     if p.startswith("c-"))
    assert c_files[0][0] == 300 and c_files[-1][1] == 439
    assert all(a[1] < b[0] for a, b in zip(c_files, c_files[1:]))
    got = {r.pk: r.v for r in sink.read(spark, "t").collect()}
    assert got == {**want, **{k: -k for k in [*range(390, 440),
                                               *range(1000, 1010)]}}


def test_compact_missing_table_raises(spark, sink):
    for op in (sink.compact, sink.read):
        with pytest.raises(ValueError, match="no such table: 'nope'"):
            op(spark, "nope")


def test_schema_evolution_add_and_missing_column(spark, sink):
    """Reference gap closed (SURVEY §1.2 'no schema evolution'): a batch
    with a NEW column merges (old rows null); a batch MISSING a column
    merges (nulls); read() must see the union schema even though
    untouched files still hold old-schema hardlinked rows."""
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string")
    sink.upsert(spark, base, "t", ["k"])

    # add a column, touching only one key (one file rewritten)
    plus = spark.createDataFrame([(3, "v3b", 9.5)],
                                 "k long, v string, score double")
    sink.upsert(spark, plus, "t", ["k"])
    got = {r["k"]: r for r in sink.read(spark, "t").collect()}
    assert set(sink.read(spark, "t").columns) == {"k", "v", "score"}
    assert got[3]["score"] == 9.5 and got[3]["v"] == "v3b"
    assert got[5]["score"] is None          # row of an untouched file
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

    sink = ParquetMergeSink(tmp_path / "tt", retain_versions=3)
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
    """Retained versions share unchanged files by inode."""
    sink = ParquetMergeSink(tmp_path / "tt", retain_versions=2)
    for lo in (0, 100):
        sink.upsert(spark, spark.range(lo, lo + 100).selectExpr(
            "id AS k", "'a' AS val"), "t", ["k"])
    sink.upsert(spark, spark.createDataFrame([(0, "b")], "k long, val string"),
                "t", ["k"])
    v_old, v_new = (sink.path("t") / v for v in sink.versions("t"))
    shared = set(_inodes(v_old).values()) & set(_inodes(v_new).values())
    # the 100..199 window's files are carried by hardlink, not copy
    assert shared and all(p.stat().st_nlink == 2 for p in v_new.glob("*.parquet")
                          if p.stat().st_ino in shared)
    assert {r["val"] for r in sink.read(spark, "t", version=v_old.name)
            .collect()} == {"a"}


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
    return [(f.name, f.dataType.simpleString()) for f in df.schema]


def _manifest_schema(sink, table):
    return [(f.name, f.dataType.simpleString()) for f in
            StructType.fromJson(_manifest(sink, table)["schema"])]


def test_read_runs_no_job_on_every_kind_of_version(spark, sink):
    """Merged, overwritten, appended (first and widening appends) and
    compacted versions all carry the manifest and the schema summary,
    so reading any of them runs no Spark job."""
    def check(table):
        vdir = sink.current_version(table)
        assert (vdir / MANIFEST).exists() and (vdir / SUMMARY).exists()
        assert _manifest_schema(sink, table) == _merged_read_schema(spark, vdir)
        assert _jobs(spark, lambda: sink.read(spark, table)) == 0

    sink.upsert(spark, spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"), "t", ["k"])
    m = _manifest(sink, "t")
    assert m["keys"] == ["k"] and m["files"]
    assert all(lo <= hi for lo, hi in m["files"].values())
    check("t")
    sink.overwrite(spark.createDataFrame([(1, 2.5)], "a long, b double"), "s")
    check("s")
    assert [tuple(r) for r in sink.read(spark, "s").collect()] == [(1, 2.5)]
    sink.append(spark.range(3).selectExpr("id"), "audit")
    check("audit")
    sink.append(spark.range(3, 5).selectExpr("id", "'x' AS note"), "audit")
    check("audit")
    sink.compact(spark, "audit")
    check("audit")
    assert sorted(tuple(r) for r in sink.read(spark, "audit").collect()) == [
        (0, None), (1, None), (2, None), (3, "x"), (4, "x")]


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


def test_append_widens_the_manifest_only_when_columns_grow(spark, sink):
    """An append keeps the version's metadata: it rewrites it only for a
    new column, so an audit append stays O(batch). Another type for an
    existing column raises before anything is written."""
    for i in range(2):
        sink.append(spark.range(i * 5, i * 5 + 5).selectExpr("id"), "audit")
    sink.compact(spark, "audit")
    vdir = sink.current_version("audit")
    stamp = (vdir / MANIFEST).stat().st_ino
    sink.append(spark.range(10, 11).selectExpr("id"), "audit")
    assert (vdir / MANIFEST).stat().st_ino == stamp
    sink.append(spark.range(11, 13).selectExpr("id", "'late' AS extra"),
                "audit")
    assert (vdir / MANIFEST).stat().st_ino != stamp
    assert _manifest_schema(sink, "audit") == [("id", "bigint"),
                                               ("extra", "string")]
    assert (_manifest(sink, "audit")["keys"],
            _manifest(sink, "audit")["files"]) == (None, None)
    rows = sink.read(spark, "audit").collect()
    assert sorted(r.id for r in rows) == list(range(13))
    assert {r.id for r in rows if r.extra == "late"} == {11, 12}

    files = _inodes(vdir)
    with pytest.raises(ValueError,
                       match="'extra' is string, the batch gives int"):
        sink.append(spark.range(13, 14).selectExpr("id", "1 AS extra"),
                    "audit")
    assert _inodes(vdir) == files and sink.current_version("audit") == vdir
    assert len(sink.read(spark, "audit").collect()) == 13


def test_version_without_a_manifest_raises_naming_it(spark, sink):
    """Every write publishes a manifest, so a version without one (built
    here by hand) is refused by name rather than guessed at."""
    vdir = sink.path("t") / "v-1"
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(
        str(vdir))
    (sink.path("t") / "_current").write_text(vdir.name)
    batch = spark.createDataFrame([(2, "b")], "k long, v string")
    for write in (lambda: sink.read(spark, "t"),
                  lambda: sink.upsert(spark, batch, "t", ["k"]),
                  lambda: sink.append(batch, "t"),
                  lambda: sink.compact(spark, "t")):
        with pytest.raises(ValueError,
                           match=re.escape(f"{vdir} has no {MANIFEST}")):
            write()
    assert [d.name for d in sink.path("t").glob("v-*")] == ["v-1"]


def test_properties_write_is_atomic(sink, monkeypatch):
    """A properties write that fails part-way leaves the old properties
    readable; a torn sidecar would fail every later stamp_updated."""
    sink.set_properties("t", description="feed")
    real = Path.write_text

    def torn(self, text, *args, **kwargs):
        real(self, text[:len(text) // 2], *args, **kwargs)
        raise OSError("disk full")

    monkeypatch.setattr(Path, "write_text", torn)
    with pytest.raises(OSError, match="disk full"):
        sink.set_properties("t", description="feed v2", alias="x")
    monkeypatch.undo()
    assert sink.get_properties("t") == {"description": "feed"}
    # the torn tmp file is removed, not left next to the sidecar
    assert [p.name for p in sink.root.iterdir()] == [".t.meta.json"]
    sink.stamp_updated("t")
    assert sink.get_properties("t")["description"].startswith(
        "feed (UPDATED: ")


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
    and batch rows to separate files, at most two data files per queue
    file. With ``COLD_FILES`` at 2, a merge that finds more files wholly
    below its window also compacts them, in the same write, into files
    of disjoint ranges below the window, so the table never holds more
    than ``COLD_FILES`` + 2 files."""
    from datapump_spark.jobspec import JobSpec
    from datapump_spark.streaming.pipeline import Pipeline

    monkeypatch.setattr(upsert, "COLD_FILES", 2)
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
    compactions = []
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
        assert len(new) <= upsert.COLD_FILES + 2, (k, sorted(new))
        cold = {p for p, (a, b) in old.items() if b < lo}
        compacted = cold if len(cold) > upsert.COLD_FILES else set()
        outside = {p for p, (a, b) in old.items() if b < lo or a > hi}
        for p in outside - compacted:   # kept by inode
            assert new_inodes.get(p) == old_inodes[p], (k, p)
        read = set(old) - set(new)
        assert read == prev_batch | compacted, k
        written = {p for p in new if new_inodes[p] not in
                   set(old_inodes.values())}
        batch_files = {p for p in written if p.startswith("b-")}
        c_files = {p for p in written if p.startswith("c-")}
        kept_files = written - batch_files - c_files
        assert 1 <= len(written - c_files) <= 2, (k, written)
        assert all(p.startswith("k-") for p in kept_files)
        for p in batch_files:
            assert lo <= new[p][0] <= new[p][1] <= hi, (k, p)
        for p in kept_files:   # no kept row shares a file with the batch
            assert new[p][1] < lo, (k, p)
        assert bool(c_files) == bool(compacted), k
        if compacted:   # disjoint ranges, all below the window
            ranges = sorted(new[p] for p in c_files)
            assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), k
            assert ranges[-1][1] < lo and ranges[0][0] == min(
                old[p][0] for p in compacted), k
            compactions.append(k)
        prev_batch = batch_files
        for row in f.rows:
            expected[(row[0], row[1])] = row
    assert compactions == [4], compactions
    want = {(ts.strftime("%Y-%m-%d %H:%M:%S"), *rest)
            for (ts, *rest) in expected.values()}
    got = sink.read(spark, "air").select(
        F.date_format("DateTime", "yyyy-MM-dd HH:mm:ss"), "Sensor_id", "PM25",
        "PM10", "AQI", "LAT", "LONG", "Remarks").collect()
    assert len(got) == len(expected) and {tuple(r) for r in got} == want


# ----------------------------------------------------- randomized replays

def _key_ok(key):
    return all(v is not None for v in key)


def test_randomized_upserts_and_cdc_match_the_replay(spark, tmp_path,
                                                      monkeypatch):
    """Random batches: keys spread over old files, in-batch duplicates,
    null leading keys, a one-key batch, an added and a missing column;
    then CDC batches with out-of-order sequences and tombstones. The last
    batch of each kind lies above every stored key, so with
    ``COLD_FILES`` at 1 its merge compacts the whole table below it. After
    every merge the table equals a pure-Python replay (pruning never
    skips a file holding a batch key) and the manifest schema equals a
    footer-merged read's; compaction keeps every tombstone row."""
    rng = random.Random(11)
    sink = ParquetMergeSink(tmp_path / "lake")
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
    batches.append([(300 + j, f"s{j % 3}", "high") for j in range(5)])
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
        ranges = _manifest(sink, "t")["files"] if table else {}
        if i == len(batches) - 1:
            monkeypatch.setattr(upsert, "COLD_FILES", 1)
        sink.upsert(spark, df, "t", ["k", "s"])
        batch_keys = {r[:2] for r in rows if _key_ok(r[:2])}
        table = [r for r in table
                 if not (_key_ok(r[:2]) and r[:2] in batch_keys)] + rows
        assert check("t", cols) == Counter(table), i
        after = _inodes(sink.current_version("t"))
        if len(rows) == 1:   # one key: files not holding it untouched
            for p, ino in before.items():
                if ranges[p] is not None and not (
                        ranges[p][0] <= rows[0][0] <= ranges[p][1]):
                    assert after[p] == ino, p
    # the high batch compacted every older file into c- files
    assert len(before) > 1 and not set(before) & set(after)
    assert {p[:2] for p in after} == {"b-", "c-"}
    monkeypatch.setattr(upsert, "COLD_FILES", 16)

    # CDC: one winner per key by seq; stale changes lose; deletes are
    # tombstone rows; unique seqs so every winner is defined
    state: dict[int, tuple] = {}
    seq = list(range(1, 400))
    rng.shuffle(seq)
    for i in range(6):
        changes = []
        for _ in range(rng.randrange(5, 30)):
            key = rng.randrange(0, 60)
            op = "D" if rng.random() < 0.25 else "U"
            changes.append((key, seq.pop(), op, f"c{i}"))
        if i == 5:   # above every key, updates only: compacts the rest
            changes = [(100 + j, seq.pop(), "U", "high") for j in range(3)]
            monkeypatch.setattr(upsert, "COLD_FILES", 1)
            before = _inodes(sink.current_version("c"))
        sink.apply_cdc(spark, spark.createDataFrame(
            changes, "id long, seq long, op string, val string"),
            "c", ["id"], ["seq"])
        for key in {c[0] for c in changes}:
            w = max((c for c in changes if c[0] == key), key=lambda c: c[1])
            if key not in state or w[1] >= state[key][1]:
                state[key] = (key, w[1], w[3], w[2] == "D")
        got = check("c", ["id", "seq", "val", TOMBSTONE_COL])
        assert got == Counter(state.values()), i
    after = _inodes(sink.current_version("c"))
    assert len(before) > 1 and not set(before) & set(after)
    assert any(p.startswith("c-") for p in after)
    tombstones = sum(v[3] for v in state.values())
    assert tombstones > 0
    sink.compact(spark, "c")
    got = check("c", ["id", "seq", "val", TOMBSTONE_COL])
    assert got == Counter(state.values())
    assert sink.read(spark, "c").where(TOMBSTONE_COL).count() == tombstones
