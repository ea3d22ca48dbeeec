"""Idempotent primary-key upsert sinks.

The reference's sink is CKAN ``datastore_upsert(method='upsert')`` — a
PostgreSQL upsert keyed on the PK declared at create time
(datapump.py:560-566,594), plus truncate (datastore_delete,
datapump.py:545-555) and metadata stamping (datapump.py:616-630). Spark has
no native upsert, so two profiles:

- ``ParquetMergeSink`` — lake profile for local/testing: MERGE emulated as
  anti-join(overlapping stored files, batch keys) ∪ batch. Tables live in
  versioned directories behind an atomic pointer file (os.replace), so a
  crash never leaves a missing/torn table. Every version any write
  publishes is flat data files plus a ``_manifest.json`` (Spark skips
  ``_`` files): the table schema, the table's keys, and per data file the
  min and max of the leading key. A batch reads and rewrites ONLY the
  stored files whose key range overlaps the batch's; every other file is
  hardlinked into the new version, byte-identical, O(1) data movement.
  So a time-ordered feed, whose files each overlap the previous window
  only, costs O(its window) per file, not O(table) — the reference's
  PK-index cost model. Reads take the schema from the manifest, never
  from a footer scan. ``upsert`` and the CDC ``apply_cdc`` share that one
  write path and differ only in the per-file merge; a version whose
  manifest records no keys (``overwrite``, ``append``) is read whole by
  its next merge. At production scale the same call shape maps to Delta
  ``MERGE INTO``, whose log holds the same things (add-file min/max
  stats for data skipping, the table schema); the merge's compaction of
  its cold files is Delta's auto-compaction and
  :meth:`ParquetMergeSink.compact` its ``OPTIMIZE ZORDER BY``. This
  class documents the seam and keeps semantics testable with zero
  extra dependencies. Single-writer: version GC assumes no concurrent
  reader holds a superseded version (Delta's log is the multi-writer
  answer).
- ``JdbcUpsertSink`` — CKAN-datastore-parity profile: per-partition batched
  ``INSERT … ON CONFLICT (pk) DO UPDATE`` through a user-supplied DB-API
  connection factory (no driver baked into the engine). Writes happen on
  executors via ``foreachPartition`` — the driver never materializes rows
  (the reference's ``to_dict('records')`` full-copy, datapump.py:475, is
  exactly what this avoids).

Scale notes: the manifest's key bounds come from the footers of only the
files a publish wrote (driver-side, no Spark job), so keeping it is
O(new files); the bounds need footer min/max, which parquet INT96
timestamps lack, hence ``TIMESTAMP_MICROS`` in ``session.tuned_builder``
(a session writing INT96 still merges correctly, reading every file).
A batch spread over the whole key range reads every file, and a tiny
random-key batch rewrites each file its range falls in, whole. A merge
writes about two files (kept rows and batch rows) and replaces the
ones it read, so a time-ordered feed adds one file per queue file.
The merge itself bounds that: once more than ``COLD_FILES`` files lie
wholly below the batch and under half of ``TARGET_FILE_MB``, the same
write rewrites them as a few range-partitioned target-size files, so
such a feed's table holds at most ``COLD_FILES`` small files below its
window, and a row is compacted again only while its file is small.
JDBC batches default to 1000 rows/execute to bound round-trips.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datapump_spark.functions.sqltext import sql_dq_ident, sql_ident
from datapump_spark.operators.cdc import TOMBSTONE_COL, latest_changes

# Reference description stamp: '… (UPDATED: 2021-01-01 00:00:00)' appended /
# rewritten in place (datapump.py:616-630, regex datapump.py:618).
_UPDATED_RE = re.compile(r" \(UPDATED: (.*?)\)$")


# Per-version manifest: {"schema": data schema (StructType JSON), "keys":
# the table's PK columns, "files": {data file name: [min, max] of the
# leading key, or null when unknown}}; keys and files are null for an
# unkeyed table.
MANIFEST = "_manifest.json"
# Parquet schema summary of every version: the manifest's schema, which
# Spark's schema inference (the catalog's resource views) reads before
# any data file, whose schema may predate an added column.
SUMMARY = "_common_metadata"
# footer key-value entry Spark reads its own schema JSON from
_SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
# write-time partition column that keeps a merge's sides in separate
# files: ``k`` stored rows kept from the batch's window, ``b`` the batch,
# ``c`` cold files compacted; its directories are flattened before publish
_SIDE_COL = "__side"
# A merge compacts its cold files (wholly below the batch's leading key
# and under half of TARGET_FILE_MB) once there are more than COLD_FILES
# of them. Compaction writes ceil(size / TARGET_FILE_MB) files, so each
# of several outputs holds about half a target or more and is seldom
# cold again.
TARGET_FILE_MB = 128
COLD_FILES = 16

# Leading-key types whose parquet footer min/max orders as Spark orders
# them, by Spark type: the footer's physical type, a marker its logical
# type must show, and the Spark expression giving the footer's raw value.
# Floats (NaN, -0.0), decimals and every other type have no bounds, so
# their files are always read.
_BOUNDED_TYPES = {
    "tinyint": ("INT32", "", lambda c: c),
    "smallint": ("INT32", "", lambda c: c),
    "int": ("INT32", "", lambda c: c),
    "bigint": ("INT64", "", lambda c: c),
    "date": ("INT32", "Date", F.unix_date),
    "timestamp": ("INT64", "timeUnit=microseconds", F.unix_micros),
    "string": ("BYTE_ARRAY", "String", lambda c: c),
}


class ParquetMergeSink:
    """Directory-per-table parquet sink with PK-upsert semantics.

    On-disk layout (crash-atomic via the pointer file)::

        root/<table>/_current            # text: name of the live version
        root/<table>/v-<ns>/             # parquet data files
        root/<table>/v-<ns>/_manifest.json  # schema, keys, per-file
                                         # key bounds
        root/<table>/v-<ns>/_common_metadata  # the schema as a parquet
                                         # summary (catalog views)

    ``_current`` is flipped with ``os.replace`` (atomic on POSIX), so a
    reader always resolves a complete version; a crash mid-write leaves
    only an orphan ``v-*`` dir that the next successful publish removes.
    Every write publishes both metadata files into its new version
    before the flip; an append that adds columns replaces them in place.
    """

    def __init__(self, root: str | Path, retain_versions: int = 1):
        """``retain_versions`` > 1 keeps that many published versions on
        disk for time travel (:meth:`read` with ``version=``,
        :meth:`versions`). Retention is CHEAP for upsert tables: a new
        version hardlinks every file its merge did not rewrite, so N retained
        versions share all unchanged bytes — the storage bill is the
        per-version deltas plus one inode table, the same economics as a
        lakehouse transaction log. Default 1 = publish-and-GC."""
        self.root = Path(root)
        self.retain_versions = max(1, int(retain_versions))
        self.root.mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> Path:
        return self.root / table

    def _pointer(self, table: str) -> Path:
        return self.path(table) / "_current"

    def current_version(self, table: str) -> Path | None:
        p = self._pointer(table)
        if not p.exists():
            return None
        return self.path(table) / p.read_text().strip()

    def exists(self, table: str) -> bool:
        return self.current_version(table) is not None

    def read(self, spark: SparkSession, table: str,
             version: str | None = None) -> DataFrame:
        # ``version`` = time travel: any name from :meth:`versions`
        # (requires retain_versions > 1 at write time).
        if version is None:
            vdir = self.current_version(table)
            if vdir is None:
                raise ValueError(f"no such table: {table!r}")
        elif version in self.versions(table):
            vdir = self.path(table) / version
        else:
            raise ValueError(
                f"version {version!r} of table {table!r} is not retained "
                f"(have: {self.versions(table)})")
        return spark.read.schema(_read_manifest(vdir)[0]).parquet(str(vdir))

    def _history_path(self, table: str) -> Path:
        return self.path(table) / "_history"

    def versions(self, table: str) -> list[str]:
        """Published, still-retained version names, oldest → newest (the
        last entry is the live version)."""
        p = self._history_path(table)
        if not p.exists():
            cur = self.current_version(table)
            return [cur.name] if cur is not None else []
        return [v for v in p.read_text().split() if v]

    def _publish(self, table: str, version: str) -> None:
        """Atomically flip the pointer to ``version``, record it in the
        publish history, then GC versions beyond the retention window —
        plus any orphan dir that was never published (crash leftovers).
        Single-writer assumption, see module docstring."""
        tdir = self.path(table)
        history = [v for v in self.versions(table) if v != version]
        history.append(version)
        kept = history[-self.retain_versions:]
        self._write_history(table, kept)
        _replace_text(self._pointer(table), version)
        keep = set(kept)
        for d in tdir.glob("v-*"):
            if d.name not in keep and d.is_dir():
                shutil.rmtree(d, ignore_errors=True)

    def vacuum(self, table: str, keep_last: int = 1) -> list[str]:
        """Shrink the retained-version window to ``keep_last`` (the live
        version is always kept); returns the names removed. Hardlinked
        files shared with surviving versions cost nothing to 'delete' —
        only bytes no retained version references are freed."""
        versions = self.versions(table)
        kept, dropped = versions[-max(1, keep_last):], versions[:-max(1, keep_last)]
        self._write_history(table, kept)
        for name in dropped:
            shutil.rmtree(self.path(table) / name, ignore_errors=True)
        return dropped

    def _write_history(self, table: str, kept: Sequence[str]) -> None:
        _replace_text(self._history_path(table), "\n".join(kept) + "\n")

    def _new_version(self, table: str) -> tuple[str, Path]:
        tdir = self.path(table)
        tdir.mkdir(parents=True, exist_ok=True)
        name = f"v-{time.time_ns()}"
        return name, tdir / name

    def append(self, df: DataFrame, table: str) -> None:
        """Append-only tables: add part files to the live version in
        place — O(batch) I/O per event, never a read-union-rewrite.
        Appended files become visible as they land; fine for logs, use
        upsert/overwrite for tables needing snapshot isolation. New
        columns widen the version's metadata; a changed column type or a
        keyed table raises before anything is written."""
        self._append_files(table, df.schema, lambda vdir: df.write.mode(
            "append").parquet(str(vdir)))

    def append_row(self, fields: Sequence[tuple[object, str, str]],
                   table: str) -> None:
        """:meth:`append` of one row of ``(value, type, name)`` triples
        (the audit log), written by the driver as one parquet file with
        :func:`write_row`: no Spark job, and the file appears whole or
        not at all."""
        self._append_files(table, _row_schema(fields), lambda vdir: write_row(
            vdir / f"part-{uuid.uuid4().hex}.parquet", fields))

    def _append_files(self, table: str, batch: StructType,
                      write: Callable[[Path], object]) -> None:
        """The one append path: ``write(vdir)`` adds files of the
        ``batch`` columns to the live version, or to a new version
        published with its manifest on a first write."""
        cur = self.current_version(table)
        if cur is None:
            name, vdir = self._new_version(table)
            vdir.mkdir()
            write(vdir)
            _write_metadata(vdir, _table_schema(table, StructType(), batch))
            self._publish(table, name)
            return
        old, manifest = _read_manifest(cur)
        if manifest["keys"] is not None:
            raise ValueError(f"table {table!r} is keyed by "
                             f"{manifest['keys']}: upsert into it, not append")
        schema = _table_schema(table, old, batch)
        write(cur)
        if len(schema) > len(old):
            _write_metadata(cur, schema)

    def compact(self, spark: SparkSession, table: str) -> dict:
        """Rewrite every data file of the live version as the merge
        rewrites its cold files (the Delta ``OPTIMIZE`` seam): one write
        of ceil(size / ``TARGET_FILE_MB``) files, range-partitioned and
        sorted on a keyed table's leading key (``OPTIMIZE ZORDER BY``),
        so the new files hold disjoint key ranges; an unkeyed table (an
        audit log) is only repartitioned. The pointer flips atomically,
        so readers see the old layout or the new one. Tombstone rows are
        rows like any other and stay. Returns ``{files_before,
        files_after, total_mb}``."""
        cur = self.current_version(table)
        if cur is None:
            raise ValueError(f"no such table: {table!r}")
        schema, manifest = _read_manifest(cur)
        files = _data_files(cur)
        keys = manifest["keys"]
        side, total_mb = _compacted(spark, cur, files, schema, keys)
        written = self._write_sides(table, schema, keys, [("c", side)], {},
                                    None)
        return {
            "files_before": len(files),
            "files_after": len(written),
            "total_mb": round(total_mb, 3),
        }

    def replace(self, spark: SparkSession, df: DataFrame, table: str,
                keys: Sequence[str]) -> None:
        """K3 truncate + K2 upsert (datastore_delete-on-Truncate, then
        upsert, datapump.py:545-566) in one publish: ``df`` becomes the
        table's only rows, keyed by ``keys`` — the new keys are in the
        manifest of the version the pointer flips to. The old version
        stays live until the new one is published, so a batch that fails
        to read leaves the table as it was."""
        self._merge_files(spark, df, table, list(keys), None)

    # ---------------------------------------------------------- metadata (K1/K4)

    def _meta_path(self, table: str) -> Path:
        return self.root / f".{table}.meta.json"

    def get_properties(self, table: str) -> dict:
        """Table properties sidecar — the stand-in for `ALTER TABLE … SET
        TBLPROPERTIES` / CKAN resource metadata (SURVEY §1.1)."""
        p = self._meta_path(table)
        return json.loads(p.read_text()) if p.exists() else {}

    def set_properties(self, table: str, **props) -> None:
        merged = {**self.get_properties(table), **props}
        _replace_text(self._meta_path(table), json.dumps(merged, sort_keys=True))

    def stamp_updated(self, table: str, when: datetime | None = None) -> None:
        """K4: rewrite the description's ``(UPDATED: ts)`` suffix in place
        (append on first stamp) — the reference's regex-split/rejoin
        behavior (datapump.py:616-630) — and set an ``updated_at``
        property for programmatic readers."""
        when = when or datetime.now(timezone.utc)
        ts = when.strftime("%Y-%m-%d %H:%M:%S")
        props = self.get_properties(table)
        desc = _UPDATED_RE.sub("", props.get("description", ""))
        props["description"] = f"{desc} (UPDATED: {ts})"
        props["updated_at"] = ts
        self.set_properties(table, **props)

    def set_alias(self, table: str, alias: str) -> None:
        """K1's resource alias ('org-package-resource',
        datapump.py:224-225): recorded as a property; a SQL catalog
        profile maps this to CREATE VIEW."""
        self.set_properties(table, alias=alias)

    def overwrite(self, df: DataFrame, table: str) -> None:
        """Full-refresh write (stats tables are replaced per run, K6): a
        fresh full version, then the pointer flips to it."""
        name, vdir = self._new_version(table)
        df.write.mode("overwrite").parquet(str(vdir))
        _write_metadata(vdir, _table_schema(table, StructType(), df.schema))
        self._publish(table, name)

    def upsert(self, spark: SparkSession, df: DataFrame, table: str,
               keys: Sequence[str]) -> None:
        """K2 MERGE: batch rows win on PK collision (reference upsert
        semantics; Delta equivalent: WHEN MATCHED UPDATE ALL / WHEN NOT
        MATCHED INSERT ALL) — anti-join(current, batch keys) ∪ batch over
        the stored files the batch may touch, see :meth:`_merge_files`."""
        keys = list(keys)

        def merge(current: DataFrame,
                  batch: DataFrame) -> tuple[DataFrame, DataFrame]:
            kept = current.join(
                batch.select(*[F.col(sql_ident(k)) for k in keys]).distinct(),
                on=keys, how="left_anti")
            return kept, batch

        self._merge_files(spark, df, table, keys, merge)

    def apply_cdc(self, spark: SparkSession, changes: DataFrame, table: str,
                  keys: Sequence[str], seq_cols: Sequence[str],
                  op_col: str = "op", delete_op: str = "D") -> None:
        """MERGE a CDC changelog batch: WHEN MATCHED AND op='D' DELETE /
        WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT — the Delta
        ``foreachBatch + MERGE`` CDC recipe on this sink.

        Sequence-aware and tombstone-retaining, so it is correct under
        out-of-order delivery ACROSS batches, not just within one:
        - the batch collapses to one winner per key
          (``operators.cdc.latest_changes``),
        - a winner only replaces the stored row when its sequence is ≥
          the stored one (stale changes are ignored, whole-row-wise),
        - deletes are stored as ``__tombstone`` marker rows (payload
          nulls) rather than physical removals, so a late update older
          than an applied delete is correctly discarded. Read the live
          state with :meth:`read_state`; compaction, the merge's and
          :meth:`compact`'s, keeps tombstone rows like any other row.

        Same write path and cost model as :meth:`upsert`. Replaying the
        same changelog is a no-op (idempotent), which is what a
        streaming foreachBatch needs after a retry."""
        keys, seq_cols = list(keys), list(seq_cols)

        def cols(names: Sequence[str]) -> list:
            return [F.col(sql_ident(c)) for c in names]

        seq_struct = F.struct(*cols(seq_cols))
        winners = latest_changes(changes, keys, seq_cols, op_col, delete_op)

        def merge(current: DataFrame,
                  batch: DataFrame) -> tuple[DataFrame, DataFrame]:
            # stored row survives unless a batch winner with seq >= its
            # own exists for the key
            w_seq = batch.select(*cols(keys), seq_struct.alias("__wseq"))
            kept = (
                current.join(F.broadcast(w_seq), on=keys, how="left")
                .where(F.col("__wseq").isNull()
                       | (F.col("__wseq") < seq_struct))
                .drop("__wseq")
            )
            c_seq = current.select(*cols(keys), seq_struct.alias("__cseq"))
            incoming = (
                batch.join(F.broadcast(c_seq), on=keys, how="left")
                .where(F.col("__cseq").isNull()
                       | (seq_struct >= F.col("__cseq")))
                .drop("__cseq")
            )
            return kept, incoming

        self._merge_files(spark, winners, table, keys, merge)

    def _merge_files(self, spark: SparkSession, df: DataFrame, table: str,
                     keys: list[str],
                     merge: Callable[[DataFrame, DataFrame],
                                     tuple[DataFrame, DataFrame]] | None,
                     ) -> None:
        """The one MERGE write path. ``merge(current, batch)`` receives
        the stored rows the batch may touch and the batch, and returns
        ``(kept, incoming)``: the stored rows that stay and the batch
        rows that go in. ``merge=None`` ignores the stored rows
        (:meth:`replace`).

        Bounded cost: the live version's manifest holds the table's keys
        and each data file's [min, max] of the leading key. One
        aggregate over the batch (its first action, so it also fills the
        caller's observations) gives the batch's range of that column.
        Only files whose range overlaps the batch's, or that have no
        bounds, are read, merged and rewritten; kept rows and batch rows
        go to separate new files, so a batch file's range is the batch's
        own. Every other file is hardlinked into the new version (same
        inode, no data copied), and a batch that no file overlaps reads
        nothing and writes only itself: the reference's PK-index upsert
        cost (datapump.py:560-566), O(the batch's key range), not
        O(table). A first write is the batch alone; a version whose
        manifest records no keys is read whole.

        Bounded file count: a hardlinked file whose range lies wholly
        below the batch's minimum and that is smaller than half of
        ``TARGET_FILE_MB`` is cold. Once there are more than
        ``COLD_FILES`` cold files, they become a third side of the same
        write, compacted as :meth:`compact` compacts a whole table, so
        they never share a file with the window's kept rows or the
        batch, and the compacted files stay clear of later batches.

        The new schema is the table's plus the batch's new columns, in
        that order, and every written file carries all of it. Other keys
        than the table's, or another type for an existing column, raise
        before anything is written."""
        # a replace drops the old keys along with the old rows
        cur_dir = self.current_version(table) if merge is not None else None
        old, manifest = (_read_manifest(cur_dir) if cur_dir is not None
                         else (StructType(), {}))
        stored_keys = manifest.get("keys")
        if stored_keys is not None and stored_keys != keys:
            raise ValueError(f"table {table!r} is keyed by {stored_keys}, "
                             f"the merge by {keys}")
        schema = _table_schema(table, old, df.schema)
        sides: list[tuple[str, DataFrame]] = [("b", df)]
        links: dict[str, list | None] = {}
        cold: list[str] = []
        if cur_dir is not None:
            read = [cur_dir]   # no keys recorded: read whole
            if stored_keys is not None:
                bounded = _BOUNDED_TYPES.get(
                    schema[keys[0]].dataType.simpleString())
                lo = hi = None
                if bounded:
                    k = bounded[2](F.col(sql_ident(keys[0])))
                    lo, hi = df.agg(F.min(k), F.max(k)).first()
                read = []
                for f, b in manifest["files"].items():
                    if b is None or (lo is not None
                                     and b[0] <= hi and lo <= b[1]):
                        read.append(cur_dir / f)
                    else:
                        links[f] = b
                cold = [f for f, b in links.items() if lo is not None
                        and b[1] < lo and (cur_dir / f).stat().st_size
                        < TARGET_FILE_MB * 2**19]
            if read:
                current = spark.read.schema(old).parquet(*map(str, read))
                sides = list(zip("kb", merge(current, df)))
        if len(cold) > COLD_FILES:
            sides.append(("c", _compacted(spark, cur_dir, cold, old, keys)[0]))
            for f in cold:
                del links[f]
        self._write_sides(table, schema, keys, sides, links, cur_dir)

    def _write_sides(self, table: str, schema: StructType,
                     keys: list[str] | None,
                     sides: Sequence[tuple[str, DataFrame]],
                     links: dict, cur_dir: Path | None) -> list[str]:
        """The one write of a keyed table's new version (and of a
        compaction): every side's rows, widened to ``schema``, in one
        job partitioned by ``_SIDE_COL``, so no file mixes two sides;
        then ``links`` (manifest entries of ``cur_dir`` files) are
        hardlinked in, the manifest written and the version published.
        Returns the names of the files written."""
        name, vdir = self._new_version(table)
        frame = None
        for tag, side in sides:
            part = side.select(
                *[F.col(sql_ident(f.name)) if f.name in side.columns
                  else F.lit(None).cast(f.dataType).alias(f.name)
                  for f in schema],
                F.lit(tag).alias(_SIDE_COL))
            frame = part if frame is None else frame.unionByName(part)
        frame.write.mode("overwrite").partitionBy(_SIDE_COL).parquet(str(vdir))
        written = _flatten_sides(vdir)
        for f in links:   # same inode, zero copy
            (vdir / f).hardlink_to(cur_dir / f)
        _write_metadata(vdir, schema, keys, None if keys is None else
                        {**links, **_bounds(vdir, written, schema, keys)})
        self._publish(table, name)
        return written

    def read_state(self, spark: SparkSession, table: str) -> DataFrame:
        """Live CDC state: the table minus tombstone marker rows and
        minus the marker column."""
        df = self.read(spark, table)
        if TOMBSTONE_COL in df.columns:
            df = df.where(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))) \
                .drop(TOMBSTONE_COL)
        return df


def _read_manifest(vdir: Path) -> tuple[StructType, dict]:
    """A version's data schema and manifest. The schema is the
    manifest's: files an add-column merge did not touch keep the old
    schema, so Spark's pick of one file's schema could drop the new
    column."""
    p = vdir / MANIFEST
    if not p.exists():
        raise ValueError(f"version {vdir} has no {MANIFEST}")
    manifest = json.loads(p.read_text())
    return StructType.fromJson(manifest["schema"]), manifest


def _write_metadata(vdir: Path, schema: StructType,
                    keys: Sequence[str] | None = None,
                    files: dict | None = None) -> None:
    """Write a version's manifest and its schema summary, each
    atomically: an append that adds columns replaces a live version's."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    summary = to_arrow_schema(schema).with_metadata(
        {_SPARK_SCHEMA_KEY: schema.json()})
    _replace_file(vdir / SUMMARY,
                  lambda tmp: pq.write_metadata(summary, str(tmp)))
    _replace_text(vdir / MANIFEST, json.dumps(
        {"schema": schema.jsonValue(), "keys": keys, "files": files}))


def _table_schema(table: str, old: StructType,
                  batch: StructType) -> StructType:
    """``old``'s columns in order, then the batch's new ones. Raises when
    the batch gives an existing column another type: its files would be
    unreadable under the table schema."""
    fields = list(old.fields)
    have = {f.name: f.dataType.simpleString() for f in fields}
    for f in batch.fields:
        got = f.dataType.simpleString()
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
        elif have[f.name] != got:
            raise ValueError(
                f"table {table!r}: column {f.name!r} is {have[f.name]}, "
                f"the batch gives {got}")
    return StructType(fields)


def _compacted(spark: SparkSession, vdir: Path, files: Sequence[str],
               schema: StructType,
               keys: Sequence[str] | None) -> tuple[DataFrame, float]:
    """The compaction side: the rows of ``files`` (of ``vdir``) as
    ceil(size / ``TARGET_FILE_MB``) partitions, range-partitioned and
    sorted on the leading key, or only repartitioned when ``keys`` is
    None; and their size in MiB."""
    mb = sum((vdir / f).stat().st_size for f in files) / 2**20
    n = max(1, math.ceil(mb / TARGET_FILE_MB))
    df = spark.read.schema(schema).parquet(*[str(vdir / f) for f in files])
    if keys is None:
        return df.repartition(n), mb
    lead = F.col(sql_ident(keys[0]))
    return df.repartitionByRange(n, lead).sortWithinPartitions(lead), mb


def _data_files(vdir: Path) -> list[str]:
    """Names of a version's parquet data files."""
    return sorted(p.name for p in vdir.glob("*.parquet")
                  if not p.name.startswith((".", "_")))


def _flatten_sides(vdir: Path) -> list[str]:
    """Move each ``__side=S/part-…`` written by a merge up to
    ``S-part-…`` (one task can write both sides' files under one name);
    returns the new file names."""
    moved = []
    for side_dir in vdir.glob(f"{_SIDE_COL}=*"):
        tag = side_dir.name.split("=", 1)[1]
        for f in side_dir.glob("*.parquet"):
            f.rename(vdir / f"{tag}-{f.name}")
            moved.append(f"{tag}-{f.name}")
        shutil.rmtree(side_dir)
    return moved


def _bounds(vdir: Path, files: Sequence[str], schema: StructType,
            keys: Sequence[str]) -> dict:
    """Manifest entries of freshly written files: [min, max] of the
    leading key from each footer, or None where the key type has no
    usable bounds."""
    bounded = _BOUNDED_TYPES.get(schema[keys[0]].dataType.simpleString())
    return {f: _file_bounds(vdir / f, keys[0], *bounded[:2]) if bounded
            else None for f in files}


def _file_bounds(path: Path, key: str, physical: str,
                 marker: str) -> list | None:
    """[min, max] of column ``key`` in one parquet file, raw footer values
    (no data read); None when a row group has no min/max for it (INT96
    timestamps, an all-null group) or its encoding is not the expected
    one."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    idx = [i for i in range(md.num_columns) if md.schema.column(i).path == key]
    if not idx or md.schema.column(idx[0]).physical_type != physical \
            or marker not in str(md.schema.column(idx[0]).logical_type):
        return None
    lo = hi = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(idx[0]).statistics
        if st is None or not st.has_min_max:
            return None
        a, b = st.min_raw, st.max_raw
        if isinstance(a, bytes):
            try:
                a, b = a.decode(), b.decode()
            except UnicodeDecodeError:
                return None
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    return None if lo is None else [lo, hi]


def _replace_file(dst: Path, write: Callable[[Path], object]) -> None:
    """Write ``dst`` atomically: ``write(tmp)``, then os.replace. The tmp
    file is removed when either raises."""
    tmp = dst.with_name(f".{dst.name}-{time.time_ns()}")
    try:
        write(tmp)
        tmp.replace(dst)
    finally:
        tmp.unlink(missing_ok=True)


def _replace_text(dst: Path, text: str) -> None:
    _replace_file(dst, lambda tmp: tmp.write_text(text))


# Spark type name → column type of a driver-written row (write_row)
_ROW_TYPES = {"string": StringType(), "bigint": LongType(),
              "int": IntegerType(), "double": DoubleType(),
              "boolean": BooleanType(), "timestamp": TimestampType()}


def _row_schema(fields: Sequence[tuple[object, str, str]]) -> StructType:
    """The Spark schema of a row of ``(value, type, name)`` triples."""
    return StructType([StructField(c, _ROW_TYPES[t], True)
                       for _, t, c in fields])


def write_row(dst: Path, fields: Sequence[tuple[object, str, str]]) -> None:
    """Write one row of ``(value, type, name)`` triples as the parquet
    file ``dst``, from the driver and atomically (:func:`_replace_file`):
    a failed write leaves ``dst`` as it was. The types come from
    ``_ROW_TYPES`` (a timestamp is UTC microseconds, as Spark writes it),
    so no session is needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    row = pa.Table.from_pylist([{c: v for v, _, c in fields}],
                               schema=to_arrow_schema(_row_schema(fields)))
    _replace_file(dst, lambda tmp: pq.write_table(row, str(tmp)))


def dedupe_batch_by_pk(batch: list[tuple], key_idx: Sequence[int]) -> list[tuple]:
    """Last row per PK wins (upsert order) — one ON CONFLICT statement may
    not touch the same row twice in PostgreSQL."""
    uniq = {tuple(row[i] for i in key_idx): row for row in batch}
    return list(uniq.values())


class JdbcUpsertSink:
    """Executor-side DB-API upsert: INSERT … ON CONFLICT (pk) DO UPDATE.

    ``connection_factory`` must be a picklable zero-arg callable returning a
    DB-API connection (psycopg2.connect partial, sqlite3 for tests, …).
    """

    def __init__(self, connection_factory: Callable[[], object],
                 batch_size: int = 1000, dialect: str = "postgres"):
        self.connection_factory = connection_factory
        self.batch_size = batch_size
        self.dialect = dialect

    def upsert_sql(self, table: str, columns: Sequence[str],
                   keys: Sequence[str]) -> str:
        q = sql_dq_ident
        cols = ", ".join(q(c) for c in columns)
        ph = ", ".join(["?" if self.dialect == "sqlite" else "%s"] * len(columns))
        pk = ", ".join(q(k) for k in keys)
        updates = ", ".join(
            f"{q(c)} = excluded.{q(c)}" for c in columns if c not in keys
        ) or f"{q(keys[0])} = excluded.{q(keys[0])}"
        return (
            f"INSERT INTO {q(table)} ({cols}) VALUES ({ph}) "
            f"ON CONFLICT ({pk}) DO UPDATE SET {updates}"
        )

    def upsert(self, df: DataFrame, table: str, keys: Sequence[str]) -> None:
        """Rows with the same PK inside one executemany batch are deduped
        (last occurrence wins, matching upsert order) — PostgreSQL raises
        'cannot affect row a second time' when a single INSERT … ON
        CONFLICT statement touches the same row twice."""
        columns = df.columns
        sql = self.upsert_sql(table, columns, keys)
        factory = self.connection_factory
        batch_size = self.batch_size
        key_idx = [columns.index(k) for k in keys]

        def flush(cur, batch):
            cur.executemany(sql, dedupe_batch_by_pk(batch, key_idx))
            batch.clear()

        def write_partition(rows):
            conn = factory()
            try:
                cur = conn.cursor()
                batch = []
                for row in rows:
                    batch.append(tuple(row))
                    if len(batch) >= batch_size:
                        flush(cur, batch)
                if batch:
                    flush(cur, batch)
                conn.commit()
            finally:
                conn.close()

        df.foreachPartition(write_partition)
