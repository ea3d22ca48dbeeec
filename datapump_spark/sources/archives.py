"""Archive ingestion (round 9; family completed round 12): ZIP, TAR
(``.tar`` / ``.tar.{gz,bz2,xz}`` via stdlib, ``.tar.{zst,lz4}`` via
pyarrow's bundled libzstd / liblz4, ``.tar.Z`` via the pure-Python
LZW decoder, ``.tar.lzma`` via LZMA_ALONE), 7z (sources/sevenzip.py),
cpio and ISO 9660 (sources/cpio_iso.py).

Crawl and document dumps routinely arrive as archives — a directory
of ``.zip`` bundles, ``.tar.gz`` shards, ``.7z`` collections — and a
100 TB pipeline needs to explode them into member rows WITHOUT a
driver-side unpack step. Same architecture as the WARC reader (sources/warc.py):
``binaryFile`` scan (parallelism = archive count; archives are not
splittable) -> Arrow ``mapInPandas`` kernel over the stdlib
``zipfile`` / ``tarfile`` parsers. Member filtering happens INSIDE
the kernel before bytes materialize, so a ``member_glob`` prunes I/O
per member, not per archive.

Scale notes: one archive is held in executor memory while exploded
(the binaryFile contract — size shards like crawl WARCs, ~1 GiB);
``max_member_bytes`` guards against zip-bomb members by SKIPPING
oversized entries into the ``skipped`` accounting column of
``archive_stats`` rather than OOMing a task.

Reference parity note: the reference (datapump.py) reads loose CSVs
only; charter extension for training-data pipelines.
"""

from __future__ import annotations

import fnmatch
import io
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEMBER_SCHEMA = ("archive_path string, member_path string, "
                 "member_bytes binary, member_size long, mtime timestamp")

# Whole-archive decompression cap for .tar.{zst,lz4,Z,lzma} (the
# formats stdlib tarfile can't stream): bounds executor memory the
# same way max_member_bytes bounds a single member.
_TAR_DECODE_CAP = 1 << 30


def _cap_lzma_alone(data: bytes, cap: int) -> bytes:
    import lzma

    d = lzma.LZMADecompressor(format=lzma.FORMAT_ALONE)
    out = d.decompress(data, cap + 1)
    if len(out) > cap:
        raise ValueError("lzma: output exceeds decode cap")
    return out


def _iter_zip(data: bytes, member_glob, max_bytes):
    import datetime
    import zipfile

    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        for info in zf.infolist():
            if info.is_dir():
                continue
            if member_glob and not fnmatch.fnmatch(info.filename,
                                                   member_glob):
                continue
            if max_bytes is not None and info.file_size > max_bytes:
                yield info.filename, None, info.file_size, None
                continue
            mtime = datetime.datetime(*info.date_time)
            yield (info.filename, zf.read(info), info.file_size, mtime)


def _iter_tar(data: bytes, member_glob, max_bytes):
    import datetime
    import tarfile

    # mode 'r:*' sniffs plain/gz/bz2/xz members transparently (stdlib)
    with tarfile.open(fileobj=io.BytesIO(data), mode="r:*") as tf:
        for info in tf:
            if not info.isfile():
                continue
            if member_glob and not fnmatch.fnmatch(info.name, member_glob):
                continue
            if max_bytes is not None and info.size > max_bytes:
                yield info.name, None, info.size, None
                continue
            f = tf.extractfile(info)
            mtime = datetime.datetime.utcfromtimestamp(info.mtime)
            yield (info.name, f.read() if f else b"", info.size, mtime)


def _iter_7z(data: bytes, member_glob, max_bytes):
    from datapump_spark.sources.sevenzip import read_7z_members

    yield from _iter_members_generic(read_7z_members(data),
                                     member_glob, max_bytes)


def _iter_members_generic(it, member_glob, max_bytes):
    """Adapt a (name, payload, size, mtime, is_dir) generator (7z /
    cpio / iso readers) to the member contract (files only)."""
    for name, payload, size, mtime, is_dir in it:
        if is_dir:
            continue
        if member_glob and not fnmatch.fnmatch(name, member_glob):
            continue
        if max_bytes is not None and size > max_bytes:
            yield name, None, size, None
            continue
        yield name, payload, size, mtime


def _sniff_archive(data: bytes) -> str | None:
    if data[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
        return "zip"
    if data[:6] == b"7z\xbc\xaf\x27\x1c":
        return "7z"
    if data[:6] in (b"070707", b"070701", b"070702"):
        return "cpio"                   # r12: sources/cpio_iso.py
    if len(data) > 0x8006 and data[0x8001:0x8006] == b"CD001":
        return "iso"                    # r12: sources/cpio_iso.py
    if data[:2] == b"\x1f\x8b" or data[:3] == b"BZh" \
            or data[:6] == b"\xfd7zXZ\x00":
        return "tar"                    # compressed tar (r:* sniffs)
    if data[:4] == b"\x28\xb5\x2f\xfd":
        return "tar+zstd"               # .tar.zst (libzstd via pyarrow)
    if data[:4] in (b"\x04\x22\x4d\x18", b"\x02\x21\x4c\x18"):
        return "tar+lz4"                # .tar.lz4 (frame or legacy)
    if data[:2] == b"\x1f\x9d":
        return "tar+Z"                  # .tar.Z (r12: pure-Python LZW)
    if len(data) > 262 and data[257:262] == b"ustar":
        return "tar"
    return None


def read_archive_members(spark: SparkSession, path: str, *,
                         member_glob: str | None = None,
                         max_member_bytes: int | None = None,
                         on_error: str = "null") -> DataFrame:
    """One row per archive MEMBER: (archive_path, member_path,
    member_bytes, member_size, mtime). ZIP, 7z (sources/sevenzip.py,
    r12) and TAR (plain/gz/bz2/xz via stdlib; zst/lz4 via pyarrow's
    bundled libzstd / liblz4) are sniffed per file by
    magic — a directory can mix all of them.
    Oversized members (``max_member_bytes``) and, under
    ``on_error='null'``, unreadable archives yield rows with NULL
    member_bytes (size still reported) so accounting never silently
    drops data; ``on_error='raise'`` propagates parser errors."""
    import pandas as pd

    if on_error not in ("null", "raise"):
        raise ValueError(f"on_error must be 'null' or 'raise': {on_error!r}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("archive_path", "member_path",
                                    "member_bytes", "member_size", "mtime")}
            for path_, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                kind = _sniff_archive(data)
                try:
                    if kind == "zip":
                        it = _iter_zip(data, member_glob, max_member_bytes)
                    elif kind == "7z":
                        it = _iter_7z(data, member_glob, max_member_bytes)
                    elif kind == "cpio":
                        from datapump_spark.sources.cpio_iso import (
                            read_cpio_members,
                        )

                        it = _iter_members_generic(
                            read_cpio_members(data), member_glob,
                            max_member_bytes)
                    elif kind == "iso":
                        from datapump_spark.sources.cpio_iso import (
                            read_iso_members,
                        )

                        it = _iter_members_generic(
                            read_iso_members(data), member_glob,
                            max_member_bytes)
                    elif kind == "tar":
                        it = _iter_tar(data, member_glob, max_member_bytes)
                    elif kind == "tar+zstd":
                        from datapump_spark.operators.zstd import decode_zstd

                        it = _iter_tar(
                            decode_zstd(data, max_output=_TAR_DECODE_CAP),
                            member_glob, max_member_bytes)
                    elif kind == "tar+lz4":
                        from datapump_spark.operators.lz4 import (
                            decode_lz4_frame,
                        )

                        it = _iter_tar(
                            decode_lz4_frame(data,
                                             max_output=_TAR_DECODE_CAP),
                            member_glob, max_member_bytes)
                    elif kind == "tar+Z":
                        from datapump_spark.operators.lzw import decode_z

                        it = _iter_tar(
                            decode_z(data, max_output=_TAR_DECODE_CAP),
                            member_glob, max_member_bytes)
                    elif kind is None and path_.endswith(
                            (".tar.lzma", ".tlz")):
                        it = _iter_tar(
                            _cap_lzma_alone(data, _TAR_DECODE_CAP),
                            member_glob, max_member_bytes)
                    else:
                        raise ValueError(
                            f"not a zip/7z/tar/cpio/iso archive: {path_}")
                    for name, payload, size, mtime in it:
                        rows["archive_path"].append(path_)
                        rows["member_path"].append(name)
                        rows["member_bytes"].append(payload)
                        rows["member_size"].append(size)
                        rows["mtime"].append(mtime)
                except Exception:
                    if on_error == "raise":
                        raise
                    rows["archive_path"].append(path_)
                    rows["member_path"].append(None)
                    rows["member_bytes"].append(None)
                    rows["member_size"].append(None)
                    rows["mtime"].append(None)
            yield pd.DataFrame(rows)

    raw = spark.read.format("binaryFile").load(path)
    return raw.select("path", "content").mapInPandas(kernel, MEMBER_SCHEMA)


def archive_stats(members: DataFrame) -> DataFrame:
    """Per-archive accounting over read_archive_members output:
    member/byte totals plus the skipped (NULL-bytes) count — the
    invariant a curation run audits before trusting an explode."""
    return members.groupBy("archive_path").agg(
        F.count("*").alias("n_members"),
        F.sum(F.when(F.col("member_bytes").isNull(), 1).otherwise(0))
         .alias("n_skipped"),
        F.sum("member_size").alias("total_bytes"),
    )


def archive_text_documents(spark: SparkSession, path: str, *,
                           member_glob: str = "*.txt",
                           max_member_bytes: int | None = None) -> DataFrame:
    """Archives of text files -> (doc_id, source, text) rows ready for
    the pretrain_corpus chain: doc_id is a 63-bit hash of
    archive+member path (the WET/URI convention), source is the
    archive file name. Decode is lenient UTF-8 (crawl text is dirty);
    skipped/unreadable members are dropped here — run archive_stats
    on read_archive_members for the audit view."""
    members = read_archive_members(
        spark, path, member_glob=member_glob,
        max_member_bytes=max_member_bytes)
    return (members
            .where(F.col("member_bytes").isNotNull())
            .select(
                F.xxhash64(F.concat_ws("::", "archive_path", "member_path"))
                 .bitwiseAND(F.lit((1 << 63) - 1)).alias("doc_id"),
                F.element_at(F.split("archive_path", "/"), -1)
                 .alias("source"),
                F.col("member_path"),
                F.decode("member_bytes", "UTF-8").alias("text"),
            ))
