"""Avro object-container ingestion in pure stdlib (round 9).

Avro is the row-oriented lake/interchange format next to Parquet, and
Spark's built-in support lives in an external package (spark-avro)
that is not in this environment — so the reader is implemented from
the public Avro 1.11 spec on the same binaryFile + Arrow-kernel
architecture as the WARC/archive/XLSX sources: container magic +
metadata map (schema JSON, codec), sync-marker-framed data blocks,
zigzag-varint primitives, and recursive datum decoding.

Scope (honest seams recorded in COVERAGE.md): codecs null,
deflate (raw zlib), zstd (operators/zstd.py) and snappy
(operators/snappy.py, with the spec's big-endian CRC32 of the
uncompressed block), both through pyarrow's bundled libzstd and
libsnappy; schemas of records over primitives, nullable
``["null", T]`` unions, enums, fixed, arrays, maps, and NESTED
records (nested output as Spark structs); bzip2 and xz blocks decode
through the stdlib bz2/lzma reference implementations (r11) — every
codec the Avro 1.11 spec names is now readable. Recursive-type
schemas raise ValueError; unknown codec names raise
UnsupportedMediaError.

Writer twin ``encode_avro`` (null/deflate/snappy/zstd) exists for fixtures and
the q_avro_scan exact-hash gate.

Reference parity note: the reference reads loose CSVs only; charter
extension.
"""

from __future__ import annotations

import bz2
import io
import json
import lzma
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from datapump_spark.operators.codecs import UnsupportedMediaError, read_capped

_MAGIC = b"Obj\x01"
# decoded-size cap of one data block: the decompression-bomb guard
BLOCK_DECODE_CAP = 1 << 28
_STDLIB_CODECS = {"deflate": lambda: zlib.decompressobj(wbits=-15),
                  "bzip2": bz2.BZ2Decompressor,
                  "xz": lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ)}


class _Reader:
    __slots__ = ("b", "i")

    def __init__(self, b: bytes, i: int = 0):
        self.b = b
        self.i = i

    def long(self) -> int:
        n = shift = 0
        while True:
            byte = self.b[self.i]
            self.i += 1
            n |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (n >> 1) ^ -(n & 1)           # zigzag

    def bytes_(self) -> bytes:
        n = self.long()
        out = self.b[self.i:self.i + n]
        self.i += n
        return out

    def raw(self, n: int) -> bytes:
        out = self.b[self.i:self.i + n]
        self.i += n
        return out


def _decode_datum(r: _Reader, schema):
    if isinstance(schema, list):             # union: index picks branch
        return _decode_datum(r, schema[r.long()])
    if isinstance(schema, dict):
        typ = schema["type"]
        if typ == "record":
            return {f["name"]: _decode_datum(r, f["type"])
                    for f in schema["fields"]}
        if typ == "array":
            out = []
            while True:
                cnt = r.long()
                if cnt == 0:
                    return out
                if cnt < 0:
                    r.long()                  # block byte size: skip
                    cnt = -cnt
                out.extend(_decode_datum(r, schema["items"])
                           for _ in range(cnt))
        if typ == "map":
            out = {}
            while True:
                cnt = r.long()
                if cnt == 0:
                    return out
                if cnt < 0:
                    r.long()
                    cnt = -cnt
                for _ in range(cnt):
                    k = r.bytes_().decode("utf-8")
                    out[k] = _decode_datum(r, schema["values"])
            return out
        if typ == "enum":
            return schema["symbols"][r.long()]
        if typ == "fixed":
            return r.raw(schema["size"])
        return _decode_datum(r, typ)          # {"type": "string"} form
    if schema == "null":
        return None
    if schema == "boolean":
        v = r.raw(1)
        return v == b"\x01"
    if schema in ("int", "long"):
        return r.long()
    if schema == "float":
        return struct.unpack("<f", r.raw(4))[0]
    if schema == "double":
        return struct.unpack("<d", r.raw(8))[0]
    if schema == "bytes":
        return r.bytes_()
    if schema == "string":
        return r.bytes_().decode("utf-8")
    raise ValueError(f"unsupported Avro schema node: {schema!r}")


def parse_avro_header(b: bytes):
    """Header-only parse of an Avro object container: (schema_dict,
    codec, reader positioned at the first data block, sync_marker).
    The schema lives entirely in the file metadata map, so it is
    available even for zero-record containers (ADVICE r9)."""
    if b[:4] != _MAGIC:
        raise ValueError("not an Avro object container")
    r = _Reader(b, 4)
    meta = {}
    while True:
        cnt = r.long()
        if cnt == 0:
            break
        if cnt < 0:
            r.long()
            cnt = -cnt
        for _ in range(cnt):
            k = r.bytes_().decode("utf-8")
            meta[k] = r.bytes_()
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec == "zstandard":
        codec = "zstd"              # the Avro spec name; java/python
        # writers emit "zstandard", some tools abbreviate "zstd"
    if codec not in ("null", "deflate", "snappy", "zstd",
                     "bzip2", "xz"):
        raise UnsupportedMediaError(f"Avro codec {codec!r} unsupported")
    schema = json.loads(meta["avro.schema"])
    sync = r.raw(16)
    return schema, codec, r, sync


def iter_avro_records(b: bytes):
    """Yield (schema_dict, record_dict) pairs, one per decoded record,
    from one Avro object-container file (the schema is repeated on
    every yield so callers can consume it without a separate header
    pass; use :func:`parse_avro_header` for schema-only access)."""
    schema, codec, r, sync = parse_avro_header(b)
    cap = BLOCK_DECODE_CAP
    while r.i < len(b):
        n_rec = r.long()
        size = r.long()
        block = r.raw(size)
        if codec in _STDLIB_CODECS:
            d = _STDLIB_CODECS[codec]()
            block = read_capped(lambda n: d.decompress(block, n), cap, codec)
            if not d.eof:
                raise UnsupportedMediaError(f"{codec}: truncated Avro block")
        elif codec == "snappy":
            # spec: raw-snappy block + 4-byte BIG-endian CRC32 of the
            # UNCOMPRESSED data (operators/snappy.py)
            from datapump_spark.operators.snappy import snappy_decompress
            if len(block) < 4:
                raise ValueError("truncated snappy Avro block")
            crc = int.from_bytes(block[-4:], "big")
            block = snappy_decompress(block[:-4], max_output=cap)
            if zlib.crc32(block) & 0xFFFFFFFF != crc:
                raise ValueError("snappy Avro block CRC32 mismatch")
        elif codec == "zstd":
            # spec: each block is one zstd frame, no extra CRC (the
            # frame's own checksum applies when present) —
            # operators/zstd.py, pyarrow's bundled libzstd
            from datapump_spark.operators.zstd import decode_zstd
            block = decode_zstd(block, max_output=cap)
        if r.raw(16) != sync:
            raise ValueError("Avro sync marker mismatch")
        br = _Reader(block)
        for _ in range(n_rec):
            yield schema, _decode_datum(br, schema)


_SPARK_TYPES = {"boolean": "boolean", "int": "int", "long": "long",
                "float": "float", "double": "double", "bytes": "binary",
                "string": "string", "null": "string"}


def _spark_type(node) -> str:
    if isinstance(node, list):
        branches = [x for x in node if x != "null"]
        if len(branches) != 1:
            raise ValueError("only ['null', T] unions are supported")
        return _spark_type(branches[0])
    if isinstance(node, dict):
        typ = node["type"]
        if typ == "record":
            inner = ", ".join(f"`{f['name']}`: {_spark_type(f['type'])}"
                              for f in node["fields"])
            return f"struct<{inner}>"
        if typ == "array":
            return f"array<{_spark_type(node['items'])}>"
        if typ == "map":
            return f"map<string, {_spark_type(node['values'])}>"
        if typ == "enum":
            return "string"
        if typ == "fixed":
            return "binary"
        return _spark_type(typ)
    return _SPARK_TYPES[node]


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Typed read of Avro container files under ``path`` — schema from
    the first file's embedded metadata (files must agree, the standard
    directory contract); one output row per record."""
    import pandas as pd

    first = spark.read.format("binaryFile").load(path) \
        .select("content").limit(1).collect()
    if not first:
        raise ValueError(f"no Avro files under {path}")
    # schema from the file METADATA (not the first record) so a valid
    # zero-record container reads as an empty DataFrame (ADVICE r9)
    schema_json, _, _, _ = parse_avro_header(bytes(first[0]["content"]))
    if schema_json.get("type") != "record":
        raise ValueError("top-level Avro schema must be a record")
    fields = schema_json["fields"]
    ddl = ", ".join(f"`{f['name']}` {_spark_type(f['type'])}"
                    for f in fields)
    names = [f["name"] for f in fields]

    def kernel(batches):
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                for _, rec in iter_avro_records(bytes(content)):
                    rows.append([rec.get(n) for n in names])
            yield pd.DataFrame(rows, columns=names)

    raw = spark.read.format("binaryFile").load(path)
    return raw.select("content").mapInPandas(kernel, ddl)


# --------------------------------------------------------------------------
# Writer twin
# --------------------------------------------------------------------------

def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        byte = u & 0x7F
        u >>= 7
        if u:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def _encode_datum(out: bytearray, schema, val):
    if isinstance(schema, list):
        if val is None and "null" in schema:
            out += _zigzag(schema.index("null"))
            return
        branch = next(i for i, s in enumerate(schema) if s != "null")
        out += _zigzag(branch)
        _encode_datum(out, schema[branch], val)
        return
    if isinstance(schema, dict):
        typ = schema["type"]
        if typ == "record":
            for f in schema["fields"]:
                _encode_datum(out, f["type"], val[f["name"]])
            return
        if typ == "array":
            if val:
                out += _zigzag(len(val))
                for v in val:
                    _encode_datum(out, schema["items"], v)
            out += _zigzag(0)
            return
        if typ == "map":
            if val:
                out += _zigzag(len(val))
                for k, v in val.items():
                    kb = k.encode("utf-8")
                    out += _zigzag(len(kb)) + kb
                    _encode_datum(out, schema["values"], v)
            out += _zigzag(0)
            return
        if typ == "enum":
            out += _zigzag(schema["symbols"].index(val))
            return
        if typ == "fixed":
            out += val
            return
        _encode_datum(out, typ, val)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out += b"\x01" if val else b"\x00"
    elif schema in ("int", "long"):
        out += _zigzag(int(val))
    elif schema == "float":
        out += struct.pack("<f", val)
    elif schema == "double":
        out += struct.pack("<d", val)
    elif schema == "bytes":
        out += _zigzag(len(val)) + bytes(val)
    elif schema == "string":
        vb = str(val).encode("utf-8")
        out += _zigzag(len(vb)) + vb
    else:
        raise ValueError(f"unsupported Avro schema node: {schema!r}")


def encode_avro(schema: dict, records, codec: str = "null") -> bytes:
    """Encode record dicts as one Avro object container — fixture/sink
    twin of read_avro. Deterministic sync marker (fixtures diff
    cleanly)."""
    if codec not in ("null", "deflate", "snappy", "zstd",
                     "bzip2", "xz"):
        raise ValueError(
            "codec must be null, deflate, snappy, zstd, bzip2 or xz")
    body = bytearray()
    n = 0
    for rec in records:
        _encode_datum(body, schema, rec)
        n += 1
    block = bytes(body)
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        block = co.compress(block) + co.flush()
    elif codec == "snappy":
        from datapump_spark.operators.snappy import snappy_compress
        block = snappy_compress(block) \
            + (zlib.crc32(block) & 0xFFFFFFFF).to_bytes(4, "big")
    elif codec == "zstd":
        from datapump_spark.operators.zstd import encode_zstd
        block = encode_zstd(block)
    elif codec == "bzip2":
        block = bz2.compress(block)
    elif codec == "xz":
        block = lzma.compress(block, format=lzma.FORMAT_XZ)
    sync = bytes(range(16))
    wire_codec = "zstandard" if codec == "zstd" else codec
    meta = {"avro.schema": json.dumps(schema).encode(),
            "avro.codec": wire_codec.encode()}
    out = bytearray(_MAGIC)
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    if n:
        out += _zigzag(n) + _zigzag(len(block)) + block + sync
    return bytes(out)
