"""Avro object-container gates (sources/avro.py, round 9): zigzag
varints, sync framing, both codecs, the full schema surface (unions,
arrays, maps, enums, fixed, nested records), typed Spark read, honest
seams."""

from __future__ import annotations

import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.sources.avro import (
    encode_avro,
    iter_avro_records,
    read_avro,
)

SCHEMA = {"type": "record", "name": "T", "fields": [
    {"name": "id", "type": "long"},
    {"name": "name", "type": ["null", "string"]},
    {"name": "score", "type": "double"},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "counts", "type": {"type": "map", "values": "long"}},
    {"name": "kind", "type": {"type": "enum", "name": "K",
                              "symbols": ["x", "y"]}},
    {"name": "nested", "type": {"type": "record", "name": "N",
                                "fields": [{"name": "v", "type": "int"}]}},
]}
RECS = [
    {"id": -5, "name": None, "score": 1.25, "tags": ["a", "b"],
     "counts": {"k": 9}, "kind": "y", "nested": {"v": 42}},
    {"id": 2 ** 40, "name": "hé", "score": -0.5, "tags": [],
     "counts": {}, "kind": "x", "nested": {"v": -1}},
]


def test_roundtrip_both_codecs():
    for codec in ("null", "deflate"):
        out = [r for _, r in iter_avro_records(
            encode_avro(SCHEMA, RECS, codec))]
        assert out == RECS, codec


def test_honest_seams():
    b = bytearray(encode_avro(SCHEMA, RECS, "null"))
    with pytest.raises(ValueError, match="not an Avro"):
        list(iter_avro_records(b"PAR1" + bytes(b)[4:]))
    # unsupported codec name in the metadata map (zstd DECODES as of
    # r11 — 'lzma' is not an Avro codec name)
    at = b.index(b"null", b.index(b"avro.codec"))
    b[at:at + 4] = b"lzma"
    with pytest.raises(UnsupportedMediaError, match="lzma"):
        list(iter_avro_records(bytes(b)))
    # corrupted sync marker
    b2 = bytearray(encode_avro(SCHEMA, RECS, "null"))
    b2[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync"):
        list(iter_avro_records(bytes(b2)))


def test_read_avro_typed(spark, tmp_path):
    d = tmp_path / "avro"
    d.mkdir()
    (d / "a.avro").write_bytes(encode_avro(SCHEMA, RECS[:1], "null"))
    (d / "b.avro").write_bytes(encode_avro(SCHEMA, RECS[1:], "deflate"))
    df = read_avro(spark, str(d))
    assert dict(df.dtypes)["nested"] == "struct<v:int>"
    assert dict(df.dtypes)["tags"] == "array<string>"
    rows = {r["id"]: r for r in df.collect()}
    assert rows[-5]["name"] is None and rows[-5]["kind"] == "y"
    assert rows[-5]["nested"]["v"] == 42
    assert rows[2 ** 40]["name"] == "hé"
    assert rows[2 ** 40]["counts"] == {}
    with pytest.raises(Exception):      # missing path: Spark analysis
        read_avro(spark, str(tmp_path / "empty_missing"))


def test_empty_container_reads_as_empty_dataframe(spark, tmp_path):
    """ADVICE r9: the schema lives in the file METADATA map, so a
    valid zero-record container is an empty typed DataFrame, not an
    'empty Avro container' error."""
    d = tmp_path / "avro"
    d.mkdir()
    (d / "empty.avro").write_bytes(encode_avro(SCHEMA, [], "null"))
    df = read_avro(spark, str(d))
    assert df.count() == 0
    assert df.columns == [f["name"] for f in SCHEMA["fields"]]


def test_parse_avro_header_schema_only():
    from datapump_spark.sources.avro import parse_avro_header
    for codec in ("null", "deflate"):
        schema, got_codec, _, _ = parse_avro_header(
            encode_avro(SCHEMA, [], codec))
        assert schema == SCHEMA and got_codec == codec


def test_snappy_codec_round_trip_and_crc():
    """r10: avro.codec snappy via the pure-Python raw codec — round
    trip both directions, CRC32 verified, corruption caught."""
    import zlib

    b = encode_avro(SCHEMA, RECS, "snappy")
    assert b"snappy" in b
    assert [r for _, r in iter_avro_records(b)] == RECS
    # corrupt one compressed byte after the header: CRC or framing
    bad = bytearray(b)
    at = bad.index(bytes(range(16))) + 16 + 4   # into the block body
    bad[at] ^= 0x55
    with pytest.raises(ValueError):
        list(iter_avro_records(bytes(bad)))


def test_bzip2_and_xz_codecs_round_trip():
    """r11: the remaining Avro 1.11 spec codecs — bzip2 and xz decode
    through the stdlib reference implementations (bz2/lzma), so every
    named codec is now readable; corrupt blocks fail loudly."""
    import bz2
    import lzma
    import zlib

    for codec in ("bzip2", "xz"):
        b = encode_avro(SCHEMA, RECS, codec)
        assert [r for _, r in iter_avro_records(b)] == RECS, codec
    # a block hand-compressed by the stdlib reference (not our writer)
    # decodes: re-frame a null container's block
    from datapump_spark.sources.avro import _zigzag, parse_avro_header
    null_file = encode_avro(SCHEMA, RECS, "null")
    _, _, r, sync = parse_avro_header(null_file)
    n, size = r.long(), r.long()
    raw = r.raw(size)
    co = zlib.compressobj(wbits=-15)
    for codec, comp in (("bzip2", bz2.compress(raw)),
                        ("xz", lzma.compress(raw)),
                        ("deflate", co.compress(raw) + co.flush())):
        base = encode_avro(SCHEMA, RECS, codec)
        hdr = base[:base.index(bytes(range(16))) + 16]
        foreign = hdr + _zigzag(n) + _zigzag(len(comp)) + comp + sync
        assert [rec for _, rec in iter_avro_records(foreign)] == RECS
        # a block cut short is refused, not decoded in part
        cut = hdr + _zigzag(n) + _zigzag(len(comp) - 2) + comp[:-2] + sync
        with pytest.raises(UnsupportedMediaError, match=f"{codec}: truncated"):
            list(iter_avro_records(cut))
    # corrupt xz payload raises
    b = bytearray(encode_avro(SCHEMA, RECS, "xz"))
    b[-20] ^= 0xFF
    with pytest.raises(Exception):
        list(iter_avro_records(bytes(b)))


@pytest.mark.parametrize("codec", ["deflate", "bzip2", "xz", "zstd", "snappy"])
def test_block_decode_cap_names_the_codec(monkeypatch, codec):
    """Every codec decodes a block under ``BLOCK_DECODE_CAP`` and refuses
    one past it (a decompression bomb) with an error naming the codec."""
    from datapump_spark.sources import avro

    b = encode_avro(SCHEMA, RECS * 50, codec)
    monkeypatch.setattr(avro, "BLOCK_DECODE_CAP", 1 << 20)
    assert [r for _, r in iter_avro_records(b)] == RECS * 50
    monkeypatch.setattr(avro, "BLOCK_DECODE_CAP", 100)
    with pytest.raises(UnsupportedMediaError, match=f"{codec}: .*cap"):
        list(iter_avro_records(b))
