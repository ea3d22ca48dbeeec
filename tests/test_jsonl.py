"""JSONL source/sink: inference vs explicit schema, quarantine, round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.queries import JSONL_GLOB
from datapump_spark.sources.jsonl import (
    CORRUPT_COL,
    quarantine_split,
    read_jsonl,
    write_jsonl,
)

DDL = ("doc_id bigint, text string, lang string, source string, "
       "n_chars bigint, meta struct<crawl:string, quality:double>, "
       "tags array<string>")


def test_explicit_schema_matches_inference(spark):
    inferred = read_jsonl(spark, JSONL_GLOB)
    explicit = read_jsonl(spark, JSONL_GLOB, schema=DDL)
    assert inferred.count() == explicit.count() == 500
    a = {tuple(r) for r in inferred.select("doc_id", "lang", "n_chars").collect()}
    b = {tuple(r) for r in explicit.select("doc_id", "lang", "n_chars").collect()}
    assert a == b
    # sparse fields surface as nulls, not errors
    assert explicit.where(F.col("lang").isNull()).count() > 0
    assert explicit.where(F.col("meta").isNull()).count() > 0


def test_quarantine_split(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n'
                 'this is not json\n'
                 '{"doc_id": 2, "text": "also ok"}\n'
                 '{"doc_id": 3 "text": "missing comma"}\n')
    scan = read_jsonl(spark, str(p), schema="doc_id bigint, text string",
                      keep_corrupt=True)
    good, bad = quarantine_split(scan)
    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    quarantined = [r[CORRUPT_COL] for r in bad.collect()]
    assert sorted(quarantined) == ["this is not json",
                                   '{"doc_id": 3 "text": "missing comma"}']


def test_quarantine_split_survives_scope_release(spark, tmp_path):
    """The split stays readable after the cache scope is released (the
    next query build does that): the barrier is a checkpoint, which a
    release cannot undo."""
    from datapump_spark.cachescope import release_scope

    p = tmp_path / "one_bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n'
                 'this is not json\n'
                 '{"doc_id": 2, "text": "also ok"}\n')
    scan = read_jsonl(spark, str(p), schema="doc_id bigint, text string",
                      keep_corrupt=True)
    good, bad = quarantine_split(scan)
    release_scope(spark)
    assert good.count() == 2
    assert bad.count() == 1


def test_quarantine_requires_corrupt_scan(spark):
    df = read_jsonl(spark, JSONL_GLOB, schema=DDL)
    with pytest.raises(ValueError):
        quarantine_split(df)


def test_roundtrip(spark, tmp_path):
    src = read_jsonl(spark, JSONL_GLOB, schema=DDL)
    out = str(tmp_path / "out")
    write_jsonl(src.repartition(4), out, max_records_per_file=100)
    back = read_jsonl(spark, out, schema=DDL)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    assert ({tuple(r) for r in back.select(cols).collect()}
            == {tuple(r) for r in src.select(cols).collect()})
    # nested struct survives; null fields were elided on write, not corrupted
    q = {r.doc_id: r.quality
         for r in back.select("doc_id", F.col("meta.quality").alias("quality")).collect()}
    assert q[13] is None and isinstance(q[1], float)


# ---------------------------------------------------------------------------
# Compressed-corpus path (r12): per-file magic dispatch, 7 codecs
# ---------------------------------------------------------------------------


def _write_compressed_fixture(tmp_path, n_per=6):
    import bz2
    import gzip
    import json
    import lzma

    import pyarrow as pa

    codecs = (
        ("jsonl", lambda b: b),
        ("jsonl.gz", gzip.compress),
        ("jsonl.bz2", bz2.compress),
        ("jsonl.xz", lzma.compress),
        ("jsonl.lzma", lambda b: lzma.compress(
            b, format=lzma.FORMAT_ALONE)),
        ("jsonl.zst", lambda b: pa.Codec("zstd").compress(b, asbytes=True)),
        ("jsonl.lz4", lambda b: pa.Codec("lz4").compress(b, asbytes=True)),
        ("jsonl.br", lambda b: pa.Codec("brotli").compress(b, asbytes=True)),
    )
    expect = []
    for k, (ext, comp) in enumerate(codecs):
        lines = []
        for j in range(n_per):
            i = k * n_per + j
            expect.append((i, f"doc {i} via {ext}"))
            lines.append(json.dumps({"doc_id": i, "text": f"doc {i} via {ext}"}))
        (tmp_path / f"part{k}.{ext}").write_bytes(
            comp(("\n".join(lines) + "\n").encode()))
    return expect


def test_compressed_read_all_codecs(spark, tmp_path):
    from datapump_spark.sources.jsonl import read_jsonl_compressed

    expect = _write_compressed_fixture(tmp_path)
    df = read_jsonl_compressed(spark, str(tmp_path),
                               "doc_id bigint, text string")
    assert sorted(tuple(r) for r in df.collect()) == sorted(expect)


def test_compressed_keep_corrupt(spark, tmp_path):
    import gzip

    from datapump_spark.sources.jsonl import read_jsonl_compressed

    (tmp_path / "p.jsonl.gz").write_bytes(gzip.compress(
        b'{"doc_id": 1, "text": "ok"}\nnot json\n'))
    df = read_jsonl_compressed(spark, str(tmp_path),
                               "doc_id bigint, text string",
                               keep_corrupt=True)
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1][CORRUPT_COL] is None
    assert rows[None][CORRUPT_COL] == "not json"


def test_decompress_auto_refuses_unknown_binary():
    # pure-kernel test: the Spark path calls the same decompress_auto
    from datapump_spark.operators.codecs import UnsupportedMediaError
    from datapump_spark.sources.jsonl import decompress_auto

    with pytest.raises(UnsupportedMediaError,
                       match="unrecognized compression magic"):
        decompress_auto("mystery.jsonl.snap", b"\xff\xfe\x00\x01" * 10)


def test_decompress_auto_bomb_guards():
    # pure-kernel test covering every decoder's cap (the Spark path
    # threads max_bytes_per_file straight through)
    import bz2
    import gzip
    import lzma

    import pyarrow as pa

    from datapump_spark.operators.codecs import UnsupportedMediaError
    from datapump_spark.sources.jsonl import decompress_auto

    big = b'{"doc_id": 1}\n' * 20000
    cases = {
        "b.jsonl.gz": gzip.compress(big),
        "b.jsonl.bz2": bz2.compress(big),
        "b.jsonl.xz": lzma.compress(big),
        "b.jsonl.lzma": lzma.compress(big, format=lzma.FORMAT_ALONE),
        "b.jsonl.zst": pa.Codec("zstd").compress(big, asbytes=True),
        "b.jsonl.lz4": pa.Codec("lz4").compress(big, asbytes=True),
        "b.jsonl.br": pa.Codec("brotli").compress(big, asbytes=True),
    }
    for name, payload in cases.items():
        with pytest.raises(ValueError, match="cap|exceeds"):
            # UnsupportedMediaError subclasses it
            decompress_auto(name, payload, max_bytes=4096)
        assert decompress_auto(name, payload) == big
