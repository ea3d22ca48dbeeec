"""Zstandard gates (operators/zstd.py — RFC 8878, decoded by the
libzstd pyarrow bundles): libzstd output at several levels over
several data shapes decodes byte-exactly, multi-frame and skippable
payloads read through, and every refusal (checksum, content size,
dictionary, truncation, trailing bytes, the decode cap, a hostile
content size) is an UnsupportedMediaError naming zstd.
"""

from __future__ import annotations

import random
import zlib

import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.operators.zstd import decode_zstd, encode_zstd


def _lib(level: int = 3):
    import pyarrow as pa
    return pa.Codec("zstd", compression_level=level)


def _datasets() -> dict[str, bytes]:
    rng = random.Random(11)
    return {
        "text": b"the quick brown fox jumps over the lazy dog. " * 800,
        "repetitive": b"ab" * 20000,
        "json": b'{"user": 12345, "event": "click"}\n' * 1200,
        "random": bytes(rng.getrandbits(8) for _ in range(20000)),
        "mixed": b"".join(
            b"A" * 100 + bytes(rng.getrandbits(8) for _ in range(50))
            for _ in range(150)),
        "short": b"hi",
        "empty": b"",
    }


def test_conformance_decode_libzstd_output():
    """Foreign bytes: libzstd-compressed corpora at fast/default/max
    levels must decode byte-exactly."""
    for level in (1, 3, 19):
        codec = _lib(level)
        for name, d in _datasets().items():
            comp = codec.compress(d, asbytes=True)
            assert decode_zstd(comp) == d, (level, name)


def test_conformance_libzstd_reads_our_frames():
    """The writer twin's frames are valid input to the reference
    decoder's one-shot API and to decode_zstd."""
    codec = _lib()
    for d in (b"", b"x", b"mutual " * 5000, bytes(range(256)) * 300):
        fr = encode_zstd(d)
        assert codec.decompress(fr, len(d), asbytes=True) == d
        assert decode_zstd(fr) == d              # and to ourselves


_MAGIC = (0xFD2FB528).to_bytes(4, "little")


def _raw_frame(payload: bytes, fcs: int, tail: bytes = b"") -> bytes:
    """A single-segment frame holding ``payload`` as one raw block,
    declaring an 8-byte content size ``fcs``; ``tail`` is the 4-byte
    content checksum (its flag is set when given)."""
    fhd = (3 << 6) | (1 << 5) | ((1 << 2) if tail else 0)
    return (_MAGIC + bytes([fhd]) + fcs.to_bytes(8, "little")
            + (1 | (len(payload) << 3)).to_bytes(3, "little") + payload
            + tail)


def test_twin_checksum_and_fcs_enforced():
    d = b"checksummed payload " * 50
    # a hand-built raw-block frame whose content checksum is wrong
    with pytest.raises(UnsupportedMediaError, match="zstd: .*checksum"):
        decode_zstd(_raw_frame(d, len(d), b"\xde\xad\xbe\xef"))
    assert decode_zstd(_raw_frame(d, len(d))) == d
    with pytest.raises(UnsupportedMediaError, match="zstd: "):
        decode_zstd(_raw_frame(d, len(d) + 1))   # content size mismatch


def test_multi_frame_and_skippable():
    d1, d2 = b"frame one " * 30, b"frame two " * 30
    skippable = (0x184D2A53).to_bytes(4, "little") \
        + (7).to_bytes(4, "little") + b"7 bytes"
    blob = encode_zstd(d1) + skippable + encode_zstd(d2)
    assert decode_zstd(blob) == d1 + d2
    lib = _lib()
    blob2 = lib.compress(d1, asbytes=True) + lib.compress(d2, asbytes=True)
    assert decode_zstd(blob2) == d1 + d2


def test_honest_seams():
    with pytest.raises(UnsupportedMediaError, match="zstd: .*frame"):
        decode_zstd(b"\x00\x01\x02\x03rest")
    with pytest.raises(UnsupportedMediaError, match="zstd: Truncated"):
        decode_zstd(encode_zstd(bytes(range(256)))[:20])
    # nonzero dictionary id refuses honestly: frame header with
    # did_code=1, single-segment, FCS code 0 -> 1-byte FCS
    fr = (_MAGIC
          + bytes([(1 << 5) | 1, 42, 0])          # FHD, DID=42, FCS=0
          + (1).to_bytes(3, "little"))            # empty last raw block
    with pytest.raises(UnsupportedMediaError, match="zstd: .*Dictionary"):
        decode_zstd(fr)
    # reserved block type 3
    fr = (_MAGIC + bytes([1 << 5, 0]) + (0b111).to_bytes(3, "little"))
    with pytest.raises(UnsupportedMediaError, match="zstd: .*corruption"):
        decode_zstd(fr)


def test_refusals_name_zstd_through_both_entry_points():
    """Output over the cap, a truncated stream, trailing garbage and a
    hostile content size (an exabyte declared by a 13-byte frame,
    refused without allocating it) raise UnsupportedMediaError naming
    zstd from decode_zstd and from the corpus dispatch."""
    from datapump_spark.sources.jsonl import decompress_auto

    big = encode_zstd(b"z" * 100_000)
    cases = [(big, 1000, "cap"), (big[:-3], None, "Truncated"),
             (big + b"garbage!", None, "frame descriptor"),
             (_raw_frame(b"x", 1 << 60), None, "too much memory")]
    for payload, cap, cause in cases:
        with pytest.raises(UnsupportedMediaError, match=f"zstd: .*{cause}"):
            decode_zstd(payload, max_output=cap)
        with pytest.raises(UnsupportedMediaError, match=f"zstd: .*{cause}"):
            decompress_auto("c.jsonl.zst", payload, max_bytes=cap or 1 << 28)


def test_rle_block_and_long_matches():
    """Shapes that force specific block/sequence forms through
    libzstd: an all-one-byte payload (RLE block), and a long periodic
    payload (long matches / repeat offsets)."""
    lib = _lib()
    ones = b"\x55" * 70000
    assert decode_zstd(lib.compress(ones, asbytes=True)) == ones
    period = (b"0123456789abcdef" * 64 + b"#") * 40
    assert decode_zstd(lib.compress(period, asbytes=True)) == period


def test_fuzz_round_trip_vs_libzstd():
    """128 random structured buffers x random levels — every one must
    decode byte-exactly (foreign-bytes fuzz, deterministic seed)."""
    rng = random.Random(8878)
    words = [bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 9)))
             for _ in range(40)]
    for trial in range(128):
        n = rng.randint(0, 400)
        d = b"".join(rng.choice(words) for _ in range(n))
        level = rng.choice((1, 3, 7, 12))
        comp = _lib(level).compress(d, asbytes=True)
        assert decode_zstd(comp) == d, trial


def test_avro_zstd_codec_round_trip():
    """Avro container with avro.codec=zstd: our writer twin's blocks
    decode; a container whose block libzstd compressed (foreign
    bytes inside the Avro framing) decodes too."""
    from datapump_spark.sources.avro import (_MAGIC, _zigzag, encode_avro,
                                             iter_avro_records,
                                             parse_avro_header)
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"}, {"name": "s", "type": "string"}]}
    recs = [{"k": i, "s": f"value {i % 7}"} for i in range(500)]
    b = encode_avro(schema, recs, codec="zstd")
    got = [r for _, r in iter_avro_records(b)]
    assert got == recs
    # re-frame the SAME records with a libzstd-compressed block
    null_file = encode_avro(schema, recs, codec="null")
    _, _, r, sync = parse_avro_header(null_file)
    n = r.long()
    size = r.long()
    raw_block = r.raw(size)
    comp = _lib().compress(raw_block, asbytes=True)
    header_end = b.index(bytes(range(16))) + 16   # deterministic sync
    foreign = (b[:header_end] + _zigzag(n) + _zigzag(len(comp))
               + comp + sync)
    got2 = [rec for _, rec in iter_avro_records(foreign)]
    assert got2 == recs


def test_avro_zstd_corrupt_block_raises():
    from datapump_spark.sources.avro import encode_avro, iter_avro_records
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"}]}
    b = bytearray(encode_avro(schema, [{"k": 1}, {"k": 2}], codec="zstd"))
    # flip a byte inside the zstd frame (after header+sync+2 varints)
    b[-20] ^= 0xFF
    with pytest.raises(ValueError):
        list(iter_avro_records(bytes(b)))


def test_read_avro_zstd_spark(spark, tmp_path):
    """read_avro over a zstd container lands typed rows in Spark."""
    from datapump_spark.sources.avro import encode_avro, read_avro
    schema = {"type": "record", "name": "R", "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": ["null", "double"]}]}
    recs = [{"k": i, "v": None if i % 5 == 0 else i / 4} for i in range(64)]
    (tmp_path / "z.avro").write_bytes(
        encode_avro(schema, recs, codec="zstd"))
    rows = {r["k"]: r["v"] for r in read_avro(
        spark, str(tmp_path)).collect()}
    assert rows[0] is None and rows[3] == 0.75 and len(rows) == 64


def test_zlib_crc_unused_guard():
    """The zstd Avro path must NOT expect snappy's CRC32 suffix —
    a frame followed by 4 junk bytes fails sync, not CRC."""
    assert zlib.crc32(b"") == 0                   # import used
    fr = encode_zstd(b"payload")
    assert decode_zstd(fr) == b"payload"


# ---------------------------------------------------------------------------
# Trained dictionaries (RFC 8878 §5): refused, naming the dictionary
# ---------------------------------------------------------------------------

_ZSTD_CLI = __import__("shutil").which("zstd")


@pytest.mark.skipif(_ZSTD_CLI is None, reason="zstd CLI not present")
def test_trained_dictionary_conformance(tmp_path):
    """Train a REAL dictionary with the reference zstd CLI and compress
    samples with -D at several levels: the CLI reads its own frames
    back with the dictionary, and decode_zstd, which has none, refuses
    every one with an UnsupportedMediaError naming the dictionary."""
    import random
    import subprocess

    rnd = random.Random(7)
    words = ["the", "quick", "brown", "fox", "spark", "engine",
             "corpus", "tokens", "shuffle", "partition", "broadcast"]
    samples = tmp_path / "samples"
    samples.mkdir()
    texts = {}
    for i in range(200):
        t = (" ".join(rnd.choice(words) for _ in range(150))
             + f" doc{i}").encode()
        (samples / f"s{i}.txt").write_bytes(t)
        texts[i] = t
    dict_path = tmp_path / "dict.bin"
    subprocess.run([_ZSTD_CLI, "--train", *map(str, samples.iterdir()),
                    "-o", str(dict_path)], check=True,
                   capture_output=True)
    for i, lv in ((0, 3), (17, 1), (42, 19), (99, 3)):
        z = tmp_path / f"s{i}.zst"
        subprocess.run([_ZSTD_CLI, "-q", f"-{lv}", "-D", str(dict_path),
                        str(samples / f"s{i}.txt"), "-o", str(z)],
                       check=True)
        back = subprocess.run([_ZSTD_CLI, "-q", "-d", "-c", "-D",
                               str(dict_path), str(z)], check=True,
                              capture_output=True).stdout
        assert back == texts[i]
        with pytest.raises(UnsupportedMediaError,
                           match="zstd: .*Dictionary"):
            decode_zstd(z.read_bytes())
