"""LZ4 gates (operators/lz4.py): frames decode through the liblz4
pyarrow bundles, legacy frames through the pure-Python block decoder.

Foreign liblz4 blocks (``lz4_raw``) and frames (``lz4``) decode
byte-exactly, and liblz4 reads the writer twin's frames. The frame
features liblz4's default path doesn't emit — linked blocks, block
checksums, skippable frames, stored blocks — ride on hand-authored
frames that liblz4's one-shot API must also accept, and every refusal
(checksum mismatches, content size, truncation, trailing bytes, bombs)
is an UnsupportedMediaError naming lz4.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.operators.lz4 import (
    decode_lz4_block,
    decode_lz4_frame,
    encode_lz4_frame,
)

_RAW = pa.Codec("lz4_raw")
_FRAME = pa.Codec("lz4")


def _corpora() -> list[bytes]:
    rnd = random.Random(1234)
    return [
        b"",
        b"a",
        b"abcd",
        b"ab" * 40000,  # long match, length extension bytes
        bytes(rnd.randrange(256) for _ in range(6000)),  # incompressible
        (b"the quick brown fox jumps over the lazy dog " * 300)[:9999],
        bytes(rnd.randrange(3) for _ in range(120000)),  # dense overlaps
        b"\x00" * 70000,  # RLE-like, 64 KB frame-block boundary
    ]


# ---------------------------------------------------------------------------
# Conformance, both directions, both formats
# ---------------------------------------------------------------------------


_LEGACY = (0x184C2102).to_bytes(4, "little")


def _legacy_frame(blocks: list[bytes]) -> bytes:
    return _LEGACY + b"".join(len(b).to_bytes(4, "little") + b
                              for b in blocks)


@pytest.mark.parametrize("idx", range(8))
def test_block_conformance_both_directions(idx):
    """liblz4 blocks decode on their own and framed as a legacy frame
    (one block per 8 MiB of plaintext)."""
    data = _corpora()[idx]
    foreign = _RAW.compress(data, asbytes=True)
    assert decode_lz4_block(foreign) == data
    assert decode_lz4_frame(_legacy_frame([foreign])) == data


@pytest.mark.parametrize("idx", range(8))
def test_frame_conformance_both_directions(idx):
    data = _corpora()[idx]
    foreign = _FRAME.compress(data, asbytes=True)
    assert decode_lz4_frame(foreign) == data
    ours = encode_lz4_frame(data)
    assert _FRAME.decompress(ours, len(data), asbytes=True) == data
    assert decode_lz4_frame(ours) == data


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=3000),
       st.sampled_from([b"", b"lz4lz4", b"\x00\x01\x02\x03" * 64]))
def test_property_round_trip_vs_reference(data, salt):
    """Hypothesis sweep: liblz4 must accept the writer twin's frames
    byte-exactly AND our decode must accept liblz4 output (block +
    frame)."""
    blob = salt + data + salt
    assert decode_lz4_block(_RAW.compress(blob, asbytes=True)) == blob
    assert decode_lz4_frame(_FRAME.compress(blob, asbytes=True)) == blob
    assert _FRAME.decompress(encode_lz4_frame(blob), len(blob),
                             asbytes=True) == blob


# ---------------------------------------------------------------------------
# Frame features liblz4's default path doesn't emit
# ---------------------------------------------------------------------------


# The header checksum byte, (XXH32(descriptor) >> 8) & 0xFF, of each
# descriptor these tests author; liblz4 accepting the frames below
# confirms every value.
_HC = {b"\x40\x40": 0xC0, b"\x50\x40": 0xC0, b"\x44\x40": 0x5E,
       b"\x61\x40\x2a\x00\x00\x00": 0x81,
       b"\x68\x40" + (99).to_bytes(8, "little"): 0x38}


def _manual_frame(desc: bytes, blocks: list[bytes | tuple[bytes, bool]],
                  block_sum: bytes = b"", content_sum: bytes = b"") -> bytes:
    """Hand-author a frame: blocks are data or (data, stored?) pairs;
    ``block_sum`` follows every block, ``content_sum`` the EndMark
    (both XXH32, little-endian)."""
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    out += desc
    out.append(_HC[desc])
    for blk in blocks:
        data, stored = blk if isinstance(blk, tuple) else (blk, False)
        size = len(data) | (0x80000000 if stored else 0)
        out += size.to_bytes(4, "little")
        out += data + block_sum
    out += (0).to_bytes(4, "little")
    return bytes(out + content_sum)


def test_linked_blocks_cross_block_match():
    """B.Indep=0: block 2's match offsets reach into block 1's
    plaintext. liblz4 must agree with our decode."""
    plain1 = b"abcdefgh" * 10  # 80 bytes
    blk1 = _RAW.compress(plain1, asbytes=True)
    # block 2: zero literals then match len 20 at offset 80 (entirely
    # in block 1's history), then a 12-literal end sequence (the spec's
    # end-of-block margins, which liblz4's safe decoder enforces)
    tail = b"0123456789AB"
    blk2 = bytes([0x0F, 80, 0, 1, 0xC0]) + tail
    expect = plain1 + plain1[:20] + tail
    frame = _manual_frame(b"\x40\x40", [blk1, blk2])  # v01, linked
    assert decode_lz4_frame(frame) == expect
    assert _FRAME.decompress(frame, len(expect), asbytes=True) == expect


def test_block_checksums_and_stored_blocks():
    plain = b"stored block payload " * 50
    frame = _manual_frame(b"\x50\x40", [(plain, True)],
                          block_sum=(0xAE3D9930).to_bytes(4, "little"))
    assert decode_lz4_frame(frame) == plain
    assert _FRAME.decompress(frame, len(plain), asbytes=True) == plain
    # corrupt the block checksum (trails the block payload) -> refusal
    bad = (frame[:7 + 4 + len(plain)] + b"\xde\xad\xbe\xef"
           + frame[7 + 4 + len(plain) + 4:])
    with pytest.raises(UnsupportedMediaError, match="lz4: .*blockChecksum"):
        decode_lz4_frame(bad)


def test_content_checksum_and_mismatch():
    plain = b"content-checksummed" * 30
    blk = _RAW.compress(plain, asbytes=True)
    frame = _manual_frame(b"\x44\x40", [blk],
                          content_sum=(0x6F2C79D0).to_bytes(4, "little"))
    assert decode_lz4_frame(frame) == plain
    assert _FRAME.decompress(frame, len(plain), asbytes=True) == plain
    bad = frame[:-4] + b"\x00\x00\x00\x00"
    with pytest.raises(UnsupportedMediaError,
                       match="lz4: .*contentChecksum"):
        decode_lz4_frame(bad)


def test_skippable_frame_and_concatenation():
    a, b = b"first frame " * 20, b"second frame " * 20
    skip = (0x184D2A5F).to_bytes(4, "little") + (6).to_bytes(
        4, "little") + b"IGNORE"
    blob = encode_lz4_frame(a) + skip + encode_lz4_frame(b)
    assert decode_lz4_frame(blob) == a + b


_LZ4_CLI = __import__("shutil").which("lz4")


@pytest.mark.skipif(_LZ4_CLI is None, reason="lz4 CLI not present")
def test_legacy_frame_conformance(tmp_path):
    """``lz4 -l`` (legacy frame, the old-kernel format) — foreign CLI
    bytes decode byte-exactly, including multi-block (>8 MiB) inputs."""
    import subprocess

    payload = (b"legacy frame payload " * 500000)[:9 << 20]  # 2 blocks
    src = tmp_path / "p.bin"
    src.write_bytes(payload)
    out = tmp_path / "p.lz4"
    subprocess.run([_LZ4_CLI, "-q", "-l", str(src), str(out)], check=True)
    data = out.read_bytes()
    assert data[:4] == (0x184C2102).to_bytes(4, "little")
    assert decode_lz4_frame(data) == payload


def test_refusals():
    with pytest.raises(UnsupportedMediaError, match="lz4: .*frameType"):
        decode_lz4_frame(b"NOTLZ4XX")
    # dictionary flag set (DictID 42) and a match reaching before the
    # output start, into the dictionary this decoder does not have
    frame = _manual_frame(b"\x61\x40\x2a\x00\x00\x00",
                          [bytes([0x00, 0x05, 0x00, 0x50]) + b"abcde"])
    with pytest.raises(UnsupportedMediaError, match="lz4: .*Failed"):
        decode_lz4_frame(frame)
    # corrupted header checksum (the writer twin writes no content
    # size, so the checksum byte follows FLG and BD)
    good = encode_lz4_frame(b"x" * 100)
    bad = good[:6] + bytes([good[6] ^ 0xFF]) + good[7:]
    with pytest.raises(UnsupportedMediaError, match="lz4: .*headerChecksum"):
        decode_lz4_frame(bad)
    # content size mismatch: 99 declared, 100 stored
    frame = _manual_frame(b"\x68\x40" + (99).to_bytes(8, "little"),
                          [(b"y" * 100, True)])
    with pytest.raises(UnsupportedMediaError, match="lz4: .*frameSize"):
        decode_lz4_frame(frame)


def test_decode_cap_bomb_guard():
    bomb = encode_lz4_frame(b"\x00" * 500000)
    with pytest.raises(UnsupportedMediaError, match="cap"):
        decode_lz4_frame(bomb, max_output=10000)
    block = _RAW.compress(b"\x00" * 500000, asbytes=True)
    with pytest.raises(UnsupportedMediaError, match="cap"):
        decode_lz4_block(block, max_output=10000)
    with pytest.raises(UnsupportedMediaError, match="cap"):
        decode_lz4_frame(_legacy_frame([block]), max_output=10000)


def test_refusals_name_lz4_through_both_entry_points():
    """Output over the cap, a truncated stream, trailing garbage and
    hostile block sizes (a frame block or a legacy block declaring
    ~2 GiB / ~4 GiB after a few input bytes, refused without allocating
    them) raise UnsupportedMediaError naming lz4 from decode_lz4_frame
    and from the corpus dispatch, which sniffs both frame magics."""
    from datapump_spark.sources.archives import _sniff_archive
    from datapump_spark.sources.jsonl import decompress_auto

    big = encode_lz4_frame(b"q" * 100_000)
    hostile = big[:7] + (0x7FFFFFFF).to_bytes(4, "little") + big[11:]
    cases = [(big, 1000, "cap"), (big[:-3], None, "Truncated"),
             (big + b"garbage!", None, "frameType"),
             (hostile, None, "maxBlockSize")]
    for payload, cap, cause in cases:
        with pytest.raises(UnsupportedMediaError, match=f"lz4: .*{cause}"):
            decode_lz4_frame(payload, max_output=cap or 1 << 31)
        with pytest.raises(UnsupportedMediaError, match=f"lz4: .*{cause}"):
            decompress_auto("c.jsonl.lz4", payload, max_bytes=cap or 1 << 28)
    legacy = _LEGACY + (0xFFFFFFF0).to_bytes(4, "little") + b"abc"
    with pytest.raises(UnsupportedMediaError, match="lz4: truncated legacy"):
        decode_lz4_frame(legacy)
    with pytest.raises(UnsupportedMediaError, match="lz4: truncated legacy"):
        decompress_auto("c.jsonl.lz4", legacy)
    block = _RAW.compress(b'{"a": 1}\n' * 50, asbytes=True)
    assert decompress_auto("c.jsonl.lz4", _legacy_frame([block])) == \
        b'{"a": 1}\n' * 50
    assert _sniff_archive(_legacy_frame([block])) == "tar+lz4"
