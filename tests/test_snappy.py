"""Raw snappy gates (operators/snappy.py, decoded by the libsnappy
pyarrow bundles): round trips, the spec's element grammar on
hand-built foreign-style streams (overlapping RLE copies,
32-bit-offset copies, multi-byte literal lengths), and refusals, each
an UnsupportedMediaError naming snappy."""

from __future__ import annotations

import pytest

from datapump_spark.operators.codecs import UnsupportedMediaError
from datapump_spark.operators.snappy import (
    snappy_compress,
    snappy_decompress,
)


def test_round_trips():
    import random
    rng = random.Random(5)
    cases = [b"", b"a", b"ab" * 3000, bytes(range(256)) * 40,
             b"the quick brown fox " * 200,
             bytes(rng.randbytes(10000)),
             b"\x00" * 70000]
    for payload in cases:
        enc = snappy_compress(payload)
        assert snappy_decompress(enc) == payload
    # compressible input actually compresses (64-byte copy pieces:
    # ~3 bytes per 64 output bytes, the real snappy shape)
    assert len(snappy_compress(b"ab" * 3000)) < 400
    assert len(snappy_compress(b"\x00" * 70000)) < 4000


def test_hand_built_foreign_streams():
    # overlapping copy (offset 1, length 8): RLE replication
    s = bytes([9]) + bytes([0 << 2]) + b"x" + bytes([1 | (4 << 2)]) + b"\x01"
    assert snappy_decompress(s) == b"x" * 9
    # 16-bit-offset copy
    body = bytes([2 | (3 << 2)]) + (4).to_bytes(2, "little")
    s = bytes([8]) + bytes([3 << 2]) + b"abcd" + body
    assert snappy_decompress(s) == b"abcdabcd"
    # 32-bit-offset copy (rare: greedy encoders emit 16-bit here)
    body = bytes([3 | (3 << 2)]) + (4).to_bytes(4, "little")
    s = bytes([8]) + bytes([3 << 2]) + b"wxyz" + body
    assert snappy_decompress(s) == b"wxyzwxyz"
    # multi-byte literal length (61 -> one extra length byte)
    lit = bytes(range(61))
    s = bytes([61]) + bytes([60 << 2, 60]) + lit
    assert snappy_decompress(s) == lit


def test_honest_failures():
    with pytest.raises(UnsupportedMediaError, match="snappy: .*varint"):
        snappy_decompress(b"")
    # libsnappy reports every malformed stream as "Corrupt"
    with pytest.raises(UnsupportedMediaError, match="snappy: Corrupt"):
        # declared length 5, one byte decoded
        snappy_decompress(bytes([5]) + bytes([0 << 2]) + b"x")
    with pytest.raises(UnsupportedMediaError, match="snappy: Corrupt"):
        # copy reaching before the output start
        snappy_decompress(bytes([5]) + bytes([0 << 2]) + b"x"
                          + bytes([1 | (0 << 2)]) + b"\x05")
    with pytest.raises(UnsupportedMediaError, match="snappy: Corrupt"):
        # truncated literal
        snappy_decompress(bytes([10]) + bytes([9 << 2]) + b"ab")


def test_refusals_name_snappy_through_both_entry_points():
    """Output over the cap, a truncated stream, trailing garbage and a
    hostile length preamble (4 GiB declared by 3 input bytes, refused
    without allocating it) raise UnsupportedMediaError naming snappy
    from snappy_decompress and from the corpus dispatch (raw snappy is
    dispatched on the ``.snappy`` extension)."""
    from datapump_spark.sources.jsonl import decompress_auto

    big = snappy_compress(b"s" * 100_000)
    cases = [(big, 1000, "cap"), (big[:-3], None, "Corrupt"),
             (big + b"garbage!", None, "Corrupt"),
             (b"\xff\xff\xff\xff\x0fabc", None, "declared length")]
    for payload, cap, cause in cases:
        with pytest.raises(UnsupportedMediaError,
                           match=f"snappy: .*{cause}"):
            snappy_decompress(payload, max_output=cap)
        with pytest.raises(UnsupportedMediaError,
                           match=f"snappy: .*{cause}"):
            decompress_auto("c.jsonl.snappy", payload,
                            max_bytes=cap or 1 << 28)
    assert decompress_auto("c.jsonl.snappy", big) == b"s" * 100_000


def test_conformance_vs_libsnappy():
    """pyarrow bundles reference libsnappy: its output decodes, and its
    one-shot API reads the writer twin's output."""
    import random

    import pyarrow as pa

    lib = pa.Codec("snappy")
    rng = random.Random(7)
    words = [bytes(rng.getrandbits(8) for _ in range(rng.randint(1, 8)))
             for _ in range(30)]
    cases = [b"", b"x", b"snappy mutual check " * 300,
             bytes(range(256)) * 40, b"\x00" * 5000]
    cases += [b"".join(rng.choice(words) for _ in range(rng.randint(0, 300)))
              for _ in range(40)]
    for d in cases:
        assert snappy_decompress(lib.compress(d, asbytes=True)) == d
        assert lib.decompress(snappy_compress(d), len(d),
                              asbytes=True) == d
