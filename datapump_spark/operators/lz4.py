"""LZ4 frames through the liblz4 that pyarrow bundles: ``.jsonl.lz4``
corpora and ``.tar.lz4`` archives.

:func:`decode_lz4_frame` reads concatenated and skippable frames with
liblz4, which checks the header, block and content checksums and the
content size; every failure raises UnsupportedMediaError (see
:func:`~datapump_spark.operators.codecs.decode_arrow`). Legacy frames
(magic ``0x184C2102``, ``lz4 -l`` and old kernels), which liblz4's frame
API rejects, decode block by block with :func:`decode_lz4_block`: pyarrow's
``lz4_raw`` needs the decoded size up front and the legacy format does
not record it. :func:`encode_lz4_frame` is the writer twin.

Reference parity note: the reference (datapump.py) has no compressed
container surface; charter extension.
"""

from __future__ import annotations

from datapump_spark.operators.codecs import UnsupportedMediaError, decode_arrow

_MAGIC_FRAME = 0x184D2204
_MAGIC_LEGACY = 0x184C2102
_LEGACY_BLOCK = 8 << 20   # a legacy block's plaintext size limit


def decode_lz4_block(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode one LZ4 block (token, literals, offset, match); more than
    ``max_output`` bytes of output raise before they are written."""
    buf = bytearray()
    n = len(data)
    i = 0
    while i < n:
        token = data[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if i >= n:
                    raise UnsupportedMediaError(
                        "lz4: truncated literal length")
                b = data[i]
                i += 1
                lit += b
                if b != 255:
                    break
        if i + lit > n:
            raise UnsupportedMediaError("lz4: literals overrun block")
        if len(buf) + lit > max_output:
            raise UnsupportedMediaError("lz4: output exceeds decode cap")
        buf += data[i:i + lit]
        i += lit
        if i >= n:
            break  # last sequence is literals-only
        if i + 2 > n:
            raise UnsupportedMediaError("lz4: truncated match offset")
        offset = data[i] | (data[i + 1] << 8)
        i += 2
        if offset == 0 or offset > len(buf):
            raise UnsupportedMediaError("lz4: invalid match offset")
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if i >= n:
                    raise UnsupportedMediaError(
                        "lz4: truncated match length")
                b = data[i]
                i += 1
                mlen += b
                if b != 255:
                    break
        if len(buf) + mlen > max_output:
            raise UnsupportedMediaError("lz4: output exceeds decode cap")
        start = len(buf) - offset
        if offset >= mlen:
            buf += buf[start:start + mlen]
        else:  # overlapping: the last offset bytes repeat
            buf += (buf[start:] * (mlen // offset + 1))[:mlen]
    return bytes(buf)


def decode_lz4_frame(data: bytes, max_output: int = 1 << 31) -> bytes:
    """Decode a sequence of LZ4 frames, at most ``max_output`` bytes."""
    if int.from_bytes(data[:4], "little") != _MAGIC_LEGACY:
        return decode_arrow("lz4", data, max_output)
    # legacy frame: [u32 csize, block] entries, ended by EOF or the
    # magic of a next frame
    out = bytearray()
    i = 4
    while i + 4 <= len(data):
        csize = int.from_bytes(data[i:i + 4], "little")
        if csize in (_MAGIC_FRAME, _MAGIC_LEGACY) \
                or (csize & 0xFFFFFFF0) == 0x184D2A50:
            break
        i += 4
        if i + csize > len(data):
            raise UnsupportedMediaError("lz4: truncated legacy block")
        out += decode_lz4_block(
            data[i:i + csize], min(_LEGACY_BLOCK, max_output - len(out)))
        i += csize
    rest = data[i:]
    return bytes(out) + (decode_lz4_frame(rest, max_output - len(out))
                         if rest else b"")


def encode_lz4_frame(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.compress(data, codec="lz4", asbytes=True)
