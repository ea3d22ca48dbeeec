"""Zstandard (RFC 8878) through the libzstd that pyarrow bundles: the
Avro ``avro.codec: zstd`` blocks, ``.jsonl.zst`` corpora, ``.tar.zst``
archives and 7z zstd folders all decode here.

:func:`decode_zstd` reads concatenated and skippable frames and checks
each frame's content size and checksum; a frame that needs a dictionary
is refused, as is every other failure, with UnsupportedMediaError (see
:func:`~datapump_spark.operators.codecs.decode_arrow`).
:func:`encode_zstd` is the writer twin (libzstd's default level).

Reference parity note: the reference (datapump.py) has no compressed
container surface; charter extension.
"""

from __future__ import annotations

from datapump_spark.operators.codecs import decode_arrow


def decode_zstd(data: bytes, max_output: int | None = None) -> bytes:
    """Decode a (possibly multi-frame) zstd payload; ``max_output`` is
    the decompression-bomb cap (None: no cap)."""
    return decode_arrow("zstd", data, max_output)


def encode_zstd(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.compress(data, codec="zstd", asbytes=True)
