"""Raw (unframed) snappy through the libsnappy that pyarrow bundles: the
Avro ``avro.codec: snappy`` blocks and ``.jsonl.snappy`` corpora.

A raw snappy buffer starts with its decoded length as a little-endian
varint. :func:`snappy_decompress` reads it first and refuses a length
past the cap or past the format's maximum expansion (a 3-byte copy
element writes at most 64 bytes), so no declared length sizes an
allocation; libsnappy then decodes into exactly that many bytes. Every
failure raises UnsupportedMediaError naming snappy.
:func:`snappy_compress` is the writer twin.

Reference parity note: the reference has no compression surface;
charter extension closing a COVERAGE.md format seam.
"""

from __future__ import annotations

from datapump_spark.operators.codecs import UnsupportedMediaError


def snappy_decompress(b: bytes, max_output: int | None = None) -> bytes:
    """Decompress one raw snappy buffer, at most ``max_output`` bytes
    (None: no cap)."""
    import pyarrow as pa

    n = shift = i = 0
    while True:
        if i >= len(b) or shift > 28:
            raise UnsupportedMediaError("snappy: bad length varint")
        n |= (b[i] & 0x7F) << shift
        shift += 7
        i += 1
        if not b[i - 1] & 0x80:
            break
    if n * 3 > (len(b) - i) * 64:
        raise UnsupportedMediaError(
            f"snappy: declared length {n} exceeds what {len(b) - i} "
            "input bytes can decode to")
    if max_output is not None and n > max_output:
        raise UnsupportedMediaError("snappy: output exceeds decode cap")
    try:
        return pa.Codec("snappy").decompress(b, decompressed_size=n,
                                             asbytes=True)
    except (OSError, pa.ArrowException) as exc:
        raise UnsupportedMediaError(f"snappy: {exc}") from exc


def snappy_compress(b: bytes) -> bytes:
    import pyarrow as pa

    return pa.compress(b, codec="snappy", asbytes=True)
