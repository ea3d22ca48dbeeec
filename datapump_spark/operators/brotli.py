"""Brotli (RFC 7932) through the libbrotli that pyarrow bundles: the
``Content-Encoding: br`` bodies of the WARC crawl path
(``sources/http.py``) and ``.jsonl.br`` corpora.

:func:`decode_brotli` refuses an empty, truncated or corrupt stream,
trailing bytes and output over the cap with UnsupportedMediaError (see
:func:`~datapump_spark.operators.codecs.decode_arrow`).
:func:`encode_brotli` is the writer twin (libbrotli's default quality).

Reference parity note: the reference (datapump.py) has no crawl or
codec surface; charter extension.
"""

from __future__ import annotations

from datapump_spark.operators.codecs import UnsupportedMediaError, decode_arrow


def decode_brotli(data: bytes, max_output: int = 1 << 31) -> bytes:
    # a brotli stream is at least one byte; pyarrow reads b"" as empty
    if not data:
        raise UnsupportedMediaError("brotli: empty stream")
    return decode_arrow("brotli", data, max_output)


def encode_brotli(data: bytes) -> bytes:
    import pyarrow as pa

    return pa.compress(data, codec="brotli", asbytes=True)
