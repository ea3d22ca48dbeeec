"""HTTP response payload decoding for crawl archives (r12, VERDICT r11 #2).

A WARC ``response`` record stores the raw HTTP capture: status line +
headers + body, where the body may be ``Transfer-Encoding: chunked``
and/or ``Content-Encoding: gzip/deflate/br``. The previous crawl path
(sources/warc.read_warc_html) stripped headers then lenient-UTF-8ed the
raw body, so an encoded body became mojibake that the downstream
quality gate silently discarded — lost yield, not a flag. This module
decodes the wire layers for real and flags what it cannot decode:

- de-chunking per RFC 9112 §7.1 (size lines with extensions, trailer
  section tolerated, truncation is an error not a silent keep);
- ``gzip``/``x-gzip`` via zlib (multi-member, trailing junk tolerated
  after a complete member — both happen in real crawls);
- ``deflate`` both zlib-wrapped (the RFC meaning) and raw-DEFLATE (the
  infamous server bug — tried second);
- ``br`` via ``operators.brotli``, pyarrow's bundled reference
  libbrotli;
- chained encodings applied in reverse header order;
- charset from ``Content-Type`` honored when Python knows the codec
  (lenient, malformed bytes replaced), UTF-8 otherwise.

Spark shape: one Arrow ``mapInPandas`` kernel over the payload binary
column — byte-domain work (chunk framing, zlib) cannot be expressed in
Catalyst, but zlib/brotli do the heavy lifting in C/numpy per batch and
everything after the kernel (main-content extraction, quality gates)
stays JVM codegen. Undecodable bodies surface as ``http_error`` rows
for audit/quarantine instead of disappearing.

Reference parity note: the reference (datapump.py) has no crawl
surface; charter extension (SURVEY §7).
"""

from __future__ import annotations

import codecs
import re
import zlib

from pyspark.sql import DataFrame

HTTP_FIELDS = ("http_status int, content_type string, "
               "content_encoding string, http_body binary, "
               "http_error string")


def _dechunk(b: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding. Raises ValueError on
    malformed/truncated framing (callers flag, never silently keep)."""
    out = bytearray()
    pos = 0
    while True:
        eol = b.find(b"\n", pos)
        if eol == -1:
            raise ValueError("chunked: missing chunk-size line")
        line = b[pos:eol].strip().split(b";", 1)[0]
        try:
            size = int(line, 16)
        except ValueError:
            raise ValueError(f"chunked: bad chunk size {line[:16]!r}") \
                from None
        pos = eol + 1
        if size == 0:
            # optional trailer fields until a blank line; tolerate EOF
            return bytes(out)
        if pos + size > len(b):
            raise ValueError("chunked: truncated chunk data")
        out += b[pos:pos + size]
        pos += size
        if b[pos:pos + 2] == b"\r\n":
            pos += 2
        elif b[pos:pos + 1] == b"\n":
            pos += 1
        else:
            raise ValueError("chunked: missing chunk terminator")


# Decompression-bomb cap: crawls DO contain hostile bodies; a body
# that inflates past this flags as an error row instead of eating the
# executor (64 MiB decoded is far past any useful training document).
MAX_BODY = 64 << 20


def _gunzip_members(body: bytes) -> bytes:
    """Concatenated-member gzip; a complete member followed by trailing
    junk is accepted (crawler truncation artifacts), a truncated member
    is an error, inflation past MAX_BODY is an error (bomb guard)."""
    out = bytearray()
    while True:
        d = zlib.decompressobj(31)
        try:
            out += d.decompress(body, MAX_BODY + 1 - len(out))
            if d.unconsumed_tail:
                raise ValueError("gzip: body exceeds decode cap")
            out += d.flush()
        except zlib.error as ex:
            raise ValueError(f"gzip: {ex}") from None
        if len(out) > MAX_BODY:
            raise ValueError("gzip: body exceeds decode cap")
        if not d.eof:
            raise ValueError("gzip: truncated member")
        body = d.unused_data
        if body[:2] != b"\x1f\x8b":
            return bytes(out)


def _inflate(body: bytes) -> bytes:
    """Content-Encoding: deflate — zlib-wrapped per the RFC, raw
    DEFLATE per the common server bug; bomb-capped like gzip."""
    for wbits in (15, -15):
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(body, MAX_BODY + 1)
        except zlib.error:
            continue
        if len(out) > MAX_BODY or d.unconsumed_tail:
            raise ValueError("deflate: body exceeds decode cap")
        return out + d.flush()
    raise ValueError("deflate: not zlib-wrapped nor raw DEFLATE")


def decode_content(body: bytes, encoding: str) -> bytes:
    """Apply one Content-Encoding token. ValueError on failure or an
    encoding we cannot decode (callers flag and quarantine)."""
    enc = encoding.strip().lower()
    if enc in ("", "identity", "none"):
        return body
    if enc in ("gzip", "x-gzip"):
        return _gunzip_members(body)
    if enc == "deflate":
        return _inflate(body)
    if enc == "br":
        from datapump_spark.operators.brotli import decode_brotli

        return decode_brotli(body, max_output=MAX_BODY)
    raise ValueError(f"unsupported Content-Encoding {enc!r}")


_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9._:-]+)", re.I)


def _body_text(body: bytes, content_type: str) -> str:
    """Lenient text decode: declared charset when Python knows it,
    UTF-8 otherwise; malformed bytes replaced (crawls are full of
    mislabeled encodings)."""
    m = _CHARSET_RE.search(content_type or "")
    if m:
        try:
            codec = codecs.lookup(m.group(1))
            return body.decode(codec.name, errors="replace")
        except LookupError:
            pass
    return body.decode("utf-8", errors="replace")


def decode_http_response(payload: bytes) -> dict:
    """Parse one raw HTTP response capture into
    ``{status, content_type, content_encoding, body, error}``.
    ``body`` is the fully transfer- and content-decoded bytes (None
    when ``error`` is set); header-less payloads are an error."""
    he = payload.find(b"\r\n\r\n")
    sep = 4
    if he == -1:
        he = payload.find(b"\n\n")
        sep = 2
    if he == -1:
        return {"status": None, "content_type": None,
                "content_encoding": None, "body": None,
                "error": "no header terminator"}
    head = payload[:he].decode("latin-1", errors="replace")
    lines = head.splitlines()
    status = None
    if lines and lines[0].startswith("HTTP/"):
        parts = lines[0].split()
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
    hdrs: dict[str, str] = {}
    for ln in lines[1:]:
        k, colon, v = ln.partition(":")
        if colon:
            hdrs.setdefault(k.strip().lower(), v.strip())
    body = payload[he + sep:]
    ce = hdrs.get("content-encoding", "")
    try:
        if "chunked" in hdrs.get("transfer-encoding", "").lower():
            body = _dechunk(body)
        for enc in reversed(ce.split(",")):
            body = decode_content(body, enc)
    except ValueError as ex:
        return {"status": status,
                "content_type": hdrs.get("content-type"),
                "content_encoding": ce or None, "body": None,
                "error": str(ex)}
    return {"status": status, "content_type": hdrs.get("content-type"),
            "content_encoding": ce or None, "body": bytes(body),
            "error": None}


def http_responses(df: DataFrame, payload_col: str = "payload",
                   text: bool = True) -> DataFrame:
    """Arrow kernel over a payload binary column: appends
    ``http_status, content_type, content_encoding, http_error`` and —
    fully wire-decoded — ``http_text`` (charset-lenient string) when
    ``text`` else ``http_body`` (binary). All other columns pass
    through. Per-item work is C-level zlib / numpy-backed brotli;
    partitioning and everything downstream stay untouched."""
    import pandas as pd

    body_field = ("http_text string" if text else "http_body binary")
    passthrough = [f"`{c}` {t}" for c, t in df.dtypes
                   if c != payload_col]
    schema = ", ".join(passthrough + [
        "http_status int", "content_type string",
        "content_encoding string", body_field, "http_error string"])

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                rec = decode_http_response(bytes(pdf[payload_col].iloc[i]))
                row = {c: pdf[c].iloc[i] for c in pdf.columns
                       if c != payload_col}
                row["http_status"] = rec["status"]
                row["content_type"] = rec["content_type"]
                row["content_encoding"] = rec["content_encoding"]
                if text:
                    row["http_text"] = (
                        None if rec["body"] is None
                        else _body_text(rec["body"], rec["content_type"]))
                else:
                    row["http_body"] = rec["body"]
                row["http_error"] = rec["error"]
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows)

    return df.mapInPandas(kernel, schema)
