"""Brotli gates (operators/brotli.py — RFC 7932, decoded by the
libbrotli pyarrow bundles): foreign libbrotli output at all 12 quality
levels decodes byte-exactly; hand-authored streams in the forms
libbrotli's encoder rarely emits (metadata and uncompressed metablocks,
static-dictionary references with transforms, block switching, complex
prefix codes) decode to the output RFC 7932 gives them; every refusal
is an UnsupportedMediaError naming brotli. Plus the HTTP
Content-Encoding integration (sources/http.py) and the WARC crawl
path."""

from __future__ import annotations

import gzip as gzmod
import os
import random
import zlib

import pyarrow as pa
import pytest

from datapump_spark.operators.brotli import decode_brotli, encode_brotli
from datapump_spark.operators.codecs import UnsupportedMediaError


def _ref_decode(z: bytes) -> bytes:
    return bytes(pa.CompressedInputStream(
        pa.BufferReader(z), "brotli").read())


def _ref_encode(t: bytes, level: int) -> bytes:
    return bytes(pa.Codec("brotli", compression_level=level).compress(t))


# ---------------------------------------------------------------------------
# Foreign-stream conformance (reference encoder -> our decoder)
# ---------------------------------------------------------------------------

_SHAPES = {
    "english": b"The quick brown fox jumps over the lazy dog. " * 120,
    "html": (b'<!DOCTYPE html><html><head><meta charset="utf-8">'
             b'<script type="text/javascript" src="x.js"></script></head>'
             b'<body><div class="content"><p>description content with '
             b'position:absolute; and more dictionary words</p></div>'
             b"</body></html>" * 20),
    "utf8": ("текст про кодеки — çédille, 日本語。" * 90).encode(),
    "runs": b"\x00" * 2000 + b"ab" * 1500,
    "json": b'{"name": "value", "count": 12345, "list": [1, 2, 3]}' * 80,
}


# default tier: three levels spanning the fast/balanced/max
# encoders; the slow-tier fuzz sweep crosses all 12 levels
@pytest.mark.parametrize("level", [1, 5, 11])
def test_foreign_streams_decode_exactly(level):
    for name, t in _SHAPES.items():
        assert decode_brotli(_ref_encode(t, level)) == t, (level, name)


def test_foreign_random_and_tiny():
    rng = random.Random(3)
    for t in (b"", b"Q", os.urandom(1), os.urandom(3000),
              bytes(rng.choices(range(8), k=9000))):
        for level in (1, 6, 11):
            assert decode_brotli(_ref_encode(t, level)) == t


@pytest.mark.slow  # redundancy: the in-default level sweep above
# covers every level on 5 shapes; this is the broad randomized sweep
def test_foreign_fuzz_sweep():
    gen = random.Random(7)
    words = [b"the", b"of", b"content", b"<div>", b"http://",
             b"\xc3\xa9t\xc3\xa9", b" ", b"\n", b"12345"]
    for trial in range(120):
        n = gen.randrange(0, 20000)
        kind = gen.randrange(4)
        if kind == 0:
            t = os.urandom(n)
        elif kind == 1:
            t = bytes(gen.choices(range(8), k=n))
        elif kind == 2:
            t = b"".join(gen.choices(words, k=n // 4))
        else:
            t = os.urandom(max(1, n // 100)) * 100 if n else b""
        lvl = gen.randrange(12)
        assert decode_brotli(_ref_encode(t, lvl)) == t, (trial, lvl, kind)


# ---------------------------------------------------------------------------
# Writer twin + authored streams (our encoder -> reference decoder)
# ---------------------------------------------------------------------------

def test_writer_twin_round_trips_both_decoders():
    for t in (b"", b"x", b"hello world" * 300, bytes(range(256)) * 20):
        z = encode_brotli(t)
        assert decode_brotli(z) == t
        assert _ref_decode(z) == t


# Streams authored bit by bit per RFC 7932 (by a writer toolkit that
# earlier pure-Python versions of this module carried, agreed on by that
# decoder and libbrotli); each expected output follows from the RFC.
_AUTHORED = {k: bytes.fromhex(v) for k, v in {
    "commands": "0b0800000018e3dcf3eaf1ff1930ce3dd73d4f67c038cf3e39dd0764",
    "d0_reuse": "8b0400000006e3dcf33ccffb67c038cff376cfe303807d",
    "uncompressed": "8b01804141414118000000022004892806000000188c73cff3c66b3c"
                    "4009606c",
    "metadata": "6b19004d45544178797a0800086f6b03",
    "time": "8b01000020004290800c",
    "first": "0b02000020006290800c",
    "tid4": "21340000000110c184b88001",
    "tid9": "21300000000110c104b94003",
    "tid44": "21300000000110c104ba000f",
    "tid77": "21380000000110c184ba401b",
    "tid120": "213c0000000110c1c4ba001e",
    "timetime": "8b03000020001830ae76cff33c4f0f2803",
    "complete": "8b04000000d8c6aa3e9fcfd0fff99fab7e3e9fcf35000a80d97b504e07",
    "bad_dict_len": "8b0100008001e3dcf3bc0f48629201",
    # one uncompressed metablock declaring 16 MiB, then 3 bytes
    "hostile": "cfffffff616263",
}.items()}


def test_authored_commands_both_decoders():
    # literals, back-references (incl. overlap), implicit d0 (initial
    # ring buffer last = 4), explicit distance code 0
    out = bytearray(b"abcdef")
    for _ in range(4):
        out.append(out[-6])
    out += b"XY"
    for _ in range(5):
        out.append(out[-3])
    assert decode_brotli(_AUTHORED["commands"]) == bytes(out)

    out = bytearray(b"wxyz")
    for _ in range(6):
        out.append(out[-4])
    assert decode_brotli(_AUTHORED["d0_reuse"]) == bytes(out)


def test_authored_metablock_kinds():
    # an uncompressed metablock then two compressed ones, and a
    # metadata metablock (7 skipped bytes) before an uncompressed one
    assert decode_brotli(_AUTHORED["uncompressed"]) == b"AAAAAAAAtail"
    assert decode_brotli(_AUTHORED["metadata"]) == b"ok"


def test_dictionary_reference_and_transform():
    # distance beyond the window at pos 0 -> static dictionary; the
    # first 4- and 5-letter words are 'time' and 'first' (RFC 7932
    # appendix A), word 1 of length 13 is 'understanding'
    assert decode_brotli(_AUTHORED["time"]) == b"time"
    assert decode_brotli(_AUTHORED["first"]) == b"first"
    # transforms (appendix B): 4 = uppercase-first + " ", 9 =
    # uppercase-first, 44 = uppercase-all, 77 = "." + word + " ",
    # 120 = " " + uppercase-first + "='"
    for tid, want in ((4, b"Understanding "), (9, b"Understanding"),
                      (44, b"UNDERSTANDING"), (77, b".understanding "),
                      (120, b" Understanding='")):
        assert decode_brotli(_AUTHORED[f"tid{tid}"]) == want, tid


def test_dict_ref_does_not_enter_distance_ring_buffer():
    # dict ref then implicit d0: d0 must resolve against the
    # PRE-dict-ref buffer (initial last = 4) -> 'time' again
    assert decode_brotli(_AUTHORED["timetime"]) == b"timetime"


# block-count symbol -> (stream, block length): two literal block
# types, A for the first block, B after the switch, so the switch
# position IS the decoded block length of that symbol (RFC 7932 §6)
_SWITCH = {s: (bytes.fromhex(h), n) for s, (h, n) in {
    0: ("0b02001105080062950ff8ffffffffffffff278242285009e001", 2),
    8: ("0b1a0011050a0088553ee0ffffffffffffff9f080aa1402980f901", 50),
    16: ("0b7a0011050c002056f980ffffffffffffff7f22288402b90066ff", 242),
    17: ("0b9a0011450c002056f980ffffffffffffff7f22288402b900e6ff", 306),
    19: ("0bfa0011c50c008058e503feffffffffffffff89a0100ae80298fd1f",
         498),
    23: ("0b7a0811c50d000088553ee0ffffffffffffff9f080aa1402f8059fcff01",
         4338),
}.items()}


def test_block_switching_and_count_table():
    """nbl_L=2 with per-type literal trees: the A->B switch position
    is the block length the count symbol codes."""
    for sym, (z, blen) in _SWITCH.items():
        assert decode_brotli(z) == b"A" * blen + b"BBB", sym


def test_complete_lengths_codes_accepted_by_reference():
    # a complex prefix code over an awkward alphabet (gaps forcing
    # repeat-17 stacking and literal-zero chain breaks)
    assert decode_brotli(_AUTHORED["complete"]) == bytes(
        [0, 1, 2, 3, 40, 41, 200, 201, 202, 255])


def test_invalid_streams_raise():
    z = encode_brotli(b"hello world")
    with pytest.raises(UnsupportedMediaError, match="brotli: Truncated"):
        decode_brotli(z[:-2])            # truncated
    with pytest.raises(UnsupportedMediaError, match="brotli: empty"):
        decode_brotli(b"")
    with pytest.raises(UnsupportedMediaError, match="brotli: .*DICTIONARY"):
        # distance > max_dist with copy_len 2: outside the 4-24
        # dictionary word range
        decode_brotli(_AUTHORED["bad_dict_len"])
    with pytest.raises(UnsupportedMediaError, match="brotli: .*cap"):
        decode_brotli(encode_brotli(b"x" * 100), max_output=10)


def test_refusals_name_brotli_through_both_entry_points():
    """Output over the cap, a truncated stream, trailing garbage and a
    hostile metablock length (16 MiB declared by 7 input bytes, refused
    without allocating it) raise UnsupportedMediaError naming brotli
    from decode_brotli and from the corpus dispatch."""
    from datapump_spark.sources.jsonl import decompress_auto

    big = encode_brotli(os.urandom(2000) * 50)
    cases = [(big, 1000, "cap"), (big[:-3], None, "Truncated"),
             (big + b"garbage!", None, ""),
             (_AUTHORED["hostile"], None, "Truncated")]
    for payload, cap, cause in cases:
        with pytest.raises(UnsupportedMediaError,
                           match=f"brotli: .*{cause}"):
            decode_brotli(payload, max_output=cap or 1 << 31)
        with pytest.raises(UnsupportedMediaError,
                           match=f"brotli: .*{cause}"):
            decompress_auto("c.jsonl.br", payload, max_bytes=cap or 1 << 28)


# ---------------------------------------------------------------------------
# HTTP Content-Encoding + WARC crawl integration
# ---------------------------------------------------------------------------

def test_http_wire_decoding_unit():
    from datapump_spark.sources.http import decode_http_response
    body = "Ce renard brun — wire décodé!".encode()
    # chunked framing with extensions and trailers
    chunked = b""
    for i in range(0, len(body), 7):
        c = body[i:i + 7]
        chunked += format(len(c), "x").encode() + b";x=1\r\n" + c + b"\r\n"
    chunked += b"0\r\nX-Trailer: t\r\n\r\n"
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked)
    assert r["body"] == body and r["status"] == 200 and r["error"] is None
    # gzip (multi-member), deflate (raw), brotli, chained chunked+gzip
    for enc, payload in (
            (b"gzip", gzmod.compress(body) + gzmod.compress(b"!")),
            (b"deflate", zlib.compress(body)[2:-4]),
            (b"deflate", zlib.compress(body)),
            (b"br", _ref_encode(body, 5))):
        r = decode_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Encoding: " + enc + b"\r\n\r\n"
            + payload)
        want = body + (b"!" if payload.endswith(gzmod.compress(b"!"))
                       else b"")
        assert r["body"] == want, enc
    # undecodable -> flagged, not mojibake
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\nnotgzip")
    assert r["body"] is None and "gzip" in r["error"]
    r = decode_http_response(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: compress\r\n\r\nx")
    assert "unsupported" in r["error"]


def _warc_response(uri: str, http: bytes) -> bytes:
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            + f"WARC-Target-URI: {uri}\r\n".encode()
            + b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + b"\r\n" + http + b"\r\n\r\n")


def test_warc_crawl_decodes_encoded_bodies(spark, tmp_path):
    """A crawl WARC whose responses use chunked + gzip + br + plain:
    all four yield clean text through read_warc_html (previously the
    encoded ones became mojibake the quality gate silently dropped);
    a corrupted body surfaces in read_warc_http as a flagged row."""
    page = ('<html><body><p>Ce renard brun rapide saute par-dessus le '
            'chien paresseux chaque matin, naturellement.</p>'
            '</body></html>').encode()
    gz = gzmod.compress(page)
    chunked = (format(len(gz), "x").encode() + b"\r\n" + gz
               + b"\r\n0\r\n\r\n")
    recs = (
        _warc_response("https://x.example/plain",
                       b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                       b"\r\n" + page)
        + _warc_response("https://x.example/gzip",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip"
                         b"\r\n\r\n" + gz)
        + _warc_response("https://x.example/br",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: br"
                         b"\r\n\r\n" + _ref_encode(page, 5))
        + _warc_response("https://x.example/chunked-gzip",
                         b"HTTP/1.1 200 OK\r\n"
                         b"Transfer-Encoding: chunked\r\n"
                         b"Content-Encoding: gzip\r\n\r\n" + chunked)
        + _warc_response("https://x.example/broken",
                         b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip"
                         b"\r\n\r\n" + gz[:-4])
    )
    p = tmp_path / "crawl.warc"
    p.write_bytes(recs)

    from datapump_spark.sources.warc import read_warc_html, read_warc_http

    rows = {r["target_uri"]: r for r in
            read_warc_html(spark, str(p)).collect()}
    assert set(rows) == {f"https://x.example/{k}" for k in
                         ("plain", "gzip", "br", "chunked-gzip")}
    for r in rows.values():
        assert r["main_text"].startswith("Ce renard brun rapide")

    audit = {r["target_uri"]: r for r in
             read_warc_http(spark, str(p)).collect()}
    assert len(audit) == 5
    bad = audit["https://x.example/broken"]
    assert bad["http_error"] and "gzip" in bad["http_error"]
    assert bad["http_text"] is None
    ok = audit["https://x.example/br"]
    assert ok["content_encoding"] == "br" and ok["http_error"] is None
