"""7z archive reader (round 12) — pure-Python container walk over
stdlib / in-repo codecs, closing the last everyday archive family
(zip/tar/tar.{gz,bz2,xz,zst,lz4} landed r9-r12).

Format: the public 7z format documentation (7zFormat.txt in the
LZMA SDK). The container is a 32-byte signature header pointing at a
property-tree "next header" (optionally itself LZMA-compressed as an
EncodedHeader), describing pack streams, folders (coder chains),
substreams (solid blocks hold many files) and file metadata.

Codecs: Copy, LZMA1, LZMA2, Delta (stdlib ``lzma`` raw filters —
real liblzma), Deflate (zlib), BZip2 (bz2), Zstandard
(operators/zstd.py, pyarrow's bundled libzstd — the 04F71101 method
id libarchive and 7-Zip-zstd emit). Multi-coder
branch graphs, BCJ executable filters, PPMd and AES-encrypted
entries are refused honestly (UnsupportedMediaError) — text-corpus
archives don't use them; executables do.

CONFORMANCE: when libarchive's ``bsdtar --format 7zip`` is present it
authors real 7z archives in all six compression modes
(store/deflate/bzip2/lzma1/lzma2/zstd) — tests pin byte-exact member
extraction from those foreign archives, including solid multi-file
folders, nested directories, empty files and encoded headers; those
tests skip honestly where bsdtar is absent (the r12 optimization
sandbox). A ``write_7z`` writer twin (end of this module) covers that
case: its codec streams are still real liblzma / libzstd / zlib / bz2
bytes, only the container framing is self-authored. CRCs are verified
per substream when present.

Reference parity note: the reference (datapump.py) reads loose CSVs
only; charter extension for training-data pipelines (document dumps
routinely ship as .7z).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone

from datapump_spark.operators.codecs import UnsupportedMediaError

MAGIC = b"7z\xbc\xaf\x27\x1c"

# property ids
_K_END = 0x00
_K_HEADER = 0x01
_K_MAIN_STREAMS = 0x04
_K_FILES_INFO = 0x05
_K_PACK_INFO = 0x06
_K_UNPACK_INFO = 0x07
_K_SUBSTREAMS = 0x08
_K_SIZE = 0x09
_K_CRC = 0x0A
_K_FOLDER = 0x0B
_K_CODERS_UNPACK_SIZE = 0x0C
_K_NUM_UNPACK_STREAM = 0x0D
_K_EMPTY_STREAM = 0x0E
_K_EMPTY_FILE = 0x0F
_K_ANTI = 0x10
_K_NAME = 0x11
_K_CTIME = 0x12
_K_ATIME = 0x13
_K_MTIME = 0x14
_K_ATTRIBUTES = 0x15
_K_ENCODED_HEADER = 0x17
_K_START_POS = 0x18
_K_DUMMY = 0x19

_ATTR_DIRECTORY = 0x10
# 7z stores a unix mode in the high attribute bits when 0x8000 is set
_ATTR_UNIX_EXT = 0x8000


class _R:
    """Cursor over the header bytes with the 7z primitive readers."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.i = pos

    def u8(self) -> int:
        if self.i >= len(self.d):
            raise UnsupportedMediaError("7z: truncated header")
        v = self.d[self.i]
        self.i += 1
        return v

    def bytes(self, n: int) -> bytes:
        if self.i + n > len(self.d):
            raise UnsupportedMediaError("7z: truncated header")
        v = self.d[self.i:self.i + n]
        self.i += n
        return v

    def u32(self) -> int:
        return int.from_bytes(self.bytes(4), "little")

    def u64(self) -> int:
        return int.from_bytes(self.bytes(8), "little")

    def number(self) -> int:
        """The 7z variable-length number encoding."""
        first = self.u8()
        mask = 0x80
        value = 0
        for i in range(8):
            if (first & mask) == 0:
                value |= (first & (mask - 1)) << (8 * i)
                return value
            value |= self.u8() << (8 * i)
            mask >>= 1
        return value

    def bitvector(self, n: int) -> list[bool]:
        bits = []
        b = 0
        mask = 0
        for _ in range(n):
            if mask == 0:
                b = self.u8()
                mask = 0x80
            bits.append(bool(b & mask))
            mask >>= 1
        return bits

    def defined_vector(self, n: int) -> list[bool]:
        """AllAreDefined byte, else an explicit bit vector."""
        return [True] * n if self.u8() else self.bitvector(n)


@dataclass
class _Coder:
    method: bytes
    n_in: int
    n_out: int
    props: bytes


@dataclass
class _Folder:
    coders: list[_Coder] = field(default_factory=list)
    bind_pairs: list[tuple[int, int]] = field(default_factory=list)
    packed_indices: list[int] = field(default_factory=list)
    unpack_sizes: list[int] = field(default_factory=list)
    crc: int | None = None

    def total_out(self) -> int:
        return sum(c.n_out for c in self.coders)

    def main_unpack_size(self) -> int:
        """Size of the one output stream no bind pair consumes."""
        bound = {o for _, o in self.bind_pairs}
        for idx in range(self.total_out() - 1, -1, -1):
            if idx not in bound:
                return self.unpack_sizes[idx]
        raise UnsupportedMediaError("7z: folder with no free output")


def _read_folder(r: _R) -> _Folder:
    f = _Folder()
    n_coders = r.number()
    for _ in range(n_coders):
        flags = r.u8()
        id_size = flags & 0x0F
        method = r.bytes(id_size)
        if flags & 0x10:  # complex coder
            n_in, n_out = r.number(), r.number()
        else:
            n_in = n_out = 1
        props = r.bytes(r.number()) if flags & 0x20 else b""
        if flags & 0x80:
            raise UnsupportedMediaError("7z: alternative coder methods")
        f.coders.append(_Coder(method, n_in, n_out, props))
    total_in = sum(c.n_in for c in f.coders)
    n_bind = f.total_out() - 1
    for _ in range(n_bind):
        f.bind_pairs.append((r.number(), r.number()))
    n_packed = total_in - n_bind
    if n_packed == 1:
        bound_in = {i for i, _ in f.bind_pairs}
        f.packed_indices = [next(i for i in range(total_in)
                                 if i not in bound_in)]
    else:
        f.packed_indices = [r.number() for _ in range(n_packed)]
    return f


def _dict_size_lzma2(p: int) -> int:
    if p > 40:
        raise UnsupportedMediaError("7z: bad LZMA2 dictionary property")
    if p == 40:
        return 0xFFFFFFFF
    return (2 | (p & 1)) << (p // 2 + 11)


def _decode_coder(coder: _Coder, data: bytes, out_size: int) -> bytes:
    import lzma

    m = coder.method
    if m == b"\x00":  # Copy
        out = data[:out_size]
    elif m == b"\x21":  # LZMA2
        if len(coder.props) != 1:
            raise UnsupportedMediaError("7z: bad LZMA2 properties")
        d = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA2,
             "dict_size": _dict_size_lzma2(coder.props[0])}])
        out = d.decompress(data, out_size)
    elif m == b"\x03\x01\x01":  # LZMA1
        if len(coder.props) != 5:
            raise UnsupportedMediaError("7z: bad LZMA properties")
        pb_lp_lc = coder.props[0]
        lc = pb_lp_lc % 9
        rem = pb_lp_lc // 9
        lp, pb = rem % 5, rem // 5
        d = lzma.LZMADecompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA1, "lc": lc, "lp": lp, "pb": pb,
             "dict_size": int.from_bytes(coder.props[1:5], "little")}])
        out = d.decompress(data, out_size)
    elif m == b"\x04\x01\x08":  # Deflate
        out = zlib.decompressobj(-15).decompress(data, out_size)
    elif m == b"\x04\x02\x02":  # BZip2
        import bz2

        out = bz2.BZ2Decompressor().decompress(data, out_size)
    elif m == b"\x04\xf7\x11\x01":  # Zstandard (libarchive / 7-Zip-zstd)
        from datapump_spark.operators.zstd import decode_zstd

        out = decode_zstd(data, max_output=out_size)
    elif m == b"\x03":  # Delta filter (only in chains; handled there)
        dist = (coder.props[0] + 1) if coder.props else 1
        buf = bytearray(data)
        for i in range(dist, len(buf)):
            buf[i] = (buf[i] + buf[i - dist]) & 0xFF
        out = bytes(buf)
    elif m.startswith(b"\x06\xf1\x07"):
        raise UnsupportedMediaError("7z: AES-encrypted entries unsupported")
    elif m == b"\x03\x04\x01":
        raise UnsupportedMediaError("7z: PPMd unsupported")
    elif m.startswith(b"\x03\x03"):
        raise UnsupportedMediaError("7z: BCJ executable filters unsupported")
    else:
        raise UnsupportedMediaError(f"7z: unknown coder {m.hex()}")
    if len(out) != out_size:
        raise UnsupportedMediaError(
            f"7z: coder produced {len(out)} of {out_size} bytes")
    return out


def _decode_folder(folder: _Folder, packs: list[bytes]) -> bytes:
    """Decode one folder's coder chain. Supported graphs: a single
    linear chain (each bind pair feeds coder k's output into coder
    k+1's input — covers every archive the reference writers emit)."""
    n = len(folder.coders)
    if n == 1:
        return _decode_coder(folder.coders[0], packs[0],
                             folder.unpack_sizes[0])
    # Linear chain: out stream i binds to in stream of the next coder.
    # With 1-in/1-out coders, in-index == coder index and out-index ==
    # coder index; the packed stream enters the chain's head.
    if any(c.n_in != 1 or c.n_out != 1 for c in folder.coders):
        raise UnsupportedMediaError("7z: branched coder graphs unsupported")
    consumers = {i: o for i, o in folder.bind_pairs}  # in-idx -> out-idx
    if len(packs) != 1 or len(folder.packed_indices) != 1:
        raise UnsupportedMediaError("7z: multi-pack folders unsupported")
    head = folder.packed_indices[0]
    data = packs[0]
    coder_idx = head
    seen = 0
    while True:
        data = _decode_coder(folder.coders[coder_idx], data,
                             folder.unpack_sizes[coder_idx])
        seen += 1
        if seen > n:
            raise UnsupportedMediaError("7z: coder chain cycle")
        # who consumes this coder's output?
        nxt = [i for i, o in folder.bind_pairs if o == coder_idx]
        if not nxt:
            return data
        coder_idx = nxt[0]


@dataclass
class _StreamsInfo:
    pack_pos: int = 0
    pack_sizes: list[int] = field(default_factory=list)
    folders: list[_Folder] = field(default_factory=list)
    # substreams
    n_unpack_streams: list[int] | None = None
    sub_sizes: list[int] = field(default_factory=list)
    sub_crcs: list[int | None] = field(default_factory=list)


def _read_streams_info(r: _R) -> _StreamsInfo:
    si = _StreamsInfo()
    while True:
        t = r.number()
        if t == _K_END:
            return si
        if t == _K_PACK_INFO:
            si.pack_pos = r.number()
            n = r.number()
            while True:
                t2 = r.number()
                if t2 == _K_END:
                    break
                if t2 == _K_SIZE:
                    si.pack_sizes = [r.number() for _ in range(n)]
                elif t2 == _K_CRC:
                    defined = r.defined_vector(n)
                    for dfn in defined:
                        if dfn:
                            r.u32()
                else:
                    raise UnsupportedMediaError(
                        f"7z: unexpected PackInfo property {t2:#x}")
        elif t == _K_UNPACK_INFO:
            if r.number() != _K_FOLDER:
                raise UnsupportedMediaError("7z: UnpackInfo without Folder")
            n_folders = r.number()
            if r.u8() != 0:
                raise UnsupportedMediaError("7z: external folder data")
            si.folders = [_read_folder(r) for _ in range(n_folders)]
            if r.number() != _K_CODERS_UNPACK_SIZE:
                raise UnsupportedMediaError("7z: missing CodersUnpackSize")
            for f in si.folders:
                f.unpack_sizes = [r.number() for _ in range(f.total_out())]
            while True:
                t2 = r.number()
                if t2 == _K_END:
                    break
                if t2 == _K_CRC:
                    defined = r.defined_vector(n_folders)
                    for k, dfn in enumerate(defined):
                        if dfn:
                            si.folders[k].crc = r.u32()
                else:
                    raise UnsupportedMediaError(
                        f"7z: unexpected UnpackInfo property {t2:#x}")
        elif t == _K_SUBSTREAMS:
            _read_substreams(r, si)
        else:
            raise UnsupportedMediaError(
                f"7z: unexpected StreamsInfo property {t:#x}")


def _read_substreams(r: _R, si: _StreamsInfo) -> None:
    n_per_folder = [1] * len(si.folders)
    t = r.number()
    if t == _K_NUM_UNPACK_STREAM:
        n_per_folder = [r.number() for _ in si.folders]
        t = r.number()
    si.n_unpack_streams = n_per_folder
    sizes: list[int] = []
    if t == _K_SIZE:
        for k, folder in enumerate(si.folders):
            if n_per_folder[k] == 0:
                continue
            total = folder.main_unpack_size()
            acc = 0
            for _ in range(n_per_folder[k] - 1):
                s = r.number()
                sizes.append(s)
                acc += s
            sizes.append(total - acc)
        t = r.number()
    else:
        for k, folder in enumerate(si.folders):
            if n_per_folder[k] == 1:
                sizes.append(folder.main_unpack_size())
            elif n_per_folder[k] != 0:
                raise UnsupportedMediaError(
                    "7z: substream sizes missing for multi-file folder")
    si.sub_sizes = sizes
    # CRCs: only for substreams whose folder-level CRC doesn't cover them
    n_undefined = 0
    covered: list[bool] = []
    for k, folder in enumerate(si.folders):
        for _ in range(n_per_folder[k]):
            has = n_per_folder[k] == 1 and folder.crc is not None
            covered.append(has)
            if not has:
                n_undefined += 1
    crcs: list[int | None] = [None] * len(sizes)
    if t == _K_CRC:
        defined = r.defined_vector(n_undefined)
        vals = [r.u32() if d else None for d in defined]
        vi = 0
        for idx in range(len(sizes)):
            if covered[idx]:
                fi = 0
                acc = 0
                for k, cnt in enumerate(n_per_folder):
                    acc += cnt
                    if idx < acc:
                        fi = k
                        break
                crcs[idx] = si.folders[fi].crc
            else:
                crcs[idx] = vals[vi]
                vi += 1
        t = r.number()
    else:
        for idx in range(len(sizes)):
            if covered[idx]:
                fi = 0
                acc = 0
                for k, cnt in enumerate(n_per_folder):
                    acc += cnt
                    if idx < acc:
                        fi = k
                        break
                crcs[idx] = si.folders[fi].crc
    si.sub_crcs = crcs
    if t != _K_END:
        raise UnsupportedMediaError(
            f"7z: unexpected SubStreamsInfo property {t:#x}")


def _filetime(v: int) -> datetime:
    # FILETIME: 100ns ticks since 1601-01-01 UTC
    return datetime.fromtimestamp(v / 10_000_000 - 11644473600,
                                  tz=timezone.utc).replace(tzinfo=None)


def read_7z_members(data: bytes, max_total_bytes: int = 1 << 30):
    """Yield ``(name, payload|None, size, mtime|None, is_dir)`` for
    every entry of a 7z archive. Directories yield payload=None;
    empty files yield ``b""``. Substream CRC32s are verified."""
    if data[:6] != MAGIC:
        raise UnsupportedMediaError("7z: bad signature")
    # start header: version(2) crc(4) then 20 bytes {offset, size, crc}
    start = data[12:32]
    if zlib.crc32(start) != int.from_bytes(data[8:12], "little"):
        raise UnsupportedMediaError("7z: start header CRC mismatch")
    nh_off = int.from_bytes(start[0:8], "little")
    nh_size = int.from_bytes(start[8:16], "little")
    nh_crc = int.from_bytes(start[16:20], "little")
    header = data[32 + nh_off:32 + nh_off + nh_size]
    if len(header) != nh_size:
        raise UnsupportedMediaError("7z: truncated next header")
    if zlib.crc32(header) != nh_crc:
        raise UnsupportedMediaError("7z: next header CRC mismatch")
    if not header:
        return
    r = _R(header)
    t = r.number()
    if t == _K_ENCODED_HEADER:
        si = _read_streams_info(r)
        packs = _slice_packs(data, si)
        decoded = b"".join(
            _decode_folder(f, [packs[k]])
            for k, f in enumerate(si.folders))
        r = _R(decoded)
        t = r.number()
    if t != _K_HEADER:
        raise UnsupportedMediaError(f"7z: expected header, got {t:#x}")
    si = None
    files: list[dict] = []
    while True:
        t = r.number()
        if t == _K_END:
            break
        if t == _K_MAIN_STREAMS:
            si = _read_streams_info(r)
        elif t == _K_FILES_INFO:
            files = _read_files_info(r)
        else:
            raise UnsupportedMediaError(
                f"7z: unexpected header property {t:#x}")
    substreams: list[bytes] = []
    if si is not None:
        if sum(si.sub_sizes) > max_total_bytes:
            raise UnsupportedMediaError("7z: archive exceeds decode cap")
        packs = _slice_packs(data, si)
        n_per_folder = si.n_unpack_streams or [1] * len(si.folders)
        sub_i = 0
        for k, folder in enumerate(si.folders):
            plain = _decode_folder(folder, [packs[k]])
            off = 0
            for _ in range(n_per_folder[k]):
                size = si.sub_sizes[sub_i]
                chunk = plain[off:off + size]
                crc = si.sub_crcs[sub_i]
                if crc is not None and zlib.crc32(chunk) != crc:
                    raise UnsupportedMediaError(
                        "7z: substream CRC mismatch")
                substreams.append(chunk)
                off += size
                sub_i += 1
    sub_i = 0
    for f in files:
        if f["has_stream"]:
            payload = substreams[sub_i]
            sub_i += 1
            yield f["name"], payload, len(payload), f.get("mtime"), False
        elif f["is_dir"]:
            yield f["name"], None, 0, f.get("mtime"), True
        else:
            yield f["name"], b"", 0, f.get("mtime"), False


def _slice_packs(data: bytes, si: _StreamsInfo) -> list[bytes]:
    """One packed blob per folder (single-pack folders only — the
    shape every in-scope writer emits)."""
    offs = 32 + si.pack_pos
    packs = []
    pos = offs
    for s in si.pack_sizes:
        packs.append(data[pos:pos + s])
        pos += s
    # map pack streams to folders 1:1 — archives interleaving several
    # packed streams per folder would misalign, so refuse them
    if len(packs) != len(si.folders):
        raise UnsupportedMediaError(
            f"7z: {len(packs)} pack streams for {len(si.folders)} "
            "folders (multi-pack folders unsupported)")
    return packs


def _read_files_info(r: _R) -> list[dict]:
    n = r.number()
    files: list[dict] = [
        {"name": "", "has_stream": True, "is_dir": False} for _ in range(n)]
    empty_streams: list[bool] = [False] * n
    while True:
        t = r.number()
        if t == _K_END:
            break
        size = r.number()
        end = r.i + size
        if t == _K_EMPTY_STREAM:
            empty_streams = r.bitvector(n)
            for k, e in enumerate(empty_streams):
                if e:
                    files[k]["has_stream"] = False
                    files[k]["is_dir"] = True  # refined by kEmptyFile
        elif t == _K_EMPTY_FILE:
            n_empty = sum(empty_streams)
            empties = [k for k, e in enumerate(empty_streams) if e]
            for j, is_file in enumerate(r.bitvector(n_empty)):
                if is_file:
                    files[empties[j]]["is_dir"] = False
        elif t == _K_NAME:
            if r.u8() != 0:
                raise UnsupportedMediaError("7z: external names")
            raw = r.bytes(end - r.i)
            names = raw.decode("utf-16-le").split("\x00")
            for k in range(n):
                files[k]["name"] = names[k].replace("\\", "/")
        elif t == _K_MTIME:
            defined = r.defined_vector(n)
            if r.u8() != 0:
                raise UnsupportedMediaError("7z: external times")
            for k, dfn in enumerate(defined):
                if dfn:
                    files[k]["mtime"] = _filetime(r.u64())
        elif t == _K_ATTRIBUTES:
            defined = r.defined_vector(n)
            if r.u8() != 0:
                raise UnsupportedMediaError("7z: external attributes")
            for k, dfn in enumerate(defined):
                if dfn:
                    attrs = r.u32()
                    if attrs & _ATTR_DIRECTORY:
                        files[k]["is_dir"] = True
        else:
            pass  # kDummy padding, ctime/atime, anti — skip
        r.i = end
    return files


# --------------------------------------------------------------- writer twin
#
# Minimal 7z author for environments without libarchive (round 12: the
# optimization sandbox dropped bsdtar, which the q_7z_scan fixture had
# hard-required). One solid folder, one coder, unencoded header — the
# exact subset every reader branch above exercises. Codec streams are
# REAL reference bytes (liblzma via the stdlib ``lzma`` module, libzstd
# via pyarrow's bundled codec, zlib/bz2 for deflate/bzip2); only the
# container framing is self-authored, so conformance of the container
# walk itself still rests on the bsdtar-gated tests where libarchive is
# present (test_sevenzip skips them honestly otherwise).


def _w_number(v: int) -> bytes:
    """The 7z variable-length number encoding (inverse of _R.number)."""
    if v < 0x80:
        return bytes([v])
    for k in range(1, 8):
        if v < (1 << (8 * k + (7 - k))):
            first = ((0xFF << (8 - k)) & 0xFF) | (v >> (8 * k))
            return bytes([first]) + (v & ((1 << (8 * k)) - 1)).to_bytes(
                k, "little")
    return b"\xff" + v.to_bytes(8, "little")


def _w_bitvector(bits: list[bool]) -> bytes:
    out = bytearray((len(bits) + 7) // 8)
    for k, bit in enumerate(bits):
        if bit:
            out[k // 8] |= 0x80 >> (k % 8)
    return bytes(out)


def _encode_pack(blob: bytes, compression: str) -> tuple[bytes, bytes]:
    """Compress one solid blob; returns (the folder's single-coder
    record — flags+method+props preassembled — and the packed bytes)."""
    import bz2
    import lzma

    if compression == "store":
        return b"\x01\x00", blob
    if compression == "deflate":
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        return b"\x03\x04\x01\x08", c.compress(blob) + c.flush()
    if compression == "bzip2":
        return b"\x03\x04\x02\x02", bz2.compress(blob)
    if compression == "lzma1":
        c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA1, "dict_size": 1 << 20}])
        props = b"\x5d" + (1 << 20).to_bytes(4, "little")  # lc3 lp0 pb2
        return (b"\x23\x03\x01\x01" + _w_number(len(props)) + props,
                c.compress(blob) + c.flush())
    if compression == "lzma2":
        c = lzma.LZMACompressor(format=lzma.FORMAT_RAW, filters=[
            {"id": lzma.FILTER_LZMA2, "dict_size": 1 << 20}])
        # dict-size property 18 -> (2|0) << (18//2+11) == 1 MiB
        return b"\x21\x21\x01\x12", c.compress(blob) + c.flush()
    if compression == "zstd":
        import pyarrow as pa

        return (b"\x04\x04\xf7\x11\x01",
                pa.Codec("zstd").compress(blob, asbytes=True))
    raise ValueError(f"write_7z: unknown compression {compression!r}")


def write_7z(members: list[tuple[str, bytes]],
             compression: str = "lzma2") -> bytes:
    """Author a 7z archive: all non-empty members in ONE solid folder
    compressed with ``compression`` (store/deflate/bzip2/lzma1/lzma2/
    zstd), empty members recorded streamless. Round-trips byte-exactly
    through read_7z_members (pinned in test_sevenzip)."""
    names = [n for n, _ in members]
    payloads = [p for _, p in members]
    solid = [p for p in payloads if p]
    blob = b"".join(solid)
    body = bytearray()
    header = bytearray()
    header += _w_number(_K_HEADER)
    if solid:
        coder_rec, packed = _encode_pack(blob, compression)
        body += packed
        header += _w_number(_K_MAIN_STREAMS)
        header += _w_number(_K_PACK_INFO)
        header += _w_number(0) + _w_number(1)          # packPos, numPack
        header += _w_number(_K_SIZE) + _w_number(len(packed))
        header += _w_number(_K_END)
        header += _w_number(_K_UNPACK_INFO)
        header += _w_number(_K_FOLDER) + _w_number(1) + b"\x00"
        header += _w_number(1) + coder_rec             # one coder, no binds
        header += _w_number(_K_CODERS_UNPACK_SIZE) + _w_number(len(blob))
        header += _w_number(_K_END)
        header += _w_number(_K_SUBSTREAMS)
        header += _w_number(_K_NUM_UNPACK_STREAM) + _w_number(len(solid))
        header += _w_number(_K_SIZE)
        for p in solid[:-1]:
            header += _w_number(len(p))
        header += _w_number(_K_CRC) + b"\x01"          # all defined
        for p in solid:
            header += zlib.crc32(p).to_bytes(4, "little")
        header += _w_number(_K_END)
        header += _w_number(_K_END)
    header += _w_number(_K_FILES_INFO) + _w_number(len(members))
    empty_bits = [not p for p in payloads]
    if any(empty_bits):
        bv = _w_bitvector(empty_bits)
        header += _w_number(_K_EMPTY_STREAM) + _w_number(len(bv)) + bv
        ef = _w_bitvector([True] * sum(empty_bits))    # empty FILES, not dirs
        header += _w_number(_K_EMPTY_FILE) + _w_number(len(ef)) + ef
    name_blob = b"".join((n + "\x00").encode("utf-16-le") for n in names)
    header += _w_number(_K_NAME) + _w_number(1 + len(name_blob))
    header += b"\x00" + name_blob
    header += _w_number(_K_END)
    header += _w_number(_K_END)
    hdr = bytes(header)
    start = (len(body).to_bytes(8, "little")
             + len(hdr).to_bytes(8, "little")
             + zlib.crc32(hdr).to_bytes(4, "little"))
    return (MAGIC + b"\x00\x04"
            + zlib.crc32(start).to_bytes(4, "little")
            + start + bytes(body) + hdr)
