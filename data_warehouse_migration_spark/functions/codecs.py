"""Stream codecs: the one module that knows how each compressed
format is packed and unpacked. Every ingest path — WARC transports,
HTTP content codings, Avro blocks, ZIP members, PNG IDAT, PDF
FlateDecode, the archive gate harnesses — calls :func:`compress` /
:func:`decompress` here, and each format has exactly one
implementation:

========================  ==============================================
format                    implementation
========================  ==============================================
``deflate`` (RFC 1951),   stdlib ``zlib`` (``decompressobj(wbits)``;
``zlib`` (RFC 1950),      ``unused_data`` marks where a gzip member
``gzip`` (RFC 1952)       ends)
``bz2``                   ``bz2.BZ2Decompressor``, concatenated streams
``xz``                    ``lzma.LZMADecompressor``, concatenated
                          streams and 4-aligned stream padding
``br`` (RFC 7932)         pyarrow ``CompressedInputStream("brotli")``
``snappy`` (raw block)    pyarrow ``compress``/``decompress``
``zstd``, ``lz4``         the engine's functions/zstd and functions/lz4
                          (dictionaries and lz4 legacy frames, which
                          pyarrow cannot read)
========================  ==============================================

Contract for ``decompress(fmt, data, max_output)``:

- the cap binds DURING decode: the zlib/bz2/lzma objects run with
  ``max_length`` = :data:`CHUNK`, pyarrow streams are read
  :data:`CHUNK` bytes at a time, snappy's declared size is checked
  before allocating, and zstd/lz4 carry the cap through their block
  walks — so a hostile stream raises after at most one chunk past the
  cap, never after inflating in full;
- every failure is ``ValueError`` (library errors are re-raised as
  it), including a stream that ends before its end marker and bytes
  trailing the last stream — the quarantine lanes route on that class.
"""

from __future__ import annotations

import bz2
import lzma
import zlib
from functools import partial

import pyarrow as pa

#: decode granularity: the most output produced past a cap before the
#: decoder raises (one zlib/bz2/lzma ``max_length`` or pyarrow read)
CHUNK = 32 << 10

FORMATS = ("deflate", "zlib", "gzip", "bz2", "xz", "br", "snappy", "zstd", "lz4")

_WBITS = {"deflate": -15, "zlib": 15, "gzip": 31}

#: RFC 1951 block strategy → (zlib level, zlib strategy)
_DEFLATE_METHODS = {
    "stored": (0, zlib.Z_DEFAULT_STRATEGY),
    "fixed": (zlib.Z_DEFAULT_COMPRESSION, zlib.Z_FIXED),
    "dynamic": (zlib.Z_DEFAULT_COMPRESSION, zlib.Z_DEFAULT_STRATEGY),
}

#: what the libraries raise, plus the engine zstd/lz4 decoders'
#: unsupported-feature class
_LIBRARY_ERRORS = (
    zlib.error, OSError, EOFError, lzma.LZMAError, pa.ArrowException,
    NotImplementedError,
)


def compress(fmt: str, data: bytes, method: str = "dynamic") -> bytes:
    """Pack ``data`` as one ``fmt`` stream. Deterministic for equal
    input (the gzip header carries MTIME 0). ``method`` picks the
    RFC 1951 block strategy — ``stored``, ``fixed`` or ``dynamic``
    Huffman — for the deflate family and must stay ``dynamic``
    elsewhere."""
    if fmt in _WBITS:
        level, strategy = _DEFLATE_METHODS[method]
        c = zlib.compressobj(level, zlib.DEFLATED, _WBITS[fmt], 9, strategy)
        return c.compress(data) + c.flush()
    if method != "dynamic":
        raise ValueError(f"{fmt} has no deflate block strategy")
    if fmt == "bz2":
        return bz2.compress(data)
    if fmt == "xz":
        return lzma.compress(data, format=lzma.FORMAT_XZ)
    if fmt in ("br", "snappy"):
        codec = "brotli" if fmt == "br" else "snappy"
        return pa.compress(data, codec=codec, asbytes=True)
    if fmt == "zstd":
        from data_warehouse_migration_spark.functions.zstd import zstd_compress_lz

        return zstd_compress_lz(data)
    if fmt == "lz4":
        from data_warehouse_migration_spark.functions.lz4 import lz4_compress

        return lz4_compress(data)
    raise ValueError(f"unknown codec format {fmt!r}")


def decompress(fmt: str, data: bytes, max_output: int | None = None) -> bytes:
    """Unpack a whole ``fmt`` stream (every member/stream of a
    concatenated gzip, bzip2 or xz file); raise ValueError on any
    malformed input or once the output passes ``max_output``."""
    sink = _Sink(max_output)
    try:
        if fmt == "gzip":
            return b"".join(p for p, _, _ in gzip_members(data, max_output))
        if fmt in _WBITS:
            out, end = _inflate(data, 0, _WBITS[fmt], sink)
            if end != len(data):
                raise ValueError(f"{fmt}: trailing bytes after the stream")
            return out
        if fmt == "bz2":
            return _multistream(data, bz2.BZ2Decompressor, sink)
        if fmt == "xz":
            xz = partial(lzma.LZMADecompressor, lzma.FORMAT_XZ)
            return _multistream(data, xz, sink, padded=True)
        if fmt == "br":
            return _brotli(data, sink)
        if fmt == "snappy":
            return _snappy(data, max_output)
        if fmt == "zstd":
            from data_warehouse_migration_spark.functions.zstd import zstd_decompress

            return zstd_decompress(data, max_output)
        if fmt == "lz4":
            from data_warehouse_migration_spark.functions.lz4 import lz4_decompress

            return lz4_decompress(data, max_output)
    except _LIBRARY_ERRORS as exc:
        raise ValueError(f"{fmt} decode failed: {exc}") from exc
    raise ValueError(f"unknown codec format {fmt!r}")


def gzip_members(
    data: bytes, max_output: int | None = None
) -> list[tuple[bytes, int, int]]:
    """Walk a concatenated-member gzip file (RFC 1952 §2.2 — the WARC
    layout): ``(payload, start, end)`` per member, ``data[start:end]``
    being that member's bytes. zlib verifies each header (reserved
    FLG bits, FHCRC) and trailer (CRC-32, ISIZE); ``max_output``
    caps the payloads' total."""
    sink = _Sink(max_output)
    out = []
    pos = 0
    try:
        while pos < len(data):
            raw, end = _inflate(data, pos, 31, sink)
            out.append((raw, pos, end))
            pos = end
    except zlib.error as exc:
        raise ValueError(f"gzip decode failed: {exc}") from exc
    return out


class _Sink:
    """Output chunks under a byte budget shared by every stream of one
    call; raises the moment the total passes it."""

    def __init__(self, cap: int | None):
        self.left = cap

    def take(self, chunks: list[bytes], buf: bytes) -> None:
        if self.left is not None:
            self.left -= len(buf)
            if self.left < 0:
                raise ValueError("decoded output exceeds caller's cap")
        chunks.append(buf)


def _inflate(data: bytes, pos: int, wbits: int, sink: _Sink) -> tuple[bytes, int]:
    """One zlib-family stream starting at ``pos``: (payload, offset
    just past its end). Input is fed a chunk at a time so neither the
    output nor ``unconsumed_tail`` copies grow with the archive."""
    d = zlib.decompressobj(wbits)
    view = memoryview(data)
    chunks: list[bytes] = []
    while not d.eof:
        if pos >= len(data):
            raise ValueError("stream ends without its end marker")
        piece = view[pos : pos + CHUNK]
        pos += len(piece)
        while True:
            buf = d.decompress(piece, CHUNK)
            sink.take(chunks, buf)
            piece = d.unconsumed_tail
            if d.eof or (not piece and len(buf) < CHUNK):
                break
    return b"".join(chunks), pos - len(d.unused_data)


def _multistream(data: bytes, new, sink: _Sink, padded: bool = False) -> bytes:
    """Concatenated bz2 or xz streams through a stdlib decompressor
    (``eof``/``needs_input``/``unused_data``). ``padded``: xz stream
    padding — zero runs between streams, 4-byte aligned."""
    if not data:
        raise ValueError("empty stream")
    view = memoryview(data)
    chunks: list[bytes] = []
    pos = 0
    while pos < len(data):
        d = new()
        while not d.eof:
            piece = b""
            if d.needs_input:
                if pos >= len(data):
                    raise ValueError("stream ends without its end marker")
                piece = view[pos : pos + CHUNK]
                pos += len(piece)
            sink.take(chunks, d.decompress(piece, CHUNK))
        pos -= len(d.unused_data)
        if padded:
            end = pos
            while end < len(data) and data[end] == 0:
                end += 1
            if (end - pos) % 4:
                raise ValueError("xz stream padding not 4-byte aligned")
            pos = end
    return b"".join(chunks)


def _brotli(data: bytes, sink: _Sink) -> bytes:
    if not data:
        raise ValueError("empty brotli stream")
    stream = pa.CompressedInputStream(pa.py_buffer(data), "brotli")
    chunks: list[bytes] = []
    while buf := stream.read(CHUNK):
        sink.take(chunks, buf)
    return b"".join(chunks)


def _snappy(data: bytes, max_output: int | None) -> bytes:
    """A raw snappy block: its leading varint declares the decoded
    size, which pyarrow needs up front and the cap checks before any
    allocation."""
    n = shift = pos = 0
    while True:
        if pos >= len(data) or shift > 28:
            raise ValueError("snappy length varint truncated or overlong")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    if max_output is not None and n > max_output:
        raise ValueError("snappy declared size exceeds caller's cap")
    if n > 22 * len(data):  # a 3-byte copy element emits at most 64
        raise ValueError("snappy declared size exceeds what the block encodes")
    return pa.decompress(data, decompressed_size=n, codec="snappy", asbytes=True)
