"""Stream codecs: the one module that knows how each compressed
format is packed and unpacked. Every ingest path — WARC transports,
HTTP content codings, the ZIP64 writer, PNG IDAT, PDF FlateDecode,
the archive gate harnesses — calls :func:`compress` /
:func:`decompress` here (ZIP members read through ``zipfile``, which
inflates with the same stdlib ``zlib``), and each format has exactly
one implementation:

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
``zstd`` (RFC 8878)       ``libzstd.so.1`` over ``ctypes``: streaming
                          decode, raw-content and trained dictionaries
``lz4``                   ``liblz4.so.1`` over ``ctypes``: ``LZ4F``
                          frames, legacy frames block by block
========================  ==============================================

Contract for ``decompress(fmt, data, max_output)``:

- the cap binds DURING decode: the zlib/bz2/lzma objects run with
  ``max_length`` = :data:`CHUNK`, pyarrow streams are read
  :data:`CHUNK` bytes at a time, snappy's declared size is checked
  before allocating, libzstd and liblz4 write into a :data:`CHUNK`
  output buffer, and an lz4 legacy block decodes into at most the cap
  left plus one byte — so a hostile stream raises after at most one
  chunk past the cap, never after inflating in full;
- every failure is ``ValueError`` (library errors are re-raised as
  it), including a stream that ends before its end marker and bytes
  trailing the last stream — the quarantine lanes route on that class.
"""

from __future__ import annotations

import bz2
import ctypes
import lzma
import struct
import zlib
from ctypes import byref, c_char_p, c_int, c_size_t, c_uint, c_void_p
from functools import partial

import pyarrow as pa

#: decode granularity: the most output produced past a cap before the
#: decoder raises (one zlib/bz2/lzma ``max_length``, pyarrow read, or
#: libzstd/liblz4 output buffer)
CHUNK = 32 << 10

FORMATS = ("deflate", "zlib", "gzip", "bz2", "xz", "br", "snappy", "zstd", "lz4")

_WBITS = {"deflate": -15, "zlib": 15, "gzip": 31}

#: RFC 1951 block strategy → (zlib level, zlib strategy)
_DEFLATE_METHODS = {
    "stored": (0, zlib.Z_DEFAULT_STRATEGY),
    "fixed": (zlib.Z_DEFAULT_COMPRESSION, zlib.Z_FIXED),
    "dynamic": (zlib.Z_DEFAULT_COMPRESSION, zlib.Z_DEFAULT_STRATEGY),
}

#: what the Python-level libraries raise
_LIBRARY_ERRORS = (zlib.error, OSError, EOFError, lzma.LZMAError, pa.ArrowException)


def compress(
    fmt: str, data: bytes, method: str = "dynamic", dictionary: bytes | None = None
) -> bytes:
    """Pack ``data`` as one ``fmt`` stream. Deterministic for equal
    input (the gzip header carries MTIME 0). ``method`` picks the
    layout: the RFC 1951 block strategy — ``stored``, ``fixed`` or
    ``dynamic`` Huffman — for the deflate family, ``legacy`` for an
    lz4 legacy frame (``lz4 -l``); it stays ``dynamic`` elsewhere.
    ``dictionary`` (zstd only) is raw content or a trained
    dictionary (:func:`zstd_dictionary`); the frame declares a
    trained dictionary's id."""
    if dictionary is not None and fmt != "zstd":
        raise ValueError(f"{fmt} takes no dictionary")
    if fmt in _WBITS:
        level, strategy = _DEFLATE_METHODS[method]
        c = zlib.compressobj(level, zlib.DEFLATED, _WBITS[fmt], 9, strategy)
        return c.compress(data) + c.flush()
    if fmt == "lz4" and method == "legacy":
        return _lz4_legacy_compress(data)
    if method != "dynamic":
        raise ValueError(f"{fmt} has no {method!r} block strategy")
    if fmt == "bz2":
        return bz2.compress(data)
    if fmt == "xz":
        return lzma.compress(data, format=lzma.FORMAT_XZ)
    if fmt in ("br", "snappy"):
        codec = "brotli" if fmt == "br" else "snappy"
        return pa.compress(data, codec=codec, asbytes=True)
    if fmt == "zstd":
        return _zstd_compress(data, dictionary)
    if fmt == "lz4":
        return _lz4_compress(data)
    raise ValueError(f"unknown codec format {fmt!r}")


def decompress(
    fmt: str,
    data: bytes,
    max_output: int | None = None,
    dictionary: bytes | None = None,
) -> bytes:
    """Unpack a whole ``fmt`` stream (every member/stream/frame of a
    concatenated gzip, bzip2, xz, zstd or lz4 file; zstd and lz4
    skippable frames are passed over); raise ValueError on any
    malformed input or once the output passes ``max_output``.
    ``dictionary`` (zstd only) is the raw-content or trained
    dictionary the frames were written with."""
    if dictionary is not None and fmt != "zstd":
        raise ValueError(f"{fmt} takes no dictionary")
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
            return _zstd_decompress(bytes(data), sink, dictionary)
        if fmt == "lz4":
            return _lz4_decompress(bytes(data), sink)
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


def skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    """A skippable frame (magic ``0x184D2A50 | nibble``, LE size,
    payload): metadata every zstd and lz4 decoder steps over."""
    if not 0 <= nibble <= 15:
        raise ValueError(f"skippable nibble {nibble} must be 0-15")
    return struct.pack("<II", 0x184D2A50 | nibble, len(payload)) + payload


def zstd_dictionary(content: bytes, dict_id: int) -> bytes:
    """A trained-format zstd dictionary (RFC 8878 §5) with id
    ``dict_id``: ``content`` as history, entropy tables fitted to it
    by ``ZDICT_finalizeDictionary``."""
    cap = len(content) + _ZDICT_HEADER_MAX
    out = ctypes.create_string_buffer(cap)
    sizes = (c_size_t * 1)(len(content))
    params = _ZdictParams(0, 0, dict_id)
    n = _zcheck(
        _ZSTD.ZDICT_finalizeDictionary(
            out, cap, content, len(content), content, sizes, 1, params
        )
    )
    return ctypes.string_at(out, n)


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


# --- zstd and lz4: the reference libraries over ctypes ------------------------

_ZSTD_C_CHECKSUM_FLAG = 201  # ZSTD_cParameter
#: room for a dictionary's magic, id, entropy tables and repeat offsets
_ZDICT_HEADER_MAX = 1 << 10
_LZ4F_VERSION = 100
_LZ4_MAGIC = 0x184D2204
_LZ4_LEGACY_MAGIC = 0x184C2102
_LZ4_LEGACY_HEADER = struct.pack("<I", _LZ4_LEGACY_MAGIC)
#: a legacy frame's fixed block size (``lz4 -l``)
_LZ4_LEGACY_BLOCK = 8 << 20


class _ZBuffer(ctypes.Structure):
    """``ZSTD_inBuffer`` / ``ZSTD_outBuffer``."""

    _fields_ = [("ptr", c_void_p), ("size", c_size_t), ("pos", c_size_t)]


class _ZdictParams(ctypes.Structure):
    """``ZDICT_params_t``."""

    _fields_ = [("level", c_int), ("notification", c_uint), ("dict_id", c_uint)]


class _Lz4Prefs(ctypes.Structure):
    """``LZ4F_preferences_t``, its ``LZ4F_frameInfo_t`` inlined."""

    _fields_ = [
        ("block_size_id", c_int),
        ("block_independent", c_int),
        ("content_checksum", c_int),
        ("frame_type", c_int),
        ("content_size", ctypes.c_ulonglong),
        ("dict_id", c_uint),
        ("block_checksum", c_int),
        ("level", c_int),
        ("auto_flush", c_uint),
        ("favor_dec_speed", c_uint),
        ("reserved", c_uint * 3),
    ]


def _bind(soname: str, signatures: dict) -> ctypes.CDLL:
    """Load a library by soname and declare each function's
    ``(restype, *argtypes)``."""
    lib = ctypes.CDLL(soname)
    for name, (restype, *argtypes) in signatures.items():
        getattr(lib, name).restype = restype
        getattr(lib, name).argtypes = argtypes
    return lib


_ZSTD = _bind("libzstd.so.1", {
    "ZSTD_isError": (c_uint, c_size_t),
    "ZSTD_getErrorName": (c_char_p, c_size_t),
    "ZSTD_compressBound": (c_size_t, c_size_t),
    "ZSTD_createCCtx": (c_void_p,),
    "ZSTD_freeCCtx": (c_size_t, c_void_p),
    "ZSTD_CCtx_setParameter": (c_size_t, c_void_p, c_int, c_int),
    "ZSTD_CCtx_loadDictionary": (c_size_t, c_void_p, c_char_p, c_size_t),
    "ZSTD_compress2": (c_size_t, c_void_p, c_void_p, c_size_t, c_char_p, c_size_t),
    "ZSTD_createDCtx": (c_void_p,),
    "ZSTD_freeDCtx": (c_size_t, c_void_p),
    "ZSTD_DCtx_loadDictionary": (c_size_t, c_void_p, c_char_p, c_size_t),
    "ZSTD_decompressStream": (c_size_t, c_void_p, c_void_p, c_void_p),
    "ZDICT_finalizeDictionary": (
        c_size_t, c_void_p, c_size_t, c_char_p, c_size_t, c_char_p,
        ctypes.POINTER(c_size_t), c_uint, _ZdictParams,
    ),
})
_LZ4 = _bind("liblz4.so.1", {
    "LZ4F_isError": (c_uint, c_size_t),
    "LZ4F_getErrorName": (c_char_p, c_size_t),
    "LZ4F_compressFrameBound": (c_size_t, c_size_t, c_void_p),
    "LZ4F_compressFrame": (c_size_t, c_void_p, c_size_t, c_char_p, c_size_t, c_void_p),
    "LZ4F_createDecompressionContext": (c_size_t, c_void_p, c_uint),
    "LZ4F_freeDecompressionContext": (c_size_t, c_void_p),
    "LZ4F_decompress": (c_size_t, *(c_void_p,) * 6),
    "LZ4_compressBound": (c_int, c_int),
    "LZ4_compress_default": (c_int, c_void_p, c_void_p, c_int, c_int),
    "LZ4_decompress_safe": (c_int, c_void_p, c_void_p, c_int, c_int),
})


def _address(data: bytes) -> int:
    """Where ``data``'s bytes live, for pointer arithmetic; valid while
    the caller holds ``data``."""
    return ctypes.cast(data, c_void_p).value


def _zcheck(code: int) -> int:
    if _ZSTD.ZSTD_isError(code):
        raise ValueError(f"zstd: {_ZSTD.ZSTD_getErrorName(code).decode()}")
    return code


def _lz4check(code: int) -> int:
    if _LZ4.LZ4F_isError(code):
        raise ValueError(f"lz4: {_LZ4.LZ4F_getErrorName(code).decode()}")
    return code


def _zstd_compress(data: bytes, dictionary: bytes | None) -> bytes:
    """One frame at the default level, with its content checksum."""
    cctx = _ZSTD.ZSTD_createCCtx()
    if not cctx:
        raise MemoryError("ZSTD_createCCtx failed")
    try:
        _zcheck(_ZSTD.ZSTD_CCtx_setParameter(cctx, _ZSTD_C_CHECKSUM_FLAG, 1))
        if dictionary is not None:
            _zcheck(
                _ZSTD.ZSTD_CCtx_loadDictionary(cctx, dictionary, len(dictionary))
            )
        cap = _ZSTD.ZSTD_compressBound(len(data))
        out = ctypes.create_string_buffer(cap)
        n = _zcheck(_ZSTD.ZSTD_compress2(cctx, out, cap, data, len(data)))
        return ctypes.string_at(out, n)
    finally:
        _ZSTD.ZSTD_freeCCtx(cctx)


def _zstd_decompress(data: bytes, sink: _Sink, dictionary: bytes | None) -> bytes:
    """Every frame through one decoder context, :data:`CHUNK` bytes of
    output per call; libzstd steps over skippable frames, verifies
    content sizes and checksums, and refuses windows over 2^27."""
    buf = ctypes.create_string_buffer(CHUNK)
    src = _ZBuffer(_address(data), len(data), 0)
    dst = _ZBuffer(ctypes.addressof(buf), CHUNK, 0)
    chunks: list[bytes] = []
    dctx = _ZSTD.ZSTD_createDCtx()
    if not dctx:
        raise MemoryError("ZSTD_createDCtx failed")
    try:
        if dictionary is not None:
            _zcheck(
                _ZSTD.ZSTD_DCtx_loadDictionary(dctx, dictionary, len(dictionary))
            )
        while True:
            consumed = src.pos
            dst.pos = 0
            more = _zcheck(_ZSTD.ZSTD_decompressStream(dctx, byref(dst), byref(src)))
            if dst.pos:
                sink.take(chunks, ctypes.string_at(buf, dst.pos))
            if not more and src.pos == src.size:
                return b"".join(chunks)
            if src.pos == consumed and not dst.pos:
                raise ValueError("zstd input ends inside a frame")
    finally:
        _ZSTD.ZSTD_freeDCtx(dctx)


def _lz4_compress(data: bytes) -> bytes:
    """One frame of independent 64 KiB blocks declaring its content
    size, with block and content checksums."""
    prefs = _Lz4Prefs(
        block_independent=1, content_checksum=1, content_size=len(data),
        block_checksum=1,
    )
    cap = _LZ4.LZ4F_compressFrameBound(len(data), byref(prefs))
    out = ctypes.create_string_buffer(cap)
    n = _lz4check(
        _LZ4.LZ4F_compressFrame(out, cap, data, len(data), byref(prefs))
    )
    return ctypes.string_at(out, n)


def _lz4_legacy_compress(data: bytes) -> bytes:
    """A legacy frame: the magic, then per 8 MiB block its compressed
    size and LZ4 block; no checksums, no stored fallback."""
    parts = [_LZ4_LEGACY_HEADER]
    base = _address(data)
    for i in range(0, len(data), _LZ4_LEGACY_BLOCK):
        n = min(_LZ4_LEGACY_BLOCK, len(data) - i)
        cap = _LZ4.LZ4_compressBound(n)
        out = ctypes.create_string_buffer(cap)
        size = _LZ4.LZ4_compress_default(base + i, out, n, cap)
        parts += [struct.pack("<I", size), ctypes.string_at(out, size)]
    return b"".join(parts)


def _lz4_decompress(data: bytes, sink: _Sink) -> bytes:
    """Concatenated frames: legacy ones block by block here, modern
    and skippable ones through ``LZ4F_decompress`` :data:`CHUNK` bytes
    of output at a time (it verifies the header, block and content
    checksums and stops exactly at each frame's end)."""
    if not data:
        raise ValueError("empty lz4 stream")
    buf = ctypes.create_string_buffer(CHUNK)
    base = _address(data)
    chunks: list[bytes] = []
    dctx = c_void_p()
    _lz4check(_LZ4.LZ4F_createDecompressionContext(byref(dctx), _LZ4F_VERSION))
    try:
        pos = 0
        while pos < len(data):
            if data[pos : pos + 4] == _LZ4_LEGACY_HEADER:
                pos = _lz4_legacy(data, pos + 4, sink, chunks)
                continue
            more = 1
            while more:
                src_n = c_size_t(len(data) - pos)
                dst_n = c_size_t(CHUNK)
                more = _lz4check(
                    _LZ4.LZ4F_decompress(
                        dctx, buf, byref(dst_n), base + pos, byref(src_n), None
                    )
                )
                pos += src_n.value
                if dst_n.value:
                    sink.take(chunks, ctypes.string_at(buf, dst_n.value))
                elif more and not src_n.value:
                    raise ValueError("lz4 input ends inside a frame")
    finally:
        _LZ4.LZ4F_freeDecompressionContext(dctx)
    return b"".join(chunks)


def _lz4_legacy(data: bytes, pos: int, sink: _Sink, chunks: list[bytes]) -> int:
    """A legacy frame's blocks from ``pos`` up to the next frame magic
    or the end; returns where they stop. Each block decodes into at
    most 8 MiB, or the cap left plus one byte."""
    base = _address(data)
    while pos + 4 <= len(data):
        (size,) = struct.unpack_from("<I", data, pos)
        if size in (_LZ4_MAGIC, _LZ4_LEGACY_MAGIC) or size >> 4 == 0x184D2A5:
            break
        pos += 4
        if size > _LZ4.LZ4_compressBound(_LZ4_LEGACY_BLOCK):
            raise ValueError(
                f"lz4 legacy block size {size} exceeds the compress bound"
            )
        if pos + size > len(data):
            raise ValueError("lz4 legacy block truncated")
        room = _LZ4_LEGACY_BLOCK
        if sink.left is not None:
            room = min(room, sink.left + 1)
        out = ctypes.create_string_buffer(room)
        n = _LZ4.LZ4_decompress_safe(base + pos, out, size, room)
        if n < 0:
            raise ValueError("lz4 legacy block is corrupt or exceeds caller's cap")
        sink.take(chunks, ctypes.string_at(out, n))
        pos += size
    return pos
