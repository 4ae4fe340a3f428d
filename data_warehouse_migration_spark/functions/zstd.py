"""The zstd seekable format: ordinary zstd frames plus a final
skippable frame holding a seek table, so one large ``.zst`` splits
into frames that independent tasks read by byte range. Each frame is
written and read through :mod:`functions.codecs` (libzstd); this
module only packs and parses the table, and carries ``xxh64`` for the
table's per-frame checksums, which libzstd does not export.
"""

from __future__ import annotations

import struct

from data_warehouse_migration_spark.functions import codecs

# --- xxHash64 (the seek table's per-frame checksum) ----------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v1 = (_rotl((v1 + lanes[0] * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + lanes[1] * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + lanes[2] * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + lanes[3] * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_rotl((v * _P2) & _M64, 31) * _P1) & _M64)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        k = (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# --- the seekable format ------------------------------------------------------
#
# The public zstd seekable format (zstd contrib): the seek table holds
# per-frame compressed/decompressed sizes, optional per-frame
# xxHash64-low32 checksums, and a footer with the entry count, a
# descriptor byte and the 0x8F92EAB1 seekable magic. A plain zstd
# decoder still reads the whole file: it skips the table.

_SEEKABLE_MAGIC = 0x8F92EAB1
_SEEK_TABLE_NIBBLE = 0xE


def zstd_seekable_pack(chunks: list[bytes], checksum: bool = True) -> bytes:
    """Pack chunks as one seekable .zst: each chunk its own frame,
    then the seek-table skippable frame. Chunk boundaries become the
    split points."""
    out = bytearray()
    entries = bytearray()
    for chunk in chunks:
        frame = codecs.compress("zstd", chunk)
        out += frame
        entries += struct.pack("<II", len(frame), len(chunk))
        if checksum:
            entries += struct.pack("<I", xxh64(chunk) & 0xFFFFFFFF)
    footer = struct.pack(
        "<IBI", len(chunks), 0x80 if checksum else 0x00, _SEEKABLE_MAGIC
    )
    out += codecs.skippable_frame(bytes(entries) + footer, _SEEK_TABLE_NIBBLE)
    return bytes(out)


def zstd_seek_table(data: bytes, file_len: int | None = None) -> list[dict]:
    """Parse the seek table from a seekable .zst WITHOUT touching the
    frame bodies. ``data`` is the whole file, or just its TAIL (what
    one ranged footer read returns) with ``file_len`` giving the true
    file length — the 100 TB shape: 9 bytes for the footer, then one
    read of the table, never the frames. Returns one dict per frame —
    ``c_offset``/``c_size`` (the byte range an independent task
    reads) plus ``d_size`` and the optional ``checksum``. Everything
    is untrusted: magics, sizes, and the offset sum against the file
    length all raise ValueError."""
    total = file_len if file_len is not None else len(data)
    base = total - len(data)
    if base < 0:
        raise ValueError("zstd seekable tail longer than the file")
    if len(data) < 17:
        raise ValueError("zstd seekable input shorter than a footer")
    n_frames, desc, magic = struct.unpack_from("<IBI", data, len(data) - 9)
    if magic != _SEEKABLE_MAGIC:
        raise ValueError("zstd seekable footer magic missing")
    if desc & 0x7C:
        raise ValueError("zstd seekable descriptor reserved bits set")
    has_ck = bool(desc & 0x80)
    entry = 12 if has_ck else 8
    table_len = n_frames * entry + 9
    skip_start = total - table_len - 8
    if skip_start < 0:
        raise ValueError("zstd seek table longer than the file")
    rel = skip_start - base
    if rel < 0:
        raise ValueError("zstd seekable tail slice misses the seek table")
    smagic, ssize = struct.unpack_from("<II", data, rel)
    if smagic != 0x184D2A50 | _SEEK_TABLE_NIBBLE or ssize != table_len:
        raise ValueError("zstd seek-table skippable frame malformed")
    out: list[dict] = []
    pos = rel + 8
    c_off = 0
    for _ in range(n_frames):
        c_size, d_size = struct.unpack_from("<II", data, pos)
        ck = None
        if has_ck:
            (ck,) = struct.unpack_from("<I", data, pos + 8)
        out.append(
            {"c_offset": c_off, "c_size": c_size, "d_size": d_size,
             "checksum": ck}
        )
        c_off += c_size
        pos += entry
    if c_off != skip_start:
        raise ValueError(
            f"zstd seek table covers {c_off} bytes, frames span {skip_start}"
        )
    return out


def zstd_seekable_read_frame(data: bytes, entry: dict) -> bytes:
    """Decode ONE frame of a seekable .zst from its seek-table entry
    — the per-task unit of the frame-parallel ingest. ``data`` may be
    the whole file or exactly the entry's byte range (what a ranged
    read hands a task). Decompressed size and, when present, the
    per-frame checksum are verified."""
    off = entry["c_offset"] if len(data) != entry["c_size"] else 0
    blob = data[off : off + entry["c_size"]]
    if len(blob) != entry["c_size"]:
        raise ValueError("zstd seekable frame range outside the data")
    raw = codecs.decompress("zstd", blob, max_output=entry["d_size"])
    if len(raw) != entry["d_size"]:
        raise ValueError(
            f"zstd seekable frame decoded {len(raw)} bytes, "
            f"table says {entry['d_size']}"
        )
    ck = entry.get("checksum")
    if ck is not None and xxh64(raw) & 0xFFFFFFFF != ck:
        raise ValueError("zstd seekable per-frame checksum mismatch")
    return raw
