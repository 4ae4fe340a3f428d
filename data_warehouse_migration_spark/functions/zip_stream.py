"""ZIP (PKWARE APPNOTE) archive framing, from scratch — the other
container datasets actually ship in (Kaggle dumps, model bundles,
OOXML-adjacent formats). Entries use method 0 (stored) or method 8
(raw RFC 1951 deflate through functions/codecs); this module adds
the ZIP grammar: local file headers, the central directory, the end-of-
central-directory locator, and CRC-32 verification.

Read path follows the spec's contract: find EOCD from the END of the
file (scanning backward past an optional comment), walk the CENTRAL
directory (the authority — local headers are cross-checked, not
trusted), reject data descriptors / encryption / multi-disk / ZIP64
explicitly rather than mis-reading them.

Scale posture: pure per-archive byte code inside Arrow-batched
``mapInPandas``; zero shuffle. Central-directory-first reading is
also the remote-range-request access pattern object stores want.
"""

from __future__ import annotations

import struct

import zlib

from data_warehouse_migration_spark.functions import codecs

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"


def zip_pack(
    members: list[tuple[str, bytes]], method: str = "dynamic"
) -> bytes:
    """A deterministic archive (DOS timestamps zeroed, version 20).
    ``method`` 'stored' emits method-0 entries; the deflate
    strategies emit method-8 deflate."""
    out = bytearray()
    central = bytearray()
    for name, raw in members:
        nb = name.encode("utf-8")
        comp_method = 0 if method == "stored" else 8
        data = raw if comp_method == 0 else codecs.compress("deflate", raw, method)
        crc = zlib.crc32(raw)
        offset = len(out)
        common = struct.pack(
            "<HHHHHIII",
            20,            # version needed
            0x0800,        # UTF-8 names
            comp_method,
            0, 0,          # DOS time/date: deterministic zero
            crc,
            len(data),
            len(raw),
        )
        out += _LOCAL_SIG + common + struct.pack("<HH", len(nb), 0) + nb + data
        central += (
            _CENTRAL_SIG
            + struct.pack("<H", 20)  # version made by
            + common
            + struct.pack("<HHHHHII", len(nb), 0, 0, 0, 0, 0, offset)
            + nb
        )
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0, 0, len(members), len(members), len(central), len(out), 0,
    )
    return bytes(out) + bytes(central) + eocd


def _find_eocd(data: bytes) -> int:
    """EOCD from the end, per spec: the last 65557 bytes may hold a
    comment after the fixed fields; scan backward for the signature
    whose comment length reaches exactly end-of-file."""
    n = len(data)
    lo = max(0, n - 22 - 0xFFFF)
    pos = data.rfind(_EOCD_SIG, lo)
    while pos >= 0:
        if pos + 22 <= n:
            clen = struct.unpack_from("<H", data, pos + 20)[0]
            if pos + 22 + clen == n:
                return pos
        pos = data.rfind(_EOCD_SIG, lo, pos)
    raise ValueError("ZIP end-of-central-directory not found")


def zip_members(data: bytes) -> list[tuple[str, bytes]]:
    """Walk the central directory → ``[(name, raw bytes)]``; CRC-32
    verified per entry, unsupported features raise."""
    eocd = _find_eocd(data)
    disk, cd_disk = struct.unpack_from("<HH", data, eocd + 4)
    if disk or cd_disk:
        raise ValueError("multi-disk ZIP is unsupported")
    n_entries = struct.unpack_from("<H", data, eocd + 10)[0]
    cd_offset = struct.unpack_from("<I", data, eocd + 16)[0]
    out: list[tuple[str, bytes]] = []
    pos = cd_offset
    for _ in range(n_entries):
        if data[pos : pos + 4] != _CENTRAL_SIG:
            raise ValueError("central directory entry signature missing")
        (
            _vmade, _vneed, flags, comp_method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, _disk, _iattr, _eattr, offset,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        if flags & 0x1:
            raise ValueError("encrypted ZIP entries are unsupported")
        # flag bit 3 (data descriptor — streaming writers; every Java
        # jar has it) is fine HERE: this reader takes sizes and CRC
        # from the central directory, which is always complete — the
        # descriptor only matters to a reader streaming local headers
        if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF:
            raise ValueError("ZIP64 is unsupported")
        name = data[pos + 46 : pos + 46 + nlen].decode("utf-8")
        pos += 46 + nlen + xlen + clen
        # local header: cross-check, then locate the data
        if data[offset : offset + 4] != _LOCAL_SIG:
            raise ValueError(f"local header missing for {name!r}")
        lnlen, lxlen = struct.unpack_from("<HH", data, offset + 26)
        start = offset + 30 + lnlen + lxlen
        blob = data[start : start + csize]
        if comp_method == 0:
            raw = blob
            if len(raw) != usize:
                raise ValueError(f"stored entry size mismatch for {name!r}")
        elif comp_method == 8:
            raw = codecs.decompress("deflate", blob, usize)
            if len(raw) != usize:
                raise ValueError(f"inflated size mismatch for {name!r}")
        else:
            raise ValueError(f"unsupported compression method {comp_method}")
        if zlib.crc32(raw) != crc:
            raise ValueError(f"CRC-32 mismatch for {name!r}")
        out.append((name, raw))
    return out


# --- ZIP64 (r14) ----------------------------------------------------------------
#
# The >4 GiB / >65535-entry extension real lakes hit: 0xFFFF /
# 0xFFFFFFFF sentinel fields defer to the 0x0001 extra field and a
# ZIP64 end-of-central-directory record found through its locator.
# NEW SIBLING functions: `zip_members` above keeps its attested
# honest-raise contract; these add the capability beside it.

_Z64_EOCD_SIG = b"PK\x06\x06"
_Z64_LOC_SIG = b"PK\x06\x07"
_MAX16 = 0xFFFF
_MAX32 = 0xFFFFFFFF


def zip_pack64(
    members: list[tuple[str, bytes]], method: str = "dynamic"
) -> bytes:
    """A deterministic ZIP64 archive: every entry carries 0x0001
    extras (sizes in the local header; sizes + offset in the central
    directory), the EOCD fields are saturated, and the ZIP64 EOCD
    record + locator precede it — the layout archives above 4 GiB
    must use, forced here regardless of size so the structures are
    testable. Read back by :func:`zip_members64` and by CPython's
    ``zipfile``."""
    out = bytearray()
    central = bytearray()
    for name, raw in members:
        nb = name.encode("utf-8")
        comp_method = 0 if method == "stored" else 8
        data = raw if comp_method == 0 else codecs.compress("deflate", raw, method)
        crc = zlib.crc32(raw)
        offset = len(out)
        l_extra = struct.pack("<HHQQ", 0x0001, 16, len(raw), len(data))
        out += (
            _LOCAL_SIG
            + struct.pack(
                "<HHHHHIII",
                45, 0x0800, comp_method, 0, 0, crc, _MAX32, _MAX32,
            )
            + struct.pack("<HH", len(nb), len(l_extra))
            + nb
            + l_extra
            + data
        )
        c_extra = struct.pack(
            "<HHQQQ", 0x0001, 24, len(raw), len(data), offset
        )
        central += (
            _CENTRAL_SIG
            + struct.pack("<H", 45)
            + struct.pack(
                "<HHHHHIII",
                45, 0x0800, comp_method, 0, 0, crc, _MAX32, _MAX32,
            )
            + struct.pack(
                "<HHHHHII",
                len(nb), len(c_extra), 0, 0, 0, 0, _MAX32,
            )
            + nb
            + c_extra
        )
    cd_offset = len(out)
    z64_eocd_offset = cd_offset + len(central)
    n = len(members)
    z64_eocd = _Z64_EOCD_SIG + struct.pack(
        "<QHHIIQQQQ",
        44, 45, 45, 0, 0, n, n, len(central), cd_offset,
    )
    locator = _Z64_LOC_SIG + struct.pack("<IQI", 0, z64_eocd_offset, 1)
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0, 0, min(n, _MAX16), min(n, _MAX16),
        len(central), _MAX32, 0,
    )
    return bytes(out) + bytes(central) + z64_eocd + locator + eocd


def _extra_u64s(extra: bytes, want: int) -> list[int]:
    """The first ``want`` u64 values of the 0x0001 extra field —
    ZIP64 stores only the fields whose classic slots are saturated,
    in spec order, so the CALLER pairs them with its sentinels."""
    pos = 0
    while pos + 4 <= len(extra):
        tag, ln = struct.unpack_from("<HH", extra, pos)
        pos += 4
        if pos + ln > len(extra):
            raise ValueError("ZIP extra field overruns its container")
        if tag == 0x0001:
            if ln < 8 * want:
                raise ValueError("ZIP64 extra field shorter than needed")
            return list(struct.unpack_from(f"<{want}Q", extra, pos))
        pos += ln
    raise ValueError("ZIP64 sentinel without a 0x0001 extra field")


def zip_members64(data: bytes) -> list[tuple[str, bytes]]:
    """:func:`zip_members` with ZIP64 support: the EOCD locator is
    honored when present, sentinel fields resolve through the 0x0001
    extras (central-directory authority), CRC-32 verified per entry.
    Classic archives read identically."""
    eocd = _find_eocd(data)
    n_entries = struct.unpack_from("<H", data, eocd + 10)[0]
    cd_offset = struct.unpack_from("<I", data, eocd + 16)[0]
    disk, cd_disk = struct.unpack_from("<HH", data, eocd + 4)
    loc = eocd - 20
    if loc >= 0 and data[loc : loc + 4] == _Z64_LOC_SIG:
        ldisk, z64_off, ndisks = struct.unpack_from("<IQI", data, loc + 4)
        if ldisk or ndisks != 1:
            raise ValueError("multi-disk ZIP64 is unsupported")
        if z64_off + 56 > len(data) or \
                data[z64_off : z64_off + 4] != _Z64_EOCD_SIG:
            raise ValueError("ZIP64 end-of-central-directory missing")
        (
            _rsize, _vmade, _vneed, zdisk, zcd_disk,
            _n_disk, zn, _cd_size, zcd_offset,
        ) = struct.unpack_from("<QHHIIQQQQ", data, z64_off + 4)
        if zdisk or zcd_disk:
            raise ValueError("multi-disk ZIP64 is unsupported")
        n_entries = zn
        cd_offset = zcd_offset
    else:
        if disk or cd_disk:
            raise ValueError("multi-disk ZIP is unsupported")
        if cd_offset == _MAX32:
            raise ValueError("ZIP64 sentinels without a ZIP64 locator")
        if n_entries == _MAX16:
            # ADVICE r14: APPNOTE gives 0xFFFF ZIP64 meaning only when
            # the ZIP64 locator/extra is present — a real 65535-entry
            # classic archive is legal, so count by walking the
            # central directory's declared span instead of raising.
            cd_size = struct.unpack_from("<I", data, eocd + 12)[0]
            cd_end = cd_offset + cd_size
            if cd_end > len(data):
                raise ValueError("central directory overruns the archive")
            n_entries, p = 0, cd_offset
            while p < cd_end:
                if data[p : p + 4] != _CENTRAL_SIG:
                    raise ValueError(
                        "central directory entry signature missing"
                    )
                nlen, xlen, clen = struct.unpack_from("<HHH", data, p + 28)
                p += 46 + nlen + xlen + clen
                n_entries += 1
    if n_entries > len(data) // 46:
        raise ValueError("ZIP64 entry count exceeds the archive size")
    out: list[tuple[str, bytes]] = []
    pos = cd_offset
    for _ in range(n_entries):
        if data[pos : pos + 4] != _CENTRAL_SIG:
            raise ValueError("central directory entry signature missing")
        (
            _vmade, _vneed, flags, comp_method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, edisk, _iattr, _eattr, offset,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        if flags & 0x1:
            raise ValueError("encrypted ZIP entries are unsupported")
        name = data[pos + 46 : pos + 46 + nlen].decode("utf-8")
        extra = data[pos + 46 + nlen : pos + 46 + nlen + xlen]
        want = [usize == _MAX32, csize == _MAX32, offset == _MAX32,
                edisk == _MAX16]
        if any(want):
            vals = _extra_u64s(extra, sum(want[:3]))
            it = iter(vals)
            if want[0]:
                usize = next(it)
            if want[1]:
                csize = next(it)
            if want[2]:
                offset = next(it)
            if want[3]:
                raise ValueError("multi-disk ZIP64 entry is unsupported")
        pos += 46 + nlen + xlen + clen
        if data[offset : offset + 4] != _LOCAL_SIG:
            raise ValueError(f"local header missing for {name!r}")
        lnlen, lxlen = struct.unpack_from("<HH", data, offset + 26)
        start = offset + 30 + lnlen + lxlen
        if start + csize > len(data):
            raise ValueError(f"entry data truncated for {name!r}")
        blob = data[start : start + csize]
        if comp_method == 0:
            raw = blob
            if len(raw) != usize:
                raise ValueError(f"stored entry size mismatch for {name!r}")
        elif comp_method == 8:
            raw = codecs.decompress("deflate", blob, usize)
            if len(raw) != usize:
                raise ValueError(f"inflated size mismatch for {name!r}")
        else:
            raise ValueError(f"unsupported compression method {comp_method}")
        if zlib.crc32(raw) != crc:
            raise ValueError(f"CRC-32 mismatch for {name!r}")
        out.append((name, raw))
    return out
