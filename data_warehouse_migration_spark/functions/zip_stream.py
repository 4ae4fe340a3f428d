"""ZIP (PKWARE APPNOTE) archives — the other container datasets
actually ship in (Kaggle dumps, model bundles, OOXML-adjacent
formats) — on CPython's ``zipfile``.

:func:`zip_pack` writes through ``zipfile`` (``ZIP_STORED`` or
``ZIP_DEFLATED``, DOS timestamps fixed at 1980-01-01 so equal members
give equal bytes). :func:`zip_members` reads classic and ZIP64
archives through ``zipfile``'s central-directory walk: EOCD found
from the end past a comment, the ZIP64 end record read from just
before its locator, local headers cross-checked, CRC-32 verified.
Only stored and deflate members are read, each inflate bounded by
the member's declared size; every other method raises. Every
library error surfaces as ``ValueError`` — the class the quarantine
lanes route on.

:func:`zip_pack64` stays hand-laid: even with ``force_zip64=True``,
``zipfile`` writes no central 0x0001 extras and no ZIP64
end-of-central-directory record for a small archive, and the gate's
length formula attests exactly those structures.

Scale posture: per-archive byte code inside Arrow-batched
``mapInPandas``; zero shuffle. Central-directory-first reading is
also the remote-range-request access pattern object stores want.
"""

from __future__ import annotations

import io
import struct
import zipfile
import zlib

from data_warehouse_migration_spark.functions import codecs

_EOCD_SIG = b"PK\x05\x06"

#: ``method`` → zipfile compression type
_METHODS = {"stored": zipfile.ZIP_STORED, "deflate": zipfile.ZIP_DEFLATED}

#: what reading an archive through ``zipfile`` can raise besides
#: ValueError: bad structure, an inflate error, a truncated member,
#: an unsupported method, an encrypted member, or an offset no
#: buffer can hold
_READ_ERRORS = (
    zipfile.BadZipFile, zlib.error, OSError, EOFError,
    NotImplementedError, RuntimeError, OverflowError,
)


def _method(method: str) -> int:
    if method not in _METHODS:
        raise ValueError(f"unknown ZIP method {method!r}")
    return _METHODS[method]


def zip_pack(
    members: list[tuple[str, bytes]], method: str = "deflate"
) -> bytes:
    """A deterministic archive: ``method`` 'stored' writes method-0
    entries, 'deflate' method-8 entries (zlib's default level)."""
    comp = _method(method)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for name, raw in members:
            zf.writestr(zipfile.ZipInfo(name), raw, compress_type=comp)
    return buf.getvalue()


def _without_hiding_comment(data: bytes) -> bytes:
    """``zipfile`` reads the LAST end-of-central-directory signature
    in the file as the record, so an archive comment that contains
    the signature hides the real one. APPNOTE's rule finds it — the
    signature whose comment length reaches exactly end-of-file — and
    the archive is handed on with that comment cut off."""
    n = len(data)
    lo = max(0, n - 22 - 0xFFFF)
    pos = data.rfind(_EOCD_SIG, lo)
    last = pos
    while pos >= 0:
        comment_len = int.from_bytes(data[pos + 20 : pos + 22], "little")
        if pos + 22 + comment_len == n:
            break
        pos = data.rfind(_EOCD_SIG, lo, pos)
    if pos < 0 or pos == last:
        return data
    return data[: pos + 20] + b"\x00\x00"


def zip_members(data: bytes) -> list[tuple[str, bytes]]:
    """Walk the central directory → ``[(name, raw bytes)]`` for a
    classic or ZIP64 archive; CRC-32 verified per entry, each inflate
    bounded by the entry's declared size. Methods other than stored
    and deflate raise: ``zipfile`` hands each bzip2 or lzma read
    step to a decompressor with no output limit, so a member that
    understates its size would expand before the cut."""
    out: list[tuple[str, bytes]] = []
    try:
        buf = io.BytesIO(_without_hiding_comment(data))
        with zipfile.ZipFile(buf) as zf:
            for info in zf.infolist():
                if info.compress_type not in _METHODS.values():
                    raise ValueError(
                        f"ZIP: {info.filename!r} uses unsupported"
                        f" compression method {info.compress_type}"
                    )
                with zf.open(info) as member:
                    # zipfile cuts the output at the declared size and
                    # checks the CRC there; asking for a size also
                    # bounds each inflate step (a bare read() inflates
                    # the whole payload in one call before cutting)
                    raw = member.read(info.file_size + 1)
                if len(raw) != info.file_size:
                    raise ValueError(
                        f"ZIP: {info.filename!r} does not hold its"
                        f" declared {info.file_size} bytes"
                    )
                out.append((info.filename, raw))
    except _READ_ERRORS as exc:
        raise ValueError(f"ZIP: {exc}") from exc
    return out


# --- ZIP64 writer -----------------------------------------------------------
#
# The >4 GiB / >65535-entry extension real lakes hit: 0xFFFF /
# 0xFFFFFFFF sentinel fields defer to the 0x0001 extra field and a
# ZIP64 end-of-central-directory record found through its locator.

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_Z64_EOCD_SIG = b"PK\x06\x06"
_Z64_LOC_SIG = b"PK\x06\x07"
_MAX16 = 0xFFFF
_MAX32 = 0xFFFFFFFF


def zip_pack64(
    members: list[tuple[str, bytes]], method: str = "deflate"
) -> bytes:
    """A deterministic ZIP64 archive: every entry carries 0x0001
    extras (sizes in the local header; sizes + offset in the central
    directory), the EOCD fields are saturated, and the ZIP64 EOCD
    record + locator precede it — the layout archives above 4 GiB
    must use, forced here regardless of size so the structures are
    testable. Read back by :func:`zip_members`."""
    comp_method = _method(method)
    out = bytearray()
    central = bytearray()
    for name, raw in members:
        nb = name.encode("utf-8")
        data = raw if comp_method == 0 else codecs.compress("deflate", raw)
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
