"""ZIP archive pins (functions/zip_stream, on CPython's ``zipfile``).
The hand-laid ZIP64 writer is adjudicated by ``zipfile``; the reader
is pinned on archives ``zipfile`` writes, real jars, EOCD comment
scanning, CRC and size tampering, and the ValueError contract for
what it refuses."""

from __future__ import annotations

import io
import struct
import tracemalloc
import zipfile

import pytest

from data_warehouse_migration_spark.functions.zip_stream import (
    zip_members,
    zip_pack,
    zip_pack64,
)

MEMBERS = [
    ("a.txt", b"hello zip " * 50),
    ("dir/b.bin", bytes(range(256)) * 4),
    ("empty", b""),
]


@pytest.mark.parametrize("method", ["stored", "deflate"])
def test_ours_read_by_stdlib(method):
    blob = zip_pack(MEMBERS, method)
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert [(i.filename, zf.read(i)) for i in zf.infolist()] == MEMBERS
    assert zf.testzip() is None  # stdlib's own CRC sweep


def _stdlib_pack(members, comp):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", comp) as w:
        for name, data in members:
            w.writestr(name, data)
    return buf.getvalue()


@pytest.mark.parametrize("comp", [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
def test_stdlib_read_by_ours(comp):
    assert zip_members(_stdlib_pack(MEMBERS, comp)) == MEMBERS


def test_roundtrip_and_determinism():
    blob = zip_pack(MEMBERS, "deflate")
    assert zip_members(blob) == MEMBERS
    assert blob == zip_pack(MEMBERS, "deflate")
    with pytest.raises(ValueError, match="unknown ZIP method"):
        zip_pack(MEMBERS, "fixed")


def test_stored_length_formula():
    # the gate's closed form: Σ(30+nlen+size) + Σ(46+nlen) + 22
    blob = zip_pack(MEMBERS, "stored")
    nlens = sum(len(n.encode()) for n, _ in MEMBERS)
    sizes = sum(len(d) for _, d in MEMBERS)
    assert len(blob) == 3 * 30 + nlens + sizes + 3 * 46 + nlens + 22


def test_archive_comment_scanned_past():
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as w:
        w.writestr("x", b"y")
        w.comment = b"comment with PK\x05\x06 inside"  # adversarial
    assert zip_members(buf.getvalue()) == [("x", b"y")]


def test_crc_tamper_detected():
    blob = bytearray(zip_pack([("f", b"payload-bytes")], "stored"))
    at = blob.index(b"payload-bytes")
    blob[at] ^= 1
    with pytest.raises(ValueError, match="CRC-32"):
        zip_members(bytes(blob))


def test_declared_size_bounds_inflate():
    """The inflate stops at the entry's declared size, so a central
    directory that understates a deflate bomb raises (its CRC covers
    the whole member) after a bounded amount of output, not after
    inflating it whole."""
    bomb = bytes(64 << 20)
    blob = bytearray(zip_pack([("bomb", bomb)], "deflate"))
    at = blob.index(b"PK\x01\x02")
    struct.pack_into("<I", blob, at + 24, 1000)  # uncompressed size
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="CRC-32"):
            zip_members(bytes(blob))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20
    # the same understated bomb as bzip2 and lzma members: zipfile
    # would inflate a whole read step (4 KiB of input and up) before
    # cutting at the declared size, so these are refused unread
    for comp in (zipfile.ZIP_BZIP2, zipfile.ZIP_LZMA):
        blob = bytearray(_stdlib_pack([("bomb", bytes(16 << 20))], comp))
        at = blob.index(b"PK\x01\x02")
        struct.pack_into("<I", blob, at + 24, 1000)
        tracemalloc.start()
        try:
            with pytest.raises(
                ValueError, match=f"compression method {comp}"
            ):
                zip_members(bytes(blob))
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 1 << 20, comp
    # a member shorter than its declared size raises too
    short = bytearray(zip_pack([("f", b"abc")], "stored"))
    at = short.index(b"PK\x01\x02")
    struct.pack_into("<I", short, at + 24, 4)
    with pytest.raises(ValueError, match="declared 4 bytes"):
        zip_members(bytes(short))


def test_missing_eocd_and_bad_local_header():
    with pytest.raises(ValueError, match="not a zip file"):
        zip_members(b"not a zip at all")
    blob = bytearray(zip_pack([("f", b"d")], "stored"))
    blob[0] = 0  # corrupt the local signature; central still points there
    with pytest.raises(ValueError, match="file header"):
        zip_members(bytes(blob))


def test_unsupported_features_rejected():
    # hand-flip the encryption bit in the central directory entry
    blob = bytearray(zip_pack([("f", b"d")], "stored"))
    at = blob.index(b"PK\x01\x02")
    flags_at = at + 8
    blob[flags_at] |= 0x1
    with pytest.raises(ValueError, match="encrypted"):
        zip_members(bytes(blob))
    # data-descriptor flag (bit 3) is FINE via the central directory
    blob[flags_at] = 0x8
    assert zip_members(bytes(blob)) == [("f", b"d")]
    # unknown compression method
    blob2 = bytearray(zip_pack([("f", b"d")], "stored"))
    at2 = blob2.index(b"PK\x01\x02")
    struct.pack_into("<H", blob2, at2 + 10, 99)
    with pytest.raises(ValueError, match="compression"):
        zip_members(bytes(blob2))


REAL_JARS = [
    # Java jars are zips written by streaming writers (data
    # descriptors, deflate) — real-world interop pins
    "/opt/spark/jars/spire-platform_2.13-0.18.0.jar",
    "/opt/spark/jars/netty-codec-4.2.7.Final.jar",
]


@pytest.mark.parametrize("path", REAL_JARS)
def test_real_world_jars(path):
    import os

    if not os.path.exists(path):
        pytest.skip(f"{path} not in this container")
    data = open(path, "rb").read()
    ours = dict(zip_members(data))
    zf = zipfile.ZipFile(io.BytesIO(data))
    theirs = {i.filename: zf.read(i) for i in zf.infolist()}
    assert ours == theirs


def test_utf8_names():
    members = [("日本語/файл.txt", b"x")]
    blob = zip_pack(members, "stored")
    assert zip_members(blob) == members
    zf = zipfile.ZipFile(io.BytesIO(blob))
    assert zf.namelist() == [members[0][0]]


def test_zip64_both_directions_adjudicated_by_stdlib():
    """`zip_pack64` forces the >4 GiB layout (saturated fields,
    0x0001 extras, ZIP64 EOCD record + locator) so the structures
    are testable without 4 GiB fixtures; CPython zipfile reads it,
    and the one reader takes classic and ZIP64 archives alike."""
    members = [
        ("a.txt", b"hello zip64 " * 100),
        ("dir/b.bin", bytes(range(256)) * 10),
        ("c", b""),
    ]
    for method in ("deflate", "stored"):
        blob = zip_pack64(members, method=method)
        assert zip_members(blob) == members, method
        zf = zipfile.ZipFile(io.BytesIO(blob))
        assert [(i.filename, zf.read(i)) for i in zf.infolist()] == members
    # stdlib's forced-zip64 output reads back through the same reader
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as w:
        for n, d in members:
            with w.open(zipfile.ZipInfo(n), "w", force_zip64=True) as f:
                f.write(d)
    assert zip_members(buf.getvalue()) == members
    assert zip_members(zip_pack(members)) == members
    # the stored ZIP64 length formula the gate attests:
    # Σ(50+nlen+size) + Σ(74+nlen) + 98
    nlens = sum(len(n) for n, _ in members)
    sizes = sum(len(d) for _, d in members)
    blob = zip_pack64(members, "stored")
    assert len(blob) == 3 * 50 + nlens + sizes + 3 * 74 + nlens + 98
    # hostile: sentinel fields with the locator cut out
    no_loc = blob[: len(blob) - 42] + blob[len(blob) - 22 :]
    with pytest.raises(ValueError, match="central directory"):
        zip_members(bytes(no_loc))
    # zipfile takes the ZIP64 record from right before the locator and
    # walks the central directory by its size: neither the locator's
    # offset field nor the record's entry count can steer the walk
    bad = bytearray(blob)
    struct.pack_into("<Q", bad, len(bad) - 38, 1 << 40)  # locator offset
    assert zip_members(bytes(bad)) == members
    z64_off = len(blob) - 22 - 20 - 56
    assert blob[z64_off : z64_off + 4] == b"PK\x06\x06"
    bad2 = bytearray(blob)
    struct.pack_into("<Q", bad2, z64_off + 4 + 20 + 8, 1 << 50)
    assert zip_members(bytes(bad2)) == members


def test_classic_65535_entries_not_mistaken_for_zip64():
    """The 0xFFFF EOCD entry count has ZIP64 meaning only when the
    locator/extra is present — a real 65535-entry classic archive is
    legal per APPNOTE and reads in full."""
    members = [(f"{i:05d}", b"") for i in range(65535)]
    blob = zip_pack(members, "stored")
    assert blob[-22:-18] == b"PK\x05\x06"
    assert struct.unpack_from("<H", blob, len(blob) - 12)[0] == 0xFFFF
    back = zip_members(blob)
    assert len(back) == 65535
    assert back[0] == ("00000", b"")
    assert back[-1] == ("65534", b"")
    # a genuinely saturated cd_offset without a locator still raises
    bad = bytearray(zip_pack(MEMBERS, "stored"))
    struct.pack_into("<I", bad, len(bad) - 6, 0xFFFFFFFF)
    with pytest.raises(ValueError):
        zip_members(bytes(bad))

