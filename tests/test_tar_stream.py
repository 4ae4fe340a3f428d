"""ustar / WebDataset shard pins (functions/tar_stream — r11).
CPython's ``tarfile`` (USTAR_FORMAT) is the independent reference in
both directions; layout arithmetic, checksum tampering, long-name
prefix splitting, and the WebDataset adjacency contract are pinned
by hand."""

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


def test_truncated_member_raises():
    blob = tar_pack(MEMBERS)
    with pytest.raises(ValueError, match="truncated"):
        tar_members(blob[: 512 + 4])


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
    from data_warehouse_migration_spark.functions.tar_stream import _header

    bogus = _header("weird", 0, typeflag="D") + b"\x00" * 1024
    with pytest.raises(ValueError, match="typeflag"):
        tar_members(bogus)


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
    # ADVICE r11: int(x, 8) accepts '-N' — a crafted negative size
    # walks the member scan backwards. Craft a header whose size field
    # reads -12 but whose checksum is self-consistent.
    blob = bytearray(tar_pack([("a.txt", b"x" * 12)]))
    h = bytearray(blob[:512])
    h[124:136] = b"-12".ljust(11, b" ") + b"\x00"
    h[148:156] = b" " * 8
    chk = sum(h)
    h[148:155] = f"{chk:06o}".encode() + b"\x00"
    h[155] = ord(" ")
    blob[:512] = h
    with pytest.raises(ValueError, match="octal size"):
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
    from data_warehouse_migration_spark.functions.tar_stream import (
        _header,
        _pax_record,
    )

    rec = _pax_record("path", "renamed/by/global.txt")
    blob = (
        _header("g-hdr", len(rec), typeflag="g")
        + rec + b"\x00" * (-len(rec) % 512)
        + tar_pack([("a.txt", b"1"), ("b.txt", b"2")])
    )
    # the global path override applies to EVERY later member that has
    # no per-member override — both rows take the global name
    assert tar_members(blob) == [
        ("renamed/by/global.txt", b"1"),
        ("renamed/by/global.txt", b"2"),
    ]


def test_pax_size_override_and_hostile_records():
    from data_warehouse_migration_spark.functions.tar_stream import (
        _header,
        _parse_pax_records,
        _pax_record,
    )

    # pax size override: header field says 0, the record carries the
    # real size (the >8 GiB mechanism, scaled down)
    payload = b"override-sized"
    rec = _pax_record("size", str(len(payload)))
    blob = (
        _header("p-hdr", len(rec), typeflag="x")
        + rec + b"\x00" * (-len(rec) % 512)
        + _header("big.bin", 0)  # octal field lies: 0
        + payload + b"\x00" * (-len(payload) % 512)
        + b"\x00" * 1024
    )
    assert tar_members(blob) == [("big.bin", payload)]
    # round-trip the record grammar, incl. the digit-rollover fixpoint
    for k, v in (("path", "a"), ("path", "x" * 93), ("size", "12345")):
        r = _pax_record(k, v)
        n = int(r.split(b" ", 1)[0])
        assert n == len(r) and r.endswith(b"\n")
        assert _parse_pax_records(r) == {k: v}
    # hostile records: bad length token, overrun, missing '=',
    # negative size
    for bad in (b"xx path=a\n", b"999 path=a\n", b"7 patha\n"):
        with pytest.raises(ValueError):
            _parse_pax_records(bad)
    evil = _pax_record("size", "-5")
    hdr = _header("h", len(evil), typeflag="x")
    with pytest.raises(ValueError, match="PAX size"):
        tar_members(
            hdr + evil + b"\x00" * (-len(evil) % 512)
            + _header("f", 0) + b"\x00" * 1024
        )


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
    with pytest.raises(ValueError, match="too long for ustar"):
        tar_pack(members, fmt="ustar")


def test_pax_size_override_only_binds_regular_files():
    """ADVICE r13: directory / link members carry no data blocks, so
    a ``size`` record in their scope must not make the reader skip
    phantom payload and misparse every member after them."""
    from data_warehouse_migration_spark.functions.tar_stream import (
        _header,
        _pax_record,
    )

    rec = _pax_record("size", "512")
    after = b"survives"
    for flag in ("5", "2", "1"):
        blob = (
            _header("p", len(rec), typeflag="x")
            + rec + b"\x00" * (-len(rec) % 512)
            + _header("dir-or-link", 0, typeflag=flag)
            + _header("after.txt", len(after))
            + after + b"\x00" * (-len(after) % 512)
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
    from data_warehouse_migration_spark.functions.tar_stream import _header

    target = b"some/very/long/target" + b"\x00"
    blob = (
        _header("././@LongLink", len(target), typeflag="K")
        + target + b"\x00" * (-len(target) % 512)
        + _header("link", 0, typeflag="2")
        + _header("after.txt", 2) + b"ok" + b"\x00" * 510
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
