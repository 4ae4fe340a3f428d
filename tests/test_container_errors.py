"""The container readers' error class: zip (``zipfile``), tar
(``tarfile``) and wiki-dump XML (expat) raise ``BadZipFile``,
``zlib.error``, ``EOFError``, ``ReadError``, ``ExpatError`` and more
on their own; the gate harnesses' quarantine lanes route on
``ValueError``, so that is the only class that may escape. Each
reader gets every strict prefix of a gate-shaped archive and 200
seeded bit flips, as tests/test_codecs.py does for the stream
codecs."""

from __future__ import annotations

import random

import pytest

from data_warehouse_migration_spark.functions.tar_stream import (
    tar_members,
    tar_pack,
)
from data_warehouse_migration_spark.functions.xml_text import (
    build_wikidump,
    wikidump_pages,
)
from data_warehouse_migration_spark.functions.zip_stream import (
    zip_members,
    zip_pack,
    zip_pack64,
)

_TEXT = "error class probe, every container " * 12


def _items(stem: str) -> list[tuple[str, bytes]]:
    return [
        (f"{stem}.txt", _TEXT.encode()),
        (f"{stem}.cls", b"en"),
        (f"{stem}.json", b'{"doc_id": 7}'),
    ]


def _xml_pages(blob: bytes) -> list[dict]:
    return wikidump_pages(blob.decode("utf-8", "replace"))


def _shapes(kind: str):
    """(archive bytes, reader, shortest strict prefix that may still
    read in full) for each layout the kind's gate writes."""
    if kind == "zip":
        for pack in (zip_pack, zip_pack64):
            for method in ("stored", "deflate"):
                yield pack(_items("00000007"), method), zip_members, None
    elif kind == "tar":
        for fmt in ("ustar", "pax", "gnu"):
            stem = "00000007" if fmt == "ustar" else "d" * 160 + "/00000007"
            blob = tar_pack(_items(stem), fmt=fmt)
            # a shard missing part of its second end-of-archive block
            # still has a whole zero block there
            yield blob, tar_members, len(blob) - 512
    else:
        xml = build_wikidump(
            [
                {"title": "Doc 7", "ns": 3, "page_id": 7, "text": _TEXT},
                {"title": "Talk:Doc 7", "ns": 1, "page_id": 8,
                 "text": "ack 7"},
            ]
        )
        yield xml.encode(), _xml_pages, None


@pytest.mark.parametrize("kind", ["zip", "tar", "xml"])
def test_container_error_class(kind):
    rng = random.Random(kind)
    for blob, read, full_from in _shapes(kind):
        whole = read(blob)
        for cut in range(len(blob)):
            if full_from is not None and cut >= full_from:
                assert read(blob[:cut]) == whole, cut
                continue
            with pytest.raises(ValueError):
                read(blob[:cut])
                pytest.fail(f"prefix {cut} of {len(blob)} read")
        # bit flips: a payload flip may read as other bytes (tar has no
        # payload checksum), but nothing escapes as another class
        for _ in range(200):
            flipped = bytearray(blob)
            flipped[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
            try:
                read(bytes(flipped))
            except ValueError:
                pass
