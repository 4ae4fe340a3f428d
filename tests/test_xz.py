"""xz through functions/codecs (liblzma): every preset and check
type, multi-chunk and uncompressed-chunk LZMA2, BCJ filter chains,
multi-stream layout with stream padding, the output cap, and the
corruption/truncation raise surface (every failure a ValueError)."""

from __future__ import annotations

import lzma
import os

import pytest

from data_warehouse_migration_spark.functions import codecs

CASES = [
    b"",
    b"a",
    b"hello world " * 50,
    bytes(range(256)) * 5,
    b"a" * 10_000,
    ("the quick brown fox jumps over the lazy dog " * 200).encode(),
]

CHECKS = (lzma.CHECK_NONE, lzma.CHECK_CRC32, lzma.CHECK_CRC64, lzma.CHECK_SHA256)


def xz_decompress(blob: bytes, max_output: int | None = None) -> bytes:
    return codecs.decompress("xz", blob, max_output)


def _declared_check(blob: bytes) -> int:
    d = lzma.LZMADecompressor(lzma.FORMAT_XZ)
    d.decompress(blob[:64], 1)
    return d.check


def test_decodes_liblzma_across_presets_and_checks():
    for c in CASES:
        for preset in (0, 1, 6, 9):
            for check in CHECKS:
                blob = lzma.compress(
                    c, format=lzma.FORMAT_XZ, check=check, preset=preset
                )
                assert _declared_check(blob) == check
                assert xz_decompress(blob) == c, (len(c), preset, check)
    assert _declared_check(codecs.compress("xz", b"x")) == lzma.CHECK_CRC64


def test_check_mismatch_raises_for_every_check_type():
    for check in CHECKS[1:]:
        blob = bytearray(lzma.compress(b"checked " * 50, check=check))
        # the block check sits just before the index; flipping its
        # last byte leaves the LZMA2 data intact
        idx = blob.rindex(b"\x00", 0, len(blob) - 12)
        blob[idx - 1] ^= 0x01
        with pytest.raises(ValueError):
            xz_decompress(bytes(blob))


def test_multi_chunk_and_uncompressed_chunks():
    """>64 KiB packed forces multiple LZMA2 compressed chunks;
    incompressible input makes liblzma emit UNCOMPRESSED chunks —
    both chunk grammars must walk."""
    big_text = b"spark graft engine " * 60_000  # ~1.1 MB compressible
    big_rand = os.urandom(300_000)
    mixed = b"".join(os.urandom(1000) + b"A" * 3000 for _ in range(100))
    for c in (big_text, big_rand, mixed):
        for preset in (0, 6):
            blob = lzma.compress(c, format=lzma.FORMAT_XZ, preset=preset)
            assert xz_decompress(blob) == c, (len(c), preset)


def test_multistream_with_padding():
    s1 = lzma.compress(b"first|", format=lzma.FORMAT_XZ)
    s2 = lzma.compress(b"second", format=lzma.FORMAT_XZ)
    pad = b"\x00" * ((4 - len(s1) % 4) % 4)
    assert xz_decompress(s1 + pad + s2) == b"first|second"
    # trailing padding after the last stream is legal if 4-aligned
    assert xz_decompress(s2 + b"\x00" * 4) == b"second"
    with pytest.raises(ValueError, match="padding"):
        xz_decompress(s2 + b"\x00" * 3)


def test_corruption_raises():
    good = lzma.compress(b"payload " * 100, format=lzma.FORMAT_XZ)
    muts = {
        "truncated": good[:-3],
        "body flip": good[:20] + bytes([good[20] ^ 0xFF]) + good[21:],
        "bad magic": b"XX" + good[2:],
        "flags flip": good[:7] + bytes([good[7] ^ 0x01]) + good[8:],
    }
    muts["trailing garbage"] = good + b"garbage!"
    for why, blob in muts.items():
        with pytest.raises(ValueError):
            xz_decompress(blob)
            pytest.fail(why)


def test_bcj_chain_decodes():
    filt = [{"id": lzma.FILTER_X86}, {"id": lzma.FILTER_LZMA2, "preset": 6}]
    raw = b"\xe8\x00\x00\x00\x00 call " * 50
    blob = lzma.compress(raw, format=lzma.FORMAT_XZ, filters=filt)
    assert xz_decompress(blob) == raw


def test_truncation_raises_valueerror_everywhere():
    """Cutting a valid .xz at EVERY byte offset must raise ValueError,
    never a library class — the quarantine lane attests reason
    classes and strict callers rely on the documented exception
    surface (ADVICE r12)."""
    blob = lzma.compress(b"truncate me anywhere " * 30, preset=1)
    assert xz_decompress(blob)  # sanity: full blob decodes
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            xz_decompress(blob[:cut])


def test_output_cap_binds_during_decode():
    """ADVICE r14: the cap binds while the stream expands."""
    raw = b"\x00" * (4 << 20)
    blob = lzma.compress(raw, format=lzma.FORMAT_XZ)
    assert xz_decompress(blob, max_output=len(raw)) == raw
    with pytest.raises(ValueError, match="caller's cap"):
        xz_decompress(blob, max_output=len(raw) - 1)
    with pytest.raises(ValueError, match="caller's cap"):
        xz_decompress(blob, max_output=1000)
    small = lzma.compress(b"q" * 5000, format=lzma.FORMAT_XZ)
    with pytest.raises(ValueError, match="caller's cap"):
        xz_decompress(small, max_output=4999)
    # multi-stream: cumulative budget
    two = lzma.compress(b"x" * 1000, format=lzma.FORMAT_XZ) + lzma.compress(
        b"y" * 1000, format=lzma.FORMAT_XZ
    )
    assert xz_decompress(two, max_output=2000) == b"x" * 1000 + b"y" * 1000
    with pytest.raises(ValueError, match="caller's cap"):
        xz_decompress(two, max_output=1999)
