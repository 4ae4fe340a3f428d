"""Snappy: raw blocks through functions/codecs (pyarrow's bundled
snappy) and the framing format (functions/snappy) both directions,
hand-laid tag-grammar vectors, and the truncation/corruption raise
surface the quarantine lane routes (every failure a ValueError)."""

from __future__ import annotations

import random
import struct

import pytest

from data_warehouse_migration_spark.functions import codecs
from data_warehouse_migration_spark.functions.snappy import (
    snappy_frame_compress,
    snappy_frame_decompress,
)


def snappy_compress_raw(raw: bytes) -> bytes:
    return codecs.compress("snappy", raw)


def snappy_decompress_raw(blob: bytes, max_output: int | None = None) -> bytes:
    return codecs.decompress("snappy", blob, max_output)

try:
    import pyarrow as pa

    pa.compress(b"x", codec="snappy")
    _HAS_REF = True
except Exception:  # pragma: no cover — pyarrow is baked into this env
    _HAS_REF = False

_RNG = random.Random(4)
CASES = [
    b"",
    b"a",
    b"abcd",
    b"hello hello hello world " * 100,
    bytes(range(256)) * 50,
    b"\x00" * 70000,                      # long runs -> overlapping copies
    ("the quick brown fox jumps over the lazy dog " * 2000).encode(),
    _RNG.randbytes(50000),                # incompressible
    b"ab" * 40000,                        # offset-2 overlap, >64-byte matches
    _RNG.randbytes(30) * 3000,            # long-range matches
]


@pytest.mark.skipif(not _HAS_REF, reason="pyarrow snappy absent")
def test_reference_decodes_our_raw_blocks():
    for t in CASES:
        ours = snappy_compress_raw(t)
        got = pa.decompress(
            ours, decompressed_size=len(t), codec="snappy", asbytes=True
        )
        assert got == t, len(t)


@pytest.mark.skipif(not _HAS_REF, reason="pyarrow snappy absent")
def test_we_decode_reference_raw_blocks():
    for t in CASES:
        ref = pa.compress(t, codec="snappy", asbytes=True)
        assert snappy_decompress_raw(ref) == t, len(t)


def test_own_roundtrips_raw_and_framed():
    for t in CASES:
        assert snappy_decompress_raw(snappy_compress_raw(t)) == t
        assert snappy_frame_decompress(snappy_frame_compress(t)) == t
        assert (
            snappy_frame_decompress(snappy_frame_compress(t, chunk=999))
            == t
        )


def test_tag_grammar_hand_vectors():
    # literal with 1 extra length byte (tag upper bits = 60)
    blob = bytes([70, 60 << 2, 69]) + b"x" * 70
    assert snappy_decompress_raw(blob) == b"x" * 70
    # copy1: 3-bit length (4..11), 11-bit offset split across the
    # tag's high bits + one byte — len 4, offset 4
    blob2 = bytes([8, 3 << 2]) + b"abcd" + bytes([0b000_000_01, 4])
    assert snappy_decompress_raw(blob2) == b"abcdabcd"
    # copy4: 32-bit offset
    blob3 = (
        bytes([8, 3 << 2]) + b"abcd"
        + bytes([(4 - 1) << 2 | 3]) + struct.pack("<I", 4)
    )
    assert snappy_decompress_raw(blob3) == b"abcdabcd"
    # overlapping copy (offset 1, length 5) repeats byte-wise
    blob4 = bytes([6, 0 << 2]) + b"z" + bytes([(5 - 1) << 2 | 2, 1, 0])
    assert snappy_decompress_raw(blob4) == b"zzzzzz"


def test_hostile_guards():
    with pytest.raises(ValueError, match="varint"):
        snappy_decompress_raw(b"")
    with pytest.raises(ValueError, match="varint"):
        snappy_decompress_raw(b"\xff" * 8)
    # declared size mismatch, both directions
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress_raw(bytes([9, 3 << 2]) + b"abcd")
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress_raw(bytes([2, 3 << 2]) + b"abcd")
    # offset outside history / zero offset
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress_raw(
            bytes([8, 3 << 2]) + b"abcd" + bytes([3 << 2 | 2, 9, 0])
        )
    with pytest.raises(ValueError, match="snappy"):
        snappy_decompress_raw(
            bytes([8, 3 << 2]) + b"abcd" + bytes([3 << 2 | 2, 0, 0])
        )
    # caller's cap binds before allocation
    with pytest.raises(ValueError, match="caller's cap"):
        snappy_decompress_raw(
            snappy_compress_raw(b"y" * 10000), max_output=100
        )
    # framing: bad identifier, truncated chunk, CRC, reserved type
    with pytest.raises(ValueError, match="identifier"):
        snappy_frame_decompress(b"\xff\x06\x00\x00sNaPpX" + b"rest")
    good = bytearray(snappy_frame_compress(b"framed payload " * 50))
    with pytest.raises(ValueError, match="truncated"):
        snappy_frame_decompress(bytes(good[:-3]))
    bad = bytearray(good)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|truncated|snappy"):
        snappy_frame_decompress(bytes(bad))
    rsv = bytes(good[:10]) + bytes([0x02, 1, 0, 0, 0]) + bytes(good[10:])
    with pytest.raises(ValueError):
        snappy_frame_decompress(rsv)
    # padding + skippable chunks pass
    pad = (
        bytes(good[:10])
        + bytes([0xFE, 3, 0, 0]) + b"pad"
        + bytes([0x80, 2, 0, 0]) + b"sk"
        + bytes(good[10:])
    )
    assert snappy_frame_decompress(pad) == b"framed payload " * 50


def test_frame_output_cap():
    framed = snappy_frame_compress(b"\x00" * 500000)
    assert snappy_frame_decompress(framed) == b"\x00" * 500000
    with pytest.raises(ValueError, match="cap"):
        snappy_frame_decompress(framed, max_output=100000)


def test_mutation_fuzz_never_escapes_the_exception_contract():
    rng = random.Random(99)
    data = b"fuzz the snappy frame " * 60
    blob = bytearray(snappy_frame_compress(data))
    for _ in range(300):
        i = rng.randrange(len(blob))
        old = blob[i]
        blob[i] ^= 1 << rng.randrange(8)
        try:
            snappy_frame_decompress(bytes(blob), max_output=len(data) * 4)
        except ValueError:
            pass
        blob[i] = old
    raw = bytearray(snappy_compress_raw(data))
    for _ in range(300):
        i = rng.randrange(len(raw))
        old = raw[i]
        raw[i] ^= 1 << rng.randrange(8)
        try:
            snappy_decompress_raw(bytes(raw), max_output=len(data) * 4)
        except ValueError:
            pass
        raw[i] = old


def test_truncation_raises_everywhere():
    blob = snappy_compress_raw(b"truncate me anywhere " * 40)
    full = snappy_decompress_raw(blob)
    for cut in range(1, len(blob)):
        try:
            got = snappy_decompress_raw(blob[:cut])
            # a prefix can only "succeed" if it still decodes the
            # full declared size — impossible for a strict prefix
            assert got != full or cut == len(blob)
            assert False, cut
        except ValueError:
            pass
