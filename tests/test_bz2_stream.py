"""bzip2 through functions/codecs: round-trips, real multi-block
libbz2 streams through the chunked decode loop, multistream layouts,
the output cap, and the corruption raise surface the quarantine lane
routes (every failure a ValueError)."""

from __future__ import annotations

import bz2 as stdlib_bz2
import os
import random

import pytest

from data_warehouse_migration_spark.functions import codecs

CASES = [
    b"",
    b"a",
    b"banana",
    b"hello world " * 50,
    bytes(range(256)) * 3,
    b"a" * 300,
    b"ababab" * 200,
    ("the quick brown fox jumps over the lazy dog " * 40).encode(),
]


def bz2_compress(raw: bytes) -> bytes:
    return codecs.compress("bz2", raw)


def bz2_decompress(blob: bytes, max_output: int | None = None) -> bytes:
    return codecs.decompress("bz2", blob, max_output)


def test_own_roundtrip():
    for c in CASES:
        assert bz2_decompress(bz2_compress(c)) == c, len(c)
    noise = os.urandom(2000)
    assert bz2_decompress(bz2_compress(noise)) == noise


def test_stdlib_decodes_our_streams():
    """libbz2's one-shot decoder accepts every stream the module
    emits, including the empty one."""
    for c in CASES:
        assert stdlib_bz2.decompress(bz2_compress(c)) == c, len(c)


def test_we_decode_stdlib_streams():
    """Real libbz2 output at both block sizes, including the 300k case
    that spans several blocks per stream, through the chunked loop."""
    random.seed(7)
    big = bytes(random.randrange(4) for _ in range(300_000))
    for c in CASES + [big]:
        for level in (1, 9):
            assert bz2_decompress(stdlib_bz2.compress(c, level)) == c, (
                len(c),
                level,
            )


def test_multistream_concatenation():
    """pbzip2/wiki-dump shape: concatenated independent streams decode
    to the concatenated payloads (this is what makes .bz2 splittable —
    a reader resynchronizes at any stream header)."""
    blob = (
        stdlib_bz2.compress(b"first|")
        + bz2_compress(b"second")
        + stdlib_bz2.compress(b"|third")
    )
    assert bz2_decompress(blob) == b"first|second|third"
    # stdlib's one-shot form silently drops bytes after the last
    # stream; the walk refuses them
    with pytest.raises(ValueError):
        bz2_decompress(blob + b"BZh9junk")


def test_corruption_raises_valueerror():
    good = bz2_compress(b"payload " * 40)
    muts = {
        "truncated": good[:-1],
        "flipped block byte": good[:14] + bytes([good[14] ^ 0xFF]) + good[15:],
        "bad magic": b"XX" + good[2:],
        "bad level": good[:3] + b"0" + good[4:],
        "empty": b"",
    }
    for why, blob in muts.items():
        with pytest.raises(ValueError):
            bz2_decompress(blob)
            pytest.fail(why)


def test_randomized_bit_rejected_honestly():
    """Set the deprecated randomized bit in a valid stream (bit 112:
    4-byte header, 6-byte block magic, 4-byte block CRC): the block
    then de-randomizes to different bytes (the first flip lands at
    offset 618, so the text is longer than that) and its CRC must
    refuse it, not emit garbage."""
    good = bz2_compress(b"some text to compress " * 50)
    byte_i, bit_i = divmod((4 + 6 + 4) * 8, 8)
    flipped = (
        good[:byte_i]
        + bytes([good[byte_i] | (0x80 >> bit_i)])
        + good[byte_i + 1 :]
    )
    with pytest.raises(ValueError):
        bz2_decompress(flipped)


#: ~40 RUNA symbols encoding a bijective-base-2 zero run near 2^40 —
#: a terabyte request from a few dozen bytes (level-1 block, one-symbol
#: alphabet, zeroed CRCs)
_HOSTILE_ZERO_RUN = bytes.fromhex(
    "425a68313141592653590000000000000040000200200020a0280000000000"
    "c5dc914e14240000000000"
)


def test_hostile_zero_run_bounded_before_allocation():
    """The decoder must refuse the run at the format's 100k·level
    block limit instead of allocating it (ADVICE r12)."""
    import tracemalloc

    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            bz2_decompress(_HOSTILE_ZERO_RUN)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 16 << 20


def test_legit_rle1_expansion_exceeds_cap_fine():
    """A long zero run decodes to far more than one 100k·level block
    and must still round-trip, exactly at its own size as the cap."""
    data = b"\x00" * 500_000
    blob = stdlib_bz2.compress(data, 1)
    assert bz2_decompress(blob, max_output=len(data)) == data


def test_output_cap_binds_during_decode():
    raw = b"\x00" * (4 << 20)  # ~51x-amplifying all-runs input
    blob = stdlib_bz2.compress(raw)
    assert bz2_decompress(blob, max_output=len(raw)) == raw
    with pytest.raises(ValueError, match="caller's cap"):
        bz2_decompress(blob, max_output=len(raw) - 1)
    with pytest.raises(ValueError, match="caller's cap"):
        bz2_decompress(blob, max_output=1000)
    # multi-stream: the budget is cumulative across streams
    two = stdlib_bz2.compress(b"x" * 1000) + stdlib_bz2.compress(b"y" * 1000)
    assert bz2_decompress(two, max_output=2000) == b"x" * 1000 + b"y" * 1000
    with pytest.raises(ValueError, match="caller's cap"):
        bz2_decompress(two, max_output=1999)
