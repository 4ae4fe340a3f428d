"""LZ4 through functions/codecs (liblz4): reference-CLI streams
decoded across frame shapes (legacy, linked blocks, every block-size
code, no-frame-crc, block checksums), our modern and legacy frames
handed back to the CLI, hand-laid legacy blocks, and the
truncation/mutation surface the quarantine lane routes — every
failure a ValueError."""

from __future__ import annotations

import os
import shutil
import struct
import subprocess

import pytest

from data_warehouse_migration_spark.functions import codecs

_CLI = shutil.which("lz4") or (
    "/root/miniconda/bin/lz4"
    if os.path.exists("/root/miniconda/bin/lz4")
    else None
)

CASES = [
    b"",
    b"a",
    b"hello lz4 world " * 200,
    bytes(range(256)) * 40,
    b"\x00" * 5000,
    ("the quick brown fox jumps over the lazy dog " * 2000).encode(),
    bytes((i * 2654435761) >> 23 & 0xFF for i in range(60000)),  # noisy
]


def lz4_decompress(blob, max_output=None):
    return codecs.decompress("lz4", blob, max_output)


def _legacy(*blocks: bytes) -> bytes:
    """A hand-laid legacy frame: the magic, then size-prefixed blocks."""
    out = struct.pack("<I", 0x184C2102)
    for block in blocks:
        out += struct.pack("<I", len(block)) + block
    return out


def _enc(data: bytes, *args: str) -> bytes:
    return subprocess.run(
        [_CLI, "-c", *args], input=data, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, check=True,
    ).stdout


def _dec(data: bytes) -> bytes:
    return subprocess.run(
        [_CLI, "-d", "-c"], input=data, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, check=True,
    ).stdout


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_decodes_reference_cli_across_frame_shapes():
    for args in (
        ["-1"], ["-9"], ["-1", "--no-frame-crc"],
        ["-1", "-B4"], ["-1", "-B5"], ["-1", "-B6"], ["-1", "-B7"],
        ["-1", "-BD"],  # linked blocks: matches cross block bounds
        ["-l"],         # legacy frame format
        ["-1", "-BX"],  # per-block checksums
    ):
        for data in CASES:
            assert lz4_decompress(_enc(data, *args)) == data, (args, len(data))


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_cli_decodes_our_frames():
    for data in CASES:
        assert _dec(codecs.compress("lz4", data)) == data, len(data)
        assert _dec(codecs.compress("lz4", data, "legacy")) == data, len(data)


def test_own_writer_shapes_roundtrip():
    for data in CASES:
        assert lz4_decompress(codecs.compress("lz4", data, "legacy")) == data
        cut = len(data) // 2
        blob = (
            codecs.compress("lz4", data[:cut])
            + codecs.skippable_frame(b"meta", nibble=9)
            + codecs.compress("lz4", data[cut:], "legacy")
            + codecs.compress("lz4", b"")
        )
        assert lz4_decompress(blob) == data
    with pytest.raises(ValueError, match="nibble"):
        codecs.skippable_frame(b"", nibble=16)
    with pytest.raises(ValueError):
        codecs.compress("lz4", b"x", "stored")
    with pytest.raises(ValueError):
        codecs.compress("lz4", b"x", dictionary=b"history")


def test_own_roundtrip_and_block_layer():
    for data in CASES:
        assert lz4_decompress(codecs.compress("lz4", data)) == data
    # hand-laid blocks: an overlapping match (offset 1, length
    # extended by a 255 byte) decodes byte-wise, then the
    # literals-only last sequence
    assert lz4_decompress(_legacy(b"\x1fa\x01\x00\xff\x00\x50tail!")) == (
        b"a" * 275 + b"tail!"
    )
    assert lz4_decompress(_legacy(b"\x50abcde", b"\x30xyz")) == b"abcdexyz"


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_multiframe_and_skippable():
    a = _enc(b"first ", "-1")
    b = _enc(b"second", "-9")
    skip = struct.pack("<II", 0x184D2A53, 4) + b"meta"
    assert lz4_decompress(a + skip + b) == b"first second"
    assert lz4_decompress(a + _enc(b"legacy ", "-l") + b) == b"first legacy second"


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_truncation_raises_valueerror_everywhere():
    blob = _enc(b"truncate me anywhere " * 50, "-1")
    assert lz4_decompress(blob)
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            lz4_decompress(blob[:cut])


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_mutation_fuzz_never_escapes_the_exception_contract():
    import random

    rng = random.Random(77)
    data = b"fuzz the frame gently " * 50
    for blob in (bytearray(_enc(data, "-1")), bytearray(_enc(data, "-l"))):
        for _ in range(300):
            i = rng.randrange(len(blob))
            old = blob[i]
            blob[i] ^= 1 << rng.randrange(8)
            try:
                lz4_decompress(bytes(blob), max_output=len(data) * 4)
            except ValueError:
                pass
            blob[i] = old


@pytest.mark.skipif(_CLI is None, reason="reference lz4 CLI absent")
def test_legacy_frame_incompressible_9mb():
    """Legacy blocks have NO stored fallback, so on incompressible
    input the compressed block exceeds the 8 MiB chunk size (up to
    LZ4_compressBound). A 9 MB noisy file through the reference
    `lz4 -l` must decode, not quarantine."""
    import random

    data = random.Random(9).randbytes(9 << 20)
    blob = _enc(data, "-l")
    # at least one block genuinely exceeds 8 MiB
    (first_bsize,) = struct.unpack_from("<I", blob, 4)
    assert first_bsize > 8 << 20
    assert lz4_decompress(blob) == data
    # the caller's cap still binds on the legacy path
    with pytest.raises(ValueError, match="cap"):
        lz4_decompress(blob, max_output=1 << 20)
    with pytest.raises(ValueError, match="cap"):
        lz4_decompress(blob, max_output=len(data) - 1)


def test_legacy_block_bound_split_from_truncation():
    # LZ4_compressBound(8 MiB): the largest block a legacy frame holds
    bound = (8 << 20) + (8 << 20) // 255 + 16
    with pytest.raises(ValueError, match="compress bound"):
        lz4_decompress(struct.pack("<II", 0x184C2102, bound + 1) + bytes(16))
    short = struct.pack("<II", 0x184C2102, 100) + bytes(10)
    with pytest.raises(ValueError, match="legacy block truncated"):
        lz4_decompress(short)


def test_hostile_guards():
    for bad in (b"XXXXXXXX", b""):
        with pytest.raises(ValueError):
            lz4_decompress(bad)
    good = codecs.compress("lz4", b"payload " * 10)
    flg = good[4]
    assert flg & 0x20 and flg & 0x10 and flg & 0x08 and flg & 0x04
    # header-checksum byte, then the content checksum
    for at in (14, len(good) - 1):
        bad = bytearray(good)
        bad[at] ^= 0xFF
        with pytest.raises(ValueError):
            lz4_decompress(bytes(bad))
    # a block size above the declared maximum
    frame = bytearray(good)
    struct.pack_into("<I", frame, 15, 0x00FFFFFF)
    with pytest.raises(ValueError):
        lz4_decompress(bytes(frame))
    # legacy: a block running past the data, a match past the history
    with pytest.raises(ValueError):
        lz4_decompress(_legacy(b"\x50abcde")[:-1])
    with pytest.raises(ValueError):
        lz4_decompress(_legacy(b"\x1fa\x09\x00\xff\x00\x50tail!"))
