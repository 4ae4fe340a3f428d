"""The codec module (functions/codecs): one compress/decompress pair
per format on the container's native libraries. Four contracts:

1. every format round-trips, and agrees with the reference library's
   own one-shot API in both directions;
2. the output cap binds DURING decode for every format: a 64 MiB
   bomb under a 1 MiB cap raises with a memory peak of the cap plus
   a few decode chunks, never the bomb's size;
3. every malformed input — truncated, bit-flipped, wrong magic,
   trailing garbage — surfaces as ValueError, never a library class;
4. unknown formats are refused.
"""

from __future__ import annotations

import bz2
import gzip
import random
import struct
import tracemalloc

import pyarrow as pa
import pytest

from data_warehouse_migration_spark.functions import codecs

_RNG = random.Random(0xC0DEC)

CORPUS = [
    b"",
    b"a",
    b"hello codec module " * 200,
    bytes(range(256)) * 16,
    b"\x00" * 50_000,
    _RNG.randbytes(30_000),
    ("def f(x):\n    return x + 1\n" * 500).encode(),
]

#: format → (reference one-shot compress, reference one-shot decompress)
REFERENCE = {
    "gzip": (lambda b: gzip.compress(b, mtime=0), lambda b, n: gzip.decompress(b)),
    "bz2": (bz2.compress, lambda b, n: bz2.decompress(b)),
    "snappy": (
        lambda b: pa.compress(b, codec="snappy", asbytes=True),
        lambda b, n: pa.decompress(b, n, codec="snappy", asbytes=True),
    ),
    "br": (
        lambda b: pa.Codec("brotli", 5).compress(b, asbytes=True),
        lambda b, n: pa.decompress(b, n, codec="brotli", asbytes=True),
    ),
    **{
        fmt: (
            lambda b, fmt=fmt: pa.compress(b, codec=fmt, asbytes=True),
            lambda b, n, fmt=fmt: pa.decompress(b, n, codec=fmt, asbytes=True),
        )
        for fmt in ("zstd", "lz4")
    },
}


def test_native_twins_present_here():
    # every library behind the module is baked into this container
    assert codecs.FORMATS == (
        "deflate", "zlib", "gzip", "bz2", "xz", "br", "snappy", "zstd", "lz4",
    )
    for fmt in codecs.FORMATS:
        for blob in CORPUS:
            packed = codecs.compress(fmt, blob)
            assert codecs.decompress(fmt, packed) == blob, (fmt, len(blob))


@pytest.mark.parametrize("fmt", sorted(REFERENCE))
def test_cross_identity_both_directions(fmt):
    ref_comp, ref_decomp = REFERENCE[fmt]
    for blob in CORPUS:
        assert ref_decomp(codecs.compress(fmt, blob), len(blob)) == blob, fmt
        assert codecs.decompress(fmt, ref_comp(blob)) == blob, fmt


def _bomb(fmt: str, n: int) -> bytes:
    return codecs.compress(fmt, bytes(n))


def _peak(fn) -> int:
    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize("fmt", codecs.FORMATS)
def test_native_cap_contract(fmt):
    """The cap is exact at the boundary, and binds while decoding: a
    64 MiB stream of zeros under a 1 MiB cap must raise ValueError
    with a tracemalloc peak of the decoder's fixed state (its window
    and tables, measured on a tiny stream) plus the cap plus four
    decode units — the retained last unit and the library's in-flight
    input/output buffers. A decoder that checked only after a
    one-shot decode would peak at 64 MiB."""
    small = _bomb(fmt, 10_000)
    assert codecs.decompress(fmt, small, max_output=10_000) == bytes(10_000)
    with pytest.raises(ValueError, match="cap"):
        codecs.decompress(fmt, small, max_output=9_999)

    cap = 1 << 20
    bomb = _bomb(fmt, 64 << 20)
    state = _peak(lambda: codecs.decompress(fmt, _bomb(fmt, 100), cap))

    def decode():
        with pytest.raises(ValueError, match="cap"):
            codecs.decompress(fmt, bomb, max_output=cap)

    assert _peak(decode) <= state + cap + 4 * codecs.CHUNK
    if fmt == "zstd":
        # the C-side state is bounded too, where tracemalloc cannot
        # see: libzstd refuses a frame declaring a 2^31 window
        huge = struct.pack("<IBB", 0xFD2FB528, 0x00, (31 - 10) << 3)
        with pytest.raises(ValueError, match="memory"):
            codecs.decompress(fmt, huge + b"\x01\x00\x00", max_output=cap)


def _sample(fmt: str) -> bytes:
    return codecs.compress(fmt, b"error class probe, every format " * 40)


@pytest.mark.parametrize("fmt", codecs.FORMATS)
def test_error_class_per_format(fmt):
    blob = _sample(fmt)
    # every strict prefix, then wrong magic and trailing garbage
    for cut in range(1, len(blob)):
        with pytest.raises(ValueError):
            codecs.decompress(fmt, blob[:cut])
            pytest.fail(f"prefix {cut} of {len(blob)} decoded")
    for bad in (b"\xff\xff\xff\xff" + blob[4:], blob + b"garbage!"):
        with pytest.raises(ValueError):
            codecs.decompress(fmt, bad)
    # bit flips: formats without a checksum may decode to other bytes,
    # but nothing escapes as a non-ValueError class
    rng = random.Random(fmt)
    for _ in range(200):
        flipped = bytearray(blob)
        flipped[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
        try:
            codecs.decompress(fmt, bytes(flipped), max_output=1 << 16)
        except ValueError:
            pass


def test_unknown_codec_rejected():
    with pytest.raises(ValueError, match="unknown codec format"):
        codecs.compress("lzo", b"x")
    with pytest.raises(ValueError, match="unknown codec format"):
        codecs.decompress("lzo", b"x")
    with pytest.raises(ValueError, match="block strategy"):
        codecs.compress("bz2", b"x", "stored")


# --- property fuzz: the module holds on arbitrary bytes, not just the
# --- curated corpus ----------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_BLOBS = st.binary(min_size=0, max_size=8_192) | st.builds(
    lambda b, n: b * n,  # runs: the copy/RLE-heavy shapes
    st.binary(min_size=1, max_size=64),
    st.integers(min_value=1, max_value=256),
)


@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(blob=_BLOBS, fmt=st.sampled_from(sorted(REFERENCE)))
def test_property_cross_identity(blob, fmt):
    ref_comp, ref_decomp = REFERENCE[fmt]
    assert ref_decomp(codecs.compress(fmt, blob), len(blob)) == blob
    assert codecs.decompress(fmt, ref_comp(blob)) == blob


@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(blob=_BLOBS, chunk=st.integers(min_value=1, max_value=65_536))
def test_property_framed_snappy_with_native_raw_codec(blob, chunk):
    """The framing layer round-trips at any chunk size, and every
    compressed chunk body is a raw block the reference decodes."""
    from data_warehouse_migration_spark.functions.snappy import (
        snappy_frame_compress,
        snappy_frame_decompress,
    )

    framed = snappy_frame_compress(blob, chunk)
    assert snappy_frame_decompress(framed) == blob
    pos = 10  # past the stream identifier
    for i in range(0, len(blob), chunk):
        part = blob[i : i + chunk]
        clen = int.from_bytes(framed[pos + 1 : pos + 4], "little")
        body = framed[pos + 8 : pos + 4 + clen]  # past the masked CRC
        if framed[pos] == 0x00:
            assert REFERENCE["snappy"][1](body, len(part)) == part
        pos += 4 + clen
