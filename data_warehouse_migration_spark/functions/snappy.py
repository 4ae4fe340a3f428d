"""Snappy framing format (.sz) from scratch — the lake-native rung
of the compression ladder: snappy is Spark's DEFAULT parquet codec
and the standard Kafka/HBase/LevelDB wire compressor, so a
training-data engine meets it everywhere column files and event
streams live. Raw snappy blocks are packed and unpacked by
functions/codecs (pyarrow's bundled snappy); this module implements
the framing spec around them:

- the sNaPpY stream-identifier chunk, compressed (0x00) and
  uncompressed (0x01) chunks carrying masked CRC-32C of the
  UNCOMPRESSED bytes (the same Google masking rule TFRecord uses —
  functions/tfrecord.py supplies the primitive), the 65536-byte
  chunk ceiling, padding (0xfe) and skippable-reserved (0x80-0xfd)
  chunks skipped, unskippable-reserved (0x02-0x7f) rejected;
- untrusted-input hygiene: lengths bounds-checked before
  allocation, every CRC verified, truncation raises ValueError —
  quarantine-routable like the rest of the ingest stack.

Scale posture: blobs are independent rows through one Arrow-batched
stage, zero shuffle; chunks are the in-file split unit (each carries
its own CRC and is ≤64 KiB decoded).
"""

from __future__ import annotations

import struct

from data_warehouse_migration_spark.functions import codecs
from data_warehouse_migration_spark.functions.tfrecord import masked_crc

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"
_CHUNK_MAX = 65536


def snappy_frame_compress(data: bytes, chunk: int = _CHUNK_MAX) -> bytes:
    """The framing format: stream identifier, then per-chunk masked
    CRC-32C + body — compressed where it wins, uncompressed where it
    doesn't (the spec's requirement that compressed chunks actually
    shrink)."""
    if not 0 < chunk <= _CHUNK_MAX:
        raise ValueError(f"snappy frame chunk {chunk} must be 1-65536")
    out = bytearray(_STREAM_ID)
    for i in range(0, len(data), chunk) or [0]:
        part = data[i : i + chunk]
        crc = masked_crc(part)
        comp = codecs.compress("snappy", part)
        if len(comp) < len(part):
            body = struct.pack("<I", crc) + comp
            out.append(0x00)
        else:
            body = struct.pack("<I", crc) + part
            out.append(0x01)
        out += len(body).to_bytes(3, "little") + body
    return bytes(out)


def snappy_frame_decompress(data: bytes, max_output: int | None = None) -> bytes:
    """Decode a framed stream, verifying every chunk's masked
    CRC-32C; padding and skippable-reserved chunks are passed over,
    unskippable-reserved ones raise (quarantine-routable)."""
    if data[: len(_STREAM_ID)] != _STREAM_ID:
        raise ValueError("snappy stream identifier missing")
    pos = len(_STREAM_ID)
    n = len(data)
    out = bytearray()
    while pos < n:
        if pos + 4 > n:
            raise ValueError("snappy chunk header truncated")
        ctype = data[pos]
        clen = int.from_bytes(data[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + clen > n:
            raise ValueError("snappy chunk truncated")
        body = data[pos : pos + clen]
        pos += clen
        if ctype == 0xFF:  # another stream identifier mid-stream
            if body != _STREAM_ID[4:]:
                raise ValueError("snappy stream identifier corrupted")
            continue
        if ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / skippable reserved
        if ctype in (0x00, 0x01):
            if clen < 4:
                raise ValueError("snappy chunk shorter than its CRC")
            (crc,) = struct.unpack_from("<I", body, 0)
            payload = body[4:]
            if ctype == 0x00:
                cap = _CHUNK_MAX
                if max_output is not None:
                    cap = min(cap, max_output - len(out) + 1)
                payload = codecs.decompress("snappy", payload, cap)
            if len(payload) > _CHUNK_MAX:
                raise ValueError("snappy chunk exceeds the 64 KiB ceiling")
            if masked_crc(payload) != crc:
                raise ValueError("snappy chunk CRC mismatch")
            out += payload
            if max_output is not None and len(out) > max_output:
                raise ValueError("snappy output exceeds caller's cap")
            continue
        raise ValueError(
            f"snappy unskippable reserved chunk type {ctype:#04x}"
        )
    return bytes(out)
