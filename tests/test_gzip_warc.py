"""gzip (RFC 1952, through functions/codecs) + WARC/1.1 + HTTP/1.1
framing pins. The stdlib ``gzip`` module is the independent reference
for the member layer (both directions); the WARC and HTTP layers are
pinned against hand-built byte layouts and adversarial framing."""

from __future__ import annotations

import gzip as sysgzip
import io
import struct
import zlib

import pytest

from data_warehouse_migration_spark.functions import codecs
from data_warehouse_migration_spark.functions.warc import (
    build_http_response,
    build_warc_record,
    parse_http_response,
    parse_warc_record,
    parse_warc_records,
    read_warc_gz,
    write_warc_gz,
)

RAW = b"the quick brown fox " * 100
BIN = bytes(range(256)) * 7


# --- gzip ------------------------------------------------------------------


def gzip_compress(raw: bytes, method: str = "dynamic") -> bytes:
    return codecs.compress("gzip", raw, method)


def gzip_decompress(blob: bytes) -> bytes:
    return codecs.decompress("gzip", blob)


@pytest.mark.parametrize("method", ["stored", "fixed", "dynamic"])
def test_gzip_ours_decoded_by_stdlib(method):
    for raw in (RAW, BIN, b"", b"x"):
        assert sysgzip.decompress(gzip_compress(raw, method)) == raw


def test_gzip_stdlib_decoded_by_ours():
    for lvl in (0, 1, 6, 9):
        assert gzip_decompress(sysgzip.compress(BIN, lvl)) == BIN


def test_gzip_fname_both_directions():
    # a member carrying FNAME (what `gzip file` writes) decodes, and
    # ours carries none: MTIME 0 and no name, so equal input → equal bytes
    buf = io.BytesIO()
    with sysgzip.GzipFile("crawl.warc", "wb", 6, buf, 1234.0) as f:
        f.write(RAW)
    assert buf.getvalue()[3] & 8
    assert gzip_decompress(buf.getvalue()) == RAW
    blob = gzip_compress(RAW)
    assert blob[3] == 0 and blob[4:8] == b"\x00" * 4
    assert blob == gzip_compress(RAW)
    assert sysgzip.decompress(blob) == RAW


def test_gzip_multi_member_walk():
    blob = (
        gzip_compress(b"one", "stored")
        + sysgzip.compress(b"two")
        + gzip_compress(b"", "dynamic")
    )
    members = codecs.gzip_members(blob)
    assert [m for m, _, _ in members] == [b"one", b"two", b""]
    # member spans tile the file exactly
    assert members[0][1] == 0 and members[-1][2] == len(blob)
    assert all(a[2] == b[1] for a, b in zip(members, members[1:]))
    # stdlib agrees on concatenated-member semantics (§2.2)
    assert sysgzip.decompress(blob) == b"onetwo"
    assert gzip_decompress(blob) == b"onetwo"


def test_gzip_fextra_and_fcomment_skipped():
    # hand-built header: FEXTRA(4) + FCOMMENT(16)
    body = gzip_compress(b"payload", "fixed")
    extra = b"ab" + struct.pack("<H", 3) + b"xyz"  # subfield id+len+data
    head = (
        b"\x1f\x8b\x08" + bytes([4 | 16]) + b"\x00" * 4 + b"\x00\xff"
        + struct.pack("<H", len(extra)) + extra
        + b"a comment\x00"
    )
    blob = head + body[10:]  # graft deflate body + trailer
    assert gzip_decompress(blob) == b"payload"
    assert sysgzip.decompress(blob) == b"payload"  # stdlib agrees


def test_gzip_fhcrc_verified():
    body = gzip_compress(b"data", "fixed")
    head = b"\x1f\x8b\x08" + bytes([2]) + b"\x00" * 4 + b"\x00\xff"
    hcrc = struct.pack("<H", zlib.crc32(head) & 0xFFFF)
    blob = head + hcrc + body[10:]
    assert gzip_decompress(blob) == b"data"
    bad = head + struct.pack("<H", (zlib.crc32(head) & 0xFFFF) ^ 1) + body[10:]
    with pytest.raises(ValueError, match="header crc"):
        gzip_decompress(bad)


def test_gzip_malformed_raises():
    good = gzip_compress(RAW, "dynamic")
    with pytest.raises(ValueError, match="header check"):
        gzip_decompress(b"\x1f\x8c" + good[2:])
    with pytest.raises(ValueError, match="compression method"):
        gzip_decompress(good[:2] + b"\x07" + good[3:])
    with pytest.raises(ValueError, match="header flags"):
        gzip_decompress(good[:3] + b"\x40" + good[4:])
    # flip one payload bit → CRC-32 must catch it
    tampered = bytearray(good)
    tampered[12] ^= 1
    with pytest.raises(ValueError):
        gzip_decompress(bytes(tampered))
    # wrong CRC-32, wrong ISIZE
    bad_crc = good[:-8] + struct.pack("<I", zlib.crc32(RAW) ^ 1) + good[-4:]
    with pytest.raises(ValueError, match="data check"):
        gzip_decompress(bad_crc)
    bad_isize = good[:-4] + struct.pack("<I", len(RAW) + 1)
    with pytest.raises(ValueError, match="length check"):
        gzip_decompress(bad_isize)
    with pytest.raises(ValueError, match="end marker"):
        gzip_decompress(good[:-3])
    # trailing garbage after the last member
    with pytest.raises(ValueError):
        gzip_decompress(good + b"junk")


# --- WARC ------------------------------------------------------------------


def test_warc_record_roundtrip():
    rec = build_warc_record(
        "response",
        {"WARC-Target-URI": "http://x/", "WARC-Record-ID": "<urn:uuid:1>"},
        b"BLOCK\r\nBYTES",
    )
    parsed, end = parse_warc_record(rec)
    assert end == len(rec)
    assert parsed["type"] == "response"
    assert parsed["block"] == b"BLOCK\r\nBYTES"
    assert parsed["headers"]["WARC-Target-URI"] == "http://x/"


def test_warc_exact_bytes():
    # the writer's grammar, byte for byte
    rec = build_warc_record("warcinfo", {}, b"k: v\r\n")
    assert rec == (
        b"WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Length: 6\r\n\r\n"
        b"k: v\r\n\r\n\r\n"
    )


def test_warc_multi_record_and_gz():
    r1 = build_warc_record("warcinfo", {}, b"info")
    r2 = build_warc_record("response", {}, b"resp")
    recs = parse_warc_records(r1 + r2)
    assert [r["block"] for r in recs] == [b"info", b"resp"]
    # member-per-record vs both-in-one-member: same records out
    for blob in (
        write_warc_gz([r1, r2], "stored"),
        gzip_compress(r1 + r2, "dynamic"),
    ):
        got = read_warc_gz(blob)
        assert [r["block"] for r in got] == [b"info", b"resp"]


def test_warc_block_may_contain_record_lookalikes():
    # Content-Length framing must win over content sniffing: the
    # block embeds a fake record header.
    evil = b"WARC/1.1\r\nWARC-Type: response\r\n\r\n"
    rec = build_warc_record("resource", {}, evil)
    parsed, _ = parse_warc_record(rec)
    assert parsed["block"] == evil


def test_warc_malformed_raises():
    with pytest.raises(ValueError, match="not a WARC"):
        parse_warc_record(b"HTTP/1.1 200\r\n\r\nbody\r\n\r\n")
    ok = build_warc_record("response", {}, b"abc")
    with pytest.raises(ValueError, match="terminator"):
        parse_warc_record(ok[:-2])  # drop final CRLF
    # writer refuses caller-set computed fields
    with pytest.raises(ValueError):
        build_warc_record("response", {"Content-Length": "3"}, b"abc")
    # header block never terminated
    with pytest.raises(ValueError, match="not terminated"):
        parse_warc_record(b"WARC/1.1\r\nWARC-Type: x\r\n")


def test_warc_obs_fold_continuation():
    raw = (
        b"WARC/1.1\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://very/\r\n long/path\r\n"
        b"Content-Length: 2\r\n\r\nhi\r\n\r\n"
    )
    parsed, _ = parse_warc_record(raw)
    assert parsed["headers"]["WARC-Target-URI"] == "http://very/ long/path"


# --- HTTP ------------------------------------------------------------------


def test_http_content_length_roundtrip():
    body = b"<html>x</html>"
    blob = build_http_response(200, "OK", {"Content-Type": "text/html"}, body)
    s, h, b = parse_http_response(blob)
    assert (s, b) == (200, body)
    assert h["Content-Type"] == "text/html"


def test_http_chunked_roundtrip_and_layout():
    body = bytes(range(200))
    blob = build_http_response(200, "OK", {}, body, chunked=True, chunk_size=64)
    s, _, b = parse_http_response(blob)
    assert (s, b) == (200, body)
    # 64+64+64+8 chunks then the 0 terminator
    payload = blob.split(b"\r\n\r\n", 1)[1]
    assert payload.startswith(b"40\r\n")
    assert payload.endswith(b"0\r\n\r\n")


def test_http_chunk_extensions_and_trailers():
    blob = (
        b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
        b"5;ext=1\r\nhello\r\n"
        b"1\r\n!\r\n"
        b"0\r\nX-Trailer: v\r\n\r\n"
    )
    s, _, b = parse_http_response(blob)
    assert (s, b) == (200, b"hello!")


def test_http_connection_close_fallback():
    blob = b"HTTP/1.1 404 Not Found\r\nServer: t\r\n\r\neverything left"
    s, _, b = parse_http_response(blob)
    assert (s, b) == (404, b"everything left")


def test_http_malformed_raises():
    with pytest.raises(ValueError, match="status line"):
        parse_http_response(b"GARBAGE\r\n\r\n")
    with pytest.raises(ValueError, match="not terminated"):
        parse_http_response(b"HTTP/1.1 200 OK\r\n")
    with pytest.raises(ValueError, match="shorter"):
        parse_http_response(b"HTTP/1.1 200 OK\r\nContent-Length: 99\r\n\r\nabc")
    with pytest.raises(ValueError, match="CRLF-terminated"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"3\r\nabcXX0\r\n\r\n"
        )
    with pytest.raises(ValueError):
        build_http_response(200, "OK", {"Content-Length": "3"}, b"abc")


def test_end_to_end_archive():
    # the gate's exact composition, checked here at unit scale
    html = b"<html><body><p>content</p></body></html>"
    http = build_http_response(
        200, "OK", {"Content-Type": "text/html"}, html, chunked=True,
        chunk_size=16,
    )
    info = build_warc_record("warcinfo", {}, b"software: t\r\n")
    resp = build_warc_record(
        "response",
        {"Content-Type": "application/http;msgtype=response"},
        http,
    )
    for method in ("stored", "fixed", "dynamic"):
        archive = write_warc_gz([info, resp], method=method)
        records = read_warc_gz(archive)
        assert [r["type"] for r in records] == ["warcinfo", "response"]
        s, _, b = parse_http_response(records[1]["block"])
        assert (s, b) == (200, html)


def test_negative_and_noncanonical_length_tokens_rejected():
    # ADVICE r11: int() alone accepts '-4' — a negative WARC
    # Content-Length lands block_end ON the header terminator, so the
    # parser "succeeds" with an empty block and re-enters INSIDE the
    # block content (record smuggling). Digits-only tokens required.
    rec = bytearray(build_warc_record("response", {}, b"abcd"))
    smuggled = bytes(rec).replace(b"Content-Length: 4", b"Content-Length: -4")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc_record(smuggled, 0)
    # (' 4' is not here: leading OWS is stripped at the header-field
    # level per the spec before the token validator sees it)
    for tok in (b"+4", b"4_0", b"0x4", b""):
        bad = bytes(rec).replace(b"Content-Length: 4", b"Content-Length: " + tok)
        with pytest.raises(ValueError):
            parse_warc_record(bad, 0)


def test_negative_http_lengths_rejected():
    with pytest.raises(ValueError, match="Content-Length"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nContent-Length: -3\r\n\r\nabc"
        )
    # a negative chunk size moves the scan position BACKWARDS — an
    # infinite parse loop on a malicious page. Hex digits only.
    with pytest.raises(ValueError, match="chunk size"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"-4\r\nabcd\r\n0\r\n\r\n"
        )
    with pytest.raises(ValueError, match="chunk size"):
        parse_http_response(
            b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"\r\n0\r\n\r\n"
        )


def test_quarantine_corruptions_raise_valueerror():
    """The three corruption legs the crawl_ingest_quarantine gate
    applies must each raise ValueError from the read side — the class
    the oracle attests (VERDICT r11 action #1)."""
    import pytest

    from data_warehouse_migration_spark.functions.warc import (
        build_warc_record,
        read_warc_gz,
        write_warc_gz,
    )

    rec = build_warc_record(
        "response",
        {"WARC-Record-ID": "<urn:uuid:1>"},
        b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi",
    )
    archive = write_warc_gz([rec], method="dynamic")
    flipped_trailer = archive[:-1] + bytes([archive[-1] ^ 0xFF])
    truncated = archive[:-20]
    bad_magic = bytes([archive[0] ^ 0xFF]) + archive[1:]
    for blob, why in (
        (flipped_trailer, "trailer byte flip"),
        (truncated, "truncation"),
        (bad_magic, "magic flip"),
    ):
        with pytest.raises(ValueError):
            read_warc_gz(blob)


def test_read_warc_any_dispatch():
    """One entry point for every transport a crawl drop ships:
    member-gzip, bzip2, xz, zstd and lz4 incl. legacy (r13), bare —
    and a loud raise for unknown magic (r12)."""
    import lzma

    import pytest

    from data_warehouse_migration_spark.functions.warc import (
        build_warc_record,
        read_warc_any,
        write_warc_gz,
    )

    rec = build_warc_record(
        "response",
        {"WARC-Record-ID": "<urn:uuid:9>"},
        b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nhi",
    )
    bare = rec
    variants = {
        "gzip": write_warc_gz([rec], method="dynamic"),
        "bz2": codecs.compress("bz2", bare),
        "xz": lzma.compress(bare, format=lzma.FORMAT_XZ),
        "zstd": codecs.compress("zstd", bare),
        "lz4": codecs.compress("lz4", bare),
        "lz4 legacy": codecs.compress("lz4", bare, "legacy"),
        "bare": bare,
    }
    for why, blob in variants.items():
        got = read_warc_any(blob)
        assert len(got) == 1 and got[0]["type"] == "response", why
    with pytest.raises(ValueError, match="transport magic"):
        read_warc_any(b"ZZZZZZZZ")


def test_decompression_bomb_caps():
    """ADVICE r13: a hostile zstd RLE frame amplifies ~32,000×, so
    the ingest hooks must carry an output budget into the decoders
    instead of letting an executor OOM past per-row quarantine. The
    caps bind on both the transport opener and the per-response
    content-coding path, by default and when passed explicitly."""
    import pytest

    from data_warehouse_migration_spark.functions.warc import (
        decode_content_encoding,
        parse_http_response_decoded,
        read_warc_any,
    )

    # ~80 MiB of zeros → a few-KB .zst (RLE blocks): the default
    # transport budget (max(64 MiB, 32× archive)) must fire mid-decode
    bomb = codecs.compress("zstd", b"\x00" * (80 << 20))
    assert len(bomb) < 64 << 10
    with pytest.raises(ValueError, match="caller's cap"):
        read_warc_any(bomb)
    # explicit budgets thread through
    small = codecs.compress("zstd", b"\x00" * (2 << 20))
    with pytest.raises(ValueError, match="caller's cap"):
        read_warc_any(small, max_output=1 << 20)
    # content-coding leg: default budget max(16 MiB, 256× wire body)
    body = codecs.compress("zstd", b"\x00" * (20 << 20))
    with pytest.raises(ValueError, match="caller's cap"):
        decode_content_encoding({"Content-Encoding": "zstd"}, body)
    with pytest.raises(ValueError, match="caller's cap"):
        decode_content_encoding(
            {"Content-Encoding": "zstd"}, small, max_output=1 << 20
        )
    # and through the composed response entry point
    resp = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n"
        b"Content-Length: %d\r\n\r\n" % len(small) + small
    )
    with pytest.raises(ValueError, match="caller's cap"):
        parse_http_response_decoded(resp, max_output=1 << 20)
    # a legitimate coded body still decodes under the default budget
    page = codecs.compress("zstd", b"ok page")
    status, _, got = parse_http_response_decoded(
        b"HTTP/1.1 200 OK\r\nContent-Encoding: zstd\r\n"
        b"Content-Length: %d\r\n\r\n" % len(page) + page
    )
    assert status == 200 and got == b"ok page"


def test_content_encoding_decoding():
    """RFC 9110 §8.4 content codings over a de-framed body: gzip,
    zlib-wrapped deflate, BARE-stream deflate (the misconfigured-
    server shape the browser sniff exists for), identity, the
    right-to-left multi-coding order, and case/whitespace laxity."""
    from data_warehouse_migration_spark.functions.warc import (
        decode_content_encoding,
    )

    def zlib_compress(raw, method):
        return codecs.compress("zlib", raw, method)

    body = b"<html><body><p>hello coded world</p></body></html>" * 4
    cases = {
        "gzip": gzip_compress(body, method="dynamic"),
        "x-gzip": gzip_compress(body),
        "deflate": zlib_compress(body, method="dynamic"),  # zlib-wrapped
        "identity": body,
        "GZip ": gzip_compress(body),  # token is case-insensitive
    }
    for token, wire in cases.items():
        hdrs = {"Content-Encoding": token}
        assert decode_content_encoding(hdrs, wire) == body, token
    # bare RFC 1951 stream under the deflate token → the sniff path
    raw_deflate = codecs.compress("deflate", body)
    assert (
        decode_content_encoding({"Content-Encoding": "deflate"}, raw_deflate)
        == body
    )
    # applied left-to-right by the server → undone right-to-left
    double = gzip_compress(zlib_compress(body, method="stored"))
    assert (
        decode_content_encoding(
            {"Content-Encoding": "deflate, gzip"}, double
        )
        == body
    )
    # no header at all → body passes through untouched
    assert decode_content_encoding({}, body) == body


def test_content_encoding_hostile_paths_quarantine_routable():
    """Wrong header over a plain body, truncated gzip, detected-but-
    undecoded br/zstd, unknown token — each must raise the documented
    class, never return compressed bytes as text."""
    from data_warehouse_migration_spark.functions.warc import (
        build_http_response,
        decode_content_encoding,
        parse_http_response_decoded,
    )

    body = b"plain text that is not gzip"
    with pytest.raises(ValueError, match="header check"):
        decode_content_encoding({"Content-Encoding": "gzip"}, body)
    with pytest.raises(ValueError):
        decode_content_encoding(
            {"Content-Encoding": "gzip"}, gzip_compress(body)[:-8]
        )
    # zstd and br decode (r13); garbage under either token still
    # raises ValueError
    assert (
        decode_content_encoding(
            {"Content-Encoding": "zstd"}, codecs.compress("zstd", body)
        )
        == body
    )
    with pytest.raises(ValueError):
        decode_content_encoding({"Content-Encoding": "zstd"}, body)
    assert (
        decode_content_encoding(
            {"Content-Encoding": "br"}, codecs.compress("br", body)
        )
        == body
    )
    with pytest.raises(ValueError):
        # truncated stream: a mid-meta-block cut cannot parse
        decode_content_encoding(
            {"Content-Encoding": "br"}, codecs.compress("br", body)[:-3]
        )
    with pytest.raises(ValueError, match="unknown content coding"):
        decode_content_encoding({"Content-Encoding": "compress"}, body)
    # end-to-end: chunked transfer + gzip content, both layers undone
    page = b"<p>two-layer framing</p>" * 10
    wire = gzip_compress(page, method="dynamic")
    resp = build_http_response(
        200, "OK", {"Content-Encoding": "gzip"}, wire,
        chunked=True, chunk_size=7,
    )
    status, headers, got = parse_http_response_decoded(resp)
    assert (status, got) == (200, page)


def test_content_coding_chains_invert():
    """Random multi-coding chains (servers may stack codings; RFC
    9110 lists them in application order): composing the writers
    left-to-right must invert through the right-to-left decode, for
    every chain the writers can express."""
    import itertools

    from data_warehouse_migration_spark.functions.warc import (
        decode_content_encoding,
    )

    encoders = {
        "gzip": gzip_compress,
        "deflate": lambda b: codecs.compress("zlib", b),
        "zstd": lambda b: codecs.compress("zstd", b),
        "br": lambda b: codecs.compress("br", b),
    }
    body = b"stacked codings body " * 30
    for chain in itertools.permutations(encoders, 2):
        wire = body
        for coding in chain:  # applied in listed order
            wire = encoders[coding](wire)
        hdrs = {"Content-Encoding": ", ".join(chain)}
        assert decode_content_encoding(hdrs, wire) == body, chain


def test_member_index_both_directions():
    """The CDX pattern (r15): the indexed writer's bytes are
    byte-identical to write_warc_gz, every indexed slice decodes
    standalone to exactly its record, and gzip_member_index recovers
    the writer's offsets from an archive that arrived bare."""
    from data_warehouse_migration_spark.functions.warc import (
        build_warc_record,
        gzip_member_index,
        read_warc_any,
        read_warc_gz,
        write_warc_gz,
        write_warc_gz_indexed,
    )

    records = [
        build_warc_record(
            "response",
            {"WARC-Target-URI": f"https://example.org/{i}"},
            f"body {i} ".encode() * (10 + i),
        )
        for i in range(7)
    ]
    blob, index = write_warc_gz_indexed(records)
    assert blob == write_warc_gz(records)
    assert len(index) == 7
    assert index[0][0] == 0
    assert sum(ln for _, ln in index) == len(blob)
    whole = read_warc_gz(blob)
    for (off, ln), expect in zip(index, whole):
        got = read_warc_any(blob[off : off + ln])
        assert got == [expect]
    assert gzip_member_index(blob) == index
    # a wrong offset is not a gzip member: raises, never guesses
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_warc_any(blob[index[1][0] + 1 :])
