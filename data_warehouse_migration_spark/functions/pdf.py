"""PDF text extraction (ISO 32000 subset), from scratch — the
document format a real crawl corpus is full of: after HTML, PDF is
the largest text source in public web archives, and a training-data
pipeline that cannot lift text out of it loses that slice. The
reference warehouse has no document surface — north-star territory,
next to the HTML rung.

Implemented from the public spec alone:

- object grammar: dictionaries ``<< >>``, arrays, names ``/X``,
  numbers, literal strings ``( )`` with balanced parens and the
  escape table (``\\(`` ``\\)`` ``\\\\`` ``\\n`` ``\\r`` ``\\t``
  octal ``\\ddd``, line continuations), hex strings ``< >``,
  booleans/null, indirect references ``n g R``;
- file structure: ``startxref`` from the end, the cross-reference
  TABLE, trailer ``/Root``, the catalog → pages tree (recursive
  ``/Kids``) → per-page ``/Contents`` (single or array, direct or
  indirect), stream ``/Length`` possibly indirect;
- filters (chainable per the /Filter array form): ``FlateDecode``
  (RFC 1950 through functions/codecs), ``LZWDecode``
  (the spec's table-driven variant with EarlyChange),
  ``ASCII85Decode``, ``ASCIIHexDecode``, ``RunLengthDecode``, and
  the PNG predictors (§7.4.4.4);
- content streams: the text-object operators ``BT``/``ET``,
  ``Tj``/``'``/``"``/``TJ`` (strings concatenate; TJ kerning
  numbers are positioning, not glyphs), with ``Td``/``TD``/``T*``
  line moves emitting newlines — the layout-free extraction rule
  every pdftotext-style tool starts from;
- FONT-AWARE string decoding (r12, VERDICT r11 action #3): ``Tf``
  selects the page-resource font; shown bytes map through the
  font's ``/ToUnicode`` CMap (``bfchar``/``bfrange``, multi-char
  ligature targets, UTF-16BE surrogate pairs, 1- and 2-byte
  codespaces) when present, else through a simple font's
  ``/Encoding`` (``WinAnsiEncoding``/``MacRomanEncoding``/
  ``StandardEncoding`` + ``/Differences`` via an Adobe-Glyph-List
  subset and the ``uniXXXX``/``uXXXXXX`` conventions), else
  2-byte-identity for Type0 and latin-1 for simple fonts — the
  subset-font reality (TeX CM encodings, CID fonts) that makes
  latin-1-only extraction emit garbage on most generated PDFs;
- a WRITER emitting the same subset (xref offsets computed, Flate
  or plain streams; latin-1, CID/Identity-H + ToUnicode, and
  Differences-remapped font modes), so both directions pin each
  other and the gate can synthesize per-document PDFs whose
  extracted text is a pure string formula.

Unsupported constructs RAISE rather than mis-extract: encryption
(``/Encrypt`` is DETECTED up front and raised as such, so ingest
quarantines it per asset), ``JBIG2``/``DCT``/``CCITT`` image
filters if they ever reach a text stream, and predictors other
than 1/PNG. Xref streams, object streams, and hybrid-reference
files are fully implemented (r11).

Scale posture: per-document byte code inside Arrow-batched
``mapInPandas``; zero shuffle — the codec posture.
"""

from __future__ import annotations

import re

from data_warehouse_migration_spark.functions import codecs

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


# --- object-level tokenizer / parser ----------------------------------------


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


class _Name(str):
    """A PDF name (/X) — distinct from a string value."""


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c in b"%":
            while i < n and data[i] not in b"\r\n":
                i += 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


def _parse_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Literal string at ``data[i] == '('``: balanced parens + the
    escape table (§7.3.4.2)."""
    assert data[i : i + 1] == b"("
    i += 1
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            e = data[i : i + 1]
            if e == b"n":
                out += b"\n"
            elif e == b"r":
                out += b"\r"
            elif e == b"t":
                out += b"\t"
            elif e == b"b":
                out += b"\b"
            elif e == b"f":
                out += b"\f"
            elif e in (b"(", b")", b"\\"):
                out += e
            elif e and e in b"01234567":  # octal, up to 3 digits
                # octal digits ONLY (ADVICE r11): '\8' is a stray
                # escape whose backslash is dropped per §7.3.4.2,
                # not an int(..., 8) crash
                j = i
                while j < i + 3 and j < n and data[j : j + 1] in b"01234567":
                    j += 1
                out.append(int(data[i:j], 8) & 0xFF)
                i = j - 1
            elif e in (b"\n", b"\r"):  # line continuation
                if e == b"\r" and data[i + 1 : i + 2] == b"\n":
                    i += 1
            else:
                out += e  # spec: stray backslash is dropped
            i += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(data: bytes, i: int) -> tuple[bytes, int]:
    end = data.index(b">", i + 1)
    hx = re.sub(rb"[\s]", b"", data[i + 1 : end])
    if len(hx) % 2:
        hx += b"0"  # §7.3.4.3: odd final digit implies trailing 0
    return bytes.fromhex(hx.decode("ascii")), end + 1


_NUM_RE = re.compile(rb"[+-]?(\d+\.?\d*|\.\d+)")
_NAME_ESC = re.compile(rb"#([0-9A-Fa-f]{2})")


def _parse_object(data: bytes, i: int):
    """Parse one object at offset i → (value, next_offset)."""
    i = _skip_ws(data, i)
    c = data[i : i + 1]
    if c == b"<":
        if data[i + 1 : i + 2] == b"<":
            d: dict = {}
            i += 2
            while True:
                i = _skip_ws(data, i)
                if data[i : i + 2] == b">>":
                    return d, i + 2
                key, i = _parse_object(data, i)
                if not isinstance(key, _Name):
                    raise ValueError("dictionary key is not a name")
                val, i = _parse_object(data, i)
                d[str(key)] = val
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_string(data, i)
    if c == b"/":
        j = i + 1
        n = len(data)
        while j < n and data[j] not in _WS and data[j : j + 1] not in _DELIM:
            j += 1
        raw = data[i + 1 : j]
        raw = _NAME_ESC.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
        return _Name(raw.decode("latin-1")), j
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(data, i)
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_object(data, i)
            arr.append(v)
    for kw, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data[i : i + len(kw)] == kw:
            return val, i + len(kw)
    m = _NUM_RE.match(data, i)
    if m:
        # maybe an indirect reference: <int> <int> R
        j = _skip_ws(data, m.end())
        m2 = _NUM_RE.match(data, j)
        if m2 and b"." not in m.group():
            k = _skip_ws(data, m2.end())
            if data[k : k + 1] == b"R" and (
                k + 1 >= len(data)
                or data[k + 1] in _WS
                or data[k + 1 : k + 2] in _DELIM
            ):
                return _Ref(int(m.group())), k + 1
        tok = m.group()
        return (float(tok) if b"." in tok else int(tok)), m.end()
    raise ValueError(f"unparseable PDF object at byte {i}: {c!r}")


# --- document reader ---------------------------------------------------------


def _png_unpredict(raw: bytes, columns: int) -> bytes:
    """PNG predictors 10-15 (§7.4.4.4): each row is a filter byte +
    ``columns`` data bytes, filtered exactly as PNG scanlines with
    bpp = 1. Reuses the spec arithmetic the PNG rung attests."""
    row_len = columns + 1
    if len(raw) % row_len:
        raise ValueError("predictor data is not a whole number of rows")
    out = bytearray()
    prev = bytearray(columns)
    for r in range(0, len(raw), row_len):
        ft = raw[r]
        row = bytearray(raw[r + 1 : r + row_len])
        if ft == 1:  # Sub
            for i in range(1, columns):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:  # Up
            for i in range(columns):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(columns):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(columns):
                a = row[i - 1] if i else 0
                b, c = prev[i], (prev[i - 1] if i else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG predictor filter {ft}")
        out += row
        prev = row
    return bytes(out)


def lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF ``LZWDecode`` (§7.4.4.2 — the TIFF table-driven variant):
    variable 9→12-bit codes MSB-first, clear code 256 resets the
    table, EOD 257 ends the stream; with ``EarlyChange`` (default 1)
    the code width bumps one entry EARLY. Appears in pre-Flate
    corpora (Acrobat ≤ 3 era) — the same dictionary discipline as
    the GIF rung, different bit order and width schedule."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = bits = 0
    prev: bytes | None = None
    for byte in data:
        buf = (buf << 8) | byte
        bits += 8
        while bits >= width:
            bits -= width
            code = (buf >> bits) & ((1 << width) - 1)
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width, prev = 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW: first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW: code {code} beyond table")
            out += entry
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    raise ValueError("LZW: stream ended without EOD")


def ascii85_decode(data: bytes) -> bytes:
    """``ASCII85Decode`` (§7.4.3): base-85 groups, ``z`` for four
    zero bytes, ``~>`` terminator, whitespace ignored."""
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for byte in data:
        if byte in _WS:
            continue
        if byte == 0x7A:  # 'z'
            if group:
                raise ValueError("ASCII85: z inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= byte <= 0x75:
            raise ValueError(f"ASCII85: byte {byte} out of range")
        group.append(byte - 0x21)
        if len(group) == 5:
            acc = 0
            for g in group:
                acc = acc * 85 + g
            if acc > 0xFFFFFFFF:
                raise ValueError("ASCII85: group overflows 32 bits")
            out += acc.to_bytes(4, "big")
            group.clear()
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85: single trailing digit")
        n = len(group)
        acc = 0
        for g in group + [84] * (5 - n):
            acc = acc * 85 + g
        out += acc.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def asciihex_decode(data: bytes) -> bytes:
    """``ASCIIHexDecode`` (§7.4.2): hex pairs until ``>``, odd final
    digit implies a trailing 0."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    hx = re.sub(rb"\s", b"", data)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def runlength_decode(data: bytes) -> bytes:
    """``RunLengthDecode`` (§7.4.5): length byte L — L<128 copies
    L+1 literals, L>128 repeats the next byte 257−L times, 128 ends."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = data[i]
        if run == 128:
            return bytes(out)
        if run < 128:
            out += data[i + 1 : i + 2 + run]
            i += 2 + run
        else:
            out += data[i + 1 : i + 2] * (257 - run)
            i += 2
    raise ValueError("RunLength: stream ended without EOD")


class _Pdf:
    def __init__(self, data: bytes):
        self.data = data
        if not data.startswith(b"%PDF-"):
            raise ValueError("missing %PDF header")
        at = data.rfind(b"startxref")
        if at < 0:
            raise ValueError("missing startxref")
        m = _NUM_RE.search(data, at + 9)
        self.offsets: dict[int, object] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._read_xref(int(m.group()))
        if "Encrypt" in self.trailer:
            # detected up front so a crawl stage quarantines the FILE
            # instead of mis-extracting or dying mid-stream
            raise ValueError("encrypted PDF (/Encrypt) — not supported")

    def _decode_stream_at(self, pos: int) -> tuple[dict, bytes]:
        """Parse ``num gen obj <<dict>> stream`` at ``pos`` and decode
        its body (used before the offsets table exists, so /Length
        must be direct here — xref streams guarantee that in
        practice; an indirect one raises loudly)."""
        data = self.data
        m = re.match(rb"\s*\d+\s+\d+\s+obj", data[pos : pos + 40])
        if not m:
            raise ValueError("xref stream not at its startxref offset")
        d, j = _parse_object(data, pos + m.end())
        j = _skip_ws(data, j)
        if data[j : j + 6] != b"stream":
            raise ValueError("expected a stream object")
        j += 6
        if data[j : j + 2] == b"\r\n":
            j += 2
        elif data[j : j + 1] == b"\n":
            j += 1
        length = d["Length"]
        if isinstance(length, _Ref):
            length = self.obj(length)
        raw = data[j : j + int(length)]
        return d, self._apply_filters(d, raw)

    def _apply_filters(self, d: dict, raw: bytes) -> bytes:
        """Run the stream's filter CHAIN (§7.4.1: /Filter may be one
        name or an array applied in order, /DecodeParms aligning
        element-wise)."""
        filt = self.obj(d.get("Filter"))
        parms = self.obj(d.get("DecodeParms", d.get("DP")))
        filters = filt if isinstance(filt, list) else ([] if filt is None else [filt])
        parms_list = parms if isinstance(parms, list) else [parms] * max(len(filters), 1)
        body = raw
        for k, f in enumerate(filters):
            p = self.obj(parms_list[k]) if k < len(parms_list) else None
            p = p if isinstance(p, dict) else {}
            name = str(self.obj(f))
            if name == "FlateDecode" or name == "Fl":
                body = codecs.decompress("zlib", body)
            elif name == "LZWDecode" or name == "LZW":
                body = lzw_decode(
                    body, int(self.obj(p.get("EarlyChange", 1)))
                )
            elif name == "ASCII85Decode" or name == "A85":
                body = ascii85_decode(body)
            elif name == "ASCIIHexDecode" or name == "AHx":
                body = asciihex_decode(body)
            elif name == "RunLengthDecode" or name == "RL":
                body = runlength_decode(body)
            else:
                raise ValueError(f"unsupported PDF filter {name}")
            pred = int(self.obj(p.get("Predictor", 1)))
            if pred >= 10:
                body = _png_unpredict(body, int(self.obj(p["Columns"])))
            elif pred != 1:
                raise ValueError(f"unsupported predictor {pred}")
        return body

    def _read_xref_stream(self, pos: int) -> None:
        d, body = self._decode_stream_at(pos)
        w = [int(x) for x in d["W"]]
        if len(w) != 3:
            raise ValueError("xref stream /W must have 3 entries")
        size = int(d["Size"])
        index = d.get("Index", [0, size])
        ew = sum(w)
        pairs = [
            (int(index[i]), int(index[i + 1]))
            for i in range(0, len(index), 2)
        ]
        at = 0
        for start, count in pairs:
            for k in range(count):
                if at + ew > len(body):
                    raise ValueError("xref stream shorter than /Index")
                fields = []
                for width in w:
                    fields.append(
                        int.from_bytes(body[at : at + width], "big")
                        if width
                        else None
                    )
                    at += width
                typ = fields[0] if w[0] else 1  # default type 1 per spec
                num = start + k
                if typ == 1:
                    self.offsets.setdefault(num, fields[1])
                elif typ == 2:
                    self.offsets.setdefault(
                        num, ("objstm", fields[1], fields[2])
                    )
        for k, v in d.items():
            if k not in ("W", "Index", "Filter", "DecodeParms", "Length",
                         "Type", "Size", "Prev"):
                self.trailer.setdefault(k, v)
        self.trailer.setdefault("Size", size)
        if "Prev" in d:
            self._read_xref(int(d["Prev"]))

    def _read_xref(self, pos: int) -> None:
        data = self.data
        pos = _skip_ws(data, pos)
        if data[pos : pos + 4] != b"xref":
            self._read_xref_stream(pos)
            return
        pos += 4
        while True:
            pos = _skip_ws(data, pos)
            if data[pos : pos + 7] == b"trailer":
                t, _ = _parse_object(data, pos + 7)
                for k, v in t.items():
                    self.trailer.setdefault(k, v)
                if "XRefStm" in t:  # hybrid-reference file (§7.5.8.4)
                    self._read_xref_stream(int(t["XRefStm"]))
                if "Prev" in t:
                    self._read_xref(int(t["Prev"]))
                return
            m = re.match(rb"(\d+)\s+(\d+)", data[pos : pos + 40])
            if not m:
                raise ValueError("malformed xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            pos += m.end()
            pos = _skip_ws(data, pos)
            for k in range(count):
                entry = data[pos : pos + 20]
                if entry[17:18] == b"n":
                    self.offsets.setdefault(start + k, int(entry[:10]))
                pos += 20

    def _objstm_load(self, num: int) -> dict[int, object]:
        """Parse an object stream (§7.5.7): header = N (objnum,
        offset) pairs, objects start at /First."""
        o = self.obj(_Ref(num))
        if not (isinstance(o, tuple) and o[0] == "stream"):
            raise ValueError(f"object stream {num} is not a stream")
        d, body = o[1], o[2]
        first = int(self.obj(d["First"]))
        count = int(self.obj(d["N"]))
        out: dict[int, object] = {}
        at = 0
        for _ in range(count):
            m1 = _NUM_RE.match(body, _skip_ws(body, at))
            m2 = _NUM_RE.match(body, _skip_ws(body, m1.end()))
            at = m2.end()
            onum, ooff = int(m1.group()), int(m2.group())
            out[onum], _ = _parse_object(body, first + ooff)
        return out

    def obj(self, ref):
        if not isinstance(ref, _Ref):
            return ref
        if ref.num in self._cache:
            return self._cache[ref.num]
        at = self.offsets[ref.num]
        if isinstance(at, tuple):  # ("objstm", container, index)
            _, container, _idx = at
            for onum, oval in self._objstm_load(container).items():
                # every compressed sibling decodes in one pass
                if onum not in self._cache and isinstance(
                    self.offsets.get(onum), tuple
                ):
                    self._cache[onum] = oval
            return self._cache[ref.num]
        data = self.data
        m = re.match(rb"\s*\d+\s+\d+\s+obj", data[at : at + 40])
        if not m:
            raise ValueError(f"object {ref.num} not at its xref offset")
        val, j = _parse_object(data, at + m.end())
        j = _skip_ws(data, j)
        if data[j : j + 6] == b"stream":
            j += 6
            if data[j : j + 2] == b"\r\n":
                j += 2
            elif data[j : j + 1] == b"\n":
                j += 1
            length = self.obj(val["Length"])
            raw = data[j : j + int(length)]
            val = ("stream", val, self._apply_filters(val, raw))
        self._cache[ref.num] = val
        return val

    def pages(self) -> list[tuple[bytes, dict]]:
        """Pages in tree order as ``(content_bytes, font_decoders)``
        where font_decoders maps resource names (``F1``…) to
        ``bytes -> str`` decoders. ``/Resources`` is inheritable down
        the pages tree (§7.7.3.4)."""
        root = self.obj(self.trailer["Root"])
        if isinstance(root, tuple):
            raise ValueError("catalog must be a dictionary")
        out: list[tuple[bytes, dict]] = []
        self._font_cache: dict[int, object] = getattr(
            self, "_font_cache", {}
        )

        def fonts_of(resources) -> dict:
            res = self.obj(resources)
            if not isinstance(res, dict):
                return {}
            fmap = self.obj(res.get("Font"))
            if not isinstance(fmap, dict):
                return {}
            decoders = {}
            for fname, fref in fmap.items():
                key = fref.num if isinstance(fref, _Ref) else None
                if key is not None and key in self._font_cache:
                    decoders[fname] = self._font_cache[key]
                    continue
                dec = _font_decoder(self, fref)
                if key is not None:
                    self._font_cache[key] = dec
                decoders[fname] = dec
            return decoders

        def walk(node_ref, inherited_res) -> None:
            node = self.obj(node_ref)
            t = str(node.get("Type", ""))
            res = node.get("Resources", inherited_res)
            if t == "Pages":
                for kid in node["Kids"]:
                    walk(kid, res)
            elif t == "Page":
                contents = node.get("Contents")
                if contents is None:
                    out.append((b"", {}))
                    return
                parts = contents if isinstance(contents, list) else [contents]
                body = b""
                for p in parts:
                    o = self.obj(p)
                    if not (isinstance(o, tuple) and o[0] == "stream"):
                        raise ValueError("page Contents is not a stream")
                    body += o[2]
                out.append((body, fonts_of(res)))
            else:
                raise ValueError(f"unexpected pages-tree node type {t!r}")

        walk(root["Pages"], None)
        return out

    def page_streams(self) -> list[bytes]:
        return [content for content, _ in self.pages()]


# --- font decoding (§9.6-9.10) -----------------------------------------------

#: Adobe Glyph List subset: the names that reach /Differences arrays
#: in practice (ASCII, Latin-1 supplements, typographic marks, the
#: f-ligatures). Unlisted names fall through to the uniXXXX/uXXXXXX
#: conventions, then single-char identity, then U+FFFD.
_AGL: dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦",
    "section": "§", "dieresis": "¨", "copyright": "©",
    "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯",
    "degree": "°", "plusminus": "±", "acute": "´",
    "mu": "µ", "paragraph": "¶", "periodcentered": "·",
    "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
    "AE": "Æ", "ae": "æ", "Oslash": "Ø",
    "oslash": "ø", "OE": "Œ", "oe": "œ",
    "Lslash": "Ł", "lslash": "ł", "germandbls": "ß",
    "dotlessi": "ı", "Adieresis": "Ä", "Odieresis": "Ö",
    "Udieresis": "Ü", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "agrave": "à", "aacute": "á",
    "eacute": "é", "egrave": "è", "ccedilla": "ç",
    "ntilde": "ñ", "Euro": "€",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "florin": "ƒ", "fraction": "⁄", "perthousand": "‰",
    "trademark": "™", "minus": "−", "fi": "ﬁ",
    "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ", "ffl": "ﬄ",
    "circumflex": "ˆ", "tilde": "˜", "caron": "ˇ",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "hungarumlaut": "˝", "ogonek": "˛",
}

_UNI_NAME = re.compile(r"^uni((?:[0-9A-F]{4})+)$")
_U_NAME = re.compile(r"^u([0-9A-F]{4,6})$")


def glyph_to_unicode(name: str) -> str:
    """One /Differences glyph name → its text (AGL §'resolution')."""
    if name in _AGL:
        return _AGL[name]
    if len(name) == 1:
        return name
    m = _UNI_NAME.match(name)
    if m:
        hx = m.group(1)
        return "".join(
            chr(int(hx[k : k + 4], 16)) for k in range(0, len(hx), 4)
        )
    m = _U_NAME.match(name)
    if m:
        return chr(int(m.group(1), 16))
    return "�"


#: Adobe StandardEncoding (Annex D.2) where it differs from ASCII;
#: codes outside ASCII and this table are undefined → U+FFFD.
_STD_HIGH: dict[int, str] = {
    0x27: "’", 0x60: "‘", 0xA1: "¡", 0xA2: "¢",
    0xA3: "£", 0xA4: "⁄", 0xA5: "¥", 0xA6: "ƒ",
    0xA7: "§", 0xA8: "¤", 0xA9: "'", 0xAA: "“",
    0xAB: "«", 0xAC: "‹", 0xAD: "›", 0xAE: "ﬁ",
    0xAF: "ﬂ", 0xB1: "–", 0xB2: "†", 0xB3: "‡",
    0xB4: "·", 0xB6: "¶", 0xB7: "•", 0xB8: "‚",
    0xB9: "„", 0xBA: "”", 0xBB: "»", 0xBC: "…",
    0xBD: "‰", 0xBF: "¿", 0xC1: "`", 0xC2: "´",
    0xC3: "ˆ", 0xC4: "˜", 0xC5: "¯", 0xC6: "˘",
    0xC7: "˙", 0xC8: "¨", 0xCA: "˚", 0xCB: "¸",
    0xCD: "˝", 0xCE: "˛", 0xCF: "ˇ", 0xD0: "—",
    0xE1: "Æ", 0xE3: "ª", 0xE8: "Ł", 0xE9: "Ø",
    0xEA: "Œ", 0xEB: "º", 0xF1: "æ", 0xF5: "ı",
    0xF8: "ł", 0xF9: "ø", 0xFA: "œ", 0xFB: "ß",
}


def _base_encoding_table(name: str) -> list[str] | None:
    """256-entry code→text table for a named base encoding, or None
    for 'use the font's built-in' (we fall back to latin-1: exactly
    right for our writer, harmless for real simple fonts whose
    ASCII range matches every standard encoding)."""
    if name == "WinAnsiEncoding":
        # cp1252 with its five undefined codes replaced
        return [
            bytes([c]).decode("cp1252", errors="replace") for c in range(256)
        ]
    if name == "MacRomanEncoding":
        return [bytes([c]).decode("mac_roman") for c in range(256)]
    if name == "StandardEncoding":
        return [
            _STD_HIGH.get(
                c, chr(c) if 0x20 <= c <= 0x7E else "�"
            )
            for c in range(256)
        ]
    return None


_HEX_PAIR = re.compile(rb"<([0-9A-Fa-f]+)>")
_CMAP_SECTION = {
    "codespace": re.compile(
        rb"begincodespacerange(.*?)endcodespacerange", re.S
    ),
    "bfchar": re.compile(rb"beginbfchar(.*?)endbfchar", re.S),
    "bfrange": re.compile(rb"beginbfrange(.*?)endbfrange", re.S),
}


def parse_cmap(body: bytes) -> tuple[list[tuple[int, int, int]], dict[int, str]]:
    """A /ToUnicode CMap stream → (codespace ranges as
    ``(n_bytes, lo, hi)``, code→text map). Handles ``bfchar``,
    ``bfrange`` with either an incrementing destination or an
    explicit array, multi-char (ligature) targets, and UTF-16BE
    surrogate pairs in destinations."""

    def utf16be(hx: bytes) -> str:
        return bytes.fromhex(hx.decode("ascii")).decode(
            "utf-16-be", errors="replace"
        )

    ranges: list[tuple[int, int, int]] = []
    mapping: dict[int, str] = {}
    for m in _CMAP_SECTION["codespace"].finditer(body):
        pairs = _HEX_PAIR.findall(m.group(1))
        for k in range(0, len(pairs) - 1, 2):
            lo, hi = pairs[k], pairs[k + 1]
            ranges.append(
                (len(lo) // 2, int(lo, 16), int(hi, 16))
            )
    for m in _CMAP_SECTION["bfchar"].finditer(body):
        pairs = _HEX_PAIR.findall(m.group(1))
        for k in range(0, len(pairs) - 1, 2):
            src, dst = pairs[k], pairs[k + 1]
            mapping[int(src, 16)] = utf16be(dst)
            if not ranges:
                n = len(src) // 2
                ranges.append((n, 0, (1 << (8 * n)) - 1))
    for m in _CMAP_SECTION["bfrange"].finditer(body):
        chunk = m.group(1)
        i = 0
        n = len(chunk)
        while True:
            m_lo = _HEX_PAIR.search(chunk, i)
            if not m_lo:
                break
            m_hi = _HEX_PAIR.search(chunk, m_lo.end())
            if not m_hi:
                break
            lo, hi = int(m_lo.group(1), 16), int(m_hi.group(1), 16)
            j = m_hi.end()
            while j < n and chunk[j] in _WS:
                j += 1
            if chunk[j : j + 1] == b"[":  # explicit destination array
                close = chunk.index(b"]", j)
                dsts = _HEX_PAIR.findall(chunk[j:close])
                for off, dst in enumerate(dsts):
                    mapping[lo + off] = utf16be(dst)
                i = close + 1
            else:
                m_dst = _HEX_PAIR.search(chunk, j)
                if not m_dst:
                    break
                dst_hex = m_dst.group(1)
                width = len(dst_hex)
                base = int(dst_hex, 16)
                for off in range(hi - lo + 1):
                    hx = f"{base + off:0{width}x}".encode()
                    mapping[lo + off] = utf16be(hx)
                i = m_dst.end()
            if not ranges:
                nb = len(m_lo.group(1)) // 2
                ranges.append((nb, 0, (1 << (8 * nb)) - 1))
    return ranges, mapping


def _simple_font_decoder(pdf: "_Pdf", font: dict):
    """Decoder for Type1/TrueType/Type3 fonts via /Encoding. No
    /Encoding → latin-1 (the writer's own convention and the
    practical identity for ASCII content)."""
    enc = pdf.obj(font.get("Encoding"))
    table: list[str] | None = None
    if isinstance(enc, str):  # a name: base encoding only
        table = _base_encoding_table(str(enc))
    elif isinstance(enc, dict):
        table = _base_encoding_table(
            str(pdf.obj(enc.get("BaseEncoding", "")))
        )
        diffs = pdf.obj(enc.get("Differences"))
        if isinstance(diffs, list):
            if table is None:
                table = [chr(c) for c in range(256)]
            code = 0
            for item in diffs:
                item = pdf.obj(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                else:
                    if code > 255:
                        raise ValueError("/Differences code beyond 255")
                    table[code] = glyph_to_unicode(str(item))
                    code += 1
    if table is None:
        return lambda b: b.decode("latin-1")
    tb = table
    return lambda b: "".join(tb[c] for c in b)


def _font_decoder(pdf: "_Pdf", font_ref):
    """One font object → a ``bytes -> str`` decoder, preferring the
    /ToUnicode CMap (authoritative for subset/CID fonts), then the
    simple-font /Encoding, then 2-byte identity for Type0 and
    latin-1 for the rest."""
    font = pdf.obj(font_ref)
    if not isinstance(font, dict):
        raise ValueError("font resource is not a dictionary")
    subtype = str(pdf.obj(font.get("Subtype", "")))
    tu = pdf.obj(font.get("ToUnicode"))
    if isinstance(tu, tuple) and tu[0] == "stream":
        ranges, mapping = parse_cmap(tu[2])
        default_w = 2 if subtype == "Type0" else 1
        if not ranges:
            ranges = [(default_w, 0, (1 << (8 * default_w)) - 1)]
        simple = (
            _simple_font_decoder(pdf, font) if subtype != "Type0" else None
        )

        def fallback(code: int, nbytes: int) -> str:
            # a code outside the CMap: the font encoding if simple,
            # identity otherwise — extraction degrades, never dies
            if simple is not None and nbytes == 1:
                return simple(bytes([code]))
            return chr(code) if code <= 0x10FFFF else "�"

        rngs, mp = ranges, mapping

        def decode(b: bytes) -> str:
            out = []
            i = 0
            while i < len(b):
                hit = False
                for nbytes, lo, hi in rngs:
                    if i + nbytes <= len(b):
                        code = int.from_bytes(b[i : i + nbytes], "big")
                        if lo <= code <= hi:
                            got = mp.get(code)
                            out.append(
                                got if got is not None
                                else fallback(code, nbytes)
                            )
                            i += nbytes
                            hit = True
                            break
                if not hit:
                    out.append(fallback(b[i], 1))
                    i += 1
            return "".join(out)

        return decode
    if subtype == "Type0":
        # CID font with no ToUnicode: 2-byte identity — garbage-
        # tolerant like pdftotext, never an exception mid-corpus
        return lambda b: "".join(
            chr(int.from_bytes(b[i : i + 2], "big"))
            for i in range(0, len(b) - 1, 2)
        )
    return _simple_font_decoder(pdf, font)


_TEXT_OPS = {"Tj", "'", '"', "TJ"}
_LINE_OPS = {"Td", "TD", "T*"}


def _latin1(b: bytes) -> str:
    return b.decode("latin-1")


def _extract_stream_text(
    content: bytes, fonts: dict | None = None
) -> list[str]:
    """Walk a content stream's tokens; strings shown by Tj/'/\"/TJ
    append to the current line (decoded through the CURRENT font —
    ``Tf`` switches it), Td/TD/T*/'/\" start a new one. Returns the
    lines (the pdftotext-style layout-free reading)."""
    fonts = fonts or {}
    lines: list[str] = []
    cur: list[str] = []
    stack: list = []
    decode = _latin1  # until the first Tf
    i = 0
    n = len(content)

    def flush() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i : i + 1]
        if c == b"(" or c == b"<" or c == b"[" or c == b"/" or (
            c.isdigit() or c in b"+-."
        ):
            v, i = _parse_object(content, i)
            stack.append(v)
            continue
        j = i
        while j < n and content[j] not in _WS and content[j : j + 1] not in _DELIM:
            j += 1
        op = content[i:j].decode("latin-1")
        i = j if j > i else i + 1
        if op in _LINE_OPS:
            flush()
        elif op == "Tf":
            if len(stack) >= 2 and isinstance(stack[-2], _Name):
                decode = fonts.get(str(stack[-2]), _latin1)
        elif op == "'" or op == '"':
            flush()
            if stack and isinstance(stack[-1], bytes):
                cur.append(decode(stack[-1]))
        elif op == "Tj":
            if stack and isinstance(stack[-1], bytes):
                cur.append(decode(stack[-1]))
        elif op == "TJ":
            if stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        cur.append(decode(item))
                    elif isinstance(item, (int, float)) and item < -180:
                        # a kern wider than ~0.18 em is an inter-word
                        # gap (the pdftotext convention) — TeX and
                        # subset-font PDFs encode spaces this way
                        cur.append(" ")
        elif op == "ET":
            flush()
        stack.clear()  # operands are consumed by their operator
    flush()
    return lines


def pdf_extract_text(data: bytes) -> str:
    """All pages' text, lines joined by ``\\n``, pages by ``\\f``."""
    pdf = _Pdf(data)
    pages = [
        "\n".join(_extract_stream_text(content, fonts))
        for content, fonts in pdf.pages()
    ]
    return "\f".join(pages)


# --- writer ------------------------------------------------------------------


def _escape_string(s: bytes) -> bytes:
    """Literal-string escaping including octal for non-printables
    (a bare CR inside a literal string would be read back as LF per
    §7.3.4.2's end-of-line rule, so control bytes go octal)."""
    out = bytearray()
    for b in s:
        if b in (0x5C, 0x28, 0x29):
            out += b"\\" + bytes([b])
        elif b < 0x20 or b > 0x7E:
            out += f"\\{b:03o}".encode()
        else:
            out.append(b)
    return bytes(out)


def _tounicode_cmap(charset: list[str], two_byte: bool) -> bytes:
    """A /ToUnicode CMap mapping code ``1 + index`` → the charset
    char (UTF-16BE targets, surrogate pairs for non-BMP), bfchar
    blocks chunked at the spec's 100-entry limit."""
    w = 4 if two_byte else 2
    lo, hi = f"{0:0{w}x}", f"{(1 << (4 * w)) - 1:0{w}x}"
    parts = [
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CMapName /Engine-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n"
        + f"<{lo}> <{hi}>\n".encode()
        + b"endcodespacerange\n"
    ]
    for at in range(0, len(charset), 100):
        chunk = charset[at : at + 100]
        parts.append(f"{len(chunk)} beginbfchar\n".encode())
        for off, ch in enumerate(chunk):
            dst = ch.encode("utf-16-be").hex()
            parts.append(f"<{at + off + 1:0{w}x}> <{dst}>\n".encode())
        parts.append(b"endbfchar\n")
    parts.append(
        b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    )
    return b"".join(parts)


def _charset_of(pages: list[list[str]]) -> tuple[list[str], dict[str, int]]:
    charset: list[str] = []
    code_of: dict[str, int] = {}
    for lines in pages:
        for line in lines:
            for ch in line:
                if ch not in code_of:
                    charset.append(ch)
                    code_of[ch] = len(charset)  # codes start at 1
    return charset, code_of


def build_pdf(
    pages: list[list[str]], flate: bool = True, font_mode: str = "latin1"
) -> bytes:
    """A well-formed single-xref PDF: one content stream per page,
    one line per list item (positioned via ``Td``), with
    ``FlateDecode`` streams when ``flate``. The extracted text of the result is exactly
    ``'\\n'.join(lines)`` per page — the identity the gate rides —
    under every ``font_mode``:

    - ``"latin1"``: Type1 Helvetica, no /Encoding, strings are the
      latin-1 bytes (the r11 writer; the simple-font reality).
    - ``"cid"``: a Type0/CIDFontType2 Identity-H font whose Tj
      bytes are 2-byte glyph codes assigned by first occurrence —
      the subsetted-font shape LaTeX/Word/Chrome emit — recovered
      through the embedded /ToUnicode CMap. Strings are written as
      HEX strings, so that show path is exercised too.
    - ``"differences"``: a simple font whose /Encoding /Differences
      remaps code ``1 + index`` → the char's ``uniXXXX``/``uXXXXX``
      glyph name (≤255 distinct chars; raises beyond — an honest
      simple-font limit). Strings carry the remapped codes with
      octal escapes.
    """
    objects: list[bytes] = []  # 1-indexed
    if font_mode not in ("latin1", "cid", "differences"):
        raise ValueError(f"unknown font_mode {font_mode!r}")
    charset, code_of = (
        _charset_of(pages) if font_mode != "latin1" else ([], {})
    )
    if font_mode == "differences" and len(charset) > 255:
        raise ValueError(
            "differences font_mode supports at most 255 distinct chars"
        )

    def content_for(lines: list[str]) -> bytes:
        ops = [b"BT /F1 12 Tf 72 760 Td"]
        for k, line in enumerate(lines):
            if k:
                ops.append(b"0 -14 Td")
            if font_mode == "cid":
                hx = "".join(f"{code_of[ch]:04x}" for ch in line)
                ops.append(f"<{hx}> Tj".encode())
            elif font_mode == "differences":
                codes = bytes(code_of[ch] for ch in line)
                ops.append(b"(" + _escape_string(codes) + b") Tj")
            else:
                ops.append(
                    b"(" + _escape_string(line.encode("latin-1")) + b") Tj"
                )
        ops.append(b"ET")
        return b"\n".join(ops)

    def stream_obj(raw: bytes, extra: str = "") -> bytes:
        if flate:
            body = codecs.compress("zlib", raw)
            head = f"<< /Length {len(body)} /Filter /FlateDecode{extra} >>"
        else:
            body = raw
            head = f"<< /Length {len(body)}{extra} >>"
        return head.encode() + b"\nstream\n" + body + b"\nendstream"

    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for i, lines in enumerate(pages):
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> "
                f"/Contents {4 + 2 * i} 0 R >>"
            ).encode()
        )
        objects.append(stream_obj(content_for(lines)))
    if font_mode == "cid":
        objects.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /ENGINE+Synth "
                f"/Encoding /Identity-H /DescendantFonts [{font_num + 1} 0 R] "
                f"/ToUnicode {font_num + 2} 0 R >>"
            ).encode()
        )
        objects.append(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /ENGINE+Synth"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> >>"
        )
        objects.append(stream_obj(_tounicode_cmap(charset, two_byte=True)))
    elif font_mode == "differences":
        names = []
        for ch in charset:
            cp = ord(ch)
            names.append(
                f"/uni{cp:04X}" if cp <= 0xFFFF else f"/u{cp:05X}"
            )
        objects.append(
            (
                "<< /Type /Font /Subtype /Type1 /BaseFont /ENGINE+Remap "
                "/Encoding << /Differences [1 " + " ".join(names) + "] >> >>"
            ).encode()
        )
    else:
        objects.append(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )

    out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)
