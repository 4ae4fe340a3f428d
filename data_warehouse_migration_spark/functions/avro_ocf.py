"""Avro Object Container Files from scratch — the row format Kafka
archives, CDC dumps, and Hadoop-era corpora ship in (an OCF is the
wire shape a crawl/training pipeline meets right after parquet and
the WARC/TFRecord/tar rungs already here). Implemented from the
public Avro 1.12 specification alone; the reference JAVA
implementation is IN-CONTAINER (avro-1.12.1.jar rides Spark's own
classpath), so the tests adjudicate through it via the JVM gateway —
Java authors every fixture and re-reads every engine-authored file,
the same cross-pin pattern as CPython zipfile for ZIP.

Implemented per the spec:

- the container grammar: ``Obj\\x01`` magic, the file-metadata map
  (``avro.schema`` JSON, ``avro.codec``), the 16-byte sync marker,
  then blocks of (object count, byte size, serialized objects, sync)
  — the sync marker re-verified per block;
- the binary encoding: zigzag varint ints/longs (bounded at the
  spec's 10 bytes), little-endian IEEE float32/float64,
  length-prefixed bytes/string (UTF-8), records as field
  concatenation, enums as symbol indexes, fixed as raw bytes, unions
  as branch-index + value, arrays/maps in blocked form INCLUDING the
  negative-count + block-size variant writers emit for skippability;
- schema JSON: primitives, records (with recursive self-reference
  via the named-type environment), enums, fixed, arrays, maps,
  unions, namespaces (dotted names, ``namespace`` attributes, and
  enclosing-namespace inheritance), named-type references; logical
  types decode as their base type by design;
- block codecs, all through functions/codecs: ``null``,
  ``deflate`` (raw RFC 1951), ``snappy`` (raw block + the spec's
  4-byte big-endian CRC-32 of the UNCOMPRESSED data),
  ``zstandard``, ``bzip2``, ``xz``;
- a writer for the same surface, with a DETERMINISTIC sync marker
  derived from the schema + row count so equal input yields equal
  bytes;
- ``avro_block_spans``: the split-unit surface — (offset, count,
  packed size) per block, so a 100 TB ingest can fan blocks of ONE
  file across tasks exactly the way Hadoop/Spark split .avro by
  sync markers (the seekable-zstd story, natively present in this
  format).

Reader-schema evolution (aliases, defaults, promotion) is out of
scope by design — ingest reads with the WRITER schema embedded in
the file; unknown codecs and every malformed length/count/sync raise
ValueError (quarantine-routable). ``max_output`` caps the decoded
size of every block DURING the walk (decompression-bomb posture,
ADVICE r13/r14).

Scale posture: pure per-asset byte code inside Arrow-batched
``mapInPandas``; zero shuffle; blocks are the in-file split unit.
"""

from __future__ import annotations

import json
import struct
import zlib

from data_warehouse_migration_spark.functions import codecs

_MAGIC = b"Obj\x01"
_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


# --- schema parsing -----------------------------------------------------------


def _fullname(name: str, namespace: str | None, enclosing: str) -> str:
    if "." in name:
        return name
    ns = namespace if namespace is not None else enclosing
    return f"{ns}.{name}" if ns else name


def _parse_schema(s, names: dict, enclosing: str = ""):
    """Schema JSON → decode plan nodes (dicts; records mutate in
    place so self-references resolve)."""
    if isinstance(s, str):
        if s in _PRIMITIVES:
            return {"kind": s}
        for cand in (_fullname(s, None, enclosing), s):
            if cand in names:
                return names[cand]
        raise ValueError(f"avro schema references undefined type {s!r}")
    if isinstance(s, list):
        return {"kind": "union",
                "branches": [_parse_schema(b, names, enclosing) for b in s]}
    if not isinstance(s, dict):
        raise ValueError(f"avro schema node {type(s).__name__} invalid")
    t = s.get("type")
    if t in _PRIMITIVES:
        return {"kind": t}
    if t == "array":
        return {"kind": "array",
                "items": _parse_schema(s["items"], names, enclosing)}
    if t == "map":
        return {"kind": "map",
                "values": _parse_schema(s["values"], names, enclosing)}
    if t in ("record", "error"):
        full = _fullname(s["name"], s.get("namespace"), enclosing)
        node = {"kind": "record", "name": full, "fields": None}
        names[full] = node  # registered BEFORE fields: recursion works
        ns = full.rsplit(".", 1)[0] if "." in full else ""
        node["fields"] = [
            (f["name"], _parse_schema(f["type"], names, ns))
            for f in s["fields"]
        ]
        return node
    if t == "enum":
        full = _fullname(s["name"], s.get("namespace"), enclosing)
        node = {"kind": "enum", "name": full,
                "symbols": list(s["symbols"])}
        names[full] = node
        return node
    if t == "fixed":
        full = _fullname(s["name"], s.get("namespace"), enclosing)
        size = s["size"]
        if not isinstance(size, int) or size < 0:
            raise ValueError("avro fixed size invalid")
        node = {"kind": "fixed", "name": full, "size": size}
        names[full] = node
        return node
    if isinstance(t, (dict, list)):
        return _parse_schema(t, names, enclosing)
    raise ValueError(f"avro schema type {t!r} invalid")


# --- binary decode ------------------------------------------------------------


class _Cursor:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("avro data truncated")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def long(self) -> int:
        result = 0
        shift = 0
        for i in range(10):  # the spec's 64-bit zigzag cap
            if self.pos >= len(self.data):
                raise ValueError("avro varint truncated")
            b = self.data[self.pos]
            self.pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return (result >> 1) ^ -(result & 1)
            shift += 7
        raise ValueError("avro varint longer than 10 bytes")


def _decode(cur: _Cursor, node) -> object:
    kind = node["kind"]
    if kind == "null":
        return None
    if kind == "boolean":
        b = cur.take(1)[0]
        if b > 1:
            raise ValueError(f"avro boolean byte {b} invalid")
        return bool(b)
    if kind in ("int", "long"):
        return cur.long()
    if kind == "float":
        return struct.unpack("<f", cur.take(4))[0]
    if kind == "double":
        return struct.unpack("<d", cur.take(8))[0]
    if kind == "bytes":
        return cur.take(cur.long())
    if kind == "string":
        raw = cur.take(cur.long())
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as exc:
            raise ValueError(f"avro string not UTF-8: {exc}")
    if kind == "record":
        return {name: _decode(cur, f) for name, f in node["fields"]}
    if kind == "enum":
        i = cur.long()
        symbols = node["symbols"]
        if not 0 <= i < len(symbols):
            raise ValueError(f"avro enum index {i} out of range")
        return symbols[i]
    if kind == "fixed":
        return cur.take(node["size"])
    if kind == "union":
        i = cur.long()
        branches = node["branches"]
        if not 0 <= i < len(branches):
            raise ValueError(f"avro union index {i} out of range")
        return _decode(cur, branches[i])
    if kind == "array":
        out = []
        while True:
            count = cur.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                cur.long()  # block byte size (skippability aid)
            if count > len(cur.data):
                raise ValueError("avro array count exceeds input")
            for _ in range(count):
                out.append(_decode(cur, node["items"]))
    if kind == "map":
        out = {}
        while True:
            count = cur.long()
            if count == 0:
                return out
            if count < 0:
                count = -count
                cur.long()
            if count > len(cur.data):
                raise ValueError("avro map count exceeds input")
            for _ in range(count):
                key = _decode(cur, {"kind": "string"})
                out[key] = _decode(cur, node["values"])
    raise ValueError(f"avro node kind {kind!r} invalid")


# --- block codecs (functions/codecs) -----------------------------------------

#: avro.codec name → codecs format; the spec's deflate is RAW RFC 1951
_CODECS = {
    "deflate": "deflate",
    "snappy": "snappy",
    "zstandard": "zstd",
    "bzip2": "bz2",
    "xz": "xz",
}


def _codec_decode(codec: str, block: bytes, max_output: int | None) -> bytes:
    if codec == "null":
        if max_output is not None and len(block) > max_output:
            raise ValueError("avro block exceeds caller's cap")
        return block
    if codec not in _CODECS:
        raise ValueError(f"avro codec {codec!r} unknown")
    if codec == "snappy":
        # the spec appends a 4-byte big-endian CRC-32 of the
        # UNCOMPRESSED data to each snappy block
        if len(block) < 4:
            raise ValueError("avro snappy block shorter than its CRC")
        out = codecs.decompress("snappy", block[:-4], max_output)
        if zlib.crc32(out) != int.from_bytes(block[-4:], "big"):
            raise ValueError("avro snappy block CRC-32 mismatch")
        return out
    return codecs.decompress(_CODECS[codec], block, max_output)


def _codec_encode(codec: str, raw: bytes) -> bytes:
    if codec == "null":
        return raw
    if codec not in _CODECS:
        raise ValueError(f"avro codec {codec!r} unknown")
    out = codecs.compress(_CODECS[codec], raw)
    if codec == "snappy":
        out += zlib.crc32(raw).to_bytes(4, "big")
    return out


# --- container read -----------------------------------------------------------


def _read_header(cur: _Cursor) -> tuple[dict, bytes]:
    if cur.take(4) != _MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        count = cur.long()
        if count == 0:
            break
        if count < 0:
            count = -count
            cur.long()
        if count > len(cur.data):
            raise ValueError("avro metadata count exceeds input")
        for _ in range(count):
            key = cur.take(cur.long()).decode("utf-8", errors="replace")
            meta[key] = cur.take(cur.long())
    sync = cur.take(16)
    return meta, sync


def avro_schema(data: bytes) -> dict:
    """The embedded writer schema, as parsed JSON."""
    meta, _sync = _read_header(_Cursor(bytes(data)))
    if "avro.schema" not in meta:
        raise ValueError("avro header carries no schema")
    return json.loads(meta["avro.schema"])


def avro_block_spans(data: bytes) -> list[dict]:
    """The split-unit surface: one dict per block with ``offset``
    (of the count varint), ``count``, ``packed_size``, and
    ``data_at`` (offset of the packed bytes) — what a parallel
    ingest fans out over, sync-verified along the walk."""
    data = bytes(data)
    cur = _Cursor(data)
    _meta, sync = _read_header(cur)
    spans = []
    while cur.pos < len(data):
        offset = cur.pos
        count = cur.long()
        size = cur.long()
        if count < 0 or size < 0:
            raise ValueError("avro block count/size negative")
        data_at = cur.pos
        cur.take(size)
        if cur.take(16) != sync:
            raise ValueError("avro block sync marker mismatch")
        spans.append({"offset": offset, "count": count,
                      "packed_size": size, "data_at": data_at})
    return spans


def avro_rows(
    data: bytes,
    max_rows: int | None = None,
    max_output: int | None = None,
) -> list:
    """Every row in file order, decoded with the embedded writer
    schema: records → dicts, enums → symbol strings, unions →
    the branch value, bytes/fixed → bytes. ``max_output`` caps each
    block's decoded size (bomb posture); ``max_rows`` stops early."""
    data = bytes(data)
    cur = _Cursor(data)
    meta, sync = _read_header(cur)
    if "avro.schema" not in meta:
        raise ValueError("avro header carries no schema")
    try:
        schema = json.loads(meta["avro.schema"])
    except ValueError as exc:
        raise ValueError(f"avro schema is not JSON: {exc}") from exc
    codec = meta.get("avro.codec", b"null").decode("ascii", errors="replace")
    try:
        node = _parse_schema(schema, {})
    except (KeyError, TypeError) as exc:  # structurally malformed JSON
        raise ValueError(f"avro schema malformed: {exc!r}") from exc
    rows: list = []
    while cur.pos < len(data):
        if max_rows is not None and len(rows) >= max_rows:
            break
        count = cur.long()
        size = cur.long()
        if count < 0 or size < 0:
            raise ValueError("avro block count/size negative")
        packed = cur.take(size)
        if cur.take(16) != sync:
            raise ValueError("avro block sync marker mismatch")
        block = _codec_decode(codec, packed, max_output)
        bcur = _Cursor(block)
        for _ in range(count):
            rows.append(_decode(bcur, node))
            if max_rows is not None and len(rows) >= max_rows:
                break
        else:
            if bcur.pos != len(block):
                raise ValueError("avro block has trailing bytes")
    return rows


# --- binary encode + container write ------------------------------------------


def _encode(out: bytearray, node, value) -> None:
    kind = node["kind"]
    if kind == "null":
        if value is not None:
            raise ValueError("avro null branch given a value")
        return
    if kind == "boolean":
        if not isinstance(value, bool):
            raise ValueError(f"avro boolean given {type(value).__name__}")
        out.append(1 if value else 0)
        return
    if kind in ("int", "long"):
        if not isinstance(value, int) or isinstance(value, bool):
            raise ValueError(f"avro {kind} given {type(value).__name__}")
        if not -(1 << 63) <= value < (1 << 63):
            raise ValueError(f"avro {kind} value outside 64-bit range")
        n = ((-value - 1) << 1) | 1 if value < 0 else value << 1
        while n > 0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        out.append(n)
        return
    if kind == "float":
        out += struct.pack("<f", value)
        return
    if kind == "double":
        out += struct.pack("<d", value)
        return
    if kind == "bytes":
        if not isinstance(value, (bytes, bytearray)):
            raise ValueError(f"avro bytes given {type(value).__name__}")
        _encode(out, {"kind": "long"}, len(value))
        out += value
        return
    if kind == "string":
        raw = str(value).encode("utf-8")
        _encode(out, {"kind": "long"}, len(raw))
        out += raw
        return
    if kind == "record":
        if not isinstance(value, dict):
            raise ValueError("avro record value is not a dict")
        for name, fnode in node["fields"]:
            if name not in value:
                raise ValueError(f"avro record missing field {name!r}")
            _encode(out, fnode, value[name])
        return
    if kind == "enum":
        try:
            i = node["symbols"].index(value)
        except ValueError:
            raise ValueError(f"avro enum symbol {value!r} unknown") from None
        _encode(out, {"kind": "long"}, i)
        return
    if kind == "fixed":
        if not isinstance(value, (bytes, bytearray)) \
                or len(value) != node["size"]:
            raise ValueError("avro fixed value has the wrong size")
        out += value
        return
    if kind == "union":
        i = _union_branch(node["branches"], value)
        _encode(out, {"kind": "long"}, i)
        _encode(out, node["branches"][i], value)
        return
    if kind == "array":
        if value:
            _encode(out, {"kind": "long"}, len(value))
            for item in value:
                _encode(out, node["items"], item)
        out.append(0)
        return
    if kind == "map":
        if value:
            _encode(out, {"kind": "long"}, len(value))
            for k, v in value.items():
                _encode(out, {"kind": "string"}, k)
                _encode(out, node["values"], v)
        out.append(0)
        return
    raise ValueError(f"avro node kind {kind!r} invalid")


def _union_branch(branches, value) -> int:
    """First branch the value fits: None→null, bool before int (the
    bool-is-int trap), Python type → avro kind otherwise. Enough for
    the union shapes data files actually carry (["null", T] above
    all); ambiguous exotica raise rather than guess."""
    for i, b in enumerate(branches):
        k = b["kind"]
        if value is None and k == "null":
            return i
        if isinstance(value, bool):
            if k == "boolean":
                return i
            continue
        if isinstance(value, int) and k in ("int", "long"):
            return i
        if isinstance(value, float) and k in ("float", "double"):
            return i
        if isinstance(value, str) and k == "string":
            return i
        if isinstance(value, str) and k == "enum" \
                and value in b["symbols"]:
            return i
        if isinstance(value, (bytes, bytearray)):
            if k == "bytes":
                return i
            if k == "fixed" and len(value) == b["size"]:
                return i
        if isinstance(value, dict) and k in ("record", "map"):
            return i
        if isinstance(value, list) and k == "array":
            return i
    raise ValueError(
        f"avro union has no branch for {type(value).__name__}"
    )


def avro_write(
    schema, rows, codec: str = "null", rows_per_block: int = 1000
) -> bytes:
    """An Object Container File of ``rows`` under ``schema`` (JSON
    text or parsed), deterministic for equal input: the 16-byte sync
    marker is an md5 over the schema text and row count, never a
    random draw (the engine's reproducible-artifact convention)."""
    import hashlib

    if rows_per_block < 1:
        raise ValueError("avro rows_per_block under 1")
    if codec != "null" and codec not in _CODECS:
        raise ValueError(f"avro codec {codec!r} unknown")
    schema_text = schema if isinstance(schema, str) else json.dumps(schema)
    try:
        node = _parse_schema(json.loads(schema_text), {})
    except (KeyError, TypeError) as exc:
        raise ValueError(f"avro schema malformed: {exc!r}") from exc
    sync = hashlib.md5(
        schema_text.encode() + len(rows).to_bytes(8, "big")
    ).digest()
    out = bytearray(_MAGIC)
    meta = [("avro.schema", schema_text.encode()),
            ("avro.codec", codec.encode())]
    _encode(out, {"kind": "long"}, len(meta))
    for key, val in meta:
        _encode(out, {"kind": "string"}, key)
        _encode(out, {"kind": "bytes"}, val)
    out.append(0)  # metadata map terminator
    out += sync
    for at in range(0, len(rows), rows_per_block):
        chunk = rows[at : at + rows_per_block]
        body = bytearray()
        for row in chunk:
            _encode(body, node, row)
        packed = _codec_encode(codec, bytes(body))
        _encode(out, {"kind": "long"}, len(chunk))
        _encode(out, {"kind": "long"}, len(packed))
        out += packed
        out += sync
    return bytes(out)
