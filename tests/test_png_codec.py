"""PNG codec (functions/png) — RFC 2083 container and filters, the
IDAT stream through functions/codecs (stdlib zlib). ``zlib`` here is
the independent reference: real ``zlib.compress`` output at every
level must decode through the chunked inflate, and the stored/fixed/
dynamic block strategies the encoder offers must decode under
``zlib.decompress``.
"""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from data_warehouse_migration_spark.functions import codecs
from data_warehouse_migration_spark.functions import png as P


def _rng():
    return np.random.RandomState(1234)


def test_inflate_decodes_real_zlib_output():
    """zlib.compress emits stored (level 0), fixed- and
    dynamic-Huffman blocks with genuine LZ77 matches — including
    overlapping copies (dist < len) on runs — and the outputs here
    span many decode chunks."""
    rng = _rng()
    cases = [
        b"",
        b"a" * 100000,  # run → overlapping back-references
        b"the quick brown fox jumps over the lazy dog " * 2000,
        bytes(rng.randint(0, 256, 50000, dtype=np.uint8)),  # incompressible
        bytes(rng.randint(0, 4, 30000, dtype=np.uint8)),  # low-entropy
    ]
    for level in (0, 1, 6, 9):
        for data in cases:
            assert codecs.decompress("zlib", zlib.compress(data, level)) == data


def test_own_deflate_encoders_decode_with_zlib():
    """The stored/fixed/dynamic strategies ``encode_png`` offers must
    be valid to a third party."""
    rng = _rng()
    for meth in ("stored", "fixed", "dynamic"):
        for data in (
            b"",
            b"a",
            b"hello world" * 500,
            bytes(rng.randint(0, 256, 70000, dtype=np.uint8)),  # >1 stored block
            b"x" * 100000,  # long runs → overlapping LZ77 matches
            bytes(rng.randint(0, 4, 30000, dtype=np.uint8)),
        ):
            z = codecs.compress("zlib", data, meth)
            assert zlib.decompress(z) == data
            assert codecs.decompress("zlib", z) == data


def test_dynamic_encoder_actually_compresses():
    """The dynamic strategy must do real work on compressible input:
    far below the stored size, at zlib's default ratio."""
    text = b"the quick brown fox jumps over the lazy dog " * 2000
    ours = len(codecs.compress("zlib", text, "dynamic"))
    assert ours <= len(zlib.compress(text, 6)) * 1.15
    assert ours * 20 < len(codecs.compress("zlib", text, "stored"))


@pytest.mark.parametrize("shape", [(7, 5), (16, 10, 3), (1, 1), (3, 260, 3)])
@pytest.mark.parametrize("filter_mode", [0, 1, 2, 3, 4, "cycle"])
@pytest.mark.parametrize("deflate", ["stored", "fixed", "dynamic"])
def test_roundtrip_exact(shape, filter_mode, deflate):
    img = _rng().randint(0, 256, shape).astype(np.uint8)
    out = P.decode_png(P.encode_png(img, deflate, filter_mode))
    assert out.shape == img.shape
    assert (out == img).all()


def test_crc_corruption_raises():
    data = bytearray(P.encode_png(np.zeros((4, 4), dtype=np.uint8)))
    # flip one bit inside the IHDR payload (after signature + len + type)
    data[8 + 8 + 2] ^= 0x01
    with pytest.raises(ValueError, match="CRC mismatch"):
        P.decode_png(bytes(data))


def test_adler_corruption_raises():
    img = _rng().randint(0, 256, (4, 4)).astype(np.uint8)
    data = bytearray(P.encode_png(img, "dynamic"))
    # the IDAT stream's Adler-32 trailer sits just before its chunk CRC
    at = data.index(b"IDAT") + 4
    n = int.from_bytes(data[at - 8 : at - 4], "big")
    data[at + n - 1] ^= 0xFF
    payload = bytes(data[at - 4 : at + n])
    data[at + n : at + n + 4] = zlib.crc32(payload).to_bytes(4, "big")
    with pytest.raises(ValueError, match="data check"):
        P.decode_png(bytes(data))


def test_stored_len_nlen_mismatch_raises():
    body = bytearray(codecs.compress("deflate", b"xyz", "stored"))
    body[3] ^= 0xFF  # corrupt NLEN
    with pytest.raises(ValueError, match="stored block lengths"):
        codecs.decompress("deflate", bytes(body))


def _patch_ihdr(data: bytes, offset_in_ihdr: int, value: int) -> bytes:
    """Rewrite one IHDR byte and fix the chunk CRC so the honesty
    guard (not the CRC check) is what trips."""
    out = bytearray(data)
    ihdr_payload_at = 8 + 8  # signature + len/type
    out[ihdr_payload_at + offset_in_ihdr] = value
    payload = bytes(out[ihdr_payload_at : ihdr_payload_at + 13])
    crc = zlib.crc32(b"IHDR" + payload)
    out[ihdr_payload_at + 13 : ihdr_payload_at + 17] = crc.to_bytes(4, "big")
    return bytes(out)


def test_honest_absences_and_hard_errors():
    base = P.encode_png(np.zeros((4, 4), dtype=np.uint8))
    # sub-byte depths are IMPLEMENTED since r11 — claiming depth 4
    # over 8-bit-sized data is now a hard size error, not an absence
    with pytest.raises(ValueError, match="truncated|consumed"):
        P.decode_png(_patch_ihdr(base, 8, 4))
    with pytest.raises(ValueError, match="not defined by the spec"):
        P.decode_png(_patch_ihdr(base, 8, 3))  # depth 3 is no PNG depth
    rgb = P.encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="gray/palette"):
        P.decode_png(_patch_ihdr(rgb, 8, 4))  # sub-byte RGB is illegal
    # 16-bit is IMPLEMENTED — claiming it over 8-bit-sized data is a
    # hard size error, not a short read
    with pytest.raises(ValueError, match="truncated|consumed"):
        P.decode_png(_patch_ihdr(base, 8, 16))
    with pytest.raises(ValueError, match="color type"):
        P.decode_png(_patch_ihdr(base, 9, 7))  # undefined type
    # color type 3 is IMPLEMENTED — but claiming it without a PLTE
    # chunk is a hard error, not a silent gray read
    with pytest.raises(ValueError, match="PLTE"):
        P.decode_png(_patch_ihdr(base, 9, 3))
    # claiming alpha (type 4) on gray-sized data is a size error,
    # not a crash or a short read
    with pytest.raises(ValueError, match="truncated|consumed"):
        P.decode_png(_patch_ihdr(base, 9, 4))


@pytest.mark.parametrize("channels", [2, 4])
@pytest.mark.parametrize("interlace", [False, True])
def test_alpha_roundtrip(channels, interlace):
    img = _rng().randint(0, 256, (9, 7, channels)).astype(np.uint8)
    out = P.decode_png(P.encode_png(img, "dynamic", "cycle", interlace=interlace))
    assert out.shape == img.shape
    assert (out == img).all()


@pytest.mark.parametrize(
    "shape", [(1, 1), (2, 3), (7, 5), (8, 8), (9, 10, 3), (33, 17, 3)]
)
def test_adam7_roundtrip(shape):
    """Interlaced round-trips across shapes that exercise empty
    passes (anything narrower/shorter than the pass offsets)."""
    img = _rng().randint(0, 256, shape).astype(np.uint8)
    for fm in (0, 4, "cycle"):
        out = P.decode_png(P.encode_png(img, "stored", fm, interlace=True))
        assert out.shape == img.shape
        assert (out == img).all()


def test_adam7_stencil_matches_spec():
    """Round-trips cannot catch a WRONG-but-symmetric pass table
    (encoder and decoder would agree on the wrong grid — exactly the
    first-cut bug on passes 3/5/7), so pin the canonical 8×8 stencil
    from the PNG spec cell by cell."""
    spec = [
        "16462646",
        "77777777",
        "56565656",
        "77777777",
        "36463646",
        "77777777",
        "56565656",
        "77777777",
    ]
    got = np.zeros((8, 8), dtype=int)
    for k, (r0, rs, c0, cs) in enumerate(P._ADAM7, start=1):
        got[r0::rs, c0::cs] = k
    for y in range(8):
        for x in range(8):
            assert got[y, x] == int(spec[y][x]), (y, x)


def test_adam7_paletted_roundtrip():
    rng = _rng()
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (11, 6)).astype(np.uint8)
    out = P.decode_png(P.encode_png(idx, "fixed", "cycle", palette=pal, interlace=True))
    assert (out == pal[idx]).all()


def test_decodes_real_world_pngs():
    """Interop with real encoders: every PNG shipped with this
    CPython (RGBA and paletted, produced by real-world tooling) must
    decode to plausible pixels."""
    import idlelib
    import os

    icons = os.path.join(os.path.dirname(idlelib.__file__), "Icons")
    pngs = sorted(f for f in os.listdir(icons) if f.endswith(".png"))
    assert len(pngs) >= 3, "expected CPython's idlelib PNG icons"
    for name in pngs:
        with open(os.path.join(icons, name), "rb") as f:
            img = P.decode_png(f.read())
        assert img.ndim == 3 and img.shape[2] in (3, 4), name
        assert img.shape[0] > 0 and img.shape[1] > 0, name


@pytest.mark.parametrize("filter_mode", [0, 1, 2, 3, 4, "cycle"])
@pytest.mark.parametrize("deflate", ["stored", "fixed"])
def test_palette_roundtrip(filter_mode, deflate):
    rng = _rng()
    for ncol in (1, 2, 16, 256):
        pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
        idx = rng.randint(0, ncol, (9, 7)).astype(np.uint8)
        out = P.decode_png(P.encode_png(idx, deflate, filter_mode, palette=pal))
        assert out.shape == (9, 7, 3)
        assert (out == pal[idx]).all()


def test_palette_index_out_of_range_raises():
    pal = np.zeros((4, 3), dtype=np.uint8)
    idx = np.full((2, 2), 7, dtype=np.uint8)
    with pytest.raises(ValueError, match="index out of range"):
        P.encode_png(idx, palette=pal)


def test_multiple_idat_and_ancillary_chunks():
    """Spec behaviors the single-IDAT encoder never produces: IDAT
    split across chunks is concatenated; ancillary chunks are skipped."""
    img = _rng().randint(0, 256, (6, 9, 3)).astype(np.uint8)
    base = P.encode_png(img)
    # parse the encoder's chunks back out
    pos, chunks = 8, []
    while pos < len(base):
        ln = int.from_bytes(base[pos : pos + 4], "big")
        chunks.append((base[pos + 4 : pos + 8], base[pos + 8 : pos + 8 + ln]))
        pos += 12 + ln
    rebuilt = bytearray(P.PNG_SIGNATURE)
    for ctype, payload in chunks:
        if ctype == b"IDAT":
            mid = len(payload) // 2
            rebuilt += P._chunk(b"IDAT", payload[:mid])
            rebuilt += P._chunk(b"tEXt", b"Comment\x00synthetic")
            rebuilt += P._chunk(b"IDAT", payload[mid:])
        else:
            rebuilt += P._chunk(ctype, payload)
    out = P.decode_png(bytes(rebuilt))
    assert (out == img).all()


def test_png_roundtrip_features_matches_formula(spark):
    """The gate's mapInPandas path: decoded pixel sums equal the
    generator's closed form for a handful of ids (the registry gate
    attests the full table against DuckDB)."""
    from data_warehouse_migration_spark.operators.multimodal import (
        png_roundtrip_features,
    )

    ids = [0, 1, 2, 7, 1001]
    df = spark.createDataFrame([(i,) for i in ids], "asset_id bigint")
    rows = {r["asset_id"]: r for r in png_roundtrip_features(df).collect()}
    for aid in ids:
        y = np.arange(10).reshape(10, 1, 1)
        x = np.arange(16).reshape(1, 16, 1)
        c = np.arange(3).reshape(1, 1, 3)
        expect = int(((aid * 3 + y * 7 + x * 11 + c * 29) % 256).sum())
        assert rows[aid]["pixel_sum"] == expect
        assert rows[aid]["width"] == 16 and rows[aid]["height"] == 10


# --- sub-byte depths (1/2/4) — r11 -------------------------------------------


def test_subbyte_palette_and_gray_roundtrip_all_shapes():
    """Lossless round-trip across every depth × deflate × interlace
    combination, odd widths included (partial trailing bytes per
    row/pass are the packing's hard case)."""
    rng = np.random.default_rng(2)
    for depth in (1, 2, 4):
        m = 1 << depth
        for interlace in (False, True):
            for deflate in ("stored", "fixed", "dynamic"):
                h = int(rng.integers(1, 23))
                w = int(rng.integers(1, 23))
                idx = rng.integers(0, m, (h, w)).astype(np.uint8)
                pal = rng.integers(0, 256, (m, 3)).astype(np.uint8)
                p = P.encode_png(
                    idx, deflate, "cycle", palette=pal,
                    interlace=interlace, bit_depth=depth,
                )
                assert p[24] == depth  # IHDR bit depth byte
                assert np.array_equal(P.decode_png(p), pal[idx])
                g = rng.integers(0, m, (h, w)).astype(np.uint8)
                p = P.encode_png(
                    g, deflate, "cycle", interlace=interlace,
                    bit_depth=depth,
                )
                want = (g.astype(int) * (255 // (m - 1))).astype(np.uint8)
                assert np.array_equal(P.decode_png(p), want)


def test_subbyte_packing_is_msb_first():
    """1×8 one-bit image [1,0,1,1,0,0,1,0] must pack to the single
    byte 0xB2 — hand-derived, pinning the bit order."""
    img = np.array([[1, 0, 1, 1, 0, 0, 1, 0]], dtype=np.uint8)
    packed = P._pack_subbyte_rows(img, 1)
    assert packed.tobytes() == b"\xb2"
    assert np.array_equal(P._unpack_subbyte_rows(packed, 1, 8), img)
    # 4-bit: [0xA, 0x3] -> 0xA3
    img4 = np.array([[0xA, 0x3]], dtype=np.uint8)
    assert P._pack_subbyte_rows(img4, 4).tobytes() == b"\xa3"


def _independent_subbyte_decode(data: bytes, rgba: bool = False):
    """Test-local minimal decoder sharing NO code with the codec:
    stdlib zlib inflate, scalar filter inversion, scalar bit
    unpacking, palette lookup (with ``rgba=True``, per-index tRNS
    alphas appended — 255 beyond the chunk, per spec). Non-interlaced
    paletted only (the real container files' shape)."""
    import zlib as _zlib

    w = int.from_bytes(data[16:20], "big")
    h = int.from_bytes(data[20:24], "big")
    depth = data[24]
    pos = 8
    idat = b""
    plte = None
    trns = b""
    while pos < len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += data[pos + 8 : pos + 8 + ln]
        elif ctype == b"PLTE":
            plte = data[pos + 8 : pos + 8 + ln]
        elif ctype == b"tRNS":
            trns = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    raw = _zlib.decompress(idat)
    stride = -(-w * depth // 8)
    out_rows = []
    prior = [0] * stride
    p = 0
    for _y in range(h):
        ftype = raw[p]
        row = list(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        rec = []
        for i, v in enumerate(row):
            a = rec[i - 1] if i >= 1 else 0
            b = prior[i]
            c = prior[i - 1] if i >= 1 else 0
            if ftype == 0:
                x = v
            elif ftype == 1:
                x = (v + a) % 256
            elif ftype == 2:
                x = (v + b) % 256
            elif ftype == 3:
                x = (v + (a + b) // 2) % 256
            else:
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                x = (v + pr) % 256
            rec.append(x)
        prior = rec
        bits = []
        for byte in rec:
            bits.extend((byte >> k) & 1 for k in range(7, -1, -1))
        samples = []
        for i in range(w):
            v = 0
            for k in range(depth):
                v = (v << 1) | bits[i * depth + k]
            samples.append(v)
        out_rows.append(samples)
    pal = [tuple(plte[3 * i : 3 * i + 3]) for i in range(len(plte) // 3)]
    if rgba:
        alpha = [trns[i] if i < len(trns) else 255 for i in range(len(pal))]
        return [[pal[s] + (alpha[s],) for s in row] for row in out_rows]
    return [[pal[s] for s in row] for row in out_rows]


#: Real sub-byte paletted files from independent encoders in this
#: container: a 2-bit favicon and two 4-bit icons.
_REAL_SUBBYTE = [
    ("/usr/share/gitweb/static/git-favicon.png", 2, (16, 16, 3)),
    ("/usr/share/icons/locolor/16x16/apps/gvim.png", 4, (16, 16, 3)),
    ("/usr/share/icons/locolor/32x32/apps/gvim.png", 4, (32, 32, 3)),
]


def test_real_world_subbyte_files_match_independent_decode():
    import os

    seen = 0
    for path, depth, shape in _REAL_SUBBYTE:
        if not os.path.exists(path):
            continue
        data = open(path, "rb").read()
        assert data[24] == depth, path
        got = P.decode_png(data)
        assert got.shape == shape, path
        want = np.array(_independent_subbyte_decode(data), dtype=np.uint8)
        assert np.array_equal(got, want), path
        seen += 1
    assert seen >= 1, "no real sub-byte files found to pin"


# --- tRNS transparency (r11) --------------------------------------------------


def test_trns_palette_alphas_and_defaults():
    rng = np.random.default_rng(4)
    idx = rng.integers(0, 6, size=(11, 7)).astype(np.uint8)
    pal = rng.integers(0, 256, size=(6, 3)).astype(np.uint8)
    payload = P.encode_png(idx, palette=pal, trns=[9, 0, 200])
    rgba = P.decode_png_rgba(payload)
    expect_a = np.array([9, 0, 200, 255, 255, 255], dtype=np.uint8)
    assert (rgba[:, :, :3] == pal[idx]).all()
    assert (rgba[:, :, 3] == expect_a[idx]).all()
    # the attested baseline decoder keeps its color-only posture
    assert np.array_equal(P.decode_png(payload), pal[idx])


def test_trns_gray_and_rgb_key_matching():
    g = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rgba = P.decode_png_rgba(P.encode_png(g, trns=37))
    assert (rgba[:, :, 3] == np.where(g == 37, 0, 255)).all()
    assert (rgba[:, :, 0] == g).all() and (rgba[:, :, 2] == g).all()

    c = np.zeros((4, 5, 3), dtype=np.uint8)
    c[2, 2] = (1, 2, 3)
    c[3, 3] = (1, 2, 4)  # near-miss must stay opaque
    rgba_c = P.decode_png_rgba(P.encode_png(c, trns=(1, 2, 3)))
    assert rgba_c[2, 2, 3] == 0 and rgba_c[3, 3, 3] == 255


def test_trns_sixteen_bit_and_subbyte_raw_sample_compare():
    c16 = np.full((3, 3, 3), 300, dtype=np.uint16)
    c16[1, 1] = (300, 300, 301)
    rgba = P.decode_png_rgba(P.encode_png(c16, trns=(300, 300, 300)))
    assert rgba.dtype == np.uint16
    assert rgba[0, 0, 3] == 0 and rgba[1, 1, 3] == 65535
    # sub-byte: the key names the RAW sample (pre-scaling), per spec
    s = np.array([[0, 1, 2, 3]], dtype=np.uint8)
    rgba_s = P.decode_png_rgba(P.encode_png(s, bit_depth=2, trns=3))
    assert rgba_s[0, :, 3].tolist() == [255, 255, 255, 0]
    assert rgba_s[0, :, 0].tolist() == [0, 85, 170, 255]


def test_trns_forbidden_for_alpha_types_both_directions():
    ga = np.zeros((2, 2, 2), dtype=np.uint8)
    with pytest.raises(ValueError, match="forbidden"):
        P.encode_png(ga, trns=1)
    # decode side: splice a tRNS chunk into an RGBA stream by hand
    rgba_img = np.zeros((2, 2, 4), dtype=np.uint8)
    payload = bytearray(P.encode_png(rgba_img))
    at = payload.index(b"IDAT") - 4
    chunk = P._chunk(b"tRNS", (5).to_bytes(2, "big"))
    bad = bytes(payload[:at]) + chunk + bytes(payload[at:])
    with pytest.raises(ValueError, match="forbidden"):
        P.decode_png_rgba(bad)
    # ...while the baseline decoder still skips it, per its posture
    assert np.array_equal(P.decode_png(bad), rgba_img)


def test_trns_validation_errors():
    idx = np.zeros((2, 2), dtype=np.uint8)
    pal = np.zeros((2, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="more tRNS alphas"):
        P.encode_png(idx, palette=pal, trns=[1, 2, 3])
    g = np.zeros((2, 2), dtype=np.uint8)
    with pytest.raises(ValueError, match="out of range"):
        P.encode_png(g, trns=256)
    with pytest.raises(ValueError, match="three in-range"):
        P.encode_png(np.zeros((2, 2, 3), dtype=np.uint8), trns=(1, 2))


def test_decode_rgba_matches_decode_png_when_no_trns():
    rng = np.random.default_rng(6)
    g = rng.integers(0, 256, size=(5, 9)).astype(np.uint8)
    rgba = P.decode_png_rgba(P.encode_png(g))
    assert (rgba[:, :, 0] == g).all() and (rgba[:, :, 3] == 255).all()
    c = rng.integers(0, 256, size=(5, 9, 3)).astype(np.uint8)
    rgba_c = P.decode_png_rgba(P.encode_png(c, interlace=True))
    assert (rgba_c[:, :, :3] == c).all() and (rgba_c[:, :, 3] == 255).all()


#: Real paletted files WITH tRNS transparency from independent
#: encoders in this container (4-bit and 8-bit indices).
_REAL_TRNS = [
    "/usr/share/icons/locolor/16x16/apps/gvim.png",
    "/usr/share/icons/Adwaita/24x24/legacy/view-fullscreen.png",
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
    "python3.11/test/imghdrdata/python.png",
    "/usr/share/doc/nodejs/osx_installer_logo.png",
]


def test_real_world_trns_files_match_independent_rgba_decode():
    import os

    seen = 0
    for path in _REAL_TRNS:
        if not os.path.exists(path):
            continue
        data = open(path, "rb").read()
        got = P.decode_png_rgba(data)
        want = np.array(
            _independent_subbyte_decode(data, rgba=True), dtype=np.uint8
        )
        assert np.array_equal(got, want), path
        # the transparency is real: these icons have see-through pixels
        assert int((got[:, :, 3] == 0).sum()) > 0, path
        seen += 1
    assert seen >= 2, "not enough real tRNS files found to pin"
