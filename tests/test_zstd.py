"""zstd through functions/codecs (libzstd) and the seekable format in
functions/zstd: reference-CLI streams decoded across presets, window
shapes and dictionaries, our frames handed back to the CLI, xxHash64
known-answer vectors for the seek table, and the truncation/corruption
surface the quarantine lane routes — every failure a ValueError."""

from __future__ import annotations

import os
import random
import shutil
import struct
import subprocess

import pytest

from data_warehouse_migration_spark.functions import codecs
from data_warehouse_migration_spark.functions.zstd import xxh64

_CLI = shutil.which("zstd") or (
    "/root/miniconda/bin/zstd"
    if os.path.exists("/root/miniconda/bin/zstd")
    else None
)

CASES = [
    b"",
    b"a",
    b"abcabcabcabc",
    b"hello zstd world " * 200,          # repeat offsets
    bytes(range(256)) * 40,              # even distribution
    b"\x00" * 5000,                      # RLE-friendly
    ("the quick brown fox jumps over the lazy dog " * 500).encode(),
    bytes((i * 2654435761) >> 24 & 0xFF for i in range(20000)),  # noisy
]


def zstd_decompress(blob, max_output=None, dictionary=None):
    return codecs.decompress("zstd", blob, max_output, dictionary)


def _cli_compress(data: bytes, *args: str) -> bytes:
    return subprocess.run(
        [_CLI, "-c", *args],
        input=data,
        stdout=subprocess.PIPE,
        check=True,
    ).stdout


def _cli_decompress(data: bytes, *args: str) -> bytes:
    return subprocess.run(
        [_CLI, "-d", "-c", *args],
        input=data,
        stdout=subprocess.PIPE,
        check=True,
    ).stdout


def _cli_refuses(data: bytes) -> bool:
    r = subprocess.run(
        [_CLI, "-d", "-c"], input=data,
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
    )
    return r.returncode != 0


def test_xxh64_known_answers():
    # the canonical published empty-input vector
    assert xxh64(b"") == 0xEF46DB3751D8E999


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_xxh64_against_cli_frame_checksums():
    """The frame checksum IS xxh64's low 32 bits (seed 0), so the
    reference encoder's trailer pins the seek table's checksum across
    the <32-byte tail paths AND the 4-lane stripe path."""
    for n in (0, 1, 3, 4, 7, 8, 15, 16, 31, 32, 33, 100, 1000, 4097):
        data = bytes((i * 131) & 0xFF for i in range(n))
        blob = _cli_compress(data, "-1")
        (stored,) = struct.unpack_from("<I", blob, len(blob) - 4)
        assert xxh64(data) & 0xFFFFFFFF == stored, n


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_decodes_reference_cli_across_presets():
    """Every preset tier picks different block/table strategies —
    predefined vs built FSE tables, single- vs 4-stream Huffman, raw
    vs compressed literals."""
    for level in (("-1",), ("-3",), ("-9",), ("-19",), ("--ultra", "-22")):
        for data in CASES:
            blob = _cli_compress(data, *level)
            assert zstd_decompress(blob) == data, (level, len(data))


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_decodes_cli_no_checksum_and_long_mode():
    data = CASES[3] + CASES[6]
    assert zstd_decompress(_cli_compress(data, "--no-check")) == data
    assert zstd_decompress(_cli_compress(data, "--long=20", "-5")) == data
    # explicit small window via chaining level flags
    assert zstd_decompress(_cli_compress(data, "--zstd=wlog=10")) == data


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_multi_frame_and_skippable():
    a = _cli_compress(b"first frame ", "-3")
    b = _cli_compress(b"second frame", "-1")
    skip = codecs.skippable_frame(b"ignore me", nibble=7)
    assert zstd_decompress(a + skip + b) == b"first frame second frame"


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_cli_decodes_our_stored_frames():
    """The reference CLI reads our multi-frame files: two frames with
    a skippable metadata frame between them."""
    for data in CASES:
        cut = len(data) // 3
        blob = (
            codecs.compress("zstd", data[:cut])
            + codecs.skippable_frame(b"meta", nibble=cut % 16)
            + codecs.compress("zstd", data[cut:])
        )
        assert _cli_decompress(blob) == data, len(data)


def test_own_stored_roundtrip():
    for data in CASES:
        assert zstd_decompress(codecs.compress("zstd", data)) == data
    # multi-frame concat + skippable, no CLI needed
    blob = (
        codecs.compress("zstd", b"one ")
        + codecs.skippable_frame(b"meta")
        + codecs.compress("zstd", b"two")
    )
    assert zstd_decompress(blob) == b"one two"
    with pytest.raises(ValueError):
        codecs.skippable_frame(b"", nibble=16)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_truncation_raises_valueerror_everywhere():
    blob = _cli_compress(b"truncate me anywhere " * 50, "-3")
    assert zstd_decompress(blob)
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            zstd_decompress(blob[:cut])


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_corruption_raises():
    data = b"checksummed payload " * 100
    blob = bytearray(_cli_compress(data, "-3"))
    blob[-1] ^= 0xFF  # trailing checksum byte
    with pytest.raises(ValueError):
        zstd_decompress(bytes(blob))
    blob2 = bytearray(_cli_compress(data, "-3"))
    blob2[10] ^= 0xFF  # inside the first block
    with pytest.raises(ValueError):
        zstd_decompress(bytes(blob2))


def test_hostile_guards():
    magic = struct.pack("<I", 0xFD2FB528)
    for bad in (
        b"ZZZZZZZZ",                       # wrong magic
        b"",                               # no frame at all
        magic + bytes([0x28, 0x00]),       # reserved frame-header bit
        # single segment, FCS 2, last block of reserved type 3
        magic + bytes([0x20, 2]) + (1 | 3 << 1 | 2 << 3).to_bytes(3, "little")
        + b"hi",
        # a raw block claiming 1 MiB: over the 128 KB block cap
        magic + bytes([0x20, 0xFF]) + ((1 << 20) << 3).to_bytes(3, "little"),
        # a window of 2^31: over libzstd's 2^27 decoding limit
        magic + bytes([0x00, (31 - 10) << 3]) + (1).to_bytes(3, "little"),
    ):
        with pytest.raises(ValueError):
            zstd_decompress(bad)
    ok = magic + bytes([0x20, 2]) + (1 | 2 << 3).to_bytes(3, "little") + b"hi"
    assert zstd_decompress(ok) == b"hi"


def _train_dict(tmp_path, texts):
    samples = tmp_path / "s"
    samples.mkdir(exist_ok=True)
    for i, t in enumerate(texts):
        (samples / f"{i}.txt").write_bytes(t)
    dic = tmp_path / "d.dict"
    r = subprocess.run(
        [_CLI, "--train", *map(str, samples.iterdir()), "-o", str(dic)],
        capture_output=True,
    )
    if r.returncode != 0:
        pytest.skip("CLI cannot train a dictionary here")
    return dic


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_dictionary_detected_not_guessed(tmp_path):
    """A frame that needs a dictionary raises ValueError when none is
    supplied, never decodes garbage."""
    dic = _train_dict(
        tmp_path,
        [b"the common prefix of every sample " + str(i).encode()
         for i in range(40)],
    )
    blob = _cli_compress(b"the common prefix of every sample 99", "-D", str(dic))
    with pytest.raises(ValueError):
        zstd_decompress(blob)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_trained_dictionary_decode(tmp_path):
    """Frames compressed WITH a CLI-trained dictionary decode when it
    is supplied, across levels; a wrong-id dictionary and no
    dictionary both refuse."""
    rng = random.Random(21)
    words = [b"alpha", b"bravo", b"charlie", b"delta", b"echo", b"fox"]
    texts = [
        b" ".join(rng.choice(words) for _ in range(120)) + b" #%d" % i
        for i in range(80)
    ]
    dic = _train_dict(tmp_path, texts)
    dblob = dic.read_bytes()
    blob = b""
    for level in ("-1", "-5", "-19"):
        for t in texts[:5] + [b"zeta " + texts[0]]:
            blob = _cli_compress(t, level, "-D", str(dic))
            assert zstd_decompress(blob, dictionary=dblob) == t, level
    wrong = bytearray(dblob)
    wrong[4] ^= 0xFF  # the dictionary id
    with pytest.raises(ValueError):
        zstd_decompress(blob, dictionary=bytes(wrong))
    with pytest.raises(ValueError):
        zstd_decompress(blob)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_trained_dictionary_truncation_and_fuzz(tmp_path):
    texts = [b"sample record %d with shared shape " % i * 8
             for i in range(60)]
    dic = _train_dict(tmp_path, texts)
    dblob = dic.read_bytes()
    data = texts[7] + b" and a novel tail"
    blob = _cli_compress(data, "-9", "-D", str(dic))
    assert zstd_decompress(blob, dictionary=dblob) == data
    for cut in range(len(blob)):
        with pytest.raises(ValueError):
            zstd_decompress(blob[:cut], dictionary=dblob)
    rng = random.Random(77)
    mut = bytearray(blob)
    for _ in range(200):
        i = rng.randrange(len(mut))
        old = mut[i]
        mut[i] ^= 1 << rng.randrange(8)
        try:
            zstd_decompress(bytes(mut), len(data) * 4, dblob)
        except ValueError:
            pass
        mut[i] = old


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_raw_content_dictionary(tmp_path):
    """A blob without the dictionary magic is pure history (implicit
    id 0) — the reference CLI's raw-content fallback."""
    history = b"the quick brown fox jumps over the lazy dog " * 40
    data = b"NEW: " + history[:600] + b" tail"
    raw = tmp_path / "raw.dict"
    raw.write_bytes(history)
    blob = _cli_compress(data, "-5", "-D", str(raw))
    assert zstd_decompress(blob, dictionary=history) == data


def test_dict_lz_writer_roundtrips_and_cli_adjudicates(tmp_path):
    """Frames written against a raw-content dictionary, whose matches
    reach into the dictionary's history, round-trip through our
    decoder AND the reference decoder under ``-D``."""
    rng = random.Random(3)
    for trial in range(20):
        content = bytes(
            rng.choice(b"abcdefg hij") for _ in range(rng.randrange(1, 2000))
        )
        data = (
            content[: rng.randrange(0, len(content) + 1)]
            + b" NEW "
            + bytes(rng.choice(b"abcdefg hij")
                    for _ in range(rng.randrange(0, 3000)))
        )
        blob = codecs.compress("zstd", data, dictionary=content)
        assert zstd_decompress(blob, dictionary=content) == data, trial
        if _CLI is not None:
            d = tmp_path / "raw.dict"
            d.write_bytes(content)
            assert _cli_decompress(blob, "-D", str(d)) == data, trial
    # a frame that genuinely used history must NOT decode without it
    content = b"the shared history block " * 40
    blob = codecs.compress("zstd", content + b" tail", dictionary=content)
    with pytest.raises(ValueError):
        zstd_decompress(blob)


def test_block_cap_binds_to_the_declared_window():
    """Block_Maximum_Size = min(Window_Size, 128 KB) (RFC 8878
    §3.1.1.2.3): a block above the declared window is corruption.
    Offsets LARGER than the window but inside decoded history are
    accepted, as the reference decoder does. Hand-laid frames: two
    2000-byte raw blocks, then a compressed block of one literal and
    one predefined-FSE sequence (literal length 1, match 4)."""
    sequences = {  # match offset → the block's sequence section
        1500: "0100df055908",
        3000: "0100bb0ba010",
        900: "010087032104",
    }

    def frame(offset, wd):
        head = struct.pack("<I", 0xFD2FB528) + bytes([0x00, wd])
        raw = b"a" * 2000
        bh1 = (0 | (0 << 1) | (len(raw) << 3)).to_bytes(3, "little")
        block = b"\x08x" + bytes.fromhex(sequences[offset])
        bh2 = (1 | (2 << 1) | (len(block) << 3)).to_bytes(3, "little")
        return head + bh1 + raw + bh1 + raw + bh2 + block

    expect = b"a" * 4000 + b"x" + b"a" * 4
    ok = frame(1500, 0x08)  # 2 KiB window; blocks fit
    assert zstd_decompress(ok) == expect
    over = frame(3000, 0x08)  # offset beyond window, within history
    assert zstd_decompress(over) == expect
    small = frame(900, 0x00)  # 1 KiB window < the 2000-byte blocks
    with pytest.raises(ValueError):
        zstd_decompress(small)
    if _CLI is not None:  # the reference decoder adjudicates all three
        assert _cli_decompress(ok) == expect
        assert _cli_decompress(over) == expect
        assert _cli_refuses(small)


def test_zero_sequence_block_trailing_bytes_raise():
    """A compressed block whose sequence count is 0 must consume the
    block exactly — trailing bytes are corruption."""

    def frame(block):
        bh = (len(block) << 3) | (2 << 1) | 1
        return (
            struct.pack("<I", 0xFD2FB528)
            + b"\x00\x00"
            + bh.to_bytes(3, "little")
            + block
        )

    good = frame(b"\x28hello\x00")  # raw literals 'hello', 0 sequences
    assert zstd_decompress(good) == b"hello"
    bad = frame(b"\x28hello\x00\xaa")
    with pytest.raises(ValueError):
        zstd_decompress(bad)
    if _CLI is not None:  # the format's own decoder adjudicates both
        assert _cli_decompress(good) == b"hello"
        assert _cli_refuses(bad)


def test_seekable_format_roundtrip_and_split_correctness():
    """One .zst, many frames, a parseable seek table. Per-frame ranged
    reads reproduce exactly the whole-file decode, the table parses
    from the file's tail alone, and a plain decoder (ours and, when
    present, the reference CLI) reads the file end-to-end, skipping
    the table."""
    from data_warehouse_migration_spark.functions.zstd import (
        zstd_seek_table,
        zstd_seekable_pack,
        zstd_seekable_read_frame,
    )

    chunks = [b"chunk %d body " % i * (50 + 37 * (i % 5))
              for i in range(17)] + [b""]
    whole = b"".join(chunks)
    for checksum in (True, False):
        blob = zstd_seekable_pack(chunks, checksum=checksum)
        table = zstd_seek_table(blob)
        assert len(table) == len(chunks)
        # the tail holding the table is enough: no frame body is read
        tail = len(chunks) * (12 if checksum else 8) + 17
        assert zstd_seek_table(blob[-tail:], file_len=len(blob)) == table
        with pytest.raises(ValueError):
            zstd_seek_table(blob[-tail + 1 :], file_len=len(blob))
        # whole-file decode == concatenated per-frame ranged reads
        assert zstd_decompress(blob) == whole
        for e, chunk in zip(table, chunks):
            sl = blob[e["c_offset"] : e["c_offset"] + e["c_size"]]
            assert zstd_seekable_read_frame(sl, e) == chunk
            assert zstd_seekable_read_frame(blob, e) == chunk
        if _CLI is not None:
            assert _cli_decompress(blob) == whole
    # hostile table surface
    blob = bytearray(zstd_seekable_pack(chunks))
    bad = bytearray(blob)
    struct.pack_into("<I", bad, len(bad) - 4, 0xDEADBEEF)
    with pytest.raises(ValueError, match="footer magic"):
        zstd_seek_table(bytes(bad))
    bad2 = bytearray(blob)
    # inflate the first entry's compressed size: offsets no longer sum
    tbl_start = len(bad2) - (len(chunks) * 12 + 9) + 0
    struct.pack_into("<I", bad2, tbl_start, 1 << 20)
    with pytest.raises(ValueError, match="covers|span"):
        zstd_seek_table(bytes(bad2))
    # per-frame checksum actually binds
    table = zstd_seek_table(bytes(blob))
    e0 = dict(table[0])
    e0["checksum"] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        zstd_seekable_read_frame(bytes(blob), e0)


def test_dictionary_parse_guards():
    """A dictionary without the magic is raw content; one with the
    magic but a truncated entropy section refuses to load."""
    history = b"just history bytes, no magic " * 4
    blob = codecs.compress("zstd", history, dictionary=history)
    assert zstd_decompress(blob, dictionary=history) == history
    with pytest.raises(ValueError):
        zstd_decompress(blob, dictionary=struct.pack("<II", 0xEC30A437, 7))


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_cli_decodes_our_lz_frames():
    """The reference implementation accepts our frames, from short
    literals-only inputs through multi-block incompressible ones."""
    rng = random.Random(11)
    cases = CASES + [
        bytes(rng.randrange(256) for _ in range(50_000)),
        ("mixed text with 12345 numbers and repeats " * 3000).encode(),
        b"x" * 300_000,  # multi-block
    ]
    for data in cases:
        assert _cli_decompress(codecs.compress("zstd", data)) == data, len(data)


@pytest.mark.skipif(_CLI is None, reason="reference zstd CLI absent")
def test_mutation_fuzz_never_escapes_the_exception_contract():
    """200 seeded single-bit corruptions of a real frame: each must
    either decode (some header bits are inert) or raise ValueError —
    never another class, never a hang past the output cap."""
    rng = random.Random(1234)
    data = b"fuzz me gently, said the frame " * 40
    blob = bytearray(_cli_compress(data, "-3"))
    for _ in range(200):
        i = rng.randrange(len(blob))
        old = blob[i]
        blob[i] ^= 1 << rng.randrange(8)
        try:
            zstd_decompress(bytes(blob), max_output=len(data) * 4)
        except ValueError:
            pass
        blob[i] = old


def test_trained_dictionary_writer_both_directions(tmp_path):
    """``codecs.zstd_dictionary`` authors a trained-format dictionary
    from content alone. Adjudication in four directions: our decoder
    reads our frames with the dictionary; it refuses without it (the
    frame declares the id); the REFERENCE decoder accepts our
    dictionary file and our frames under ``-D``; and our decoder
    reads reference frames compressed with OUR dictionary."""
    rng = random.Random(8)
    words = [b"alpha", b"bravo", b"charlie", b"delta"]
    content = b" ".join(rng.choice(words) for _ in range(400))
    dblob = codecs.zstd_dictionary(content, dict_id=0xABCD1234)
    assert struct.unpack_from("<II", dblob) == (0xEC30A437, 0xABCD1234)
    assert dblob.endswith(content)
    dfile = tmp_path / "engine.dict"
    dfile.write_bytes(dblob)
    for trial in range(12):
        data = (
            content[: rng.randrange(len(content))]
            + b" NEW "
            + b" ".join(rng.choice(words)
                        for _ in range(rng.randrange(0, 800)))
        )
        blob = codecs.compress("zstd", data, dictionary=dblob)
        assert zstd_decompress(blob, dictionary=dblob) == data, trial
        with pytest.raises(ValueError):
            zstd_decompress(blob)
        if _CLI is not None:
            assert _cli_decompress(blob, "-D", str(dfile)) == data, trial
            cli = _cli_compress(data, "-7", "-D", str(dfile))
            assert zstd_decompress(cli, dictionary=dblob) == data
    # full-alphabet (CJK) content makes a dictionary too
    content = ("中文 内容 样本 数据 " * 60).encode()
    dblob = codecs.zstd_dictionary(content, 99)
    data = content[:200] + " NEW 中文 数据 样本 ".encode() * 30
    frame = codecs.compress("zstd", data, dictionary=dblob)
    assert zstd_decompress(frame, dictionary=dblob) == data
    if _CLI is not None:
        dfile.write_bytes(dblob)
        assert _cli_decompress(frame, "-D", str(dfile)) == data
