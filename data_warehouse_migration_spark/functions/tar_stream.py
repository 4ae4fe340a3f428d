"""tar shards on CPython's ``tarfile`` — the container large training
sets actually ship in: the WebDataset convention stores each sample
as ADJACENT members sharing a basename key (``000017.jpg`` +
``000017.txt`` + ``000017.json``) inside fixed-size tar shards, so a
loader streams samples sequentially with no index. ``.tar.gz``
shards compose with gzip from functions/codecs.

Writer: each member is ``tarfile.TarInfo(name).tobuf(format)`` — the
512-byte header, plus a PAX ``x`` header (``pax``) or a GNU ``L``
longname member (``gnu``) when the name needs one — then the payload
padded to 512 bytes; the archive ends with the two zero blocks of
the end-of-archive marker. ``TarFile.close()`` is not used: it pads
the archive to a 10 KiB record, which the gate's length formula
does not count.

Reader: ``tarfile.open(fileobj=…, mode="r:")``, which verifies header
checksums and applies PAX ``x``/``g`` records and GNU ``L``/``K``
members to the member they describe. ``tarfile`` stops without an
error at a bad header after the first one, so every byte past where
its walk stopped must be the end-of-archive marker: at least one
zero block, and nothing but zeros after it (a second zero block,
record padding). A bad header or a shard cut between two members
raises instead of reading as a shorter listing. Directory and link
entries are skipped, any other non-regular member raises, and so do
members that GNU sparse records (in PAX ``x`` or ``g`` headers) turn
sparse: ``tarfile`` would fill their holes with zeros up to any size
the records claim. Every failure is ``ValueError``.

Scale posture: shards are the unit of parallelism (one worker
streams one shard — the WebDataset access pattern); per-shard code
runs inside Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

import io
import tarfile

_BLOCK = 512

_FORMATS = {
    "ustar": tarfile.USTAR_FORMAT,
    "pax": tarfile.PAX_FORMAT,
    "gnu": tarfile.GNU_FORMAT,
}

#: members listed / skipped; any other typeflag raises
_REGULAR = (tarfile.REGTYPE, tarfile.AREGTYPE)
_SKIPPED = (tarfile.DIRTYPE, tarfile.SYMTYPE, tarfile.LNKTYPE)


def tar_pack(
    members: list[tuple[str, bytes]], mtime: int = 0, fmt: str = "ustar"
) -> bytes:
    """A tar archive of regular files, deterministic (fixed mtime,
    uid/gid 0, mode 0644) so equal members give equal shard bytes.
    ``fmt`` picks how long names ship: ``ustar`` splits them over the
    name and prefix fields and raises when that cannot hold them,
    ``pax`` emits an ``x`` extended header with a ``path`` record,
    ``gnu`` an ``L`` longname member — as ``tarfile`` writes them."""
    if fmt not in _FORMATS:
        raise ValueError(f"unknown tar format {fmt!r}")
    out = bytearray()
    for name, data in members:
        info = tarfile.TarInfo(name)
        info.size = len(data)
        info.mtime = mtime
        out += info.tobuf(_FORMATS[fmt], "utf-8", "strict")
        out += data + b"\x00" * (-len(data) % _BLOCK)
    out += b"\x00" * (2 * _BLOCK)
    return bytes(out)


def tar_members(data: bytes) -> list[tuple[str, bytes]]:
    """Walk an archive → ``[(name, payload)]`` for regular files.
    Directory and link entries are skipped (a member listing has
    nothing to materialize for them); any OTHER typeflag raises (a
    loader that silently skips a member kind it doesn't know hands
    on a listing that is missing it)."""
    out: list[tuple[str, bytes]] = []
    try:
        buf = io.BytesIO(data)
        with tarfile.open(fileobj=buf, mode="r:", encoding="utf-8") as tf:
            for info in tf:
                if info.type in _REGULAR:
                    # tarfile keeps undecodable name bytes as
                    # surrogates, and slices a PAX record whose length
                    # overruns its header into NUL padding: a listed
                    # name must be UTF-8 without NULs
                    if "\x00" in info.name:
                        raise ValueError(f"tar: NUL in name {info.name!r}")
                    info.name.encode("utf-8")
                    # tarfile fills a sparse member's holes with zeros
                    # up to the size its records claim, unbounded by
                    # the shard; sparse members were never supported
                    if info.sparse is not None:
                        raise ValueError(f"tar: sparse member {info.name!r}")
                    out.append((info.name, tf.extractfile(info).read()))
                elif info.type not in _SKIPPED:
                    raise ValueError(
                        f"unsupported tar typeflag {info.type!r}"
                    )
            end = tf.offset
    # OverflowError: a base-256 size field no offset can hold
    except (tarfile.TarError, OverflowError) as exc:
        raise ValueError(f"tar: {exc}") from exc
    # the walk must have stopped at the end-of-archive marker: a zero
    # block, then nothing but zeros — not at a header tarfile could
    # not read, nor at the end of a shard cut between two members
    if len(data) - end < _BLOCK or any(data[end:]):
        raise ValueError(f"tar: no end-of-archive marker at offset {end}")
    return out


def webdataset_samples(
    data: bytes,
) -> list[tuple[str, dict[str, bytes]]]:
    """Group a shard's members into WebDataset samples: the key is
    the path up to the FIRST dot of the basename, the extension maps
    to the payload; adjacent members sharing a key form one sample
    (the convention's contract — a shard interleaving keys is
    malformed and raises)."""
    samples: list[tuple[str, dict[str, bytes]]] = []
    seen: set[str] = set()
    for name, payload in tar_members(data):
        slash = name.rfind("/") + 1
        dot = name.find(".", slash)
        base, ext = (name, "") if dot < 0 else (name[:dot], name[dot + 1 :])
        if samples and samples[-1][0] == base:
            samples[-1][1][ext] = payload
        else:
            if base in seen:
                raise ValueError(f"non-adjacent members for key {base!r}")
            seen.add(base)
            samples.append((base, {ext: payload}))
    return samples
