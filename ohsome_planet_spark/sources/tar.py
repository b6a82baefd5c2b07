"""Tar shard reading (POSIX.1-1988 ustar) + WebDataset sample grouping
— the shard format large-scale multimodal training sets actually ship
in (WebDataset: a tar of ``key.ext`` members, consecutive members with
the same key form one sample).

What is REAL here: the 512-byte header decode (NUL-padded name with
the ustar prefix field, octal size/mtime with the historical
leading-space tolerance), checksum VERIFICATION (sum of the header
with the chksum field blanked to spaces — both the signed and unsigned
historical variants accepted, per the pax rationale), content walk
with 512-block padding, the two-zero-block terminator, optional gzip
envelope (the ``.tar.gz`` shard shape), and first-dot key/extension
splitting (the WebDataset convention: ``a/b.seg.txt`` → key ``a/b``,
ext ``seg.txt``). PAX extended headers and GNU long-name entries are
the documented fence — raised, never misparsed."""

from __future__ import annotations

import zlib

__all__ = ["TarFormatError", "parse_tar", "encode_tar", "group_wds_samples"]

BLOCK = 512


class TarFormatError(ValueError):
    pass


def _octal(field: bytes, what: str) -> int:
    s = field.split(b"\0", 1)[0].strip(b" ")
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as exc:
        raise TarFormatError(f"bad octal in {what}: {field!r}") from exc


def _checksums(header: bytes) -> tuple[int, int]:
    blanked = header[:148] + b" " * 8 + header[156:]
    unsigned = sum(blanked)
    signed = sum(b - 256 if b >= 128 else b for b in blanked)
    return unsigned, signed


def parse_tar(data: bytes) -> list[dict]:
    """Walk a (possibly gzipped) tar archive → one dict per member:
    ``{"name", "size", "mtime", "typeflag", "payload"}``. Regular files
    only carry payloads; directories pass through with ``payload=b""``.
    Raises :class:`TarFormatError` on checksum mismatch, truncation, or
    the PAX/GNU long-name fence."""
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        try:
            data = zlib.decompress(data, 16 + zlib.MAX_WBITS)
        except zlib.error as exc:
            raise TarFormatError(f"bad gzip envelope: {exc}") from exc
    members = []
    pos = 0
    n = len(data)
    while pos + BLOCK <= n:
        header = data[pos : pos + BLOCK]
        if header == b"\0" * BLOCK:
            # terminator: expect a second zero block (tolerate EOF after)
            return members
        expected = _octal(header[148:156], "chksum")
        unsigned, signed = _checksums(header)
        if expected not in (unsigned, signed):
            raise TarFormatError(
                f"header checksum mismatch at offset {pos}"
            )
        typeflag = header[156:157].decode("latin-1")
        if typeflag in ("x", "g", "L", "K"):
            raise TarFormatError(
                "PAX/GNU extension headers are the documented fence"
            )
        name = header[:100].split(b"\0", 1)[0].decode("utf-8", "replace")
        magic = header[257:263]
        if magic in (b"ustar\0", b"ustar "):
            prefix = header[345:500].split(b"\0", 1)[0].decode(
                "utf-8", "replace"
            )
            if prefix:
                name = prefix + "/" + name
        size = _octal(header[124:136], "size")
        mtime = _octal(header[136:148], "mtime")
        pos += BLOCK
        payload = b""
        if typeflag in ("0", "\0", "", "7"):
            # type '7' (contiguous) carries data and is defined to be
            # treated as a regular file by implementations without
            # contiguous-file support (POSIX ustar; ADVICE r12)
            if pos + size > n:
                raise TarFormatError("truncated member payload")
            payload = data[pos : pos + size]
            pos += (size + BLOCK - 1) // BLOCK * BLOCK
        elif typeflag not in ("1", "2", "3", "4", "5", "6"):
            # unrecognized typeflag: the ustar rule is to skip its
            # size-rounded data blocks — assuming zero data desyncs the
            # 512-block walk and drops the whole shard (ADVICE r12)
            if pos + size > n:
                raise TarFormatError("truncated member payload")
            pos += (size + BLOCK - 1) // BLOCK * BLOCK
        members.append(
            {
                "name": name,
                "size": size,
                "mtime": mtime,
                "typeflag": "0" if typeflag in ("\0", "", "7") else typeflag,
                "payload": payload,
            }
        )
    raise TarFormatError("archive ends without terminator blocks")


def split_wds_key(name: str) -> tuple[str, str]:
    """WebDataset key/extension split at the FIRST dot of the basename:
    ``dir/a.seg.txt`` → (``dir/a``, ``seg.txt``)."""
    slash = name.rfind("/")
    dot = name.find(".", slash + 1)
    if dot < 0:
        return name, ""
    return name[:dot], name[dot + 1 :]


def group_wds_samples(members: list[dict]) -> list[dict]:
    """Group CONSECUTIVE regular-file members sharing a key into
    samples (the WebDataset stream contract — a key seen again after a
    break is a NEW sample, mirroring streaming readers)."""
    samples: list[dict] = []
    cur_key: str | None = None
    cur: dict[str, bytes] | None = None
    for m in members:
        if m["typeflag"] != "0":
            continue
        key, ext = split_wds_key(m["name"])
        if key != cur_key:
            if cur is not None:
                samples.append({"key": cur_key, "parts": cur})
            cur_key, cur = key, {}
        if ext in cur:
            raise TarFormatError(
                f"duplicate extension {ext!r} within sample {key!r}"
            )
        cur[ext] = m["payload"]
    if cur is not None:
        samples.append({"key": cur_key, "parts": cur})
    return samples


# ---------------------------------------------------------------------------
# fixture encoder


def _header(
    name: str, size: int, mtime: int, typeflag: str, prefix: str = ""
) -> bytes:
    h = bytearray(BLOCK)
    nb = name.encode()
    if len(nb) > 100:
        raise ValueError("name too long for ustar name field")
    h[0 : len(nb)] = nb
    h[100:108] = b"0000644\0"
    h[108:116] = b"0000000\0"
    h[116:124] = b"0000000\0"
    h[124:136] = b"%011o\0" % size
    h[136:148] = b"%011o\0" % mtime
    h[148:156] = b" " * 8
    h[156] = ord(typeflag)
    h[257:263] = b"ustar\0"
    h[263:265] = b"00"
    h[265:271] = b"wds\0\0\0"
    h[297:301] = b"wds\0"
    pb = prefix.encode()
    if len(pb) > 155:
        raise ValueError("prefix too long")
    h[345 : 345 + len(pb)] = pb
    chksum = sum(h)
    h[148:156] = b"%06o\0 " % chksum
    return bytes(h)


def encode_tar(
    members: list[tuple[str, bytes]],
    gzip_envelope: bool = False,
    mtime: int = 0,
    prefix_split: bool = False,
) -> bytes:
    """Conformant ustar fixture: ``members`` is [(name, payload)].
    ``prefix_split`` routes directory components through the ustar
    prefix field instead of the name field (both legal spellings)."""
    out = bytearray()
    for name, payload in members:
        prefix = ""
        if prefix_split and "/" in name:
            prefix, name = name.rsplit("/", 1)
        out += _header(name, len(payload), mtime, "0", prefix)
        out += payload
        pad = -len(payload) % BLOCK
        out += b"\0" * pad
    out += b"\0" * (2 * BLOCK)
    if gzip_envelope:
        co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        return co.compress(bytes(out)) + co.flush()
    return bytes(out)
