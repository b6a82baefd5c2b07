"""ZIP archive reading (PKWARE APPNOTE layout): the other container
datasets actually ship in (image packs, Kaggle dumps, scanned-document
bundles). Companion to ``sources/tar.py``.

What is REAL here: End-of-Central-Directory discovery by backward
signature scan through the trailing comment (the spec's prescribed
algorithm — readers that assume a fixed tail break on commented
archives), central-directory entry decode (PK\\x01\\x02), local-header
cross-checks (PK\\x03\\x04, name equality), STORED and DEFLATE payload
decode via zlib with raw windows, and per-member CRC-32 VERIFICATION
against the central directory. Zip64, encryption, and spanned archives
are the documented fence — raised, never misparsed. Data-descriptor
members (bit 3) decode from the central directory's authoritative
sizes.

At 100 TB the unit of parallelism is the archive member: the central
directory is a cheap tail read and members decode independently by
(offset, size) — exactly the layout object stores range-request."""

from __future__ import annotations

import struct
import zlib

__all__ = ["ZipFormatError", "parse_zip", "encode_zip"]

_EOCD_SIG = b"PK\x05\x06"
_CDH_SIG = b"PK\x01\x02"
_LFH_SIG = b"PK\x03\x04"


class ZipFormatError(ValueError):
    pass


def _find_eocd(data: bytes) -> int:
    """Backward scan for the EOCD signature within the maximal comment
    span (65 535 bytes + 22-byte record)."""
    lo = max(0, len(data) - 65557)
    pos = data.rfind(_EOCD_SIG, lo)
    if pos < 0:
        raise ZipFormatError("no end-of-central-directory record")
    return pos


def parse_zip(data: bytes) -> list[dict]:
    """Walk the central directory → one dict per member:
    ``{"name", "size", "compressed_size", "method", "crc32", "mtime_dos",
    "payload"}`` with CRC verified. Directories pass through with empty
    payloads."""
    data = bytes(data)
    eocd = _find_eocd(data)
    (n_disk, cd_disk, n_here, n_total, cd_size, cd_off, comment_len) = (
        struct.unpack_from("<HHHHIIH", data, eocd + 4)
    )
    if n_disk or cd_disk:
        raise ZipFormatError("spanned archives unsupported")
    if n_total == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise ZipFormatError("Zip64 is the documented fence")
    if eocd + 22 + comment_len > len(data):
        raise ZipFormatError("truncated EOCD comment")
    members = []
    pos = cd_off
    for _ in range(n_total):
        if data[pos : pos + 4] != _CDH_SIG:
            raise ZipFormatError("bad central-directory signature")
        (
            _ver_made, _ver_need, flags, method, mtime, mdate, crc,
            csize, usize, name_len, extra_len, comment_len2,
            _disk, _iattr, _eattr, lho,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        if flags & 0x0001:
            raise ZipFormatError("encrypted members unsupported")
        if csize == 0xFFFFFFFF or usize == 0xFFFFFFFF or lho == 0xFFFFFFFF:
            # per-entry Zip64 sentinels (sizes/offset live in a Zip64
            # extra field this reader doesn't speak): fence them like the
            # EOCD-level sentinels instead of misparsing (ADVICE r12)
            raise ZipFormatError("Zip64 is the documented fence")
        name = data[pos + 46 : pos + 46 + name_len].decode(
            "utf-8" if flags & 0x0800 else "cp437", "replace"
        )
        pos += 46 + name_len + extra_len + comment_len2
        if data[lho : lho + 4] != _LFH_SIG:
            raise ZipFormatError(f"bad local header for {name!r}")
        (l_name_len, l_extra_len) = struct.unpack_from("<HH", data, lho + 26)
        l_name = data[lho + 30 : lho + 30 + l_name_len]
        if l_name.decode("utf-8" if flags & 0x0800 else "cp437",
                         "replace") != name:
            raise ZipFormatError(f"local/central name mismatch for {name!r}")
        body_off = lho + 30 + l_name_len + l_extra_len
        raw = data[body_off : body_off + csize]
        if len(raw) < csize:
            raise ZipFormatError(f"truncated member data for {name!r}")
        if method == 0:
            payload = raw
        elif method == 8:
            try:
                payload = zlib.decompress(raw, -zlib.MAX_WBITS)
            except zlib.error as exc:
                raise ZipFormatError(
                    f"bad deflate stream in {name!r}: {exc}"
                ) from exc
        else:
            raise ZipFormatError(f"compression method {method} unsupported")
        if len(payload) != usize:
            raise ZipFormatError(f"size mismatch for {name!r}")
        if zlib.crc32(payload) & 0xFFFFFFFF != crc:
            raise ZipFormatError(f"CRC mismatch for {name!r}")
        members.append(
            {
                "name": name,
                "size": usize,
                "compressed_size": csize,
                "method": method,
                "crc32": crc,
                "mtime_dos": (mdate << 16) | mtime,
                "payload": payload,
            }
        )
    return members


def encode_zip(
    members: list[tuple[str, bytes]],
    deflate: bool = False,
    comment: bytes = b"",
    data_descriptors: bool = False,
    dos_time: int = 0,
) -> bytes:
    """Conformant single-disk ZIP fixture: local headers + optional
    bit-3 data descriptors, central directory, EOCD with an optional
    archive comment (exercising the backward EOCD scan)."""
    out = bytearray()
    central = bytearray()
    mtime = dos_time & 0xFFFF
    mdate = (dos_time >> 16) & 0xFFFF
    for name, payload in members:
        nb = name.encode("utf-8")
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        if deflate:
            co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
            raw = co.compress(payload) + co.flush()
            method = 8
        else:
            raw, method = payload, 0
        flags = 0x0800 | (0x0008 if data_descriptors else 0)
        lho = len(out)
        hdr_sizes = (0, 0, 0) if data_descriptors else (crc, len(raw),
                                                        len(payload))
        out += _LFH_SIG + struct.pack(
            "<HHHHHIIIHH", 20, flags, method, mtime, mdate,
            hdr_sizes[0], hdr_sizes[1], hdr_sizes[2], len(nb), 0,
        )
        out += nb + raw
        if data_descriptors:
            out += b"PK\x07\x08" + struct.pack(
                "<III", crc, len(raw), len(payload)
            )
        central += _CDH_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, flags, method, mtime, mdate,
            crc, len(raw), len(payload), len(nb), 0, 0, 0, 0, 0, lho,
        )
        central += nb
    cd_off = len(out)
    out += central
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(central),
        cd_off, len(comment),
    )
    out += comment
    return bytes(out)
