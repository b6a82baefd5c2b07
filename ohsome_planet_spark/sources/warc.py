"""WARC (Web ARChive, ISO 28500) reader in pure stdlib Python — the
ingestion format of Common Crawl, the dominant source corpus for
large-scale training-data pipelines.

Wire format: a WARC file is a sequence of records, each

    WARC/1.0\\r\\n
    <header-name>: <value>\\r\\n ...          (named fields)
    \\r\\n                                     (blank line)
    <Content-Length octets of payload>
    \\r\\n\\r\\n                                 (record separator)

optionally gzip-compressed PER RECORD (multi-member gzip — the form
Common Crawl ships). The reader walks records by their declared
Content-Length (never by scanning for separators, which can occur inside
payloads), parses the named headers, and exposes
(offset, warc_type, target_uri, record_id, date, content_type,
content_length, payload).

Scale shape: one WARC member is independently decodable, so a 100 TB
crawl shards by (file, member) ranges; here the per-file walk runs
inside ``mapInPandas`` over binary payload columns — bytes never leave
the executors.
"""

from __future__ import annotations

import gzip
import io

WARC_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


class WarcFormatError(ValueError):
    pass


class UnsupportedEncodingError(WarcFormatError):
    """A Content-Encoding this build cannot decode (e.g. br/zstd without
    their optional codec libraries). Distinct so extraction layers can
    quarantine the record — one exotic encoding in a crawl batch must
    not abort the task (ADVICE r11)."""


def _bounded(data: bytes) -> bytes:
    if len(data) > MAX_MEMBER_DECOMPRESSED:
        raise WarcFormatError("HTTP body expands past the bomb guard ceiling")
    return data


# per-member decompressed-size ceiling: a single gzip-bomb member in an
# untrusted crawl must not be allowed to expand to gigabytes inside one
# executor task. 256 MiB is far above any legitimate WARC record.
MAX_MEMBER_DECOMPRESSED = 256 * 1024 * 1024
_DECOMP_CHUNK = 1 << 20


def _split_members(
    data: bytes, max_member_bytes: int = MAX_MEMBER_DECOMPRESSED
) -> list[bytes]:
    """Split multi-member gzip (per-record compression) or return the
    raw bytes as a single pseudo-member when not gzipped. GzipFile
    transparently concatenates consecutive members, so member boundaries
    come from ``zlib.decompressobj(31)`` + ``unused_data`` instead.

    Decompression is chunked via zlib ``max_length`` and capped at
    ``max_member_bytes`` per member — untrusted crawl bytes may contain
    gzip bombs, and an unbounded ``decompress`` call turns one such
    member into an executor OOM."""
    import zlib

    if data[:2] != b"\x1f\x8b":
        return [data]
    out = []
    rest = data
    while rest:
        if rest[:2] != b"\x1f\x8b":
            raise WarcFormatError(
                f"garbage between gzip members at offset {len(data) - len(rest)}"
            )
        d = zlib.decompressobj(31)
        chunks: list[bytes] = []
        size = 0
        tail = rest
        try:
            while not d.eof:
                chunk = d.decompress(tail, _DECOMP_CHUNK)
                tail = d.unconsumed_tail
                if chunk:
                    size += len(chunk)
                    if size > max_member_bytes:
                        raise WarcFormatError(
                            f"gzip member expands past {max_member_bytes} "
                            "bytes — refusing (bomb guard)"
                        )
                    chunks.append(chunk)
                elif not tail:
                    break
        except zlib.error as exc:
            raise WarcFormatError(f"corrupt gzip member: {exc}") from exc
        if not d.eof:
            raise WarcFormatError("truncated gzip member")
        out.append(b"".join(chunks))
        rest = d.unused_data
    return out


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes (plain or per-record gzip) → list of record
    dicts. Payload framing comes exclusively from Content-Length."""
    records = []
    for member_idx, member in enumerate(_split_members(bytes(data))):
        pos = 0
        n = len(member)
        while pos < n:
            # tolerate trailing separator runs between records
            while pos < n and member[pos : pos + 2] == b"\r\n":
                pos += 2
            if pos >= n:
                break
            eol = member.find(b"\r\n", pos)
            if eol < 0:
                raise WarcFormatError("unterminated version line")
            version = member[pos:eol]
            if version not in WARC_VERSIONS:
                raise WarcFormatError(f"bad WARC version line {version!r}")
            pos = eol + 2
            headers: dict[str, str] = {}
            while True:
                eol = member.find(b"\r\n", pos)
                if eol < 0:
                    raise WarcFormatError("unterminated header block")
                line = member[pos:eol]
                pos = eol + 2
                if not line:
                    break
                if b":" not in line:
                    raise WarcFormatError(f"malformed header line {line!r}")
                k, v = line.split(b":", 1)
                headers[k.decode("ascii").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
            try:
                clen = int(headers["content-length"])
            except KeyError:
                raise WarcFormatError("record missing Content-Length")
            except ValueError:
                raise WarcFormatError("non-integer Content-Length")
            if pos + clen > n:
                raise WarcFormatError("payload extends past end of member")
            payload = member[pos : pos + clen]
            pos += clen
            records.append(
                {
                    "member": member_idx,
                    "warc_type": headers.get("warc-type"),
                    "target_uri": headers.get("warc-target-uri"),
                    "record_id": headers.get("warc-record-id"),
                    "date": headers.get("warc-date"),
                    "content_type": headers.get("content-type"),
                    "content_length": clen,
                    "payload": payload,
                }
            )
    return records


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 ``Transfer-Encoding: chunked`` framing (RFC 9112
    §7.1): hex size line (optional ``;ext`` chunk extensions) CRLF, chunk
    octets, CRLF, ... terminated by a zero-size chunk; trailer fields
    after the last chunk are ignored."""
    out = bytearray()
    pos = 0
    n = len(body)
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            raise WarcFormatError("unterminated chunk-size line")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise WarcFormatError(f"bad chunk size {size_tok!r}")
        pos = eol + 2
        if size == 0:
            return bytes(out)  # trailers (if any) ignored
        if pos + size + 2 > n:
            raise WarcFormatError("chunk extends past end of body")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            raise WarcFormatError("chunk data not CRLF-terminated")
        pos += size + 2


def _decode_content(body: bytes, encoding: str) -> bytes:
    """Undo ``Content-Encoding``, bounded by the same bomb guard as the
    WARC member walk. Handles gzip / x-gzip / deflate / identity
    natively (``deflate`` accepts both the RFC-correct zlib wrapper and
    the bare-deflate form real servers ship) plus COMMA-SEPARATED coding
    lists ('gzip, identity' — applied in reverse header order, the RFC
    9110 stacking rule; ADVICE r11). br / zstd decode when the optional
    codec libraries are importable; otherwise they raise
    :class:`UnsupportedEncodingError`, a distinct subclass callers can
    quarantine per record instead of failing a batch."""
    codings = [
        c.strip().lower() for c in encoding.split(",") if c.strip()
    ]
    for enc in reversed(codings):
        body = _decode_one(body, enc)
    return body


def _decode_one(body: bytes, enc: str) -> bytes:
    import zlib

    if enc in ("", "identity", "none"):
        return body
    if enc == "br":
        try:
            import brotli  # optional, absent in the base environment
        except ImportError:
            raise UnsupportedEncodingError(
                "Content-Encoding 'br' needs the brotli library"
            ) from None
        return _bounded(brotli.decompress(body))
    if enc == "zstd":
        try:
            import zstandard  # optional, absent in the base environment
        except ImportError:
            raise UnsupportedEncodingError(
                "Content-Encoding 'zstd' needs the zstandard library"
            ) from None
        return _bounded(
            zstandard.ZstdDecompressor().decompress(
                body, max_output_size=MAX_MEMBER_DECOMPRESSED
            )
        )
    if enc in ("gzip", "x-gzip"):
        wbits = 31
    elif enc == "deflate":
        wbits = 15 if body[:1] == b"\x78" else -15
    else:
        raise UnsupportedEncodingError(
            f"unsupported Content-Encoding {enc!r}"
        )
    d = zlib.decompressobj(wbits)
    chunks: list[bytes] = []
    size = 0
    tail = body
    try:
        while not d.eof:
            chunk = d.decompress(tail, _DECOMP_CHUNK)
            tail = d.unconsumed_tail
            if chunk:
                size += len(chunk)
                if size > MAX_MEMBER_DECOMPRESSED:
                    raise WarcFormatError(
                        "HTTP body expands past the bomb guard ceiling"
                    )
                chunks.append(chunk)
            elif not tail:
                break
    except zlib.error as exc:
        raise WarcFormatError(f"corrupt {enc} body: {exc}") from exc
    if not d.eof:
        raise WarcFormatError(f"truncated {enc} body")
    return b"".join(chunks)


def http_response_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a ``response`` record's
    payload (status line + headers + blank line → body), the step between
    a WARC response record and its HTML.

    Real Common Crawl payloads carry both ``Transfer-Encoding: chunked``
    (chunk-size lines would otherwise leak into "main text") and
    ``Content-Encoding: gzip``/``deflate`` (compressed bytes would
    otherwise hit the HTML parser), so both envelopes are undone here —
    de-chunk first (transfer encoding is outermost on the wire), then
    decompress. The framing must be invisible downstream: the same
    document encoded chunked, gzipped, or Content-Length-plain yields
    byte-identical output (property-tested)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload[:5] == b"HTTP/":
        raise WarcFormatError("payload is not an HTTP response")
    headers: dict[str, str] = {}
    for line in payload[:sep].split(b"\r\n")[1:]:
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.decode("ascii", "replace").strip().lower()] = (
                v.decode("ascii", "replace").strip()
            )
    body = payload[sep + 4 :]
    te = headers.get("transfer-encoding", "").lower()
    if "chunked" in te:
        body = _dechunk(body)
    return _decode_content(body, headers.get("content-encoding", ""))


# --- fixture encoder ----------------------------------------------------------


def encode_warc(
    records: list[dict],
    gzip_records: bool = False,
) -> bytes:
    """Emit genuine WARC/1.0 bytes (fixture encoder). Each record dict:
    ``warc_type`` (required), ``payload`` (bytes), plus optional
    ``target_uri`` / ``record_id`` / ``date`` / ``content_type``."""
    out = bytearray()
    for r in records:
        payload = bytes(r.get("payload", b""))
        lines = [b"WARC/1.0"]
        lines.append(b"WARC-Type: " + r["warc_type"].encode())
        if r.get("target_uri"):
            lines.append(b"WARC-Target-URI: " + r["target_uri"].encode())
        if r.get("record_id"):
            lines.append(b"WARC-Record-ID: " + r["record_id"].encode())
        if r.get("date"):
            lines.append(b"WARC-Date: " + r["date"].encode())
        if r.get("content_type"):
            lines.append(b"Content-Type: " + r["content_type"].encode())
        lines.append(b"Content-Length: " + str(len(payload)).encode())
        rec = b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        if gzip_records:
            buf = io.BytesIO()
            # fixed mtime keeps fixture bytes deterministic
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            out += buf.getvalue()
        else:
            out += rec
    return bytes(out)


def http_response_wrap(
    body: bytes,
    content_type: str = "text/html",
    chunked: bool = False,
    chunk_size: int = 64,
    content_encoding: str | None = None,
) -> bytes:
    """Wrap a body in an HTTP/1.1 response envelope (fixture side of
    :func:`http_response_body`). ``content_encoding`` (``gzip`` or
    ``deflate``) compresses the body first; ``chunked`` then frames the
    (possibly compressed) octets as Transfer-Encoding: chunked with
    ``chunk_size``-byte chunks — the two real-crawl envelope forms the
    Content-Length-only fixture never exercised."""
    wire = bytes(body)
    lines = [b"HTTP/1.1 200 OK", b"Content-Type: " + content_type.encode()]
    if content_encoding:
        enc = content_encoding.lower()
        if enc == "gzip":
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(wire)
            wire = buf.getvalue()
        elif enc == "deflate":
            import zlib

            wire = zlib.compress(wire)
        else:
            raise ValueError(f"fixture encoder: unknown encoding {enc!r}")
        lines.append(b"Content-Encoding: " + enc.encode())
    if chunked:
        lines.append(b"Transfer-Encoding: chunked")
        framed = bytearray()
        for i in range(0, len(wire), chunk_size):
            piece = wire[i : i + chunk_size]
            framed += b"%x\r\n" % len(piece) + piece + b"\r\n"
        framed += b"0\r\n\r\n"
        wire = bytes(framed)
    else:
        lines.append(b"Content-Length: " + str(len(wire)).encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + wire
