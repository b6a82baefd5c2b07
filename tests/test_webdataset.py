"""ustar/WebDataset shard ingestion: hand-built header referee
(independent of the fixture encoder), checksum variants, grouping
contract and error fences."""

from __future__ import annotations

import io
import tarfile

import pytest

from ohsome_planet_spark.sources.tar import (
    TarFormatError,
    encode_tar,
    group_wds_samples,
    parse_tar,
    split_wds_key,
)


def test_stdlib_tarfile_is_the_referee():
    """Archives produced by CPython's tarfile (an independent ustar
    writer) must parse identically — names, sizes, payloads."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in [("a/0.txt", b"alpha"), ("a/0.json", b"{}"),
                           ("a/1.txt", b"beta" * 200)]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 1700000000
            tf.addfile(info, io.BytesIO(data))
    members = parse_tar(buf.getvalue())
    assert [(m["name"], m["size"]) for m in members] == [
        ("a/0.txt", 5), ("a/0.json", 2), ("a/1.txt", 800)]
    assert members[2]["payload"] == b"beta" * 200
    assert all(m["mtime"] == 1700000000 for m in members)


def test_our_archives_parse_with_stdlib():
    """Symmetric referee: stdlib tarfile must read the fixture
    encoder's output byte-for-byte."""
    t = encode_tar([("s/7.txt", b"hello"), ("s/7.cls", b"3")],
                   prefix_split=True, mtime=42)
    with tarfile.open(fileobj=io.BytesIO(t)) as tf:
        got = {m.name: tf.extractfile(m).read() for m in tf.getmembers()}
    assert got == {"s/7.txt": b"hello", "s/7.cls": b"3"}


def test_signed_checksum_variant_accepted():
    """Historical tars sum header bytes as SIGNED chars; with a name
    byte >= 0x80 the two sums differ and both must be accepted."""
    t = bytearray(encode_tar([("caf\xe9.txt", b"x")]))
    # recompute the checksum with signed arithmetic over the first block
    hdr = bytearray(t[:512])
    hdr[148:156] = b" " * 8
    signed = sum(b - 256 if b >= 128 else b for b in hdr)
    t[148:156] = b"%06o\0 " % (signed & 0o777777)
    # the name byte 0xe9 (utf-8 encodes to two >=0x80 bytes) makes
    # signed != unsigned
    unsigned = sum(hdr)
    assert signed != unsigned
    (m,) = parse_tar(bytes(t))
    assert m["payload"] == b"x"


def test_split_wds_key_first_dot():
    assert split_wds_key("a/b.seg.txt") == ("a/b", "seg.txt")
    assert split_wds_key("x.txt") == ("x", "txt")
    assert split_wds_key("dir.v2/x.txt") == ("dir.v2/x", "txt")  # dot in dir
    assert split_wds_key("noext") == ("noext", "")


def test_grouping_consecutive_contract():
    members = [
        {"name": "k1.txt", "typeflag": "0", "payload": b"a"},
        {"name": "k1.json", "typeflag": "0", "payload": b"b"},
        {"name": "k2.txt", "typeflag": "0", "payload": b"c"},
        # k1 REAPPEARS after a break: a NEW sample, per streaming readers
        {"name": "k1.cls", "typeflag": "0", "payload": b"d"},
    ]
    samples = group_wds_samples(members)
    assert [s["key"] for s in samples] == ["k1", "k2", "k1"]
    with pytest.raises(TarFormatError, match="duplicate"):
        group_wds_samples([
            {"name": "k.txt", "typeflag": "0", "payload": b"a"},
            {"name": "k.txt", "typeflag": "0", "payload": b"b"},
        ])


def test_error_contract():
    good = encode_tar([("a.txt", b"abc")])
    bad = bytearray(good)
    bad[130] ^= 1  # size field inside checksummed region
    with pytest.raises(TarFormatError, match="checksum"):
        parse_tar(bytes(bad))
    with pytest.raises(TarFormatError, match="truncated"):
        parse_tar(good[:512])  # header without payload/terminator
    with pytest.raises(TarFormatError, match="gzip"):
        parse_tar(b"\x1f\x8b" + b"junkjunkjunk")
    # PAX fence via stdlib pax writer
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.PAX_FORMAT) as tf:
        info = tarfile.TarInfo("x" * 150)  # forces a pax path header
        info.size = 1
        tf.addfile(info, io.BytesIO(b"z"))
    with pytest.raises(TarFormatError, match="PAX"):
        parse_tar(buf.getvalue())


# --- ZIP (sources/zip.py) ----------------------------------------------------


def test_zip_stdlib_cross_referees():
    import zipfile as _zf

    from ohsome_planet_spark.sources.zip import encode_zip, parse_zip

    m = [("a/0.txt", b"hello"), ("a/0.json", b"{}"), ("big.bin",
                                                      bytes(range(256)) * 5)]
    # our encoder -> stdlib reader
    for deflate in (False, True):
        for dd in (False, True):
            z = encode_zip(m, deflate=deflate, comment=b"tail comment",
                           data_descriptors=dd, dos_time=0x11223344)
            with _zf.ZipFile(io.BytesIO(z)) as zf:
                assert {i.filename: zf.read(i) for i in zf.infolist()} == dict(m)
            got = parse_zip(z)
            assert [(g["name"], g["payload"]) for g in got] == m
            assert all(g["method"] == (8 if deflate else 0) for g in got)
    # stdlib writer -> our parser
    buf = io.BytesIO()
    with _zf.ZipFile(buf, "w", _zf.ZIP_DEFLATED) as zf:
        for n, p in m:
            zf.writestr(n, p)
    assert [(g["name"], g["payload"]) for g in parse_zip(buf.getvalue())] == m


def test_zip_error_contract():
    from ohsome_planet_spark.sources.zip import (
        ZipFormatError,
        encode_zip,
        parse_zip,
    )

    good = encode_zip([("x.txt", b"abc")])
    with pytest.raises(ZipFormatError, match="end-of-central"):
        parse_zip(b"PK\x03\x04 not really")
    bad = bytearray(good)
    bad[good.find(b"abc")] ^= 1  # flip payload byte -> CRC mismatch
    with pytest.raises(ZipFormatError, match="CRC"):
        parse_zip(bytes(bad))
    # encrypted flag
    enc = bytearray(good)
    i = enc.find(b"PK\x01\x02")
    enc[i + 8] |= 1
    with pytest.raises(ZipFormatError, match="encrypted"):
        parse_zip(bytes(enc))


def test_tar_type7_and_unknown_typeflag_block_walk():
    """ADVICE r12: type '7' (contiguous) carries data and is read as a
    regular file; an unrecognized typeflag's data blocks are skipped per
    the ustar rule — neither may desync the 512-block walk."""
    t = bytearray(encode_tar(
        [("a.bin", b"A" * 600), ("b.txt", b"bee"), ("c.txt", b"sea")]))
    def _set_typeflag(buf, member_idx, flag):
        # walk headers to the member_idx-th header block
        pos = 0
        for _ in range(member_idx):
            size = int(bytes(buf[pos + 124:pos + 136]).split(b"\0")[0], 8)
            pos += 512 + (size + 511) // 512 * 512
        buf[pos + 156] = ord(flag)
        # recompute unsigned checksum
        hdr = bytearray(buf[pos:pos + 512])
        hdr[148:156] = b" " * 8
        buf[pos + 148:pos + 156] = b"%06o\0 " % (sum(hdr) & 0o777777)
    _set_typeflag(t, 0, "7")      # contiguous: treated as regular
    _set_typeflag(t, 1, "Z")      # unknown: payload blocks skipped
    members = parse_tar(bytes(t))
    assert [(m["name"], m["typeflag"], m["payload"]) for m in members] == [
        ("a.bin", "0", b"A" * 600),
        ("b.txt", "Z", b""),
        ("c.txt", "0", b"sea"),   # the walk stayed in sync
    ]


def test_zip64_per_entry_sentinels_fenced():
    """ADVICE r12: per-entry 0xFFFFFFFF csize/usize/offset sentinels mean
    Zip64 extra fields — fence, never misparse."""
    from ohsome_planet_spark.sources.zip import (
        ZipFormatError,
        encode_zip,
        parse_zip,
    )

    good = encode_zip([("x.txt", b"abc")])
    cdh = good.find(b"PK\x01\x02")
    for off in (20, 24, 42):  # csize, usize, local-header offset
        bad = bytearray(good)
        bad[cdh + off:cdh + off + 4] = b"\xff\xff\xff\xff"
        with pytest.raises(ZipFormatError, match="Zip64"):
            parse_zip(bytes(bad))
