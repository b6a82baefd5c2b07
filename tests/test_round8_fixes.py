"""Round-8 regression tests for the round-7 ADVICE findings.

1. bigram_logprob_scores must not crash on documents with <2 tokens
   (sequence(1, size-1) counts DOWN when size<2 and toks[i] throws).
2. perimeter:(..) range filters must fail at compile time with a clear
   error, not a downstream AnalysisException on a missing column;
   changeset:(..) must bind to the configured changeset column.
3. cmd_sql --filter must compose with aggregate / narrow-projection SQL
   (the predicate applies to the registered views, not the result frame).
"""

import pytest
from pyspark.sql import functions as F

from ohsome_planet_spark.functions.ohsome_filter import (
    FilterSchema,
    FilterSyntaxError,
    compile_filter,
)


def test_bigram_guard_short_docs(spark):
    """Docs with 0 or 1 tokens emit zero bigrams instead of crashing —
    matching the DuckDB oracle's empty range(1, len(toks))."""
    df = spark.createDataFrame(
        [("a", ["x"]), ("b", []), ("c", ["x", "y", "z"]), ("d", None)],
        "doc_id string, toks array<string>",
    )
    out = df.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                " ELSE array() END"
            )
        ).alias("bgr"),
    ).collect()
    assert sorted((r.doc_id, r.bgr.w1, r.bgr.w2) for r in out) == [
        ("c", "x", "y"),
        ("c", "y", "z"),
    ]


def test_bigram_query_handles_short_docs(spark, tmp_path):
    """The registry query end-to-end over a corpus that includes empty
    and single-token documents (the synthetic testdata has none)."""
    import pandas as pd

    from ohsome_planet_spark.plans.queries import QUERIES

    docs = pd.DataFrame(
        {
            "doc_id": list(range(40)),
            "text": (
                ["word"] * 5
                + [""] * 5
                + [f"alpha beta gamma delta {i}" for i in range(30)]
            ),
            "lang": ["en"] * 40,
            "source": ["t"] * 40,
            "published_ts": pd.to_datetime("2024-01-01"),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    docs.to_parquet(str(sf / "documents.parquet"))
    res = QUERIES["bigram_logprob_scores"](spark, str(sf)).collect()
    # must run without INVALID_ARRAY_INDEX; short docs contribute no rows
    assert all(r.n_bigrams >= 1 for r in res)


def test_perimeter_range_filter_clear_error():
    with pytest.raises(FilterSyntaxError, match="perimeter"):
        compile_filter("perimeter:(10..100)")


def test_perimeter_range_filter_with_configured_column():
    pred = compile_filter(
        "perimeter:(10..100)", FilterSchema(perimeter_col="perim")
    )
    assert "perim" in str(pred._jc)


def test_changeset_range_filter_binds_changeset_col(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 50), (3, 500)], "osm_id long, changeset long"
    )
    got = df.filter(compile_filter("changeset:(10..100)")).collect()
    assert [r.osm_id for r in got] == [2]


def test_sql_cli_filter_composes_with_aggregate(tmp_path, capsys):
    """--filter + aggregate SQL: the filter must hit the views before the
    query runs, so a SELECT that projects away tags still works."""
    from ohsome_planet_spark.cli import main
    from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf
    from tests.test_sql_views import NODES, RELS, WAYS

    pbf = str(tmp_path / "f.osh.pbf")
    write_pbf(
        pbf,
        [
            encode_block(dense_nodes=NODES),
            encode_block(ways=WAYS),
            encode_block(relations=RELS),
        ],
    )
    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out]) == 0
    assert (
        main(
            [
                "sql",
                "--data",
                out,
                "SELECT count(*) AS n FROM contributions_latest",
                "--filter",
                "type:relation and route=bicycle",
            ]
        )
        == 0
    )
    assert "1" in capsys.readouterr().out


def test_write_node_history_pbf_multiblock_roundtrip(spark, tmp_path):
    """write_node_history_pbf chunks into DenseNodes blocks; the
    distributed decoder must reassemble all of them."""
    from ohsome_planet_spark.sources.pbf import read_pbf
    from ohsome_planet_spark.sources.pbf_encoder import write_node_history_pbf

    nodes = [
        dict(
            osm_id=i, version=1, ts_ms=1_000_000 + i * 1000, changeset=i % 5,
            uid=0, user="u", visible=True, tags={"n": str(i)},
            lon=(i % 360) - 180 + 0.5, lat=(i % 180) - 90 + 0.25,
        )
        for i in range(25)
    ]
    path = str(tmp_path / "multi.osh.pbf")
    write_node_history_pbf(path, nodes, block_size=7)  # 4 blocks
    got = read_pbf(spark, path).orderBy("osm_id").collect()
    assert len(got) == 25
    assert [r.osm_id for r in got] == list(range(25))
    assert got[7].tags == {"n": "7"}
    assert abs(got[3].lon - (3 - 180 + 0.5)) < 1e-9


class TestPngCodec:
    """Stdlib PNG codec: real decode behind the multimodal seam."""

    def test_roundtrip_all_filters_gray(self):
        from ohsome_planet_spark.functions.png import decode_png, encode_png

        w, h = 9, 10
        rows = [bytes((r * 37 + c * 11) % 256 for c in range(w)) for r in range(h)]
        data = encode_png(w, h, rows, row_filters=[r % 5 for r in range(h)])
        gw, gh, ch, got = decode_png(data)
        assert (gw, gh, ch) == (w, h, 1)
        assert got == rows

    def test_roundtrip_rgb_rgba(self):
        from ohsome_planet_spark.functions.png import decode_png, encode_png

        for color_type, nch in ((2, 3), (6, 4)):
            w, h = 5, 4
            rows = [
                bytes((r * 31 + c * 7) % 256 for c in range(w * nch))
                for r in range(h)
            ]
            data = encode_png(
                w, h, rows, color_type=color_type,
                row_filters=[(r + 1) % 5 for r in range(h)],
            )
            gw, gh, ch, got = decode_png(data)
            assert (gw, gh, ch) == (w, h, nch)
            assert got == rows

    def test_rejects_non_png_and_bad_profile(self):
        import struct as _s
        import zlib as _z

        import pytest as _pt

        from ohsome_planet_spark.functions.png import (
            PNG_SIGNATURE,
            PngFormatError,
            decode_png,
            encode_png,
        )

        with _pt.raises(PngFormatError):
            decode_png(b"\xff\xd8\xff\xe0 not a png")
        # 16-bit depth header → unsupported profile
        ihdr = _s.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        chunk = _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr + _s.pack(
            ">I", _z.crc32(b"IHDR" + ihdr)
        )
        with _pt.raises(PngFormatError, match="unsupported"):
            decode_png(PNG_SIGNATURE + chunk)
        # encoder rejects rows of the wrong stride
        with _pt.raises(PngFormatError):
            encode_png(3, 1, [b"\x00" * 2])

    def test_decode_media_real_png_and_fallback(self):
        from ohsome_planet_spark.functions.png import encode_png
        from ohsome_planet_spark.operators.multimodal import _decode_media_real

        rows = [bytes([10, 20]), bytes([30, 40])]
        w, h, ch, psum = _decode_media_real(encode_png(2, 2, rows))
        assert (w, h, ch, psum) == (2, 2, 1, 100)
        # round 9: JPEG headers decode for real (dims, null pixel_sum);
        # RIFF and friends still hit the external-library stub seam
        from ohsome_planet_spark.functions.jpeg import encode_jpeg_header

        assert _decode_media_real(encode_jpeg_header(64, 32, 3)) == (64, 32, 3, None)
        with pytest.raises(NotImplementedError):
            _decode_media_real(b"RIFF\x00\x00\x00\x00WAVE")


def test_fileinfo_blob_dump(tmp_path, capsys):
    """fileinfo --blobs --decode: per-blob JSON lines with entity counts
    and id ranges (the reference's Debug surface beyond the header)."""
    import json as _json

    from ohsome_planet_spark.cli import main
    from ohsome_planet_spark.sources.pbf_encoder import write_history_pbf

    nodes = [
        dict(osm_id=i, version=1, ts_ms=1000_000, changeset=1, uid=0,
             user="u", visible=True, tags={}, lon=1.0, lat=2.0)
        for i in range(5, 12)
    ]
    ways = [dict(osm_id=99, version=1, ts_ms=1000_000, changeset=1, uid=0,
                 user="u", visible=True, tags={"a": "b"}, refs=[5, 6])]
    pbf = str(tmp_path / "d.osh.pbf")
    write_history_pbf(pbf, nodes, ways=ways)
    assert main(["fileinfo", "--pbf", pbf, "--blobs", "--decode"]) == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.startswith('{"idx"')]
    data = [_json.loads(ln) for ln in lines]
    node_blocks = [d for d in data if d.get("entities", {}).get("node")]
    way_blocks = [d for d in data if d.get("entities", {}).get("way")]
    assert node_blocks[0]["entities"]["node"] == 7
    assert node_blocks[0]["id_range"] == [5, 11]
    assert way_blocks[0]["id_range"] == [99, 99]
