"""End-to-end test of the bulk ``contributions`` CLI command (the
reference's primary entry point, ``cmd/Contributions.java`` /
``docs/CLI.md``): encode a history PBF, run the 5-stage dataflow through
``python -m ohsome_planet_spark.cli contributions`` with a country file,
and read the GeoParquet output back."""

import json
import os

import pyarrow.parquet as pq
import pytest

from ohsome_planet_spark.cli import main

NODES = [
    dict(osm_id=1, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={"amenity": "cafe"}, lon=1.0, lat=1.0),
    dict(osm_id=1, version=2, ts_ms=2_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"amenity": "bar"}, lon=1.5, lat=1.5),
    dict(osm_id=2, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.0, lat=1.0),
    dict(osm_id=3, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.0, lat=2.0),
]
WAYS = [
    dict(osm_id=100, version=1, ts_ms=3_000_000, changeset=12, uid=7, user="alice",
         visible=True, tags={"highway": "residential"}, refs=[1, 2, 3]),
]


@pytest.fixture()
def pbf(tmp_path):
    from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf

    path = str(tmp_path / "fixture.osh.pbf")
    write_pbf(path, [encode_block(dense_nodes=NODES), encode_block(ways=WAYS)])
    return path


@pytest.fixture()
def country_csv(tmp_path):
    p = tmp_path / "countries.csv"
    p.write_text(
        "id;wkt\n"
        "AAA;POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))\n"
        "BBB;POLYGON((10 10, 11 10, 11 11, 10 11, 10 10))\n"
    )
    return str(p)


def test_contributions_cli_end_to_end(spark, pbf, country_csv, tmp_path, capsys):
    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out, "--country-file", country_csv]) == 0

    df = spark.read.parquet(out)
    rows = {(r.osm_type, r.osm_id, r.osm_version): r for r in df.collect()}

    # node 1: two tagged versions -> two contributions; untagged nodes 2/3
    # survive only as way members (F1 drops their own histories)
    assert ("node", 1, 1) in rows and ("node", 1, 2) in rows
    assert not any(t == "node" and i in (2, 3) for t, i, _ in rows)
    n1v2 = rows[("node", 1, 2)]
    assert n1v2.contrib_type == "TAG_GEOMETRY"
    assert n1v2.countries == ["AAA"]

    # the way contribution exists with an assembled LineString geometry
    w = rows[("way", 100, 1)]
    assert w.geometry_type == "LineString"
    assert w.countries == ["AAA"]
    assert w.refs_count == 3

    # latest/history split layout (S13) is present
    layers = {os.path.relpath(p, out).split(os.sep)[0]
              for p, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")}
    assert "layer=latest" in layers and "layer=history" in layers

    # GeoParquet footer metadata with per-file bbox (S14/A13)
    part = next(
        os.path.join(p, f) for p, _, fs in os.walk(out) for f in fs
        if f.endswith(".parquet")
    )
    md = pq.read_schema(part).metadata or {}
    geo = json.loads(md[b"geo"])
    assert geo["primary_column"] == "geometry"
    assert "bbox" in geo["columns"]["geometry"]


def test_fileinfo_cli(pbf, capsys):
    assert main(["fileinfo", "--pbf", pbf]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["data_blocks"] == 2
    assert "HistoricalInformation" in info["required_features"]


def test_contributions_cli_with_changeset_enrichment(spark, pbf, tmp_path):
    """--changesets wiring (J4): contribution rows carry the changeset's
    hashtags/editor; ids missing from the table get the reference's
    default record (epoch created_at, empty tags)."""
    from ohsome_planet_spark.schemas import CHANGESET_SCHEMA

    cs_path = str(tmp_path / "changesets.parquet")
    spark.createDataFrame(
        [
            (10, None, None, {"comment": "x #fixit", "created_by": "JOSM"},
             ["#fixit"], 7, "alice", False, None, None, None, None),
        ],
        CHANGESET_SCHEMA,
    ).write.parquet(cs_path)

    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out, "--changesets", cs_path]) == 0
    rows = {(r.osm_type, r.osm_id, r.osm_version): r
            for r in spark.read.parquet(out).collect()}

    enriched = rows[("node", 1, 1)]  # changeset 10: present in the table
    assert enriched.changeset.hashtags == ["#fixit"]
    assert enriched.changeset.editor == "JOSM"

    defaulted = rows[("node", 1, 2)]  # changeset 11: missing -> defaults
    assert defaulted.changeset.hashtags == []
    assert defaulted.changeset.editor is None


def test_contributions_cli_with_ohsome_filter(spark, pbf, tmp_path):
    out = str(tmp_path / "contribs_filtered")
    assert (
        main(
            [
                "contributions", "--pbf", pbf, "--out", out,
                "--filter", "amenity=* and not amenity=bar",
            ]
        )
        == 0
    )
    rows = [
        (r.osm_type, r.osm_id, r.osm_version)
        for r in spark.read.parquet(out).collect()
    ]
    # node 1 v1 (amenity=cafe) passes; v2 (amenity=bar) is excluded by the
    # not-clause; the untagged way has no amenity at all
    assert rows == [("node", 1, 1)]


def test_contributions_cli_runs_the_way_merge_once(spark, tmp_path, monkeypatch):
    """The bulk import stages ONE J3 way merge for the way stream and the
    relation member streams: an untagged ring way (a member only) and a
    tagged way both come out of a single ``way_contribution_instants``
    call, and the multipolygon relation still builds from it."""
    from ohsome_planet_spark.operators import temporal_merge
    from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf

    calls = []
    merge = temporal_merge.way_contribution_instants

    def counted(*args, **kwargs):
        calls.append(1)
        return merge(*args, **kwargs)

    monkeypatch.setattr(temporal_merge, "way_contribution_instants", counted)

    def node(i, lon, lat):
        return dict(osm_id=i, version=1, ts_ms=1_000_000, changeset=10, uid=7,
                    user="alice", visible=True, tags={}, lon=lon, lat=lat)

    nodes = [node(1, 0.0, 0.0), node(2, 1.0, 0.0), node(3, 1.0, 1.0),
             node(4, 0.0, 1.0), node(5, 2.0, 2.0)]
    ways = [
        dict(osm_id=100, version=1, ts_ms=2_000_000, changeset=11, uid=7,
             user="alice", visible=True, tags={}, refs=[1, 2, 3, 4, 1]),
        dict(osm_id=101, version=1, ts_ms=2_000_000, changeset=11, uid=7,
             user="alice", visible=True, tags={"highway": "path"}, refs=[3, 5]),
    ]
    rels = [
        dict(osm_id=500, version=1, ts_ms=3_000_000, changeset=12, uid=7,
             user="alice", visible=True,
             tags={"type": "multipolygon", "landuse": "forest"},
             members=[dict(type="way", id=100, role="outer")]),
    ]
    pbf = str(tmp_path / "mp.osh.pbf")
    write_pbf(pbf, [encode_block(dense_nodes=nodes),
                    encode_block(ways=ways, relations=rels)])

    out = str(tmp_path / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out]) == 0
    assert len(calls) == 1

    rows = {(r.osm_type, r.osm_id): r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {("way", 101), ("relation", 500)}
    assert rows[("relation", 500)].geometry_type in ("Polygon", "MultiPolygon")
    assert rows[("relation", 500)].members[0].geometry_type == "LineString"
