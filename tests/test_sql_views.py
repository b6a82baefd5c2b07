"""The SQL queryability contract: the reference's documented DuckDB
queries (docs/useful_queries.md) over the produced dataset, run as
Spark SQL via register_contribution_views."""

import pytest

from ohsome_planet_spark.cli import main
from ohsome_planet_spark.sources.views import register_contribution_views

NODES = [
    dict(osm_id=1, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={"amenity": "cafe"}, lon=1.0, lat=1.0),
    dict(osm_id=1, version=2, ts_ms=5_000_000, changeset=11, uid=7, user="alice",
         visible=True, tags={"amenity": "bar"}, lon=1.5, lat=1.5),
    dict(osm_id=2, version=1, ts_ms=1_000_000, changeset=10, uid=7, user="alice",
         visible=True, tags={}, lon=2.0, lat=1.0),
]
WAYS = [
    dict(osm_id=100, version=1, ts_ms=2_000_000, changeset=12, uid=7, user="alice",
         visible=True, tags={"highway": "cycleway"}, refs=[1, 2]),
]
RELS = [
    dict(osm_id=200, version=1, ts_ms=3_000_000, changeset=13, uid=8, user="bob",
         visible=True, tags={"type": "route", "route": "bicycle"},
         members=[{"type": "way", "id": 100, "role": "forward"},
                  {"type": "node", "id": 1, "role": "stop"}]),
]


@pytest.fixture(scope="module")
def dataset(spark, tmp_path_factory):
    from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf

    tmp = tmp_path_factory.mktemp("sqlviews")
    pbf = str(tmp / "fixture.osh.pbf")
    write_pbf(
        pbf,
        [
            encode_block(dense_nodes=NODES),
            encode_block(ways=WAYS),
            encode_block(relations=RELS),
        ],
    )
    out = str(tmp / "contribs")
    assert main(["contributions", "--pbf", pbf, "--out", out]) == 0
    register_contribution_views(spark, out)
    return out


def test_snapshot_query(spark, dataset):
    """docs/useful_queries.md 'OSM at specific snapshot timestamp',
    dialect-translated only in the table reference."""
    rows = spark.sql(
        """
        SELECT osm_type, osm_id, osm_version, tags, geometry
        FROM contributions
        WHERE valid_from <= '1970-01-01 01:00:00'
          AND valid_to   >  '1970-01-01 01:00:00'
        """
    ).collect()
    live = {(r.osm_type, r.osm_id): r for r in rows}
    # at t=3600s: node 1 is at v1 (v2 arrives t=5000s), way + relation live
    assert live[("node", 1)].osm_version == 1
    assert live[("node", 1)].tags["amenity"] == "cafe"
    assert ("way", 100) in live and ("relation", 200) in live
    # no entity appears twice in one snapshot
    assert len(rows) == len(live)


def test_member_unnest_query(spark, dataset):
    """docs/useful_queries.md 'Extract relation member geometries':
    unnest(list_transform(...)) → inline(transform(...)),
    map_contains_entry(tags,k,v) → tags[k] = v."""
    rows = spark.sql(
        """
        SELECT osm_id,
               inline(transform(members, m -> struct(
                 concat(m.type, '/', m.id) AS m_id,
                 m.role                    AS role,
                 m.geometry                AS geometry)))
        FROM contributions_latest
        WHERE osm_type = 'relation' AND tags['route'] = 'bicycle'
        """
    ).collect()
    got = {(r.osm_id, r.m_id): r for r in rows}
    assert set(got) == {(200, "way/100"), (200, "node/1")}
    assert got[(200, "way/100")].role == "forward"
    # member geometries were carried into the dataset (WKB bytes)
    assert got[(200, "node/1")].geometry is not None


def test_latest_view_prunes_partition(spark, dataset):
    plan = spark.sql(
        "SELECT osm_id FROM contributions_latest"
    )._jdf.queryExecution().executedPlan().toString()
    # the latest view must reach the scan as a partition filter, not a
    # post-scan row filter over the whole dataset
    assert "layer" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and "PartitionFilters: [" in scans[0]


def test_sql_cli(dataset, capsys):
    assert (
        main(
            [
                "sql", "--data", dataset,
                "SELECT osm_type, osm_id, tags['amenity'] AS amenity"
                " FROM contributions_latest WHERE osm_type = 'node'"
                " ORDER BY osm_id",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "bar" in out  # node 1's latest amenity


def test_sql_cli_with_dsl_filter_and_out(dataset, tmp_path, spark, capsys):
    dst = str(tmp_path / "routes")
    assert (
        main(
            [
                "sql", "--data", dataset,
                "SELECT osm_type, osm_id, tags FROM contributions_latest",
                "--filter", "route=bicycle and type:relation",
                "--out", dst,
            ]
        )
        == 0
    )
    rows = spark.read.parquet(dst).collect()
    assert [(r.osm_type, r.osm_id) for r in rows] == [("relation", 200)]
