"""format("osmpbf") Python Data Source: differential vs read_pbf, plus
S7 type-range blob pruning at the partition planner."""

import pytest

from ohsome_planet_spark.sources.pbf import read_pbf, scan_blobs
from ohsome_planet_spark.sources.pbf_datasource import (
    OsmPbfReader,
    register_pbf_source,
    type_range,
)
from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf
from tests.test_pbf_source import NODES, RELS, WAYS


@pytest.fixture()
def pbf_path(tmp_path):
    path = str(tmp_path / "planet.osh.pbf")
    write_pbf(
        path,
        [
            encode_block(dense_nodes=NODES),
            encode_block(ways=WAYS),
            encode_block(relations=RELS),
        ],
    )
    return path


def _key(r):
    return (r["osm_type"], r["osm_id"], r["version"])


def test_datasource_matches_read_pbf(spark, pbf_path):
    register_pbf_source(spark)
    via_ds = spark.read.format("osmpbf").load(pbf_path)
    via_map = read_pbf(spark, pbf_path)
    assert via_ds.schema == via_map.schema
    a = {_key(r.asDict()): r.asDict() for r in via_ds.collect()}
    b = {_key(r.asDict()): r.asDict() for r in via_map.collect()}
    assert set(a) == set(b) and len(a) == 5
    for k in a:
        assert a[k] == b[k], k


def test_type_filter_semantics_preserved(spark, pbf_path):
    register_pbf_source(spark)
    ways = (
        spark.read.format("osmpbf")
        .load(pbf_path)
        .filter("osm_type = 'way'")
        .collect()
    )
    assert [(r.osm_id, r.refs) for r in ways] == [(100, [1, 2, 1])]


def test_type_range_prunes_blobs(pbf_path):
    refs = [r for r in scan_blobs(pbf_path) if r.header_type == "OSMData"]
    assert len(refs) == 3
    # the way range must exclude at least the relation blob (slices keep
    # one boundary blob on each side, so 2 of 3 here)
    pruned = type_range(pbf_path, refs, "way")
    assert len(pruned) < len(refs)
    assert refs[1] in pruned  # the blob that actually holds the ways
    # node range: starts at blob 0, never includes the relation blob
    nodes = type_range(pbf_path, refs, "node")
    assert refs[0] in nodes and refs[2] not in nodes


def test_push_filters_sets_pruning_and_returns_all(pbf_path):
    from pyspark.sql.datasource import EqualTo

    reader = OsmPbfReader({"path": pbf_path})
    filters = [EqualTo(("osm_type",), "relation")]
    remaining = reader.pushFilters(filters)
    # filter handed back to Spark (pruning is an optimization only)
    assert list(remaining) == filters
    assert reader.wanted_type == "relation"
    parts = reader.partitions()
    assert len(parts) < 3
