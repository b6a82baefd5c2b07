"""GeoParquet sink tests."""

import datetime as dt

from pyspark.sql import functions as F

from ohsome_planet_spark.operators.contributions import (
    node_contribution_events,
    synthesize_contributions,
)
from ohsome_planet_spark.schemas import NODE_SCHEMA
from ohsome_planet_spark.sources.geoparquet import (
    read_geo_metadata,
    write_contributions,
)


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_geoparquet_roundtrip(spark, tmp_path):
    nodes = spark.createDataFrame(
        [
            (1, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"a": "b"}, 8.0, 49.0),
            (1, 2, ts("2020-06-01T00:00:00"), 11, 1, "u", True, {"a": "b"}, 8.5, 49.5),
            (2, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"x": "y"}, -120.0, 30.0),
        ],
        NODE_SCHEMA,
    )
    contribs = synthesize_contributions(node_contribution_events(nodes))
    out = str(tmp_path / "contribs")
    write_contributions(contribs, out, bloom_filter_columns=("osm_id",))

    back = spark.read.parquet(out)
    assert back.count() == 3
    layers = {r.layer for r in back.select("layer").distinct().collect()}
    assert layers == {"latest", "history"}

    import glob

    import pyarrow.parquet as pq

    # every output file carries its OWN bbox/geometry_types (per-writer
    # Envelope semantics, AvroGeoParquetWriter.java:122-133), not the
    # dataset-level extent
    seen_bboxes = set()
    for f in glob.glob(out + "/**/*.parquet", recursive=True):
        geo = read_geo_metadata(f)
        assert geo["version"] == "1.1.0"
        assert geo["primary_column"] == "geometry"
        col = geo["columns"]["geometry"]
        t = pq.read_table(f, columns=["bbox", "geometry_type"])
        if len(t) == 0:
            assert "bbox" not in col
            continue
        b = t.column("bbox").combine_chunks()
        expect = [
            min(b.field("xmin").to_pylist()),
            min(b.field("ymin").to_pylist()),
            max(b.field("xmax").to_pylist()),
            max(b.field("ymax").to_pylist()),
        ]
        assert col["bbox"] == expect
        assert set(col["geometry_types"]) == {
            v for v in t.column("geometry_type").to_pylist() if v
        }
        assert col["covering"]["bbox"]["xmin"] == ["bbox", "xmin"]
        seen_bboxes.add(tuple(col["bbox"]))
    assert len(seen_bboxes) > 1  # files genuinely differ in extent
    # reread through spark still fine after footer rewrite
    assert spark.read.parquet(out).filter("status = 'latest'").count() == 2


def test_bbox_covering_prunes_row_groups(spark, tmp_path):
    """GeoParquet 1.1 covering path (round-6 verdict item #6): with
    spatial sorting on the XZ code + small row groups, the per-row bbox
    struct's column statistics let a bbox filter skip row groups — and
    Spark pushes the nested bbox predicate down to the parquet scan."""
    import glob

    import pyarrow.parquet as pq

    # 120 nodes marching east along a line: spatially sortable, and any
    # small query window should only touch a few row groups
    rows = [
        (
            i, 1, ts("2020-01-01T00:00:00"), 10, 1, "u", True, {"a": "b"},
            -170.0 + i * 2.8, 10.0,
        )
        for i in range(120)
    ]
    nodes = spark.createDataFrame(rows, NODE_SCHEMA)
    contribs = synthesize_contributions(node_contribution_events(nodes)).coalesce(1)
    out = str(tmp_path / "spatial")
    write_contributions(
        contribs, out, split_latest=False, sort_spatially=True, row_group_size=10
    )

    qxmin, qxmax = 0.0, 20.0  # small window over the equator-line sweep
    total = scanned = kept_rows = 0
    for f in glob.glob(out + "/**/*.parquet", recursive=True):
        pf = pq.ParquetFile(f)
        ncols = {c: i for i, c in enumerate(pf.schema_arrow.names)}
        # locate the bbox.xmin/xmax leaf columns by path
        md = pf.metadata
        for rg in range(md.num_row_groups):
            total += 1
            stats = {}
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in ("bbox.xmin", "bbox.xmax"):
                    stats[col.path_in_schema] = col.statistics
            assert stats, "bbox leaf statistics missing"
            overlaps = (
                stats["bbox.xmin"].max >= qxmin and stats["bbox.xmax"].min <= qxmax
                and stats["bbox.xmin"].min <= qxmax and stats["bbox.xmax"].max >= qxmin
            )
            if overlaps:
                scanned += 1
                kept_rows += md.row_group(rg).num_rows
    assert total >= 10  # the small row_group_size took effect
    # spatial sort makes the window touch a small fraction of row groups
    assert scanned <= max(2, total // 4), (scanned, total)

    # Spark pushes the nested bbox predicate into the parquet scan
    df = spark.read.parquet(out).filter(
        (F.col("bbox.xmax") >= qxmin) & (F.col("bbox.xmin") <= qxmax)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "bbox" in plan.split("PushedFilters")[1][:200]
    # and the filtered result is exactly the window's rows
    got = sorted(r.osm_id for r in df.collect())
    expect = sorted(
        i for i in range(120) if -170.0 + i * 2.8 >= qxmin - 1e-9 and -170.0 + i * 2.8 <= qxmax + 1e-9
    )
    assert got == expect
