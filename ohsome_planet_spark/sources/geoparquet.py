"""GeoParquet sink (SURVEY.md S13/S14).

Writes the contributions dataset the way the reference does
(``ohsome-parquet/.../AvroGeoParquetWriter.java:92-134``, ``GeoParquet.java:40-116``,
``ContribUtil.java:28-53``):

- zstd compression, dictionary encoding disabled for ``osm_id``;
- optional bloom filters (update files use refs/user.id/changeset.id —
  ``ContributionStateManager.java:159-174``);
- GeoParquet 1.1.0 ``geo`` file metadata with the dataset bbox accumulated
  from the rows (computed here with one agg over the bbox struct instead of
  per-row accumulation);
- ``latest/`` vs ``history/`` layout split on whether the row is currently
  valid (valid_to at the open-ended sentinel).

The ``geo`` footer metadata is attached by a driver-side post-pass that
visits each written file in turn: footer surgery through the parquet JVM
classes, or a full pyarrow rewrite when row groups are re-chunked. Files
on a non-local filesystem are copied down, rewritten and copied back.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import VALID_TO_SENTINEL

GEO_VERSION = "1.1.0"


def geo_metadata(
    bbox: tuple[float, float, float, float] | None,
    geometry_types: tuple[str, ...] = (),
    covering: bool = False,
) -> dict:
    col = {
        "encoding": "WKB",
        "geometry_types": sorted(geometry_types),
        "crs": None,  # OGC:CRS84 per GeoParquet default
    }
    if bbox is not None:
        col["bbox"] = list(bbox)
    if covering:
        # GeoParquet 1.1 bbox covering: points readers at the per-row bbox
        # struct (GeoParquet.java:65-70 coveringString)
        col["covering"] = {
            "bbox": {k: ["bbox", k] for k in ("xmin", "ymin", "xmax", "ymax")}
        }
    return {
        "version": GEO_VERSION,
        "primary_column": "geometry",
        "columns": {"geometry": col},
    }


def dataset_bbox(contribs: DataFrame) -> tuple[float, float, float, float] | None:
    row = contribs.agg(
        F.min("bbox.xmin").alias("xmin"),
        F.min("bbox.ymin").alias("ymin"),
        F.max("bbox.xmax").alias("xmax"),
        F.max("bbox.ymax").alias("ymax"),
    ).first()
    if row is None or row.xmin is None:
        return None
    return (row.xmin, row.ymin, row.xmax, row.ymax)


def write_contributions(
    contribs: DataFrame,
    path: str,
    bloom_filter_columns: tuple[str, ...] = (),
    split_latest: bool = True,
    sort_spatially: bool = False,
    row_group_size: int | None = None,
) -> None:
    """``sort_spatially`` clusters rows by the XZ space-filling code
    within each output task before writing, so parquet row groups become
    spatially coherent and the per-row ``bbox`` struct's column statistics
    actually prune: a bbox-filtered 100 TB scan then skips whole row
    groups (and, with the file-level ``geo`` bbox, whole files) instead of
    decoding every page. This strictly extends the reference, which
    records file-level extents only (``GeoParquet.java:40-116``) —
    per-row ``covering`` + clustering is the GeoParquet 1.1 spec path.
    Sorting is within partitions only (no extra exchange).

    ``row_group_size`` caps rows per row group in the footer post-pass —
    smaller groups = finer pruning granularity at slightly more footer
    overhead (the classic row-group-size tradeoff; parquet default ~1M).
    """
    df = contribs
    if sort_spatially:
        df = df.sortWithinPartitions(F.col("xzcode.code"))
    if split_latest:
        df = df.withColumn(
            "layer",
            F.when(F.col("valid_to") == F.lit(VALID_TO_SENTINEL), F.lit("latest")).otherwise(
                F.lit("history")
            ),
        )
    writer = df.write.mode("overwrite").option("compression", "zstd").option(
        "parquet.enable.dictionary", "true"
    ).option("parquet.enable.dictionary#osm_id", "false")
    for col in bloom_filter_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    if split_latest:
        writer = writer.partitionBy("layer", "osm_type")
    writer.parquet(path)

    _attach_geo_metadata(
        path, row_group_size=row_group_size, spark=contribs.sparkSession
    )


def _file_geo_metadata(table, covering: bool | None = None) -> dict:
    """Per-file ``geo`` metadata — bbox and geometry_types accumulated from
    this file's own rows, exactly like the reference's per-writer Envelope
    (``AvroGeoParquetWriter.java:122-133``: ``columnBBox`` lives on the
    writer, so every output file carries its own extent)."""
    import pyarrow.compute as pc

    bbox = None
    has_bbox_col = "bbox" in table.column_names
    if has_bbox_col and len(table):
        b = table.column("bbox").combine_chunks()
        vals = [
            pc.min(b.field("xmin")).as_py(),
            pc.min(b.field("ymin")).as_py(),
            pc.max(b.field("xmax")).as_py(),
            pc.max(b.field("ymax")).as_py(),
        ]
        if all(v is not None for v in vals):
            bbox = tuple(vals)
    gtypes: tuple[str, ...] = ()
    if "geometry_type" in table.column_names:
        gtypes = tuple(
            v
            for v in pc.unique(table.column("geometry_type")).to_pylist()
            if v
        )
    return geo_metadata(
        bbox, gtypes, covering=has_bbox_col if covering is None else covering
    )


def _rewrite_parquet_file(full: str, row_group_size: int | None) -> None:
    table = pq.read_table(full)
    existing = table.schema.metadata or {}
    merged = dict(existing)
    merged[b"geo"] = json.dumps(_file_geo_metadata(table)).encode()
    kwargs = {}
    if row_group_size is not None:
        kwargs["row_group_size"] = row_group_size
    pq.write_table(
        table.replace_schema_metadata(merged),
        full,
        compression="zstd",
        # keep timestamps Spark-readable: a ns (or INT96-read-as-ns)
        # column written back as TIMESTAMP(NANOS) cannot be read by
        # Spark without a legacy flag
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        **kwargs,
    )


def _thin_geo_table(full: str):
    """Read only the columns the geo metadata needs (bbox struct +
    geometry_type) — metadata-sized I/O instead of decoding WKB blobs."""
    schema = pq.read_schema(full)
    cols = [c for c in ("bbox", "geometry_type") if c in schema.names]
    table = pq.read_table(full, columns=cols) if cols else pq.read_table(full)
    # covering flag keys off the FULL schema, not the thin projection
    return table, ("bbox" in schema.names)


def _footer_append_geo(spark, full: str, geo: dict) -> None:
    """Metadata-only footer surgery: re-serialize the existing parquet
    footer with the ``geo`` key-value appended, leaving every data page,
    column/offset index and BLOOM FILTER byte untouched (the pyarrow
    rewrite used to re-encode the whole file and silently dropped the
    bloom filters Spark wrote — the round-10 bloom-parity test caught
    it). O(footer) per file instead of O(data): at planet scale the
    post-pass is now metadata-sized, like the reference's in-writer
    footer (``AvroGeoParquetWriter.java:122-133``)."""
    import struct as _struct

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path("file://" + os.path.abspath(full))
    infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
    try:
        footer = reader.getFooter()
    finally:
        reader.close()
    conv = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter()
    fmd = conv.toParquetMetadata(1, footer)
    kvs = fmd.getKey_value_metadata()
    if kvs is not None:  # idempotent: replace a pre-existing geo entry
        it = kvs.iterator()
        while it.hasNext():
            if it.next().getKey() == "geo":
                it.remove()
    kv = jvm.org.apache.parquet.format.KeyValue("geo")
    kv.setValue(json.dumps(geo))
    fmd.addToKey_value_metadata(kv)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.parquet.format.Util.writeFileMetaData(fmd, baos)
    new_footer = bytes(baos.toByteArray())
    with open(full, "rb") as fh:
        data = fh.read()
    if data[-4:] != b"PAR1":
        raise ValueError(f"{full}: not a parquet file")
    old_len = _struct.unpack("<I", data[-8:-4])[0]
    start = len(data) - 8 - old_len
    with open(full, "wb") as fh:
        fh.write(data[:start])
        fh.write(new_footer)
        fh.write(_struct.pack("<I", len(new_footer)))
        fh.write(b"PAR1")


def _attach_geo_local_file(full: str, row_group_size: int | None, spark) -> None:
    """One file's geo post-pass: footer surgery when possible (preserves
    bloom filters, O(footer)); the full pyarrow rewrite only when the
    caller asked for re-chunking (``row_group_size``) or no JVM is
    available."""
    if row_group_size is None and spark is not None:
        table, covering = _thin_geo_table(full)
        geo = _file_geo_metadata(table, covering=covering)
        _footer_append_geo(spark, full, geo)
    else:
        _rewrite_parquet_file(full, row_group_size)


def _attach_geo_metadata(
    path: str, row_group_size: int | None = None, spark=None
) -> None:
    from .output import is_local_path

    if not is_local_path(path):
        if spark is None:
            raise ValueError(
                "attaching geo metadata to a non-local output requires the "
                "SparkSession (Hadoop FileSystem access)"
            )
        _attach_geo_metadata_hadoop(spark, path, row_group_size)
        return
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(root, fn)
            _attach_geo_local_file(full, row_group_size, spark)
            # the rewrite invalidates only THIS file's Hadoop .crc sidecar;
            # leave checksums of files we never touch (_SUCCESS, ...) intact
            sidecar = os.path.join(root, f".{fn}.crc")
            if os.path.exists(sidecar):
                os.remove(sidecar)


def _attach_geo_metadata_hadoop(
    spark, path: str, row_group_size: int | None
) -> None:
    """The footer post-pass for object-store / non-local outputs (S15):
    walk the dataset through the Hadoop FileSystem API (any scheme Spark
    can write — s3a, viewfs, hdfs), pull each file down, rewrite the
    footer locally, push it back. One round-trip per output file; files
    are processed independently, so at planet scale this parallelizes
    trivially (it is metadata-sized work compared to the write itself)."""
    import tempfile

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    targets = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().endswith(".parquet"):
            targets.append(p)
    for p in targets:
        with tempfile.TemporaryDirectory() as td:
            local = os.path.join(td, p.getName())
            lpath = jvm.org.apache.hadoop.fs.Path("file:" + local)
            # useRawLocalFileSystem=True: no .crc sidecar for the temp copy
            fs.copyToLocalFile(False, p, lpath, True)
            _attach_geo_local_file(local, row_group_size, spark)
            fs.copyFromLocalFile(False, True, lpath, p)
            # drop only the rewritten file's now-stale checksum sidecar;
            # unrelated sidecars (_SUCCESS, ...) keep their integrity metadata
            sidecar = jvm.org.apache.hadoop.fs.Path(
                p.getParent(), "." + p.getName() + ".crc"
            )
            if fs.exists(sidecar):
                fs.delete(sidecar, False)


def read_geo_metadata(file_path: str) -> dict | None:
    md = pq.read_schema(file_path).metadata or {}
    raw = md.get(b"geo")
    return json.loads(raw) if raw else None
