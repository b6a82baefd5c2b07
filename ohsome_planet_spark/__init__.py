"""ohsome_planet_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of GIScience/ohsome-planet.

The reference (studied read-only at /root/reference) is a single-node Java
batch-ETL engine that turns OSM history PBF files into a temporal
"contributions" GeoParquet dataset.  This package re-expresses every one of
its dataflow operators (SURVEY.md §2) Spark-first: DataFrame/SQL plans that
Catalyst can optimize, with Arrow-batched pandas UDFs only where binary
decoding or computational geometry genuinely requires Python.

Layout
------
- ``session``    SparkSession builder tuned for the target workload.
- ``schemas``    entity / contribution StructTypes (mirrors contrib.avsc).
- ``functions``  scalar function surface: geodesic math, XZ curve, WKB,
                 hashtags, text analytics.
- ``operators``  relational operators: contribution synthesis windows,
                 temporal member merge (as-of), spatial join, dedup family,
                 similarity search.
- ``sources``    PBF / OSC / changeset-XML / testdata readers.
- ``plans``      the query registry surfaced through ``__spark_entry__``.
- ``streaming``  incremental replication as Structured-Streaming-style
                 micro-batches.
"""

__version__ = "0.1.0"
