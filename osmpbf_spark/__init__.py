"""osmpbf_spark — a PySpark-native analytics engine with the capabilities of
gballet/osmpbfinputformat, rebuilt Spark-first.

The reference (`/root/reference`) is a Hadoop InputFormat + Pig LoadFunc that
turns OpenStreetMap PBF files into typed records and delegates all relational
processing to MapReduce/Pig (reference README.md:20-55). This package provides:

- ``osmpbf_spark.sources.pbf`` — a splittable PySpark Python Data Source
  (``spark.read.format("osmpbf")``) that supersedes the reference's
  ``OsmPbfInputFormat``/``OsmPbfRecordReader`` (block-aligned partitions,
  vectorized delta decode, Arrow batches).
- ``osmpbf_spark.operators`` — the relational query surface the reference
  enables downstream (filter/project/aggregate/join/window/... per SURVEY.md
  §2B) plus LLM-data-pipeline extensions (dedup, similarity search, text
  analysis, multimodal) per SURVEY.md §2C.
- ``osmpbf_spark.streaming`` — Structured Streaming twins for the events
  surface (tumbling/sliding/session windows, watermark late-data, stateful).

Everything is declarative DataFrame/SQL so Catalyst handles pushdown, pruning,
join planning and AQE; Python only appears in Arrow-batched vectorized form.
"""

from osmpbf_spark import _zipimport_cache

__version__ = "0.1.0"

# Every process that runs engine code imports this package: the driver,
# the planner workers and the executor workers.
_zipimport_cache.install()
