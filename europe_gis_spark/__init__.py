"""europe_gis_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of the reference pipeline
(``europe-gis/europe-gis``, a single-node GDAL/GeoPandas/rasterio stack) as
Spark DataFrame ops, Arrow-batched pandas UDFs and explicit partitioning
strategies, over Common-Crawl-style web-page tables.

Design rules (see SURVEY.md):
  * DataFrame/SQL first — Catalyst owns pushdown, pruning, join selection.
  * Zero per-row Python — every UDF is an Arrow-batched pandas UDF.
  * Small polygon/dimension sides are broadcast; big sides are bucketed by
    planar grid cell so spatial joins become plain equi-joins.
  * Skew handled by salting + AQE; resumability by an idempotent
    per-partition checkpoint table.
"""

from . import _worker_imports

__version__ = "0.1.0"

# in a Spark Python worker, stop each task re-reading unchanged zip archives
_worker_imports.install()
