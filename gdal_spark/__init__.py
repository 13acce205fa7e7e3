"""gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-creates the query/data-processing semantics of GDAL (reference:
OSGeo/gdal 3.14.0) as distributed DataFrame operators over tables of
Common-Crawl-style web pages:

* geocoding + H3/S2-style cell indexing (web-mercator quadtree cells,
  JVM-side Column expressions; Hilbert codes with GDAL parity)
* two-stage spatial join: broadcast cell prefilter + exact vectorized
  ray-cast point-in-polygon over packed coordinate arrays
  (semantics: ogr/ogrlinearring.cpp:452-521)
* kNN via cell k-ring expansion + per-cell refine
  (semantics: alg/gdalgrid.cpp:905-949 quadtree radius growth)
* raster<->vector: rasterize (alg/llrasterize.cpp scanline center
  rules), polygonize (alg/gdalrasterpolygonenumerator.cpp CCL),
  warp/translate (alg/gdalwarpoperation.cpp chunk model), zonal stats
* z/x/y tiling with range-partitioned shuffle + pyramid reduce
  (semantics: apps/gdalalg_raster_tile.cpp:435-514)
* OGR SQL subset (summary / distinct modes, ogr/ogr_swq.h:320-322)
* web-scale text ops: dedup (exact/minhash/simhash), ANN similarity,
  language id, quality scoring, token counting, fingerprinting

Architecture is Spark-first: DataFrame/Catalyst plans, Arrow-batched
pandas UDF kernels (no per-row Python), broadcast prefilter joins,
explicit salting of hot cells, range-partitioned tile shuffles, and
checkpointed per-partition lineage for idempotent resume.
"""

__version__ = "0.1.0"

from gdal_spark.session import get_spark  # noqa: F401
from gdal_spark.session import install_worker_import_cache

install_worker_import_cache()
