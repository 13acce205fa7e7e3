"""SparkSession factory with scale-oriented defaults.

Defaults mirror the reference engine's tuning knobs where a Spark
equivalent exists:

* Arrow batch size 65536 == OGR's MAX_FEATURES_IN_BATCH default
  (ogr/ogrsf_frmts/generic/ogrlayerarrow.cpp:2079)
* AQE on (runtime re-planning, skew-join handling) — replaces GDAL's
  static chunking (alg/gdalwarpoperation.cpp:611 64MB chunks)
"""

from __future__ import annotations

import atexit
import gc
import os
import shutil
import tempfile
import zipfile
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()
_ZIP_STATS: dict[str, tuple[int, int, int]] = {}


def build_pyfiles_zip(dst: str) -> str:
    """Write every ``.py`` file of gdal_spark into the zip ``dst``
    (paths relative to the repository root) and return ``dst``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(dst, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return dst


def ship_package(spark: SparkSession) -> None:
    """Ship gdal_spark to executors (the local-mode equivalent of
    ``spark-submit --py-files gdal_spark.zip``).

    Idempotent per SparkContext; safe to call from every entry point
    so the engine works regardless of who built the session.  Each
    call writes a fresh archive in its own temporary directory, so
    concurrent Spark applications never truncate each other's archive
    and no shipped archive is rewritten in place.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    tmp = tempfile.mkdtemp(prefix="gdal_spark_pyfiles_")
    atexit.register(shutil.rmtree, tmp, True)
    zip_path = os.path.join(tmp, "gdal_spark_pyfiles.zip")
    sc.addPyFile(build_pyfiles_zip(zip_path))
    _SHIPPED.add(key)


def _stat_checked_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its ``(st_mtime_ns, st_size, st_ino)`` changed
    since the last read; otherwise it reuses the cached directory."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        sig = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and sig is not None \
            and _ZIP_STATS.get(self.archive) == sig:
        self._files = files
        return
    _stat_checked_invalidate.eager(self)
    if sig is None:
        _ZIP_STATS.pop(self.archive, None)
    else:
        _ZIP_STATS[self.archive] = sig


def install_worker_import_cache() -> None:
    """Cut the fixed Python cost of every task in this worker.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``setup_spark_files``).  An eager zipimporter
    (CPython 3.12.1 and older) then re-reads the whole directory of
    every archive on the path, once per importer: spark-core's jar
    (5,359 entries), pyspark.zip (1,328 entries, about 12 package
    importers), py4j and the shipped gdal_spark zip.  That is most of a
    short task's worker CPU.  This installs a stat-checked
    ``invalidate_caches`` instead, and calls ``gc.freeze()`` once so
    the daemon's ``gc.collect()`` after every task stops walking the
    imported module heap.

    Runs once per worker process (``gdal_spark/__init__.py`` calls it
    on import).  A no-op outside Spark tasks (no ``TaskContext``), on a
    second call, and on interpreters whose zipimporter already
    invalidates lazily (those read the directory through
    ``zipimporter._get_files``).
    """
    zi = zipimport.zipimporter
    if hasattr(zi, "_get_files") or hasattr(zi.invalidate_caches, "eager"):
        return
    if TaskContext.get() is None:
        return
    _stat_checked_invalidate.eager = zi.invalidate_caches
    zi.invalidate_caches = _stat_checked_invalidate
    gc.freeze()


def spread_for_kernel(df):
    """Repartition a single-partition DataFrame to
    defaultParallelism.  CPU-bound python kernels (format encoders)
    otherwise serialize on a one-split scan — a single small parquet
    file reads as ONE partition regardless of row count.  Inputs
    with >1 partition are left alone: parts-mode writers emit one
    file per partition, so an explicit user repartition(N) keeps
    producing exactly N parts."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if par > 1 and df.rdd.getNumPartitions() == 1:
        return df.repartition(par)
    return df


def get_spark(
    app_name: str = "gdal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
