"""SparkSession helper with the engine's standard configuration."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# This box has expensive first-touch page faults; keep large numpy
# buffers inside the glibc arena instead of mmap/munmap-ing them per
# allocation (20x decode, 4x encode on measured kernels).  Must be set
# before the JVM (and thus the Python workers) starts.
# Note: ARROW_DEFAULT_MEMORY_POOL=system was tried here and REVERTED —
# routing Arrow through glibc inverted multi-worker scaling (local[8]
# became 2x slower than local[2]); jemalloc handles concurrent workers
# far better on this box.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def apply_malloc_env() -> None:
    """Make the arena settings effective for child processes (env) AND
    for the CURRENT process (mallopt): glibc reads MALLOC_* env vars
    only at process startup, so setting os.environ from inside a
    long-running Python (pytest, a driver) does nothing for its own
    allocations — mallopt(M_MMAP_THRESHOLD/M_TRIM_THRESHOLD) does."""
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: env vars for children still apply


def forget_zip_finders() -> None:
    """Drop every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` before every task's
    UDF, and on Python < 3.13 each cached zipimporter then re-reads its
    whole archive directory.  A worker that imported pyspark from
    ``$SPARK_HOME/python/lib/pyspark.zip`` holds one such finder per
    package directory (16 for a 1,328-entry zip with Spark 4.1 on
    Python 3.11), so each task re-read that directory 16 times: 0.21-0.34
    s of worker CPU per task outside the UDF, measured with the worker's
    rusage.  The cache is documented as safe to clear; a later import
    rebuilds a finder from zipimport's own directory cache without
    reading the archive.  Task entry points call this first: the current
    task has already paid, but a reused worker's later tasks do not.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def get_spark(
    app_name: str = "cpp-parquet-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    apply_malloc_env()
    builder = SparkSession.builder.appName(app_name)
    for k, v in MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return (
        builder
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches -> better codec training + fewer UDF crossings
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.shuffle.spill.compress", "true")
        .getOrCreate()
    )
