"""SparkSession helpers tuned for this engine.

The defaults mirror the reference's batching contract (BATCH_SIZE=1024,
reference arrow-udf-macros/src/codegen_utils.rs:642) via
``spark.sql.execution.arrow.maxRecordsPerBatch`` — configurable because at
100 TB scale larger Arrow batches amortize the JVM<->Python boundary better
(bench uses 10k).

Importing this module also makes ``zipimporter.invalidate_caches`` lazy on
CPython < 3.13 (see :func:`_lazy_zip_invalidation`), in the driver and in
every Spark Python worker that unpickles one of the package's functions.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

#: Arrow batch size at the JVM<->Python boundary.  The reference re-chunks at
#: 1024; we default higher because Arrow UDFs (``arrow_udf`` scalars,
#: ``mapInArrow`` table functions) amortize per-batch overhead (the
#: reference's per-batch fixed cost is exactly what made its Python mode 115x
#: slower than native, BASELINE.md).
DEFAULT_ARROW_BATCH = 10_000


def _lazy_zip_invalidation() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``.

    A Spark Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``).  Before
    3.13 each zipimporter then re-parses its whole archive directory in
    Python code: a worker holds a dozen or more importers over
    ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries), 0.15-0.28 s per
    task.  Here an archive is re-read only when its ``(st_mtime_ns,
    st_size)`` differs from the last read in this process or it is missing
    from ``zipimport._zip_directory_cache``; otherwise the importer points
    at the cached directory.  A zip rewritten in place is still picked up,
    and a new ``addPyFile`` zip is a new path with a fresh importer.
    Idempotent; does nothing on 3.13+, where the stdlib is already lazy.
    """
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()


def configure(builder: SparkSession.Builder):
    """Apply engine defaults to a SparkSession builder."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        # local mode runs driver + all executor threads in ONE JVM, and
        # Spark's default heap is 1g — 32 concurrent tasks sharing 1 GiB
        # starves every hash aggregate into spill churn and OOMs
        # duplicate-heavy joins (found by the round-6 10x dedup stress
        # test on a 128 GiB box).  Size the heap to the machine; on a
        # real cluster this knob is per-executor and set by the deployer.
        builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH))
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # split file scans into at least defaultParallelism partitions:
        # without this a single ~100 MB parquet scans as 1-3 tasks and any
        # Python-UDF stage above it is capped at 3-way parallelism on a
        # 32-core executor.  Expressed as a partition COUNT (not a byte
        # size) so the same config is scale-correct on a real cluster.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.worker.reuse", "true")
        # Arrow-optimized native Python UDTFs (the SQL LATERAL surface)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "false")
        # tolerate parquet TIMESTAMP(NANOS) columns (read as nanos-long);
        # a no-op for MICROS fixtures.  sources.io.normalize_events handles
        # whichever shape comes out of the scan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )


def get_spark(app_name: str = "arrow_udf_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.appName(app_name)
    b = b.master(master or f"local[{cpus}]")
    return configure(b).getOrCreate()


def bootstrap(sf_dir: str, app_name: str = "arrow_udf_spark"):
    """One-call setup: session with engine defaults, the testdata star
    schema registered as SQL views, and every corpus function (scalar /
    table / aggregate) registered for ``spark.sql``.

    Returns the :class:`~pyspark.sql.SparkSession`.
    """
    from .plans.registry import GLOBAL
    from .sources.io import Catalog

    spark = get_spark(app_name)
    Catalog(spark, sf_dir).register_views()
    GLOBAL.register_sql(spark)
    return spark
