"""SparkSession factory with scale-appropriate defaults.

The reference hand-rolls its executor (spawn pool, manual chunking,
``gc.collect()`` — BytesProcessor.py:62-94,132-135); on Spark all of
that is the scheduler's job.  The only knobs that matter are the ones
set here: AQE (runtime re-plan + skew-join), Arrow for the Python
boundary, UTC so results are oracle-comparable, and shuffle
parallelism sized to cores instead of the 200 default.  Importing the
package also makes the zip importers' cache invalidation stat-checked
(:func:`_stat_checked_zip_invalidation`), which every Python task pays.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)``
    changed (CPython < 3.13; 3.13 made the re-read lazy itself).

    Every Python task's prologue (``pyspark.worker_util.
    setup_spark_files``) calls ``importlib.invalidate_caches()``, and
    before 3.13 that makes each cached ``zipimporter`` re-read its whole
    archive: ``pyspark.zip`` (about 1300 entries) once per package
    imported from it, about a dozen times per task (0.25-0.31 s a task
    measured in a 4-core local session).  Importers that already exist
    are stamped now; a newer one re-reads on its first call."""
    if sys.version_info >= (3, 13):
        return
    base = zipimport.zipimporter.invalidate_caches

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_stamp", None):
            base(self)
            self._stamp = now

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._stamp = stamp(finder.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_checked_zip_invalidation()


def get_spark(
    app_name: str = "bytesprocessor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    In local mode the shuffle-partition count defaults to the core
    count — at cluster scale you would size it so post-shuffle
    partitions land near 128-256 MB (AQE coalescing then adjusts at
    runtime, so over-provisioning is safe).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # Python workers start as ``python -m pyspark.daemon`` in the JVM's
    # working directory, and ``-m`` puts that directory first on their
    # sys.path, so a driver started from another checkout's root would
    # run that checkout's package in its tasks.  PYTHONSAFEPATH (3.11+)
    # drops the entry; PYTHONPATH names the directory this package was
    # imported from.
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .config("spark.executorEnv.PYTHONPATH", package_root)
        .config("spark.ui.enabled", "false")
        # no \r progress frames on the console: harness tail-captures
        # stdout/stderr and carriage-return frames corrupt the capture
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
