"""SparkSession construction tuned for this engine.

Local mode is the test/bench harness; the same config block is what we'd ship
to ``spark-submit`` on a real cluster (minus ``master``).  AQE is on so
skewed shuffles re-plan at runtime; Arrow is on because every Python-side
operator in this engine is a vectorized pandas UDF (no per-row Python
anywhere, per BASELINE.json input_hint).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip this package for worker shipping — the ``spark-submit --py-files``
    artifact.  Content-hashed filename so a changed source tree never collides
    with a stale zip from a previous session."""
    import bliss_rs_spark

    pkg_dir = os.path.dirname(os.path.abspath(bliss_rs_spark.__file__))
    entries = []
    for dirpath, _, filenames in os.walk(pkg_dir):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "bliss_rs_spark", os.path.relpath(full, pkg_dir)
                )
                with open(full, "rb") as f:
                    entries.append((rel, f.read()))
    h = hashlib.sha256()
    for rel, data in entries:
        h.update(rel.encode())
        h.update(data)
    zpath = os.path.join(
        tempfile.gettempdir(), f"bliss_rs_spark-{h.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for rel, data in entries:
                z.writestr(rel, data)
        os.replace(tmp, zpath)
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers.

    Required whenever the SparkSession wasn't created from inside the repo
    (e.g. the driver harness creates its own session): pandas UDFs pickle by
    reference to this module, so workers must be able to import it.
    Idempotent per (session, zip-content) pair.
    """
    zpath = package_zip()
    shipped = getattr(spark, "_bliss_shipped", None)
    if shipped == zpath:
        return
    spark.sparkContext.addPyFile(zpath)
    spark._bliss_shipped = zpath


def keep_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive has changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task, and CPython 3.11's ``zipimporter.invalidate_caches`` re-reads the
    whole central directory at once, for every importer instance: workers
    import pyspark from ``pyspark.zip`` (~1.3k entries), so each task of
    every Python stage paid ~170 ms before its kernel started.  The wrapper
    keys each importer on its archive's ``(st_mtime_ns, st_size)`` at its
    last read and re-reads when that key changes or ``stat`` fails; a new
    archive path still gets a new importer.  Installed on package import,
    so it reaches every worker that unpickles one of our kernels.
    Idempotent.
    """
    read = zipimport.zipimporter.invalidate_caches
    if getattr(read, "_keyed", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_dir_key", None):
            return
        read(self)
        self._dir_key = key

    invalidate_caches._keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    app_name: str = "bliss_rs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # a store frame fans out to at most a few hundred k=v dirs (term
        # and gram buckets, doc shards); past 32 paths Spark lists them in
        # a scheduled job per read, where the driver lists them in ms
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
