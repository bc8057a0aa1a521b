"""SparkSession factory with the engine's recommended configuration."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# (st_mtime_ns, st_size) of each zip archive as this process last read
# its directory through a stat-checked invalidation (None: no stat)
_ZIP_STATS: dict[str, tuple[int, int] | None] = {}


def _zip_stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_worker_zip_imports() -> bool:
    """Make zipimporter invalidation stat-checked in a PySpark worker:
    re-read an archive's directory only when its (st_mtime_ns,
    st_size) differs from this process's last read of it. Returns
    whether the guard is in place.

    A PySpark worker calls importlib.invalidate_caches() at the start
    of every task (pyspark.worker_util.setup_spark_files). On CPython
    3.10-3.12 that makes every cached zipimporter re-parse its whole
    archive directory in pure Python; a reused worker holds a dozen
    of them over pyspark.zip (~1,300 entries, one importer per
    imported pyspark sub-package): a median ~200 ms of every task on a
    4-core host (scripts/probe_task_wave.py, ``invalidate_ms``), and
    ~0.2 ms with the guard. CPython 3.13 made the invalidation lazy.
    The guard gives a changed archive the same answer a re-read does.

    Installed once per process, when tokcodec is first imported, and
    only where the interpreter invalidates eagerly and the process is
    a PySpark worker (the JVM sets PYTHON_WORKER_FACTORY_SECRET for
    the worker daemon and the workers it forks); never in the driver.
    """
    zi = zipimport.zipimporter
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ \
            or not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    eager = zi.invalidate_caches
    if getattr(eager, "stat_checked", False):
        return True

    def invalidate_caches(self):
        stat = _zip_stat(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stat is not None and files is not None \
                and _ZIP_STATS.get(self.archive) == stat:
            self._files = files
            return
        # stat before the read: an archive that changes during the
        # read is read again on the next invalidation
        eager(self)
        _ZIP_STATS[self.archive] = stat

    invalidate_caches.stat_checked = True
    zi.invalidate_caches = invalidate_caches
    return True


def warm_python_workers(spark: SparkSession, waves: int = 2) -> None:
    """Force-spawn the full Python worker pool (one-time fork + heavy
    imports per worker — amortized to zero on a long-lived cluster).

    Uses mapInArrow over an explicitly partitioned range: no shuffle,
    so AQE cannot coalesce it below one task per core (a tiny grouped
    warmup job would be coalesced to ~1 task and warm ~1 worker). Its
    tokcodec import also installs guard_worker_zip_imports in every
    worker before any timed work.
    """
    import pyarrow as pa

    cpus = spark.sparkContext.defaultParallelism

    def _warm(it):
        # the imports every encode/decode task needs
        import numpy  # noqa: F401

        from tokcodec import blocks, decode, encode  # noqa: F401

        for batch in it:
            yield batch

    for _ in range(waves):
        spark.range(0, cpus * 2, 1, cpus * 2).mapInArrow(
            _warm, "id long"
        ).count()


def get_spark(
    master: str | None = None,
    app_name: str = "tokcodec",
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    # shuffle/spill on RAM-backed storage when available (the sandbox
    # disk is slow shared virtio; a real cluster would use local NVMe)
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # block files are self-contained per-column payloads, often
        # well under the 4 MB default openCost; at that default every
        # file becomes its own scan partition (maxSplitBytes collapses
        # to openCost when bytesPerCore is small), turning a 255-file
        # table into 200+ scheduler-bound tasks. 128 KB packs several
        # block files per task; irrelevant for large files.
        .config("spark.sql.files.openCostInBytes", str(128 << 10))
        # reads plan EXPLICIT file lists from the run manifests; above
        # this many paths Spark launches a distributed listing job
        # (one task per path) before every scan — pure fixed latency
        # for the file counts a run produces. Driver-side getFileStatus
        # is cheap up to a few thousand paths; beyond that (huge
        # many-run tables) the distributed listing earns its keep.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "2048")
        # unlock TIME-typed expressions (make_time/hour/...): the
        # engine stores TimeType columns on the int64 nanos lane and
        # Spark 4.1 gates the SQL surface behind this flag
        .config("spark.sql.timeType.enabled", "true")
        # let the tokcodec Python DataSource's opt-in pushdown reader
        # (option("pushdown", "true")) receive WHERE predicates for
        # zone/bloom chunk pruning (off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    return builder.getOrCreate()
