"""SparkSession bootstrap tuned for the index-build workload.

Local-mode testing uses ``local[N]``; the same settings are what we would
submit with ``spark-submit --py-files`` on a real multi-executor cluster
(shuffle partitions and maxPartitionBytes would be sized to the cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """32g, or half the host's physical RAM when that is less: a heap
    the host cannot back lets the JVM grow until the host kills it."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    except (AttributeError, OSError, ValueError):
        return "32g"
    return f"{min(32 << 10, half_mb)}m"


def _worker_daemon_module() -> str | None:
    """``miru_spark.worker_daemon`` when a Python worker can import this
    package, else None (PySpark's own daemon). A worker's path is
    ``$PYTHONPATH``, its working directory (the driver's) and the site
    directories. A driver that imports miru_spark from anywhere else (a
    script's own directory, a zip shipped by ``addPyFile``) keeps the
    stock daemon, so its Python tasks that never touch miru_spark still
    run."""
    import site

    import miru_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(miru_spark.__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep) + [os.getcwd()]
    paths += site.getsitepackages() + [site.getusersitepackages()]
    if any(os.path.abspath(p) == root for p in paths):
        return "miru_spark.worker_daemon"
    return None


def get_spark(
    app_name: str = "miru_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` accepts an int (-> ``local[n]``), "*" or a full master URL.
    Defaults come from ``$SPARK_GRAFT_CPUS`` when set.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = str(cores) if str(cores).startswith(("local", "spark://", "yarn")) else f"local[{cores}]"
    n_threads = 32 if str(cores) in ("*",) else None
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cores)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            shuffle_partitions = n_threads or 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64Ki-row Arrow batches: the posting compressor streams tens of
        # millions of rows through mapInPandas — 10k-row default batches
        # pay per-batch Python/IPC overhead ~7x more for nothing (kernels
        # are numpy-vectorized; 64Ki rows is still only a few MB)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("MIRU_SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # zstd shuffle/spill blocks (lz4 default): the postings exchange
        # is text-heavy and compresses ~2x better under zstd — measured
        # (4,16)-core A/B on the 480k-doc build: raw scaling efficiency
        # 0.36 -> 0.50, 16-core peak 7.2k -> 9.8k docs/s. Shuffle volume
        # is the scarce resource at cluster scale; CPU for the codec is not.
        .config("spark.io.compression.codec", "zstd")
        # 512k codec buffers (32k default): the postings exchange streams
        # multi-MB blocks through the zstd JNI boundary — fewer, larger
        # native calls; measured +1-2% at local[8] on the 480k-doc build
        .config("spark.io.compression.zstd.bufferSize", "512k")
        # glibc: keep multi-MB numpy temporaries in the arena instead of
        # mmap/munmap per allocation — repeated large-array kernels
        # otherwise refault every page on every call (measured ~60us per
        # fault on this virtualized host under load)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
    )
    # Python workers fork from a daemon that has the zip-import guard
    # installed (miru_spark/__init__.py), so a new worker's first task
    # skips the archive re-reads too
    daemon = _worker_daemon_module()
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
