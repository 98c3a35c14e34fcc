"""SparkSession construction with the engine's scale-tuned defaults."""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding this package: python workers need it on their
# path to start the daemon module from any driver working directory
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """``_PKG_PARENT`` ahead of any executor PYTHONPATH the JVM's conf
    already holds (readable once a py4j gateway is running).  The
    driver's own PYTHONPATH needs no merge: Spark appends it itself."""
    existing = SparkConf().get("spark.executorEnv.PYTHONPATH")
    return os.pathsep.join(p for p in (_PKG_PARENT, existing) if p)


def pin_worker_threads() -> None:
    """One BLAS/OpenMP thread per process: the scan stage runs one
    python worker per core, so nested BLAS threading only thrashes
    caches.  ``get_spark`` sets these before the JVM starts, so workers
    inherit them; the scan kernels set them again at UDF entry, because
    the driver contract may run them under a foreign SparkSession
    (workers import numpy lazily, and OpenBLAS reads the env at library
    load)."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")


def get_spark(app: str = "fin-ocr-sdk-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session defaults chosen for the 100 TB design point, scaled to
    local mode for tests:

    - AQE on (runtime coalescing + skew-join splitting)
    - Arrow on, with a bounded records-per-batch so a batch of decoded
      rasters (~0.5 MB each) stays well inside executor memory
    - shuffle partitions default to local core count (driver-set
      SPARK_GRAFT_CPUS), sized up by the byte-weighted repartition for
      the scan stage (plans/pipeline.py)
    - python workers fork from ``fin_ocr_sdk_spark._worker_daemon``
      (``spark.python.daemon.module``), with this package's parent
      directory on their path (``spark.executorEnv.PYTHONPATH``, merged
      with any value already configured). The daemon stops the
      per-task ``importlib.invalidate_caches()`` from re-parsing
      pyspark.zip (~0.2-0.4 s of every task). It is needed only while
      the interpreter's ``zipimporter.invalidate_caches`` re-reads the
      archive eagerly, as CPython 3.11.7's does.
    """
    pin_worker_threads()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        # media payloads decompress ~10:1 out of parquet: split scans by
        # the UNCOMPRESSED working set, not on-disk bytes (one media
        # part file per task)
        .config("spark.sql.files.maxPartitionBytes", str(4 << 20))
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.daemon.module",
                "fin_ocr_sdk_spark._worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    return builder.getOrCreate()
