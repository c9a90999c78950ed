"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
Iceberg/parquet) but runs identically on ``local[N]`` in tests:

- AQE on (runtime coalesce + skew-join splitting — urban-core cells are the
  canonical skew source, SURVEY.md §7.3).
- Arrow on for every pandas UDF / applyInPandas boundary.
- shuffle partitions sized for the local harness; a real cluster submit
  overrides via ``spark-submit --conf``.
- Python workers fork from ``city2graph_spark.worker_daemon``
  (``spark.python.daemon.module``), with the package's parent directory on
  the executors' ``PYTHONPATH`` so the daemon can be imported.  Stock
  ``pyspark.daemon`` workers start every task with
  ``importlib.invalidate_caches()``, which before Python 3.13 re-reads the
  central directory of every zip and jar on the worker's path: 0.1-0.3 s
  of fixed cost per task on a 4-core host.  The engine daemon re-reads only
  archives whose stat changed.  Set only for a ``local`` master and a
  package that is a directory on disk (cluster executors cannot see the
  driver's checkout); other sessions keep the stock daemon, as do
  ``cli.py``'s spark-submit sessions, which skip ``get_spark``.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: with it on, every
  Column/DataFrame call records its Python call site through extra py4j
  round trips; building one knn_graph plan took 2,870 round trips with it
  on and 1,214 with it off.  Errors keep their error class and the failing
  expression; only the Python file:line of the DataFrame call is lost from
  the error context.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def _default_driver_mem() -> str:
    """32g, capped at half the host's memory.  A heap cap above what the host
    has lets the JVM grow its heap instead of collecting until the kernel
    kills it: the pytest session (local[8]) reached 15 GB on a 16 GB host."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(32 << 10, host_mb // 2)}m"


def get_spark(app_name: str = "city2graph_spark", master: str | None = None,
              shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    # one BLAS/OMP thread per Python worker: Spark already parallelises
    # across tasks, and N workers × M BLAS threads thrashes the memory bus
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                shuffle_partitions or os.environ.get(
                    "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
    )
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if master.startswith("local") and os.path.isdir(pkg_dir):
        builder = (builder
                   .config("spark.python.daemon.module",
                           "city2graph_spark.worker_daemon")
                   .config("spark.executorEnv.PYTHONPATH",
                           os.path.dirname(pkg_dir)))
    return builder.getOrCreate()
