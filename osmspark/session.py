"""Tuned SparkSession builders.

Local mode is a stand-in for a multi-executor cluster (SURVEY.md §6): all
scale-sensitive settings (AQE, skew-join handling, shuffle partitions sized
to cores, Arrow batching for pandas UDFs) are the same ones that matter on a
1000-executor cluster; only master/memory differ.

Every session also runs its Python workers through
`osmspark/_worker/pyspark_osmspark_worker.py` (`spark.python.worker.module`).
Each Python task's preamble calls `importlib.invalidate_caches()`, which
makes every zipimporter re-read its archive's central directory: one per
pyspark subpackage imported from Spark's pyspark.zip, plus the Spark jar.
That re-read was a fixed ~0.15 s at the start of every task, more than
the work of a small batch. The module freezes the importers of the archives
that are on the worker's path when the daemon starts, which do not change
while the JVM lives; archives shipped later (`addPyFile`) keep the re-read.
The stock daemon stays (`python -m pyspark.daemon`), so the workers keep
their command line. The executors' PYTHONPATH gets the module's directory
and the osmspark checkout root, merged with any PYTHONPATH the caller
passes, so pandas-UDF workers import osmspark from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE = os.path.dirname(os.path.abspath(__file__))
_WORKER_PATH = [os.path.join(_PACKAGE, "_worker"), os.path.dirname(_PACKAGE)]
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def build_session(
    app_name: str = "osmspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    cores=None -> $SPARK_GRAFT_CPUS or all cores. Shuffle partitions default
    to ~2x cores locally; on a real cluster leave AQE to coalesce.
    """
    conf = session_conf(app_name, cores, shuffle_partitions, extra_conf)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def session_conf(
    app_name: str = "osmspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> dict:
    """The conf `build_session` starts a session with: `extra_conf` wins
    over the defaults, except that its executor PYTHONPATH is merged after
    the worker module's directory and the checkout root."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        # NOT the full machine: oversized heaps on this VM stall 5-10x under
        # multi-threaded allocation storms (lazy page-commit zeroing); 8g
        # covers every local working set and keeps first-touch cost bounded
        "spark.driver.memory": os.environ.get("OSMSPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # 16 MB splits: local test inputs are sub-GB, and 128 MB splits
        # would leave most cores idle on the scan+parse stage (on a real
        # cluster with TB inputs, raise this back toward 128-256 MB)
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.python.worker.module": "pyspark_osmspark_worker",
    }
    conf.update(extra_conf or {})
    paths = _WORKER_PATH + conf.get(_PYTHONPATH, "").split(os.pathsep)
    conf[_PYTHONPATH] = os.pathsep.join(dict.fromkeys(p for p in paths if p))
    return conf
