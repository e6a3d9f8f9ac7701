"""SparkSession factory.

Defaults are tuned for the test harness (local[N], single JVM) but every
setting is chosen to also be correct on a large cluster:

- AQE on (runtime coalesce, skew-join splitting, dynamic join strategy).
- ``spark.sql.shuffle.partitions`` small locally; on a real cluster AQE's
  coalescePartitions makes the static number mostly irrelevant.
- Arrow enabled so Pandas-UDF paths are vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- ``local[...]`` masters start Python workers from ``pydaemon`` (no
  per-task re-read of ``pyspark.zip``) with this package on their path.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# directory holding the ``map_reduce_implementation_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def merge_pythonpath(current: str | None) -> str:
    """``current`` (kept verbatim) with ``PACKAGE_ROOT`` appended unless present."""
    if not current:
        return PACKAGE_ROOT
    if PACKAGE_ROOT in current.split(os.pathsep):
        return current
    return current + os.pathsep + PACKAGE_ROOT


def _with_worker_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus the Python-worker settings of ``local[...]``
    masters. Local workers run on this host, so they can import the package
    from this checkout (map functions and kernels are pickled by reference)
    and start from ``pydaemon``. Other masters keep the stock
    ``pyspark.daemon``, since their executors may not see this checkout."""
    if not (master == "local" or master.startswith("local[")):
        return dict(extra_conf)
    conf = {}
    if sys.version_info < (3, 13):  # 3.13+ no longer re-reads zips eagerly
        conf["spark.python.daemon.module"] = "map_reduce_implementation_spark.pydaemon"
    conf.update(extra_conf)
    conf[_PYTHONPATH] = merge_pythonpath(extra_conf.get(_PYTHONPATH))
    return conf


def get_spark(
    app_name: str = "map_reduce_implementation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches → fewer Python round-trips in mapInArrow/
        # mapInPandas paths (measured ~20% on the histogram counter)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _with_worker_conf(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
