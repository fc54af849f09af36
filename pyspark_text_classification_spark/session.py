"""SparkSession factory with scale-ready defaults.

Replaces the reference's per-script hand-tuned sessions
(qnli_test.py:53-58, qqp_test.py:17-20, sst2_test2.py:21-24,
transformers_test.py:24-32 — magic shuffle-partition counts of 8/200 and
static 8-32g memory blocks) with one factory that turns on Adaptive Query
Execution (runtime partition coalescing + skew-join handling) and Arrow for
every pandas-UDF exchange.  On a real cluster the same factory is used; only
``master`` changes.

Python workers: every PySpark task starts with ``importlib.invalidate_caches()``,
which on CPython 3.11/3.12 re-reads the central directory of every zip on the
worker's import path (``pyspark.zip`` once per imported subpackage, the
5k-entry spark-core jar twice): 200-300 ms per task before its UDF runs, most
of a small ``batch_infer`` request. Local sessions therefore start their Python
workers through :mod:`~pyspark_text_classification_spark.worker_daemon`, which
re-reads an archive only when its mtime or size changed. Cluster executors
keep the stock daemon, because they need not have this package installed.
The package's parent directory goes on the workers' ``PYTHONPATH`` (Spark puts
it after its own zips and the caller's ``PYTHONPATH``), so workers import the
engine from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_session(
    app_name: str = "pyspark-text-classification-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on: coalesces shuffle partitions and splits skewed joins at
      runtime, so one config serves sf0.001 through 100 TB.
    - Arrow on: every toPandas / pandas-UDF boundary is columnar.
    - ANSI off inside the engine's own sessions for permissive casts
      (queries themselves still use try_cast so they also run under a
      driver-provided ANSI session).
    - Python workers import the engine from any working directory; local
      sessions start them through ``worker_daemon`` (module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog tables (bucketed joins) land outside the repo by default
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module",
            "pyspark_text_classification_spark.worker_daemon",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
