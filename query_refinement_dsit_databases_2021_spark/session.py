"""SparkSession factory tuned for this engine.

Local mode is the test harness; the config choices are the ones that
also hold on a real cluster (AQE on, shuffle partitions sized to the
parallelism, Arrow on for the Pandas-UDF escape hatches, UTC session
timezone so results compare bit-for-bit against external oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "query_refinement_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Python workers must import this package to unpickle the strategy-P
    # kernels (applyInPandas closures reference package classes). Export
    # the repo root on PYTHONPATH before the JVM forks workers — the
    # local-mode equivalent of shipping the package via --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame call-site capture costs ~5 extra py4j round
        # trips per DataFrame/Column call; the engine plans many small
        # queries, and no error here relies on the Python call site
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
