"""SparkSession factory tuned for the engine.

The reference hand-tunes batching/throttling (``RdlETL.java:133-140``,
``YhCldETL.java:99-102``); in Spark those are engine concerns. The only knobs
we own are the ones that matter at scale: AQE (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partition count, and Arrow for the
few Pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """CPU budget: ``SPARK_GRAFT_CPUS`` env (driver contract) or os.cpu_count()."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "learn-hbase-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, ``shuffle_partitions`` should be ~2-3x total cores
    (or left to AQE's coalescing with a high initial count); locally we match
    the core count so tiny test shuffles don't fragment into empty tasks.
    """
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # dynamic broadcast conversion. Non-negotiable at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        # Arrow transfer for the pandas-UDF extension operators (similarity,
        # multimodal); irrelevant to the built-in-function hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast joins for dimension tables (the reference's J1 lookup
        # join, SURVEY §2.3). AQE upgrades sort-merge → broadcast at runtime
        # when the built side turns out small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Timestamps in testdata are naive; pin session TZ for determinism.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master.startswith("local"):
        # Python workers skip Spark's archives (see pyworker.py): the
        # daemon module must import from any working directory, so the
        # package's parent rides on the workers' PYTHONPATH.
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config(
            "spark.python.daemon.module", "learn_hbase_spark.pyworker"
        ).config("spark.executorEnv.PYTHONPATH", pkg_parent)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
