"""SparkSession factory tuned for the engine.

Local-mode defaults mirror the target posture for a real cluster:
AQE on (runtime re-planning, skew handling), shuffle partitions sized
to cores (not the 200 default), Arrow enabled for any Pandas-UDF path,
UTC session time zone (the reference pins everything to UTC —
``/root/reference/app.py:560-565`` derives its daily window from
``datetime.utcnow()``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "aws-seismic-data-pipeline-spark"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Every Python worker forks from a daemon that has already
        # imported numpy, pandas and pyarrow (``_worker_daemon``). A
        # warm one-task mapInPandas job over 500 rows (local[2], Spark
        # 4.1.2, shared 4-core VM) took 0.60-1.02 s from the stock
        # daemon and 0.18-0.30 s from the preloaded one; a plain SQL
        # job takes 0.12-0.18 s. Reuse stays off although forks are
        # now cheap: reused workers took 0.30-0.46 s from the stock
        # daemon and 0.20-0.30 s from the preloaded one, no faster
        # than a preloaded fork, and they intermittently stall
        # ~10-30 s on their first task of a new mapInPandas stage
        # (4-query mix 92 s with reuse, 19 s without).
        .config("spark.python.worker.reuse", "false")
        .config(
            "spark.python.daemon.module",
            "aws_seismic_data_pipeline_spark._worker_daemon",
        )
        # Workers import the engine from its checkout whatever the
        # JVM's cwd; Spark merges this with its own pyspark path.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
