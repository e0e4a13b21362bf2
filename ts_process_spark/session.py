"""Spark session factory.

One place to pin every config the engine depends on:

- AQE on (runtime coalesce + skew-join splitting) — the engine's answer to
  hot-conversation skew at 10^12-turn scale, together with explicit salting
  in ``operators.rollup`` (the reference has no parallelism at all; see
  /root/reference/ts_process/process_timeseries.py — single thread).
- Arrow execution on — every heavy kernel is a pandas/Arrow UDF
  (grouped-map ``applyInPandas`` / ``mapInPandas``); zero per-row Python.
- UTC session timezone — deterministic bucket boundaries and a stable
  comparison surface against the DuckDB oracle (UTC-naive timestamps).
- shuffle partitions sized to cores for local mode; on a real cluster this
  is overridden by ``--conf`` at submit time (AQE coalesces the rest).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ts_process_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[$SPARK_GRAFT_CPUS]`` (default 32).  The bench
    harness calls this twice, at ``cores=8`` and ``cores=32``, to evidence
    the two-cluster-size scaling rule on a single box.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: all "executors" share the driver JVM; keep result
        # collection bounded anyway.
        .config("spark.driver.maxResultSize", "4g")
    )
    # shuffle/spill to tmpfs when available: local mode has one disk and
    # shuffle-file I/O was the measured scaling bottleneck on this box
    # (on a real cluster each executor has its own local dirs)
    shm = "/dev/shm/spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
