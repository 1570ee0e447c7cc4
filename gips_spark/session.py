"""SparkSession factory for the engine.

Defaults are chosen for the engine's execution model (SURVEY.md §4):
Arrow on (every custom kernel is a vectorized pandas UDF), AQE on
(runtime broadcast/skew re-planning), shuffle partitions sized to the
local core count rather than the 200 default.  On a real cluster the
same code runs under ``spark-submit --py-files`` (see jobs/run_stage.py)
and these conf keys are supplied by the submitter instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Big Arrow batches keep the numpy kernels amortized; ~64k rows/batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    # Parquet writes must be deterministic for golden/byte-stable tests.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(
    app_name: str = "gips_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in-sandbox; on a cluster pass ``None`` and let spark-submit decide.
    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` when set, else about
    half of physical RAM.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or _parallelism_of(master, cpus)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    builder = builder.config("spark.default.parallelism", str(n_shuffle))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_mem() -> str:
    """About half of physical RAM (MemTotal in /proc/meminfo), so the
    JVM heap plus Python workers fit on a host without swap; 16g where
    /proc/meminfo is unavailable."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inside = master[len("local[") : -1]
        if inside == "*":
            return os.cpu_count() or default
        try:
            return int(inside)
        except ValueError:
            return default
    return default
