"""SparkSession factory tuned for the frontier workload.

Local mode stands in for a multi-executor cluster in this sandbox; the same
configs (AQE, skew-join, Arrow) are what we would ship to a real cluster via
``spark-submit --py-files`` (see ``jobs/crawl_job.py``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# the most driver heap a session asks for by default
_MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_driver_memory() -> str:
    """Half the host's physical memory (``MemTotal``), at most 48g; 48g
    where /proc/meminfo cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{_MAX_DRIVER_MEMORY_MB}m"
    return f"{min(_MAX_DRIVER_MEMORY_MB, kb // 2048)}m"


def build_session(
    master: str = "local[*]",
    app_name: str = "bodhium_webscrapper_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        # match parallelism of the master, not the 200 default
        if master.startswith("local[") and master != "local[*]":
            try:
                shuffle_partitions = int(master[len("local[") : -1])
            except ValueError:
                shuffle_partitions = 32
        else:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # CPU-heavy UDF scans (html extraction) want MORE, SMALLER splits
        # than the 128m default: with ~#cores-sized splits the last task
        # round runs near-empty (measured: 19 splits on 16 cores = 2 task
        # rounds, scaling efficiency capped at ~0.6; 32m splits → 0.90)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
