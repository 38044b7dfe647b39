"""SparkSession builder tuned for the KG-construction pipeline.

Scale posture (designed for 1000-executor / 100 TB, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting.
- Arrow on: every Python-side stage is a vectorized pandas UDF.
- shuffle.partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total executor cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else a quarter of physical memory and
    at least 1 GiB: a local-mode driver heap sized past the machine lets
    one long-lived JVM grow until the host kills it."""
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1024, mem_mb // 4)}m")


def get_spark(
    app_name: str = "graphlab_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the pipeline's standard confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-batch Python IPC overhead dominates at small batch sizes in
        # this sandbox (measured 9s → 0.6s on a 1M-row pandas UDF when
        # going 10k → 100k). 50k balances that against Arrow buffer size
        # for large binary (html) payloads.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Sandbox filesystems make shuffle-block I/O expensive; tmpfs
        # shuffle/spill dirs measured 2-3x faster. On a real cluster this
        # is local NVMe via spark.local.dir as usual.
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
