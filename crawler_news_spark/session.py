"""SparkSession factory.

Local mode is a single JVM with N executor threads; on a real cluster the same
builder is used by spark-submit (master/memory come from the submit command).
Shuffle partitions default to the core count so tiny local runs aren't
over-parallelized; AQE re-plans at runtime for the big ones.  The local core
count defaults to the host's usable cores and the driver heap to half its RAM
(``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` override them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEM_MB = 48 * 1024


def driver_mem_default(mem_total_kb: int | None) -> str:
    """Default ``spark.driver.memory`` for a machine with ``mem_total_kb`` of
    RAM (``None``: unknown): half of it, capped at 48g.  A heap near the
    machine's RAM lets the kernel OOM-kill the JVM once Python workers and
    off-heap buffers add up."""
    if not mem_total_kb:
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(MAX_DRIVER_MEM_MB, mem_total_kb // 2048)}m"


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _cpu_count() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(
    app_name: str = "crawler_news_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _cpu_count())
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 2 * cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: vUDF rows expand to ~25KB pages; 10k-row
        # batches blow Python-worker memory (measured 350s vs 60s on a
        # 476k-article wave)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or driver_mem_default(_mem_total_kb()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
