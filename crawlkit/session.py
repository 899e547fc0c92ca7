"""SparkSession builder with the engine's tuned defaults.

Scale posture (SURVEY.md §4): AQE on (skew-join splitting + partition
coalescing), Arrow on for every pandas-UDF stage, modest Arrow batch
size because page HTML is MB-scale, shuffle partitions sized for the
local sandbox (overridable; a real cluster sets this per deployment via
spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MB = 48 * 1024


def _default_driver_mem() -> str:
    """Half the machine's RAM (``MemTotal``), capped at 48g.

    In local mode the driver heap IS the executor heap; a heap sized
    past the machine's RAM lets the JVM die mid-job committing pages
    the OS cannot give it.  Falls back to the cap where
    ``/proc/meminfo`` is unreadable (non-Linux)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048
                    return f"{max(min(half_mb, MAX_DRIVER_MB), 1024)}m"
    except OSError:
        pass
    return f"{MAX_DRIVER_MB}m"


def get_spark(
    app_name: str = "crawlkit",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("CRAWLKIT_MASTER", "local[*]")
    shuffle = str(
        shuffle_partitions
        or os.environ.get("CRAWLKIT_SHUFFLE_PARTITIONS")
        or 32
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # HTML payloads are large; keep Arrow batches modest so a batch of
        # pages stays well under executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Smaller input splits: wide binary rows (html) mean a 128 MB
        # split holds few rows but hours of Python-kernel work; 32 MB
        # splits keep every core fed without an explicit repartition.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("CRAWLKIT_MAX_PARTITION_BYTES", "33554432"),
        )
        # local mode: the driver heap IS the executor heap — size it for
        # wide cached frames (html/cbor columns) at full task concurrency
        .config(
            "spark.driver.memory",
            os.environ.get("CRAWLKIT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # fetch_extract_write's per-task shard files require it off (it
        # also asserts); off is Spark's default — pinned here so a
        # cluster-side default flip can't silently corrupt rounds
        .config("spark.speculation", "false")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
