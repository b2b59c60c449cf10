"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same options apply
per executor. AQE is on so skewed shuffles re-plan at runtime; Arrow is
on so any pandas UDF moves data in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, at most 32g: a fixed 32g heap lets one
    local JVM grow past what a small host (or one shared with other
    workloads) can give it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(32 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "dadp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Whole-stage-codegen methods for wide projections (many
        # defensive casts / derived columns over the same inputs) easily
        # exceed HotSpot's 8 KB HugeMethodLimit; the JVM then silently
        # REFUSES to JIT them and the fused stage runs interpreted —
        # measured 15× slower on the CDC generator's 9.5 KB method
        # (21.8s → 1.4s for an 8M-row filter at 8 cores). Applies at JVM
        # launch only, so it must be here, not per-query.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:-DontCompileHugeMethods"),
        )
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
