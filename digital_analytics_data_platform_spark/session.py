"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same options apply
per executor. AQE is on so skewed shuffles re-plan at runtime; Arrow is
on so any pandas UDF moves data in columnar batches.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


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
    """Build the engine's session, or return the live one. A live
    session keeps its master, and ``getOrCreate`` rewrites its
    modifiable (SQL) confs in place, so that call logs a warning naming
    the ignored ``master`` and every conf whose value it changes."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        shuffle_partitions = max(cpus, 8)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Whole-stage-codegen methods for wide projections (many
        # defensive casts / derived columns over the same inputs) easily
        # exceed HotSpot's 8 KB HugeMethodLimit; the JVM then silently
        # REFUSES to JIT them and the fused stage runs interpreted —
        # measured 15× slower on the CDC generator's 9.5 KB method
        # (21.8s → 1.4s for an 8M-row filter at 8 cores). Applies at JVM
        # launch only, so it must be here, not per-query.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:-DontCompileHugeMethods"
        ),
        "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
        **(extra_conf or {}),
    }
    live = SparkSession.getActiveSession()
    if live is not None:
        _warn_live_session(live, master, conf)
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _warn_live_session(live: SparkSession, master: str, conf: dict[str, str]) -> None:
    ignored = master if master != live.sparkContext.master else None
    changed = {
        k: (live.conf.get(k, None), v)
        for k, v in conf.items()
        if live.conf.isModifiable(k) and live.conf.get(k, None) != v
    }
    if ignored or changed:
        _log.warning(
            "get_spark on a live %s session: master %s ignored; confs changed in place: %s",
            live.sparkContext.master,
            ignored or "(same)",
            ", ".join(f"{k} {old!r} -> {new!r}" for k, (old, new) in changed.items()) or "none",
        )
