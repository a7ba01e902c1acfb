"""SparkSession factory.

Local-mode testing runs one JVM with N executor threads; on a real
cluster the same configs apply per-executor. Shuffle partitions are
sized to the core count (not the 200 default) and AQE is enabled so
skewed stages re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)


def get_spark(
    app_name: str = "gelly_streaming_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - UTC session timezone (oracle comparisons against DuckDB).
    - Arrow enabled (all stateful ops are Arrow-vectorized pandas).
    - AQE + skew-join handling on (north_rule: skew handled explicitly).
    - shuffle.partitions ~ cores for local mode; a real cluster would
      set this to ~2-3x total cores.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        # Partial-merge session windows within each input partition
        # BEFORE the shuffle into the state store (semantics-preserving;
        # the final merge still happens in the store). Measured on the
        # 58M-turn session-degree leg at 32 cores / RocksDB: 114.9 s ->
        # 80.4 s (BASELINE.md round 4) — transcript turns arrive many-
        # per-session-per-file, exactly the shape this pre-merge collapses.
        .config(
            "spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition",
            "true",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
