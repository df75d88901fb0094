"""SparkSession factory with scale-oriented defaults.

The reference (Xivid/eth-dspa-2019) hand-tunes parallelism=4 and leans on
memcached for shared state (`project/social-network/.../util/Config.java:57`,
`project/README.md:7,16`). Here the equivalents are Spark-native: AQE for
runtime re-planning + skew handling, broadcast-hash joins for small dims, and
the state store for streaming state. These configs are chosen to be correct on
``local[N]`` test runs *and* sensible starting points on a 1000-executor
cluster (AQE coalescing makes the static shuffle-partition count a ceiling,
not a constant).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "eth-dspa-2019-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Defaults honour the driver harness env vars:
    ``SPARK_GRAFT_CPUS`` (local core count, default 32).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one partition per core is plenty at test SFs; AQE
        # coalesces below this. On a real cluster this would be set to
        # 2-3x total executor cores (or left to AQE with a high ceiling).
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Determinism across engines: all event-time math in UTC
        # (reference parses timestamps in GMT+0, SN/util/Activity.java:44-50).
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching — the scale story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for any pandas_udf / toPandas boundary (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small dims (region/nation/person_* tables) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: vectorized reader + pushdown are on by default;
        # keep partition file sizing explicit so plans are stable.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark has no type for;
        # read as raw int64 and convert (readers.load_table) by integer
        # division to micros — bit-identical to DuckDB's ns→us truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def broadcast_threshold(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (a size-suffixed
    value falls back to 10 MiB). Its readers are the one broadcast rule
    for loop frames (`io/materialize.py::broadcast_if_fits`, used by the
    reply→root chase and the forest walk) and the graph loops: both
    compare measured relation sizes to it, because checkpointed-RDD
    relations carry no statistics and Catalyst cannot make the broadcast
    choice itself (guide §3.1)."""
    try:
        return int(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        )
    except ValueError:
        return 10 * 1024 * 1024
