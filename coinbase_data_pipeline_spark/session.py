"""SparkSession factory tuned for both local testing and cluster scale.

AQE handles runtime re-planning (partition coalescing, skew-join
splitting); Arrow makes the few pandas-based operators batch-efficient.

Join strategy is one session policy. The static planner broadcasts a
side only while its plan estimate is under Spark's 10 MB default:
estimates understate what gets built (q9's orders at the 100x probe:
45 MB estimated, ~240 MB built; exploded dedup gram relations by far
more), and AQE cannot undo a static broadcast. Every larger side is
planned as a shuffle join, and AQE re-broadcasts it only when its
exact runtime shuffle size is under 64 MB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STATIC_BROADCAST_BYTES = 10 * 1024 * 1024
ADAPTIVE_BROADCAST_BYTES = 64 * 1024 * 1024

# The runtime confs the engine's query semantics depend on. Applied
# when the session is built, re-applied to a live session, and
# re-applied by sources.tables.ensure_runtime_conf on every table load,
# because a caller may pass its own default-config session.
SEMANTIC_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
    # nanos type, so read as long and convert in the table registry
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # x/0 → NULL (classic Spark / DuckDB semantics), not an error
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def apply_confs(spark: SparkSession, confs: dict[str, str]) -> None:
    """Set each runtime conf on a live session, skipping any that is
    static or locked (the values set at build time then apply)."""
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def get_spark(app_name: str = "coinbase-data-pipeline-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Locally runs on ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master/conf come from spark-submit and these settings still apply.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(STATIC_BROADCAST_BYTES))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(ADAPTIVE_BROADCAST_BYTES))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=SEMANTIC_CONFS)
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        # can't rebuild a live session, but the runtime-settable confs
        # the engine's semantics depend on must still apply — silently
        # returning a default-config session would flip ANSI/timezone
        # behavior and the caller's shuffle sizing
        apply_confs(active, {
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold":
                str(STATIC_BROADCAST_BYTES),
            "spark.sql.adaptive.autoBroadcastJoinThreshold":
                str(ADAPTIVE_BROADCAST_BYTES),
            **SEMANTIC_CONFS,
        })
        return active
    return builder.master(f"local[{cpus}]").getOrCreate()
