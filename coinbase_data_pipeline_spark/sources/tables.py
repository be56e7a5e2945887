"""Parquet table registry.

Mirrors the reference's storage catalog (Cassandra keyspace `coinbase`
tables + the S3 archive: /root/reference/cassandra/scripts, consumer.go)
as a flat parquet namespace. On a cluster these paths are object-store
URIs; locally they are the driver-generated testdata dirs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from .. import memo
from ..session import SEMANTIC_CONFS, apply_confs

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Apply session.SEMANTIC_CONFS (nanosAsLong, ANSI off, UTC), set
    defensively because callers may pass their own default-config
    session: testdata events.parquet stores TIMESTAMP(NANOS), which
    Spark 4 otherwise refuses to read, and the engine's documented
    division semantics are x/0 → NULL (DuckDB/classic Spark), not an
    error."""
    apply_confs(spark, SEMANTIC_CONFS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain parquet scan → Catalyst gets full pushdown.

    The inferred schema is memoized per table file (memo.py): a bare
    `spark.read.parquet(path)` re-reads the footer to infer it on every
    call (~150 ms warm, measured r13), and a catalog builder calls
    load_table 1-4 times. A rewrite at the same path re-infers."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_runtime_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = memo.cached(("schema", path), [path],
                         lambda: spark.read.parquet(path).schema)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # TIMESTAMP(NANOS) read as long (nanosAsLong): integer-divide to
        # microseconds — lossless for this data and bit-identical to
        # DuckDB's us-precision read. The raw long survives as
        # `ts_nanos` so time-range predicates can be expressed on the
        # scan column itself and reach parquet as PushedFilters (a
        # filter on the converted expression cannot push down).
        df = (df.withColumnRenamed("ts", "ts_nanos")
                .withColumn("ts", F.timestamp_micros(
                    F.expr("ts_nanos div 1000"))))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
