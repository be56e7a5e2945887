"""Table sinks mirroring the reference's Cassandra keyspace
(cassandra/scripts/create_tables.cql shapes): prices, candles,
predictions, predictions_by_horizon, model_metrics — each partitioned
by product (+model), primary-keyed as below, with Cassandra's
last-write-wins upsert semantics reproduced as a merge writer.

Local/plain-parquet implementation: a merge snapshots the table
(read current + new → window-dedupe on the primary key → staging dir
→ atomic swap). On a real cluster this exact logic is one
``MERGE INTO`` on a transactional table format (Delta/Iceberg); the
operator keeps the same signature so only the store swaps.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

# primary keys: partition key first, clustering keys after
# (cassandra/scripts — all clustered by time DESC per product/model)
TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "prices": ("product_id", "time"),
    "candles": ("product_id", "start_time"),
    "predictions": ("product_id", "model_name", "prediction_time",
                    "target_time"),
    "predictions_by_horizon": ("product_id", "model_name", "horizon",
                               "prediction_time"),
    "model_metrics": ("product_id", "model_name", "evaluated_at"),
}


def _path(root: str, table: str) -> str:
    if table not in TABLE_KEYS:
        raise KeyError(f"unknown table {table!r}; known: {sorted(TABLE_KEYS)}")
    return os.path.join(root, table)


def write_table(df: DataFrame, root: str, table: str, *,
                mode: str = "append") -> None:
    """Plain partitioned append (the streaming foreachBatch path,
    spark_processor.py:173-186)."""
    (df.write.partitionBy("product_id")
       .mode(mode).parquet(_path(root, table)))


def read_table(spark: SparkSession, root: str, table: str) -> DataFrame:
    return spark.read.parquet(_path(root, table))


def merge_upsert(spark: SparkSession, df: DataFrame, root: str,
                 table: str, *, current: DataFrame | None = None,
                 commit_marks: list[str] | None = None,
                 unique_keys: bool = False) -> None:
    """Cassandra-style upsert: new rows replace existing rows with the
    same primary key; everything else is preserved.

    Duplicate primary keys WITHIN one incoming batch: Cassandra's
    last-write-wins needs a write order, which a distributed frame
    does not carry implicitly, so intra-batch duplicates resolve
    arbitrarily (documented contract).

    `current`: pass the stored table if the caller already read it
    this cycle (the foreachBatch writer does — saves one store read
    per micro-batch); when omitted, the store is read here.

    `unique_keys=True`: the caller GUARANTEES `df` carries at most one
    row per primary key (e.g. it is the output of a groupBy on the
    keys). The merge then runs as a broadcast anti-join on the key set
    (current rows not replaced, unioned with the replacements) instead
    of a row_number window over the full union — no per-key sort, and
    the stored side never shuffles. Semantics are identical for
    key-unique input; intra-batch duplicates would BOTH survive, so
    the flag must not be combined with non-unique input.

    `commit_marks`: names to record under the table's `_applied/`
    metadata dir IN THE SAME directory swap that publishes the data —
    the foreachBatch writer passes its batch id here so data and
    applied-marker commit atomically (one rename); a crash anywhere
    before the swap leaves neither, a crash after leaves both, so a
    re-delivered batch id can never double-merge. Existing marks are
    carried forward into every new staging dir. Spark ignores the
    underscore-prefixed dir when reading the table."""
    keys = list(TABLE_KEYS[table])
    path = _path(root, table)
    if unique_keys:
        if os.path.exists(path):
            if current is None:
                current = spark.read.parquet(path)
            kept = current.join(F.broadcast(df.select(*keys).distinct()),
                                keys, "left_anti")
            merged = kept.unionByName(df)
        else:
            merged = df
    else:
        new = df.withColumn("_pri", F.lit(1))
        if os.path.exists(path):
            if current is None:
                current = spark.read.parquet(path)
            current = current.withColumn("_pri", F.lit(0))
            combined = current.unionByName(new)
        else:
            combined = new
        w = Window.partitionBy(*keys).orderBy(F.col("_pri").desc())
        merged = (combined.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn", "_pri"))

    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    # co-locate each product before the partitioned write: one file
    # per product instead of (tasks × products) shards — the store is
    # re-read every merge cycle, so file count is a recurring cost
    (merged.repartition("product_id")
     .write.partitionBy("product_id").mode("overwrite").parquet(staging))
    old_marks = os.path.join(path, "_applied")
    if commit_marks is not None or os.path.isdir(old_marks):
        mark_dir = os.path.join(staging, "_applied")
        os.makedirs(mark_dir, exist_ok=True)
        if os.path.isdir(old_marks):
            for m in os.listdir(old_marks):
                open(os.path.join(mark_dir, m), "w").close()
        for m in commit_marks or []:
            open(os.path.join(mark_dir, m), "w").close()
    if os.path.exists(path):
        # destructive step LAST (see sinks/archive.py compaction swap)
        trash = f"{path}.trash-{uuid.uuid4().hex[:8]}"
        os.rename(path, trash)
        os.rename(staging, path)
        shutil.rmtree(trash)
    else:
        os.rename(staging, path)
