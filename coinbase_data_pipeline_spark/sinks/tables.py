"""Table sinks mirroring the reference's Cassandra keyspace
(cassandra/scripts/create_tables.cql shapes): prices, candles,
predictions, predictions_by_horizon, model_metrics — each partitioned
by product (+model), primary-keyed as below, with Cassandra's
last-write-wins upsert semantics reproduced as a merge writer.

Local/plain-parquet implementation: a merge is partition-scoped.
It runs the incoming frame once (an eager ``localCheckpoint``), reads
the ``product_id`` values it touches, merges only those partitions of
the stored table (read current + new → dedupe on the primary key) into
a staging dir, hard-links every untouched partition's files into the
same staging dir, and publishes it with the directory swap of
:func:`_publish`. A merge thus writes what it touches, not the table.
On a real cluster this exact logic is one ``MERGE INTO`` on a
transactional table format (Delta/Iceberg); the operator keeps the
same signature so only the store swaps.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)

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


def recover(target: str) -> None:
    """Undo what an interrupted :func:`_publish` left next to
    `target`. A crash between its two renames leaves no `target` but a
    ``target.trash-*``: that is the last published state, so it is
    renamed back (a rollback — the interrupted merge's batch marker
    was never published, so a re-delivery applies it again). Every
    other ``.staging-*`` or ``.trash-*`` sibling is a leftover and is
    removed. A writer calls this before it looks at `target`."""
    parent, name = os.path.split(target)
    if not os.path.isdir(parent):
        return
    siblings = os.listdir(parent)
    trash = [os.path.join(parent, n) for n in siblings
             if n.startswith(f"{name}.trash-")]
    stale = trash + [os.path.join(parent, n) for n in siblings
                     if n.startswith(f"{name}.staging-")]
    if trash and not os.path.exists(target):
        last = max(trash, key=lambda p: os.stat(p).st_ctime)
        os.rename(last, target)
        stale.remove(last)
    for p in stale:
        shutil.rmtree(p)


def _publish(staging: str, target: str) -> None:
    """Replace `target` by the complete dir `staging`. Two renames:
    `target` → ``target.trash-*``, then `staging` → `target`; the old
    state is deleted only after both. A crash before the first rename
    leaves a stale staging dir, one between them leaves only the
    trash, one after them leaves a stale trash: :func:`recover` turns
    each back into one published state."""
    if os.path.exists(target):
        trash = f"{target}.trash-{uuid.uuid4().hex[:8]}"
        os.rename(target, trash)
        os.rename(staging, target)
        shutil.rmtree(trash)
    else:
        os.rename(staging, target)


def _in_partitions(values: list) -> Column:
    """Null-safe ``product_id IN values``: a null partition value
    (Spark's ``__HIVE_DEFAULT_PARTITION__``) must match a null one."""
    col = F.col("product_id")
    cond = col.isin([v for v in values if v is not None])
    return cond | col.isNull() if None in values else cond


def merge_upsert(spark: SparkSession, df: DataFrame, root: str,
                 table: str, *, current: DataFrame | None = None,
                 commit_marks: list[str] | None = None,
                 unique_keys: bool = False) -> None:
    """Cassandra-style upsert: new rows replace existing rows with the
    same primary key; everything else is preserved.

    Partition-scoped: `df` runs once, materialized by an eager
    ``localCheckpoint`` that every later step reads (the distinct
    ``product_id`` values it touches, the key set, the union), and
    released after the publish. Only the stored rows of the touched
    ``product_id`` partitions are read and merged, and only those
    partitions are written; the files of every other partition are
    hard-linked into the staging dir unchanged. ``product_id`` leads
    every key in TABLE_KEYS, so no key spans two partitions. The
    untouched partitions are matched on the directory names Spark
    wrote, so its path escaping is never re-derived. Hard links need
    staging and table on one filesystem: staging is a sibling dir, and
    a link error propagates. A first write (no table yet) writes `df`.

    Duplicate primary keys WITHIN one incoming batch: Cassandra's
    last-write-wins needs a write order, which a distributed frame
    does not carry implicitly, so intra-batch duplicates resolve
    arbitrarily (documented contract).

    `current`: pass the stored table if the caller already read it
    this cycle (the foreachBatch writer does — saves one store read
    per micro-batch); when omitted, the store is read here. Either
    way it is restricted to the touched partitions.

    `unique_keys=True`: the caller GUARANTEES `df` carries at most one
    row per primary key (e.g. it is the output of a groupBy on the
    keys). The merge then runs as a broadcast anti-join on the key set
    (current rows not replaced, unioned with the replacements) instead
    of a row_number window over the union — no per-key sort, and the
    stored side never shuffles. Semantics are identical for key-unique
    input; intra-batch duplicates would BOTH survive, so the flag must
    not be combined with non-unique input.

    `commit_marks`: names to record under the table's `_applied/`
    metadata dir IN THE SAME publish that swaps in the data — the
    foreachBatch writer passes its batch id here so data and
    applied-marker commit together; see :func:`_publish` and
    :func:`recover` for the crash states and how each is undone, so a
    re-delivered batch id can never double-merge. Existing marks are
    carried forward into every new staging dir. Spark ignores the
    underscore-prefixed dir when reading the table."""
    keys = list(TABLE_KEYS[table])
    path = _path(root, table)
    recover(path)
    exists = os.path.exists(path)
    if exists:
        df = df.localCheckpoint(eager=True)
        touched = [r[0] for r in df.select("product_id").distinct()
                   .collect()]
        if current is None:
            current = spark.read.parquet(path)
        current = current.filter(_in_partitions(touched))
    if unique_keys:
        merged = df
        if exists:
            kept = current.join(
                F.broadcast(df.select(*keys).distinct()), keys,
                "left_anti")
            merged = kept.unionByName(df)
    else:
        combined = df.withColumn("_pri", F.lit(1))
        if exists:
            combined = (current.withColumn("_pri", F.lit(0))
                        .unionByName(combined))
        w = Window.partitionBy(*keys).orderBy(F.col("_pri").desc())
        merged = (combined.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn", "_pri"))

    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    # co-locate each product before the partitioned write: one file
    # per touched product instead of (tasks × products) shards
    (merged.repartition("product_id")
     .write.partitionBy("product_id").mode("overwrite")
     .parquet(staging))
    if exists:
        # the untouched partitions: hard links, .crc siblings included
        for name in os.listdir(path):
            src, dst = os.path.join(path, name), os.path.join(staging, name)
            if name.startswith("product_id=") and not os.path.exists(dst):
                os.makedirs(dst)
                for f in os.listdir(src):
                    os.link(os.path.join(src, f), os.path.join(dst, f))
    old_marks = os.path.join(path, "_applied")
    if commit_marks is not None or os.path.isdir(old_marks):
        mark_dir = os.path.join(staging, "_applied")
        os.makedirs(mark_dir, exist_ok=True)
        if os.path.isdir(old_marks):
            for m in os.listdir(old_marks):
                open(os.path.join(mark_dir, m), "w").close()
        for m in commit_marks or []:
            open(os.path.join(mark_dir, m), "w").close()
    _publish(staging, path)
    if exists:
        # the checkpoint's blocks would otherwise wait for a JVM GC
        df._jdf.queryExecution().logical().rdd().unpersist(False)
