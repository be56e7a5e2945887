"""Partitioned raw archive sink — the Go consumer's S3 layout
(go_kafka_consumer/consumer.go: object key
``{dataType}/{productId}/{nanots}.json``) as a Spark partitioned
write: ``partitionBy(data_type, product_id)``.

Directory-partitioning IS the scale design: the archive is then
partition-pruned on (data_type, product_id) by every downstream scan,
exactly what the reference's key prefix buys on S3 — but with parquet
stats and column pruning on top. JSON output is kept for raw-parity
(consumer.go archives verbatim payloads); parquet is the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_archive_keys(df: DataFrame, *, data_type: str,
                      key: str = "product_id") -> DataFrame:
    """Tag rows with the archive partition columns."""
    out = df.withColumn("data_type", F.lit(data_type))
    if key != "product_id":
        out = out.withColumn("product_id", F.col(key))
    return out


def archive_write(df: DataFrame, base_path: str, *,
                  fmt: str = "parquet", mode: str = "append",
                  partition_cols: tuple[str, ...] = ("data_type",
                                                     "product_id")) -> None:
    """Append `df` to the archive under ``base_path`` partitioned by
    ``partition_cols``. Locally a directory tree; on a cluster the same
    call with an object-store URI."""
    (df.write.partitionBy(*partition_cols)
       .format(fmt).mode(mode).save(base_path))


def compact_partition(spark, base_path: str, *, data_type: str,
                      product_id: str, target_files: int = 1,
                      fmt: str = "parquet") -> int:
    """Small-files compaction for one archive partition: rewrite
    ``data_type=X/product_id=Y`` into `target_files` files.

    Streaming appends produce a file per micro-batch per partition; at
    scale the archive needs periodic compaction or scan planning
    drowns in file listings. Local implementation stages the rewrite
    and publishes it with the table store's directory swap
    (sinks/tables._publish, whose crash states sinks/tables.recover
    undoes first); returns the new file count. (On a transactional
    table format this is OPTIMIZE/rewrite_data_files.)
    """
    import os
    import uuid

    from .tables import _publish, recover

    part_dir = os.path.join(base_path, f"data_type={data_type}",
                            f"product_id={product_id}")
    recover(part_dir)
    df = spark.read.format(fmt).load(part_dir)
    staging = f"{part_dir}.staging-{uuid.uuid4().hex[:8]}"
    df.coalesce(target_files).write.format(fmt).mode("overwrite") \
        .save(staging)
    _publish(staging, part_dir)
    return len([f for f in os.listdir(part_dir)
                if not f.startswith(("_", "."))])


def archive_read(spark, base_path: str, *, fmt: str = "parquet",
                 data_type: str | None = None,
                 product_id: str | None = None) -> DataFrame:
    """Read back, with partition pruning when filters are given."""
    df = spark.read.format(fmt).load(base_path)
    if data_type is not None:
        df = df.filter(F.col("data_type") == data_type)
    if product_id is not None:
        df = df.filter(F.col("product_id") == product_id)
    return df


def zorder_write(df: DataFrame, path: str, x: str, y: str, *,
                 zbits: int = 10, files: int = 16,
                 mode: str = "overwrite") -> None:
    """OPTIMIZE ZORDER as a write path: cluster `df` into `files`
    parquet files by the Morton interleave of two integer bucket
    columns, so each file's parquet min/max column statistics form a
    tight box in BOTH dimensions and a reader's (x, y) predicate
    skips most files — what a date-only layout (archive_write) can
    never give the second dimension.

    ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` is exactly
    the shuffle OPTIMIZE ZORDER runs on a lakehouse table; the
    sample-based range boundaries are fine for a SINK (file layout
    doesn't need cross-engine determinism — the oracle-paired
    zorder_layout query is the deterministic audit of the same
    clustering). One extra column of shuffle weight, dropped before
    the write.
    """
    from ..operators.layout import _interleave

    z = _interleave(F.col(x).cast("long"), F.col(y).cast("long"),
                    zbits)
    (df.withColumn("__z", z)
       .repartitionByRange(files, F.col("__z"))
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.format("parquet").mode(mode).save(path))


def file_stats(path: str, cols: tuple[str, ...]) -> list[dict]:
    """Per-file min/max parquet statistics for `cols` — the metadata a
    scan planner prunes with (and what the zorder_write test asserts
    skipping against). Driver-side metadata read: footers only, never
    row data."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        stat: dict = {"file": name, "rows": md.num_rows}
        idx = {md.schema.column(i).name: i
               for i in range(md.num_columns)}
        for c in cols:
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[c]).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            stat[f"{c}_min"], stat[f"{c}_max"] = lo, hi
        out.append(stat)
    return out
