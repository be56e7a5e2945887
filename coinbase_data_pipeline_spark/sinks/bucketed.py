"""Bucketed-table sink: hash-bucketed, sort-ordered parquet tables
registered in the session catalog — the storage layout that makes the
engine's big per-key joins and windows SHUFFLE-FREE on re-read.

At 100 TB the candle/price/prediction tables are re-joined and
re-windowed on the same key (product_id, then time) every cycle; a
plain parquet layout pays a full Exchange per query. Writing them
``bucketBy(n, key).sortBy(key, ts)`` pins rows to buckets by the same
hash Spark's shuffle uses, so a sort-merge join between two tables
bucketed the same way — and any `Window.partitionBy(key)` — reads
co-located data and elides the Exchange entirely (the plan audit in
tests/test_plans.py asserts the join plan has zero shuffles).

This mirrors the reference's storage design choice: Cassandra tables
are partitioned by product and clustered by time
(cassandra/scripts/create_tables.cql) precisely so per-product time
scans never reshuffle; bucketed parquet is the Spark-native
equivalent for batch analytics.

Plain ``spark.read.parquet`` cannot carry bucket metadata — bucketed
tables must live in the session catalog (saveAsTable), so this sink
manages warehouse-backed tables rather than bare paths; read one back
with ``spark.table(name)``, which carries the bucket spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, *, buckets: int,
                   bucket_col: str, sort_cols: tuple[str, ...] = (),
                   mode: str = "overwrite") -> None:
    """Write `df` as a bucketed, optionally sort-ordered catalog
    table. `buckets` should be sized like shuffle partitions at the
    target scale (cores × 2-3 cluster-wide); all tables that join on
    `bucket_col` must use the SAME bucket count or the join falls
    back to a one-sided shuffle."""
    w = df.write.format("parquet").bucketBy(buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode(mode).saveAsTable(table)
