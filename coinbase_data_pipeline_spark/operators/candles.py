"""Tick → candle (OHLCV) aggregation and candle-store queries.

Reference parity:
- candle build: Crypto-TS-Model-master/src/data_loader.py:77-88 (pandas
  ``resample`` with first/max/min/last/sum) and the Cassandra `candles`
  table (cassandra/scripts, candle schema in
  kafka_spark_processor/spark_processor.py:124-132).
- latest-N / time-range / availability queries:
  prediction_service/src/data_fetcher.py:31-44,200-229.

Spark-first: one ``groupBy(key, window(ts))`` — a single shuffle on the
grouping key with map-side partial aggregation; open/close via
``min_by``/``max_by`` so no per-group sort is needed. At 100 TB this is
the textbook partial-agg plan; no window functions, no skew risk beyond
key skew (AQE skew-join/partition split handles hot keys).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F


def candle_resample(ticks: DataFrame, *, key: str = "product_id",
                    ts: str = "time", price: str = "price",
                    volume: str | None = None,
                    freq: str = "5 minutes") -> DataFrame:
    """OHLC(V) candles per key per time bucket.

    Ties on ``ts`` within a bucket are broken deterministically is not
    needed for the reference's data (microsecond ticks); open/close are
    the price at min/max timestamp.
    """
    aggs = [
        F.min_by(price, ts).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, ts).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]
    if volume is not None:
        aggs.append(F.sum(volume).alias("volume"))
    out = (
        ticks.groupBy(F.col(key), F.window(ts, freq).alias("w"))
        .agg(*aggs)
        .withColumn("bucket_start", F.col("w.start"))
        .drop("w")
    )
    cols = [key, "bucket_start", "open", "high", "low", "close", "n_ticks"]
    if volume is not None:
        cols.append("volume")
    return out.select(*cols)


def latest_n_per_key(df: DataFrame, n: int, *, key: str = "product_id",
                     ts: str = "time",
                     tiebreak: str | None = None) -> DataFrame:
    """Most-recent N rows per key (data_fetcher.get_latest_candles_stmt).

    row_number over (key ORDER BY ts DESC): Spark plans this as a
    shuffle on key + per-partition topK (WindowGroupLimit pushes the
    limit below the sort in 3.5+), so it never materializes full
    per-key sorts at scale. `tiebreak` (descending) makes the picked
    rows deterministic when timestamps collide.
    """
    from pyspark.sql import Window

    order = [F.col(ts).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= n).drop("_rn"))


def candle_resample_salted(ticks: DataFrame, *, key: str = "product_id",
                           ts: str = "time", price: str = "price",
                           volume: str | None = None,
                           freq: str = "5 minutes",
                           salt_buckets: int = 8) -> DataFrame:
    """Skew-resistant candle build: two-level aggregation with a salt.

    A hot key (one product dominating the tick volume — the BTC-USD
    problem) makes the single-shuffle groupBy reduce onto one task.
    Salting splits each (key, bucket) group into `salt_buckets`
    partial groups aggregated independently, then merges partials —
    the hot key's work spreads over `salt_buckets` tasks and the merge
    input is tiny (one row per salt per candle). Output is IDENTICAL
    to :func:`candle_resample` (same oracle): min/max merge freely and
    open/close merge via each partial's min/max timestamp.
    """
    salt = F.pmod(F.xxhash64(F.col(ts)), F.lit(salt_buckets)).alias("_salt")
    partial_aggs = [
        F.min_by(price, ts).alias("p_open"),
        F.max(price).alias("p_high"),
        F.min(price).alias("p_low"),
        F.max_by(price, ts).alias("p_close"),
        F.min(ts).alias("t_min"),
        F.max(ts).alias("t_max"),
        F.count(F.lit(1)).alias("p_n"),
    ]
    if volume is not None:
        partial_aggs.append(F.sum(volume).alias("p_vol"))
    partial = (ticks
               .groupBy(F.col(key), F.window(ts, freq).alias("w"), salt)
               .agg(*partial_aggs))
    merge_aggs = [
        F.min_by("p_open", "t_min").alias("open"),
        F.max("p_high").alias("high"),
        F.min("p_low").alias("low"),
        F.max_by("p_close", "t_max").alias("close"),
        F.sum("p_n").alias("n_ticks"),
    ]
    if volume is not None:
        merge_aggs.append(F.sum("p_vol").alias("volume"))
    out = (partial.groupBy(key, "w").agg(*merge_aggs)
           .withColumn("bucket_start", F.col("w.start")).drop("w"))
    cols = [key, "bucket_start", "open", "high", "low", "close", "n_ticks"]
    if volume is not None:
        cols.append("volume")
    return out.select(*cols)


def candle_rollup(candles: DataFrame, *, key: str = "product_id",
                  bucket: str = "bucket_start",
                  freq: str = "1 hour") -> DataFrame:
    """Coarser candles from finer candles — the continuous-aggregate /
    hypertable-rollup pattern. OHLC re-aggregates hierarchically
    (open = open of earliest sub-candle, etc.), so the hourly/daily
    tiers read the already-tiny candle table, never the raw ticks:
    each rollup tier shrinks input by the bucket ratio."""
    out = (candles.groupBy(F.col(key), F.window(bucket, freq).alias("w"))
           .agg(F.min_by("open", bucket).alias("open"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.max_by("close", bucket).alias("close"),
                F.sum("n_ticks").alias("n_ticks"),
                F.sum("volume").alias("volume"))
           .withColumn("bucket_start", F.col("w.start"))
           .drop("w"))
    return out.select(key, "bucket_start", "open", "high", "low", "close",
                      "n_ticks", "volume")


def top_k_per_key(df: DataFrame, n: int, *, key: str = "product_id",
                  order_col: str = "price",
                  tiebreak: str | None = None) -> DataFrame:
    """Top-N rows per key by `order_col` (grouped top-k; one group =
    global top-k). Same WindowGroupLimit plan as latest_n_per_key:
    per-partition top-N before the shuffle, never a full sort."""
    from pyspark.sql import Window

    order = [F.col(order_col).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak))
    w = Window.partitionBy(key).orderBy(*order)
    return (df.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= n))


def time_range_fetch(df: DataFrame, *, key: str = "product_id",
                     ts: str = "time", key_value: str | None = None,
                     start=None, end=None) -> DataFrame:
    """Key + time-range scan (data_fetcher.get_candles_stmt).

    Pure filters → Catalyst pushes them into the parquet scan
    (PushedFilters), so only matching row groups are read. The bounds
    go in as one conjunctive filter, which pushes the same filters as
    chained ones.
    """
    conds = []
    if key_value is not None:
        conds.append(F.col(key) == key_value)
    if start is not None:
        conds.append(F.col(ts) >= start)
    if end is not None:
        conds.append(F.col(ts) <= end)
    return df.filter(reduce(operator.and_, conds)) if conds else df


def available_products(df: DataFrame, *, key: str = "product_id") -> DataFrame:
    """DISTINCT keys (data_fetcher.get_available_products)."""
    return df.select(key).distinct()


def data_availability(df: DataFrame, *, key: str = "product_id",
                      ts: str = "time") -> DataFrame:
    """Per-key earliest/latest/count (data_fetcher.get_data_availability)."""
    return df.groupBy(key).agg(
        F.min(ts).alias("earliest"),
        F.max(ts).alias("latest"),
        F.count(F.lit(1)).alias("row_count"),
    )


def candle_state(ticks: DataFrame, *, key: str = "product_id",
                 ts: str = "time", price: str = "price",
                 volume: str | None = None,
                 freq: str = "5 minutes") -> DataFrame:
    """MERGEABLE candle state: :func:`candle_resample` plus the
    first/last tick timestamps per bucket. Carrying (first_ts,
    last_ts) is what makes two partial states combinable — open/close
    of a merged bucket are the open of the earliest-starting and the
    close of the latest-ending partial — so a continuous aggregate
    can absorb late or out-of-order batches without rescanning ticks
    (the TimescaleDB continuous-aggregate / Kappa reprocessing
    pattern the reference approximates by clustering candles by time
    DESC per product)."""
    aggs = [
        F.min_by(price, ts).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max_by(price, ts).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
    ]
    if volume is not None:
        aggs.append(F.sum(volume).alias("volume"))
    out = (ticks.groupBy(F.col(key), F.window(ts, freq).alias("w"))
           .agg(*aggs)
           .withColumn("bucket_start", F.col("w.start"))
           .drop("w"))
    cols = [key, "bucket_start", "open", "high", "low", "close",
            "n_ticks", "first_ts", "last_ts"]
    if volume is not None:
        cols.append("volume")
    return out.select(*cols)


def candle_upsert(state: DataFrame, new_ticks: DataFrame, *,
                  key: str = "product_id", ts: str = "time",
                  price: str = "price", volume: str | None = None,
                  freq: str = "5 minutes") -> DataFrame:
    """Incremental continuous-aggregate maintenance: merge a batch of
    new (possibly late/out-of-order) ticks into existing
    :func:`candle_state`, recomputing ONLY the affected buckets.

    Plan: the new batch pre-aggregates to per-bucket partials (work
    scales with the BATCH, not the table), its distinct bucket keys
    split the state via broadcast semi/anti joins, and only touched
    buckets re-merge — untouched state passes through untouched. On a
    date-partitioned state table the anti-join side is further cut by
    partition pruning, so a steady-state 5-minute batch touches a
    handful of files no matter how large history grows. The merged
    result is BIT-IDENTICAL to a full recompute over the union of all
    ticks (the catalog oracle states exactly that equivalence);
    open/close merge via lexicographic (first_ts, open) /
    (last_ts, close) extremes — deterministic even if two partials
    start at the same tick timestamp."""
    delta = candle_state(new_ticks, key=key, ts=ts, price=price,
                         volume=volume, freq=freq)
    on = [key, "bucket_start"]
    affected = delta.select(*on).distinct()
    untouched = state.join(F.broadcast(affected), on, "left_anti")
    merged = candle_merge_partials(state, delta, key=key,
                                   volume=volume is not None)
    return untouched.unionByName(merged)


def candle_merge_partials(state: DataFrame, delta: DataFrame, *,
                          key: str = "product_id",
                          volume: bool = False) -> DataFrame:
    """Merge a batch of candle-state PARTIALS (:func:`candle_state`
    output) into existing state, returning replacement rows for the
    AFFECTED buckets only — the foreachBatch upsert body: work and
    output both scale with the batch, and the returned rows are
    exactly what a last-write-wins keyed store (sinks/tables.
    merge_upsert, or Cassandra in the reference —
    kafka_spark_processor/spark_processor.py:158-168) should absorb.
    Mergeability comes from the (first_ts, last_ts) carry in the
    state — see :func:`candle_state`."""
    on = [key, "bucket_start"]
    affected = delta.select(*on).distinct()
    touched = state.join(F.broadcast(affected), on, "left_semi")
    aggs = [
        F.min(F.struct("first_ts", "open")).getField("open").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max(F.struct("last_ts", "close")).getField("close").alias("close"),
        F.sum("n_ticks").alias("n_ticks"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    ]
    if volume:
        aggs.append(F.sum("volume").alias("volume"))
    return touched.unionByName(delta).groupBy(*on).agg(*aggs)


def candle_grid_fill(c: DataFrame, *, key: str = "product_id",
                     ts: str = "bucket_start",
                     freq: str = "5 minutes") -> DataFrame:
    """Dense-grid completion: pandas-``resample`` semantics for missing
    buckets (the reference's data_loader resamples to a fixed
    frequency, which CREATES rows for silent gaps: OHLC NaN → ffill,
    volume sum-of-empty → 0). Per key, every `freq` bucket between its
    first and last observed candle exists in the output; gap rows get
    volume 0 / n_ticks 0, OHLC forward-filled per column, and an
    is_gap flag.

    Scale: the grid explodes from one (t0, t1) row per key — narrow,
    no shuffle; the left join and the ffill window share the key
    partitioning, so the whole completion is one shuffle + one sort.
    """
    span = c.groupBy(key).agg(F.min(ts).alias("_t0"),
                              F.max(ts).alias("_t1"))
    grid = span.select(
        F.col(key),
        F.explode(F.sequence("_t0", "_t1",
                             F.expr(f"INTERVAL {freq}"))).alias(ts))
    joined = grid.join(c, [key, ts], "left")
    w = (Window.partitionBy(key).orderBy(ts)
         .rowsBetween(Window.unboundedPreceding, 0))
    out = joined.withColumn("is_gap", F.col("n_ticks").isNull())
    for col in ("open", "high", "low", "close"):
        out = out.withColumn(col, F.last(col, ignorenulls=True).over(w))
    return (out
            .withColumn("volume", F.coalesce("volume", F.lit(0.0)))
            .withColumn("n_ticks", F.coalesce("n_ticks", F.lit(0))))


def candle_patterns(c: DataFrame, *, key: str = "product_id",
                    ts: str = "bucket_start") -> DataFrame:
    """Candlestick pattern flags per candle: doji (|body| within 10%
    of range), hammer (lower shadow >= 2x body, upper shadow <= body,
    non-degenerate range), bull/bear engulfing vs the previous candle
    (opposite direction, current body contains previous body).

    OHLC comes from order-independent aggregates (arg_min/arg_max/
    min/max), so the raw doubles are bit-identical across engines and
    the boolean comparisons need no rounding; one lag window family,
    single shuffle.
    """
    wk = Window.partitionBy(key).orderBy(ts)
    body = F.col("close") - F.col("open")
    rng = F.col("high") - F.col("low")
    upper = F.col("high") - F.greatest("open", "close")
    lower = F.least("open", "close") - F.col("low")
    p_open, p_close = F.lag("open").over(wk), F.lag("close").over(wk)
    engulf_bull = ((body > 0) & (p_close < p_open)
                   & (F.col("open") <= p_close)
                   & (F.col("close") >= p_open))
    engulf_bear = ((body < 0) & (p_close > p_open)
                   & (F.col("open") >= p_close)
                   & (F.col("close") <= p_open))
    return c.select(
        F.col(key), F.col(ts),
        (F.round(body, 6) + F.lit(0.0)).alias("body"),
        (F.round(rng, 6) + F.lit(0.0)).alias("range"),
        (F.abs(body) <= 0.1 * rng).alias("is_doji"),
        ((rng > 0) & (lower >= 2 * F.abs(body))
         & (upper <= F.abs(body))).alias("is_hammer"),
        F.when(engulf_bull, F.lit("bull"))
         .when(engulf_bear, F.lit("bear")).alias("engulfing"))
