"""Catalog part 5: Structured Streaming, oracle-checked.

`streaming_candles` replays the tick stream through the REAL streaming
engine — JSON-lines files → readStream → typed ticker parse → windowed
OHLC aggregation → memory sink — and the oracle asserts the result
equals the batch candle aggregation in SQL. Streaming-vs-batch
equivalence is the strongest check Structured Streaming admits.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import memo
from ..operators import textstats as TS
from ..streaming.pipelines import (run_file_candle_pipeline,
                                   run_file_corpus_pipeline,
                                   run_file_dedup_pipeline)
from .catalog import SQL_BASE, _round, ticks
from .catalog_ext import SQL_QUALITY, SQL_TOKEN_COUNT, _sql_lang_id

_TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".tmp")

# Micro-batch count for the stateful replay queries (sessionize/kmv).
# 2 halves keeps the TIMED bench path's fixed replay cost low (each
# extra micro-batch is a full trigger cycle); the pytest path re-runs
# the same queries at 4 buckets
# (tests/test_streaming_sinks.py::test_sessionize_replay_four_buckets).
REPLAY_BUCKETS = 2

# Optional NON-UNIFORM slice boundaries for the replay layout: a
# sorted list of REPLAY_BUCKETS-1 fractions in (0, 1) of the stream's
# time span. None (the bench/driver path) keeps the equal-width
# slices. The streaming fuzz axis (tests/test_streaming_fuzz.py) sets
# this to seeded random cut points so micro-batch BOUNDARIES — not
# just the data — get permuted: the r08 chunk-accumulation bug
# (streaming/pipelines.py cross-chunk sort) is the class this axis
# catches mechanically.
REPLAY_CUTS: list[float] | None = None

# Sentinel user whose PLANTED sessions straddle every micro-batch
# boundary (see _time_buckets straddle_user). Measurement that forced
# this (r07): at sf0.001 the natural sessions are seconds-to-minutes
# long against month-long replay slices — ZERO of 946 cross ANY
# boundary, so "sessions spanning a batch boundary live in the keyed
# state" was vacuously true at every bucket count. The straddler makes
# the cross-batch fold non-vacuous BY CONSTRUCTION at any scale; it is
# filtered from every query result, so the natural-data oracles are
# untouched.
STRADDLER_UID = -2

def _cached_replay_dir(tag: str, sf_dir: str,
                       build: Callable[[str], None]) -> str:
    """The replay INPUT layout for `tag` over `sf_dir`, built once per
    source fingerprint (memo.py). The replay dir is the simulated Kafka
    topic — input to the streaming computation, not part of it — so
    bench repetitions and parity sweeps reuse one materialized layout
    instead of re-synthesizing the wire files every run (measured at
    sf0.1: the dir write is ≈1.0s of streaming_late_candles' ≈3.2s
    warm run — VERDICT r07 #6). Reuse preserves file mtimes, which is
    exactly the order FileStreamSource replays by; each run still
    streams through a fresh query + temp checkpoint. Tables
    regenerated under the same path (the fuzz harness) get fresh wire
    files, and the layout globals key it too, so a fuzz run that
    permutes the slice boundaries never reuses a uniform-slice layout.
    An evicted dir is deleted from disk."""
    def make() -> str:
        d = os.path.join(_TMP_ROOT, f"{tag}-{uuid.uuid4().hex[:8]}")
        try:
            build(d)
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise
        return d

    params = ("replay", tag, os.path.abspath(sf_dir), REPLAY_BUCKETS,
              tuple(REPLAY_CUTS) if REPLAY_CUTS is not None else None)
    return memo.cached(params, [sf_dir], make,
                       lambda d: shutil.rmtree(d, ignore_errors=True))


def _time_buckets(ev: DataFrame, ts_col: str, n: int, *,
                  straddle_user: str | None = None,
                  cuts: list[float] | None = None) -> DataFrame:
    """Assign each row its replay micro-batch: n TIME slices of
    [min ts, max ts] — one broadcast min/max aggregate, never a global
    sort. Shared by every stateful replay query so the pytest path can
    exercise more batch boundaries than the bench path.

    With `cuts` (sorted n-1 span fractions in (0, 1)), the slice
    boundaries sit at t0 + c·(t1−t0) instead of equal widths — the
    seeded permutation axis: same rows, same contracts, arbitrary
    micro-batch membership (bucket = #cuts at or below the row).

    With `straddle_user` (a LONG user-id column name), the output also
    carries STRADDLER_UID rows planted ±5 minutes around every
    interior boundary — one two-event session per boundary, split
    across the adjacent micro-batches (gap 10 min ≪ the 30-min session
    gap), plus one closer event near end-of-stream so the last
    straddle session is closed, not an unemittable tail. In this mode
    the result is projected to (straddle_user, ts_col, bucket)."""
    from ..functions.timeutil import epoch_seconds

    if cuts is not None:
        # fail loudly at build time (ADVICE r09): an out-of-range or
        # non-increasing cut would silently plant straddler rows
        # outside the stream span / inconsistent with real rows'
        # time-derived buckets instead of erroring
        if len(cuts) != n - 1:
            raise ValueError(f"cuts must hold n-1={n - 1} fractions, "
                             f"got {len(cuts)}")
        if not all(0.0 < c < 1.0 for c in cuts):
            raise ValueError(f"cuts must lie strictly inside (0, 1): "
                             f"{cuts}")
        if any(b <= a for a, b in zip(cuts, cuts[1:])):
            raise ValueError(f"cuts must be strictly increasing: {cuts}")
    bounds = ev.agg(
        epoch_seconds(F.min(ts_col)).alias("t0"),
        (epoch_seconds(F.max(ts_col)) + 1.0).alias("t1"))
    span = F.col("t1") - F.col("t0")
    elapsed = epoch_seconds(F.col(ts_col)) - F.col("t0")
    if cuts is None:
        bucket = F.floor(n * elapsed / span)
    else:
        bucket = F.lit(0).cast("long")
        for c in cuts:
            bucket = bucket + (elapsed >= F.lit(float(c)) * span) \
                .cast("long")
    out = (ev.crossJoin(F.broadcast(bounds))
           .withColumn("bucket", bucket)
           .drop("t0", "t1"))
    if straddle_user is None:
        return out
    if cuts is None:
        width = (F.col("t1") - F.col("t0")) / n
        boundary = (bounds
                    .select(F.explode(F.sequence(F.lit(1),
                                                 F.lit(n - 1)))
                            .alias("i"), "t0", "t1")
                    .withColumn("tb",
                                F.col("t0") + F.col("i") * width))
    else:
        boundary = (bounds
                    .select(F.posexplode(F.array(
                        *[F.lit(float(c)) for c in cuts]))
                        .alias("j", "c"), "t0", "t1")
                    .withColumn("i", (F.col("j") + 1).cast("int"))
                    .withColumn("tb", F.col("t0") + F.col("c")
                                * (F.col("t1") - F.col("t0"))))
    strad = boundary.select(F.explode(F.array(
        F.struct((F.col("tb") - 300.0).alias("sec"),
                 (F.col("i") - 1).cast("long").alias("bucket")),
        F.struct((F.col("tb") + 300.0).alias("sec"),
                 F.col("i").cast("long").alias("bucket")))).alias("e"))
    closer = bounds.select(F.struct(
        (F.col("t1") - 1.0).alias("sec"),
        F.lit(n - 1).cast("long").alias("bucket")).alias("e"))
    planted = (strad.unionByName(closer)
               .select(F.lit(STRADDLER_UID).cast("long")
                       .alias(straddle_user),
                       F.timestamp_seconds(F.col("e.sec"))
                       .alias(ts_col),
                       F.col("e.bucket").alias("bucket")))
    return (out.select(straddle_user, ts_col, "bucket")
            .unionByName(planted))


def _write_ordered_buckets(df: DataFrame, bucket_col: str,
                           replay_dir: str, n_buckets: int) -> None:
    """Write every replay bucket in ONE Spark job (partitionBy on the
    bucket column — the old per-bucket filter+write loop re-scanned
    the source once per bucket), then move the files into the flat
    replay dir with strictly increasing per-bucket mtimes so
    FileStreamSource replays them in bucket order. repartition(n,
    bucket) puts each bucket's rows in one task, so partitionBy emits
    exactly one file per bucket — one file == one micro-batch at
    maxFilesPerTrigger=1."""
    import time as _time

    staging = f"{replay_dir}.staging"
    (df.repartition(n_buckets, F.col(bucket_col))
       .write.partitionBy(bucket_col).mode("overwrite").parquet(staging))
    os.makedirs(replay_dir, exist_ok=True)
    t = _time.time()
    for b in range(n_buckets):
        sub = os.path.join(staging, f"{bucket_col}={b}")
        if not os.path.isdir(sub):
            continue
        for i, f in enumerate(sorted(os.listdir(sub))):
            if f.endswith(".parquet"):
                dst = os.path.join(replay_dir, f"b{b}-{i}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (t + b, t + b))
    shutil.rmtree(staging)


def _stamp_new_files(replay_dir: str, stamped: set[str], step: int,
                     suffix: str) -> None:
    """Give every not-yet-stamped data file in `replay_dir` an
    explicitly increasing mtime (now + step). FileStreamSource replays
    files in mtime order; two writes landing in the same filesystem
    tick could otherwise replay out of order, and a watermarked query
    would drop the earlier write's rows as late."""
    import time as _time

    t = _time.time()
    for f in os.listdir(replay_dir):
        p = os.path.join(replay_dir, f)
        if f.endswith(suffix) and p not in stamped:
            os.utime(p, (t + step, t + step))
            stamped.add(p)


def ticker_wire_json(t: DataFrame) -> DataFrame:
    """Tick rows → Advanced-Trade ticker JSON payloads (the producer's
    wire format, coinbase_kafka_producer/producer.py)."""
    return t.select(F.to_json(F.struct(
        F.lit("ticker").alias("type"),
        F.col("product_id"),
        F.col("price").cast("string").alias("price"),
        F.date_format("time", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("time"),
    )).alias("value"))


def q_streaming_candles(spark, sf_dir):
    replay_dir = _cached_replay_dir(
        "replay", sf_dir,
        lambda d: ticker_wire_json(ticks(spark, sf_dir))
        .write.mode("overwrite").text(d))
    out = run_file_candle_pipeline(spark, replay_dir)
    return _round(out, ["open", "high", "low", "close"])


SQL_STREAMING_CANDLES = SQL_BASE + """
SELECT product_id, bucket_start,
       ROUND(open, 6) + 0 AS open, ROUND(high, 6) + 0 AS high,
       ROUND(low, 6) + 0 AS low, ROUND(close, 6) + 0 AS close, n_ticks
FROM candles
"""


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup, oracle-checked by streaming-vs-batch
    equivalence: every tick is replayed TWICE (duplicates injected on
    purpose, split across micro-batches by maxFilesPerTrigger) and
    the keyed dropDuplicates state must emit each event_id exactly
    once — the result equals the plain batch tick relation. Prices
    round-trip the JSON wire as strings (Spark double→string→double
    is lossless shortest-repr)."""
    def _build(d):
        t = ticks(spark, sf_dir).select(
            "event_id", "product_id",
            F.col("price").cast("string").alias("price"))
        t.unionAll(t).write.mode("overwrite").json(d)

    replay_dir = _cached_replay_dir("dedup", sf_dir, _build)
    out = run_file_dedup_pipeline(
        spark, replay_dir,
        schema="event_id long, product_id string, price string",
        key_cols=["event_id"])
    return out.select(
        "event_id", "product_id",
        (F.round(F.col("price").cast("double"), 6) + F.lit(0.0))
        .alias("price"))


SQL_STREAMING_DEDUP = SQL_BASE + """
SELECT event_id, product_id, ROUND(price, 6) + 0 AS price FROM ticks
"""


def q_streaming_late_candles(spark, sf_dir):
    """Cross-batch LATE-DATA equivalence: on-time ticks stream in the
    FIRST micro-batch (16 files at maxFilesPerTrigger=16), then the
    late stragglers (event_id % 23 == 0 — the same split the batch
    candle_upsert query uses) land in a strictly later batch, forcing
    the streaming aggregation to UPDATE windows it already emitted.
    With no watermark nothing may drop, so the final state must equal
    the batch recompute over all ticks — the streaming twin of
    candle_upsert's incremental-equals-batch contract. (The late→
    on-time cross-batch update is the load-bearing boundary; a third
    on-time-only batch bought no extra coverage at a full trigger
    cycle of fixed cost per replay — see the r12 replay profile.)"""
    def _build(d):
        t = ticks(spark, sf_dir)
        on_time = ticker_wire_json(t.filter(F.col("event_id") % 23 != 0))
        late = ticker_wire_json(t.filter(F.col("event_id") % 23 == 0))
        # two writes → later modification times for the late files:
        # FileStreamSource processes oldest-first, so the stragglers
        # arrive after every on-time batch (mtime order survives
        # cache reuse)
        on_time.repartition(16).write.mode("overwrite").text(d)
        late.coalesce(1).write.mode("append").text(d)

    replay_dir = _cached_replay_dir("late", sf_dir, _build)
    out = run_file_candle_pipeline(spark, replay_dir)
    return _round(out, ["open", "high", "low", "close"])


def q_streaming_corpus_scores(spark, sf_dir):
    """Streaming corpus ingest: documents replayed as JSON-lines
    across micro-batches; every arriving doc is scored IN-STREAM —
    language id, blended quality, token counts — with pure per-row
    expressions (append mode, no state, no shuffle), the scoring pass
    a training-data pipeline runs the moment documents land. The
    expressions are the SAME Column builders the batch operators use
    (operators/textstats.py), so stream == batch by construction and
    the batch SQL is the oracle."""
    from ..sources.tables import load_table

    replay_dir = _cached_replay_dir(
        "corpus", sf_dir,
        # many files → several micro-batches at maxFilesPerTrigger=16
        lambda d: load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(32).write.mode("overwrite").json(d))
    def scorer(stream):
        qc = TS.quality_columns("text")
        ws, bpe = TS.token_count_cols("text")
        return stream.select(
            "doc_id",
            TS.lang_pred("text").alias("pred_lang"),
            (F.round(qc["quality"], 6) + F.lit(0.0))
            .alias("quality"),
            ws.cast("long").alias("ws_tokens"),
            bpe.cast("long").alias("bpe_tokens"))

    return run_file_corpus_pipeline(spark, replay_dir, scorer)


SQL_STREAMING_CORPUS = f"""
SELECT l.doc_id, l.pred_lang, q.quality, t.ws_tokens, t.bpe_tokens
FROM ({_sql_lang_id().strip()}) l
JOIN ({SQL_QUALITY.strip()}) q USING (doc_id)
JOIN ({SQL_TOKEN_COUNT.strip()}) t USING (doc_id)
"""


def q_streaming_classifier_scores(spark, sf_dir):
    """In-stream MODEL INFERENCE via a stream-static join: the
    logistic-regression quality classifier trains in BATCH
    (catalog_corpus.quality_classifier — the offline step), its
    weight vector packs into one map row, and every streaming
    document is scored row-locally against it (append mode, no
    stream-side state; the static side re-broadcasts per
    micro-batch) — the serve-while-ingesting pattern of the
    reference's prediction service, on the corpus path.

    Determinism: the row-local dot product folds the doc's SORTED
    bucket array (per-occurrence terms, ascending bucket — equal
    buckets add identical doubles, so within-tie order can't matter),
    divides by the token count and adds the bias; the oracle
    replicates that exact fold with an ordered list_sum over the same
    trained weights. Sigmoid rounds to 6dp (the libm rule)."""
    from ..functions.text import hash60, tokens as tok_fn
    from ..operators.textstats import quality_classifier
    from ..sources.tables import load_table
    from .catalog_corpus import QCLS_BUCKETS, QCLS_ITERS, QCLS_LR, QCLS_SHARDS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Train-once, serve-many (the reference's offline checkpoint →
    # serving loop): the fitted weight vector is memoized per corpus
    # fingerprint and hyperparams — retraining the logistic model on
    # every serve run was ~3.5 s of the 4.7 s bench wall, and the lazy
    # static plan would even re-run training per MICRO-BATCH
    # (stream-static joins re-execute the static side each trigger).
    # The collect is legitimate driver-side state: the model is
    # QCLS_BUCKETS+1 rows by construction (checkpoint-sized, not
    # data-sized), exactly what the reference serializes to disk.
    def train() -> list:
        weights, _ = quality_classifier(
            load_table(spark, sf_dir, "documents"), buckets=QCLS_BUCKETS,
            iterations=QCLS_ITERS, lr=QCLS_LR, shards=QCLS_SHARDS)
        return [(int(r["bucket"]), float(r["weight"]))
                for r in weights.collect()]

    wrows = memo.cached(
        ("qcls-weights", os.path.abspath(sf_dir),
         QCLS_BUCKETS, QCLS_ITERS, QCLS_LR, QCLS_SHARDS), [sf_dir], train)
    wdf = spark.createDataFrame(wrows, "bucket long, weight double")
    packed = (wdf.groupBy()
              .agg(F.map_from_entries(
                  F.collect_list(F.struct("bucket", "weight")))
                  .alias("wm"))
              .withColumn("_k", F.lit(1)))

    replay_dir = _cached_replay_dir(
        "clsf", sf_dir,
        lambda d: docs.repartition(32).write.mode("overwrite").json(d))
    def scorer(stream):
        s = stream.withColumn("_k", F.lit(1)).join(packed, "_k")
        buckets = F.array_sort(F.transform(
            tok_fn(F.col("text")),
            lambda t: hash60(t, "qcls") % QCLS_BUCKETS))
        ssum = F.aggregate(
            buckets, F.lit(0.0),
            lambda acc, b: acc + F.coalesce(
                F.element_at(F.col("wm"), b), F.lit(0.0)))
        n = F.size(buckets)
        z = (F.element_at(F.col("wm"), F.lit(-1).cast("long"))
             + F.when(n > 0, ssum / n).otherwise(F.lit(0.0)))
        p = (F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
             + F.lit(0.0))
        return s.select("doc_id", p.alias("p"),
                        (p >= 0.5).alias("predicted"))

    return run_file_corpus_pipeline(spark, replay_dir, scorer)


def _sql_streaming_classifier() -> str:
    from ..functions.text import sql_hash60
    from .catalog_corpus import QCLS_BUCKETS, QCLS_ITERS, _sql_qcls_chain
    from .catalog_ext import SQL_TOKS_ALL
    wN = f"w{QCLS_ITERS}"
    return _sql_qcls_chain() + f"""
, occ AS (
  SELECT doc_id, {sql_hash60('tok', 'qcls')} % {QCLS_BUCKETS} AS bucket
  FROM (SELECT doc_id, unnest({SQL_TOKS_ALL}) AS tok FROM documents)
), ns AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY doc_id
), ssum AS (
  SELECT o.doc_id, list_sum(list(w.w ORDER BY o.bucket)) AS s
  FROM occ o JOIN {wN} w ON w.bucket = o.bucket GROUP BY o.doc_id
), zf AS (
  SELECT d.doc_id,
         (SELECT w FROM {wN} WHERE bucket = -1)
           + CASE WHEN coalesce(ns.n, 0) > 0
                  THEN coalesce(ssum.s, 0.0) / ns.n ELSE 0.0 END AS z
  FROM documents d
  LEFT JOIN ns USING (doc_id) LEFT JOIN ssum USING (doc_id)
)
SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) + 0 AS p,
       (round(1.0 / (1.0 + exp(-z)), 6) + 0) >= 0.5 AS predicted
FROM zf
"""


def _run_sessionize_replay(spark, sf_dir, *, n_buckets: int | None = None,
                           watermark: str | None = None):
    """Shared replay harness for both sessionize queries: write the
    time-bucketed events (PLUS the planted boundary straddler — see
    STRADDLER_UID) as ordered micro-batch files, stream them through
    streaming_sessionize, return the RAW memory-sink table (straddler
    and sentinel rows included — callers filter). The pytest path
    calls this directly at 4 buckets and asserts the straddler's
    cross-batch folds; the catalog queries call it at REPLAY_BUCKETS."""
    from ..sources.tables import load_table
    from ..streaming.pipelines import run_to_memory, streaming_sessionize

    n = REPLAY_BUCKETS if n_buckets is None else n_buckets

    def _build(d):
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        bucketed = _time_buckets(ev, "ts", n, straddle_user="user_id",
                                 cuts=REPLAY_CUTS)
        if watermark is not None:
            # sentinel rides IN the last data bucket (VERDICT r10 #5:
            # one fewer full trigger cycle per replay): 30 days past
            # max(ts) > every session_end + gap. Watermarks advance at
            # batch BOUNDARIES, so nothing sharing the sentinel's
            # batch is late, and the trailing no-data micro-batch —
            # which watermark-timeout replays keep enabled precisely
            # because that cycle IS the flush — fires every timeout
            # under the advanced watermark. Output identical to the
            # old separate-sentinel-batch layout (oracle-pinned).
            sentinel = ev.agg(
                F.lit(-1).cast("long").alias("user_id"),
                (F.max("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
                F.lit(n - 1).alias("bucket"))
            bucketed = bucketed.unionByName(sentinel)
        _write_ordered_buckets(bucketed, "bucket", d, n)

    # bucket count and watermark mode change the dir CONTENT → they
    # key the cache
    replay_dir = _cached_replay_dir(
        f"sess{n}{'wm' if watermark is not None else ''}", sf_dir,
        _build)
    stream = (spark.readStream
              .schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(replay_dir))
    sessions = streaming_sessionize(stream, gap_minutes=30,
                                    **({} if watermark is None
                                       else {"watermark": watermark}))
    # 16 state partitions: applyInPandasWithState triggers are bound
    # by parallelizable per-group Python work (measured sweep: 16 beat
    # 8 by ~20% and 2 by ~2.2× on this replay), unlike JVM state ops
    return run_to_memory(sessions, output_mode="append",
                         no_data_batches=watermark is not None,
                         shuffle_partitions=16)


def q_streaming_sessionize(spark, sf_dir):
    """The CUSTOM STATEFUL streaming operator
    (applyInPandasWithState sessionization), oracle-checked: events
    replay across strictly ordered micro-batches (one file per time
    slice, maxFilesPerTrigger=1 — FileStreamSource processes
    oldest-modified first, so sequential appends fix the batch
    order); sessions spanning a batch boundary live in the keyed
    state between triggers — guaranteed non-vacuously by the planted
    STRADDLER_UID sessions around every boundary (filtered out here,
    fold-asserted in pytest). Emitted closed sessions must equal
    batch sessionization minus each user's open tail session (which
    in production waits for the event-time timeout). Slice bounds
    come from one broadcast min/max aggregate — the replay writer
    never sorts globally."""
    return (_run_sessionize_replay(spark, sf_dir)
            .filter(F.col("user_id") != STRADDLER_UID)
            .select("user_id", "session_start", "session_end",
                    "n_events"))


def q_streaming_sessionize_watermark(spark, sf_dir):
    """The PRODUCTION sessionize path (watermark + EventTimeTimeout),
    oracle-checked: same ordered micro-batches as
    streaming_sessionize, plus a far-future sentinel event riding in
    the LAST data batch that pushes the watermark past every open
    session's end + gap — the trailing no-data micro-batch then fires
    the event-time timeouts, every tail session is FLUSHED downstream
    and its state row removed. The streamed result
    (sentinel user excluded) must therefore equal the COMPLETE batch
    sessionization — tails included — which is strictly stronger than
    the unwatermarked query's all-but-last contract, and it proves
    state is bounded by the watermark horizon rather than all users
    ever. Straddler sessions (STRADDLER_UID) are excluded like the
    sentinel — they exist to make the cross-batch fold non-vacuous."""
    return (_run_sessionize_replay(spark, sf_dir, watermark="1 minute")
            .filter(~F.col("user_id").isin(-1, STRADDLER_UID))
            .select("user_id", "session_start", "session_end",
                    "n_events"))


# the COMPLETE sessionization (tails included) — the watermarked
# variant's timeouts must flush exactly what the unwatermarked one
# holds back
SQL_STREAMING_SESSIONIZE_WM = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts - lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS session_no
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM numbered GROUP BY user_id, session_no
"""


def q_streaming_dedup_watermark(spark, sf_dir):
    """BOUNDED-STATE streaming dedup (withWatermark +
    dropDuplicatesWithinWatermark — the production variant whose
    state is O(keys in window), not O(all keys ever)), oracle-checked
    on its exactness contract: every duplicate here is delivered with
    the SAME event time as its original and the delay spans the whole
    replay, so every key is still inside the watermark window when
    its duplicate arrives and the result must equal the batch tick
    relation exactly. (The other half of the contract — a key
    redelivered AFTER eviction is emitted again, numRowsRemoved > 0 —
    is behavior the batch oracle can't express; it is pytest-gated in
    tests/test_streaming_sinks.py.)"""
    from ..streaming.pipelines import run_file_dedup_watermark_pipeline

    def _build(d):
        t = ticks(spark, sf_dir).select(
            "event_id", "product_id",
            F.col("time").alias("ts"),
            F.col("price").cast("string").alias("price"))
        t.unionAll(t).write.mode("overwrite").json(d)

    replay_dir = _cached_replay_dir("dedupwm", sf_dir, _build)
    out = run_file_dedup_watermark_pipeline(
        spark, replay_dir,
        schema=("event_id long, product_id string, ts timestamp, "
                "price string"),
        key_cols=["event_id"], ts_col="ts", delay="2160 hours")
    return out.select(
        "event_id", "product_id",
        (F.round(F.col("price").cast("double"), 6) + F.lit(0.0))
        .alias("price"))


SQL_STREAMING_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts - lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS session_no
  FROM flagged
), sessions AS (
  SELECT user_id, session_no,
         min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM numbered GROUP BY 1, 2
), last AS (
  SELECT user_id, max(session_no) AS last_no FROM sessions GROUP BY 1
)
SELECT s.user_id, s.session_start, s.session_end, s.n_events
FROM sessions s
JOIN last l ON s.user_id = l.user_id AND s.session_no < l.last_no
"""


# ------------------------------------------------------- hopping windows

def q_streaming_hopping(spark, sf_dir):
    """Hopping windows on the STREAM engine: every replayed tick
    updates three concurrent window states (window/slide overlapping
    aggregation — the streaming state shape tumbling candles never
    touch); result must equal the batch expansion (the oracle)."""
    from ..streaming.pipelines import run_file_hopping_pipeline

    replay_dir = _cached_replay_dir(
        "hop", sf_dir,
        lambda d: ticker_wire_json(ticks(spark, sf_dir))
        .write.mode("overwrite").text(d))
    return run_file_hopping_pipeline(spark, replay_dir)


SQL_STREAMING_HOPPING = SQL_BASE + """
, expanded AS (
  SELECT product_id, price,
         time_bucket(INTERVAL '10 minutes', time)
           - k.k * INTERVAL '10 minutes' AS window_start
  FROM ticks, unnest(generate_series(0, 2)) AS k(k)
)
SELECT product_id, window_start,
       window_start + INTERVAL '30 minutes' AS window_end,
       CAST(count(*) AS BIGINT) AS n_ticks,
       max(price) AS high, min(price) AS low
FROM expanded
GROUP BY product_id, window_start
"""


# ------------------------------------------------------ stream-stream join

TOUCH_WINDOW_MIN = 30


def q_streaming_touch_join(spark, sf_dir):
    """STREAM-STREAM interval join (the join class no other streaming
    query exercises — two unbounded watermark-able sides with a
    time-range predicate): purchases and view/click touches replay as
    two independent streams; every touch within 30 minutes before a
    purchase joins it. Unwatermarked replay keeps full join state, so
    the result is exactly the batch interval join — the oracle;
    production bounds state with a watermark on both sides
    (streaming/pipelines.py)."""
    from ..functions.timeutil import epoch_micros
    from ..sources.tables import load_table
    from ..streaming.pipelines import run_file_touch_join_pipeline

    def _build(d):
        ev = load_table(spark, sf_dir, "events")
        wire = ev.select(F.to_json(F.struct(
            F.col("event_id"),
            epoch_micros(F.col("ts")).alias("ts_us"),
            F.col("user_id"), F.col("event_type"))).alias("value"))
        wire.write.mode("overwrite").text(d)

    replay_dir = _cached_replay_dir("touch", sf_dir, _build)
    return run_file_touch_join_pipeline(
        spark, replay_dir, window_minutes=TOUCH_WINDOW_MIN)


SQL_STREAMING_TOUCH_JOIN = f"""
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
       t.event_type AS touch_type, t.ts AS touch_ts
FROM events p
JOIN events t
  ON t.user_id = p.user_id
 AND t.event_type IN ('view', 'click')
 AND epoch_us(p.ts - t.ts) BETWEEN 0 AND {TOUCH_WINDOW_MIN * 60000000}
WHERE p.event_type = 'purchase'
"""


def q_streaming_kmv(spark, sf_dir):
    """KMV cardinality sketch maintained ON THE STREAM: per-day k-min
    state (a fixed k·8-byte array per day — sketch-bounded, not
    key-bounded) folded across time-ordered micro-batches via
    applyInPandasWithState; a far-future sentinel riding in the last
    data batch pushes the watermark past every day's end, the
    trailing no-data micro-batch fires the event-time timeouts and
    each day's FINAL sketch is flushed. The emitted (n_tracked,
    kth_hash) state is exact integers; the estimate math runs
    JVM-side here with the same expression as the batch
    kmv_distinct_users — whose oracle this query shares verbatim
    (streaming-vs-batch sketch equivalence: k-min merge across
    arbitrary micro-batch boundaries is bit-identical to the one-shot
    sketch)."""
    from ..functions.text import hash60
    from ..sources.tables import load_table
    from ..streaming.pipelines import run_to_memory, streaming_kmv_sketch
    from .catalog_analytics import KMV_K

    def _build(d):
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        bucketed = _time_buckets(ev, "ts", REPLAY_BUCKETS,
                                 cuts=REPLAY_CUTS).select(
            "user_id", "ts", "bucket")
        # sentinel rides IN the last data bucket (VERDICT r10 #5 —
        # see _run_sessionize_replay): 30 days past max(ts) > every
        # day end; the trailing no-data micro-batch fires every
        # day's timeout under the advanced watermark
        sentinel = ev.agg(F.lit(-1).cast("long").alias("user_id"),
                          (F.max("ts") + F.expr("INTERVAL 30 DAYS"))
                          .alias("ts"),
                          F.lit(REPLAY_BUCKETS - 1).alias("bucket"))
        _write_ordered_buckets(bucketed.unionByName(sentinel),
                               "bucket", d, REPLAY_BUCKETS)

    replay_dir = _cached_replay_dir("kmv", sf_dir, _build)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    stream = (spark.readStream
              .schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(replay_dir))
    hashed = stream.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        hash60(F.col("user_id").cast("string"), "kmv").alias("h"),
        "ts")
    sketches = streaming_kmv_sketch(hashed, k=KMV_K,
                                    watermark="1 hour")
    out = run_to_memory(sketches, output_mode="append",
                        shuffle_partitions=16)
    # drop the sentinel's own day (its timeout never fires, but
    # guard against it ever being emitted); real days all precede
    # the sentinel by construction
    last_real = ev.agg(F.date_trunc("day", F.max("ts"))
                       .alias("last_day"))
    out = (out.crossJoin(F.broadcast(last_real))
           .filter(F.col("day") <= F.col("last_day")))
    est = F.when(
        F.col("n_tracked") >= KMV_K,
        F.round((F.lit(float(KMV_K - 1)) * F.lit(float(1 << 60)))
                / F.col("kth_hash"), 3) + F.lit(0.0)) \
        .otherwise(F.col("n_tracked").cast("double"))
    return out.select("day", "n_tracked",
                      F.when(F.col("n_tracked") >= KMV_K,
                             F.col("kth_hash")).alias("kth_hash"),
                      est.alias("est_distinct"))


def q_streaming_upsert(spark, sf_dir):
    """The reference's ACTUAL sink pattern, end to end: tick stream →
    readStream → typed parse → foreachBatch merge-upsert into the
    keyed candles store (spark_processor.py:158-168's
    writeStream.foreachBatch(… Cassandra write), with the Cassandra
    table played by sinks/tables.merge_upsert keyed
    (product_id, start_time)). On-time ticks stream in the first
    micro-batch; the late stragglers (event_id % 23 — the same split
    as batch candle_upsert) land in a strictly later batch
    and must MERGE into buckets the store already holds. The oracle
    is the batch full recompute over all ticks, shared verbatim with
    candle_upsert: stream-maintained store state must be
    bit-identical to recomputation. Batch-id markers make re-applied
    micro-batches no-ops (idempotent re-delivery, pytest-gated in
    tests/test_streaming_sinks.py)."""
    from ..streaming.pipelines import run_file_upsert_pipeline
    from .catalog_ts import LATE_MOD

    def _build(d):
        t = ticks(spark, sf_dir)
        wire = t.select(
            "event_id", "product_id",
            F.date_format("time", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .alias("time"),
            # double→string→double is lossless (shortest repr)
            F.col("price").cast("string").alias("price"),
            F.col("volume").cast("string").alias("volume"))
        on_time = wire.filter(F.col("event_id") % LATE_MOD != 0)
        late = wire.filter(F.col("event_id") % LATE_MOD == 0)
        stamped: set[str] = set()
        # 2 on-time files at maxFilesPerTrigger=2 → one on-time merge
        # cycle before the late file arrives in its own, strictly
        # later one; the store-already-holds-the-bucket merge is the
        # load-bearing boundary, and each extra cycle is a full store
        # read+merge+swap of fixed cost (r12 replay profile)
        on_time.repartition(2).write.mode("overwrite").json(d)
        _stamp_new_files(d, stamped, 0, ".json")
        late.coalesce(1).write.mode("append").json(d)
        _stamp_new_files(d, stamped, 5, ".json")

    # the replay INPUT caches across runs; the STORE (the sink under
    # test) stays strictly per-run
    replay_dir = _cached_replay_dir("upsert-replay", sf_dir, _build)
    store_root = os.path.join(_TMP_ROOT,
                              f"upsert-store-{uuid.uuid4().hex[:8]}")
    try:
        out = run_file_upsert_pipeline(spark, replay_dir, store_root,
                                       max_files_per_trigger=2)
        # materialize before the finally deletes the store parquet
        # (memory-sink queries get this for free; a table read is lazy)
        return _round(out, ["open", "high", "low", "close",
                            "volume"]).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store_root, ignore_errors=True)


def q_streaming_model_score(spark, sf_dir):
    """The reference's prediction loop ON the stream: candles replay
    as time-ordered micro-batches, a bounded per-product ring of the
    last 23 quantized closes lives in keyed state, and every candle
    completing a window emits the stub model's per-horizon predictions
    (streaming/pipelines.streaming_model_score). Quantization uses the
    SAME JVM expression as the batch sliding_windows encoder, so the
    streamed predictions hash-match the batch model_score ORACLE
    (shared verbatim) — windows spanning the micro-batch boundary are
    the common case by construction (the ring IS the state), so the
    cross-batch fold can never go vacuous here. The one alignment
    filter: batch model_score only scores origins whose pred_len
    targets exist (its y-window gate), so the streamed result keeps
    origins with at least pred_len later candles — in production the
    tail origins' predictions simply wait for their targets."""
    from ..streaming.pipelines import run_to_memory, streaming_model_score
    from .catalog import candles

    c = candles(spark, sf_dir).select(
        "product_id", "bucket_start", "close")

    def _build(d):
        bucketed = _time_buckets(c, "bucket_start", REPLAY_BUCKETS,
                                 cuts=REPLAY_CUTS)
        _write_ordered_buckets(bucketed, "bucket", d, REPLAY_BUCKETS)

    replay_dir = _cached_replay_dir("mscore", sf_dir, _build)
    stream = (spark.readStream
              .schema("product_id string, bucket_start timestamp, "
                      "close double")
              .option("maxFilesPerTrigger", 1)
              .parquet(replay_dir))
    # the EXACT batch quantization (operators/windows.py) — this
    # is what makes streamed floats bit-equal to the oracle's
    quant = stream.select(
        "product_id", "bucket_start",
        F.round(F.col("close") * 1e6).cast("long").alias("p6"))
    preds = streaming_model_score(quant)
    sink = run_to_memory(preds, output_mode="append",
                         no_data_batches=False,
                         shuffle_partitions=16)
    # Alignment gate, derived from the SINK: batch model_score only
    # scores origins with >= pred_len later candles. Origins are the
    # row-suffix of each product's candle series (rows seq_len..n), so
    # that gate is exactly "drop each product's LAST 6 origins": keep
    # origin <= the 7th-LARGEST distinct origin per product. The
    # cutoff is computed MEMORY-BOUNDED (VERDICT r12 #2): the fold
    # emits every origin with ALL pred_len horizons (np.tile over
    # arange(1, pred_len+1) — pipelines.streaming_model_score), so
    # `horizon = 1` selects EXACTLY one row per (product, origin):
    # the distinct-origin relation for free, no aggregate. A
    # row_number window over it picks each product's 7th-largest
    # origin. The r12 collect_set formulation held EVERY distinct
    # origin of a product in one aggregation buffer to take element
    # 7 — correct, but at production scale a hot product's origin
    # set is millions of entries in a single in-memory buffer; the
    # window's per-partition sort spills gracefully and holds one
    # row's state at a time, and its exchange carries 1/6th of the
    # sink (the horizon fanout filtered out). Products with <= 6
    # distinct origins have no rank-7 row, so the inner join drops
    # them entirely — exactly the old element_at-NULL behavior, i.e.
    # dense_rank > 6.
    from pyspark.sql import Window

    origins = (sink.filter(F.col("horizon") == 1)
               .select("product_id", "origin_time"))
    w7 = Window.partitionBy("product_id").orderBy(
        F.col("origin_time").desc())
    cutoff = (origins.withColumn("_rn", F.row_number().over(w7))
              .filter(F.col("_rn") == 7)
              # renamed key: both join sides descend from the same
              # sink relation, and a same-name equi-join on a
              # self-join lineage is ambiguous to the analyzer
              .select(F.col("product_id").alias("_pid"),
                      F.col("origin_time").alias("_cut")))
    return (sink.join(F.broadcast(cutoff),
                      F.col("product_id") == F.col("_pid"))
            .filter(F.col("origin_time") <= F.col("_cut"))
            .select("product_id", "origin_time", "horizon",
                    (F.round("predicted_price", 6) + F.lit(0.0))
                    .alias("predicted_price"), "model_version"))


SPARK_QUERIES_STREAM: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "streaming_candles": q_streaming_candles,
    "streaming_dedup": q_streaming_dedup,
    "streaming_late_candles": q_streaming_late_candles,
    "streaming_corpus_scores": q_streaming_corpus_scores,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_classifier_scores": q_streaming_classifier_scores,
    "streaming_touch_join": q_streaming_touch_join,
    "streaming_hopping": q_streaming_hopping,
    "streaming_sessionize_watermark": q_streaming_sessionize_watermark,
    "streaming_dedup_watermark": q_streaming_dedup_watermark,
    "streaming_kmv": q_streaming_kmv,
    "streaming_upsert": q_streaming_upsert,
    "streaming_model_score": q_streaming_model_score,
}

ORACLE_SQL_STREAM: dict[str, str] = {
    "streaming_candles": SQL_STREAMING_CANDLES,
    "streaming_dedup": SQL_STREAMING_DEDUP,
    # same oracle as streaming_candles: late delivery must not change
    # the final relation
    "streaming_late_candles": SQL_STREAMING_CANDLES,
    "streaming_corpus_scores": SQL_STREAMING_CORPUS,
    "streaming_sessionize": SQL_STREAMING_SESSIONIZE,
    "streaming_classifier_scores": _sql_streaming_classifier(),
    "streaming_touch_join": SQL_STREAMING_TOUCH_JOIN,
    "streaming_hopping": SQL_STREAMING_HOPPING,
    "streaming_sessionize_watermark": SQL_STREAMING_SESSIONIZE_WM,
    # same oracle as streaming_dedup: in-window duplicate delivery
    # must still collapse to the batch tick relation
    "streaming_dedup_watermark": SQL_STREAMING_DEDUP,
    # same oracle as the batch KMV sketch: k-min merge across
    # micro-batch boundaries must be bit-identical to the one-shot
    # daily sketch
    "streaming_kmv": __import__(
        "coinbase_data_pipeline_spark.plans.catalog_analytics",
        fromlist=["SQL_KMV_DISTINCT_USERS"]).SQL_KMV_DISTINCT_USERS,
    # same oracle as the batch candle_upsert: the foreachBatch
    # merge-upsert store must equal the full recompute over all ticks
    "streaming_upsert": __import__(
        "coinbase_data_pipeline_spark.plans.catalog_ts",
        fromlist=["SQL_CANDLE_UPSERT"]).SQL_CANDLE_UPSERT,
    # same oracle as the batch model scorer: ring-state streaming
    # scoring must be bit-identical to the sliding-window batch path
    "streaming_model_score": __import__(
        "coinbase_data_pipeline_spark.plans.catalog_ext",
        fromlist=["_sql_model_score"])._sql_model_score(),
}
