"""The workloads. Each takes a run.Context and returns a Result.

- ingest: open loop. A generator thread drops ticker JSON files on a
  fixed schedule into a directory watched by a running query
  (file_ticker_source -> ticker_pipeline -> foreachBatch of
  candle_upsert_batch_writer) over a pre-filled candles store.
- serve: closed loop, one client, round-robin over products; one cycle
  reads the trailing window, builds features and the Holt model,
  forecasts 12 steps, upserts them and reads them back.

Warm-up runs before the timed window and is reported in set-up time.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from filelog import file_batches
from stats import median, percentile

from coinbase_data_pipeline_spark.operators.candles import (
    candle_resample, latest_n_per_key, time_range_fetch)
from coinbase_data_pipeline_spark.operators.forecast import naive_forecast
from coinbase_data_pipeline_spark.operators.indicators import (
    enhance_features, holt_features)
from coinbase_data_pipeline_spark.operators.predictions import (
    recent_predictions)
from coinbase_data_pipeline_spark.sinks.tables import (
    merge_upsert, read_table, write_table)
from coinbase_data_pipeline_spark.sources.json_ingest import parse_tickers
from coinbase_data_pipeline_spark.streaming.pipelines import (
    candle_upsert_batch_writer, file_ticker_source, ticker_pipeline)

KEY, TS = "product_id", "bucket_start"
CANDLE_COLS = [KEY, TS, "open", "high", "low", "close", "n_ticks"]

INGEST_PRODUCTS = 20
INGEST_HISTORY_S = 12 * 3600
INGEST_HISTORY_RATE = 1.0            # ticks/s of pre-filled history
INGEST_RATE = 200.0                  # offered events/s
INGEST_FILE_S = 0.5                  # one file per half second
# warm-up is a count of merges and cycles, not a time: a session's first
# ten or so merges run 1.5-2.5x slower, and a fixed warm-up time left a
# slower host fewer warm merges, so its window sat higher on that slope
INGEST_PREFILL_BATCHES = 7
PREFILL_BATCH_ID = 10**9
INGEST_WARM_S = 6.0
INGEST_DRAIN_S = 30.0

SERVE_PRODUCTS = 20
SERVE_HISTORY_S = 30 * 86400         # 5-minute candles per product
SERVE_WINDOW_S = 6 * 3600
SERVE_PREFILL_ASOFS = 12             # as-of times of stored forecasts
SERVE_WARM_CYCLES = 3
SERVE_HORIZONS = 12
SERVE_MODEL = "holt_v1"


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    latency_p50_ms: float
    throughput_per_s: float
    warmup_s: float
    named: dict
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


def _named(value: float, unit: str, n: int) -> dict:
    return {"value": value, "unit": unit, "n": n}


def _tail(values, q: float, unit: str) -> dict:
    try:
        return _named(percentile(values, q), unit, len(values))
    except ValueError as exc:
        return {"value": None, "unit": unit, "n": len(values),
                "refused": str(exc)}


def _ts(epoch_s: float) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def _read_ticks(spark, paths):
    return parse_tickers(spark.read.text(paths))


def _median0(values) -> float:
    return median(values) if values else 0.0


def _mean0(values) -> float:
    return float(np.mean(values)) if values else 0.0


# ------------------------------------------------------------------ ingest

def ingest(ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    total_s = INGEST_WARM_S + ctx.seconds

    def prepare(d):
        hist = gen.history_ticks(ctx.seed, INGEST_PRODUCTS,
                                 INGEST_HISTORY_S, INGEST_HISTORY_RATE)
        hist_dir = os.path.join(d, "history")
        gen.write_jsonl(hist, hist_dir, INGEST_PREFILL_BATCHES)
        # the pipeline's own sink builds the store, one time-ordered
        # history file per batch, so the merge path is warm before the
        # stream starts; the ids stay clear of the stream's batch ids
        prefill = candle_upsert_batch_writer(os.path.join(d, "store"))
        for k, name in enumerate(sorted(os.listdir(hist_dir))):
            prefill(ticker_pipeline(spark.read.text(
                os.path.join(hist_dir, name))), PREFILL_BATCH_ID + k)
        sched = gen.live_schedule(ctx.seed, INGEST_PRODUCTS, INGEST_RATE,
                                  total_s, INGEST_FILE_S)
        bodies = ["\n".join(gen.lines(sched.ticks,
                                      np.flatnonzero(sched.file_of == k)))
                  + "\n" for k in range(sched.n_files)]
        return d, sched, bodies

    d, sched, bodies = ctx.prepare(prepare)
    store = os.path.join(d, "store")
    incoming = os.path.join(d, "incoming")
    staging = os.path.join(d, "staging")
    ckpt = os.path.join(d, "checkpoint")
    os.makedirs(incoming)
    os.makedirs(staging)
    paths = [os.path.join(incoming, f"f{k:06d}.json")
             for k in range(sched.n_files)]

    writer = candle_upsert_batch_writer(store)
    started: dict[int, float] = {}
    committed: dict[int, float] = {}
    window_start = float("inf")

    def timed_writer(batch, batch_id):
        started[batch_id] = time.time()
        # batches of the timed window run under their own job group
        with (tr.op(f"batch-{batch_id}")
              if started[batch_id] >= window_start
              else contextlib.nullcontext()):
            writer(batch, batch_id)
        committed[batch_id] = time.time()

    t_query = time.time()
    query = (ticker_pipeline(file_ticker_source(spark, incoming))
             .writeStream.foreachBatch(timed_writer)
             .option("checkpointLocation", ckpt).start())
    t_start = time.time()
    window_start = t_start + INGEST_WARM_S
    landed = np.zeros(sched.n_files)

    def produce():
        for k, body in enumerate(bodies):
            delay = t_start + (k + 1) * INGEST_FILE_S - time.time()
            if delay > 0:
                time.sleep(delay)
            tmp = os.path.join(staging, os.path.basename(paths[k]))
            with open(tmp, "w") as f:
                f.write(body)
            os.rename(tmp, paths[k])
            landed[k] = time.time()

    producer = threading.Thread(target=produce, name="perfbench-producer")
    producer.start()
    try:
        producer.join()
        deadline = t_start + total_s + INGEST_DRAIN_S
        while True:
            fb = file_batches(ckpt)
            if (len(fb) == sched.n_files
                    and all(b in committed for b in fb.values())):
                break
            if time.time() > deadline or not query.isActive:
                break
            time.sleep(0.1)
    finally:
        query.stop()
    if query.exception() is not None:
        raise RuntimeError(f"ingest query failed: {query.exception()}")
    progress = [p if isinstance(p, dict) else json.loads(p.json)
                for p in query.recentProgress]

    fb = file_batches(ckpt)
    file_batch = np.array([fb.get(p, -1) for p in paths])
    file_commit = np.array([committed.get(b, np.nan) for b in file_batch])
    ev_commit = file_commit[sched.file_of]
    ok = ~np.isnan(ev_commit)
    due_wall = t_start + sched.due_s
    in_window = sched.due_s >= INGEST_WARM_S
    win = in_window & ok
    fresh = (ev_commit[win] - due_wall[win]) * 1000.0
    fresh_p50 = median(fresh)
    window_end = window_start + ctx.seconds
    # throughput between the first and last commit inside the window:
    # whole batches only, so batch boundaries do not alias into it
    ev_batch = file_batch[sched.file_of]
    in_commit = sorted(b for b, t in committed.items()
                       if window_start <= t <= window_end)
    if len(in_commit) < 2:
        raise RuntimeError("fewer than two micro-batches committed in the "
                           "timed window; lengthen --seconds")
    span_s = committed[in_commit[-1]] - committed[in_commit[0]]
    events_per_s = np.isin(ev_batch, in_commit[1:]).sum() / span_s
    file_due = t_start + (np.arange(sched.n_files) + 1) * INGEST_FILE_S
    late_ms = (landed - file_due) * 1000.0
    warmup_s = min(committed.values()) - t_query

    expected = (candle_resample(_read_ticks(
        spark, [os.path.join(d, "history"), incoming]))
        .select(*CANDLE_COLS))
    got = (read_table(spark, store, "candles")
           .withColumnRenamed("start_time", TS).select(*CANDLE_COLS))
    diff = (expected.exceptAll(got)
            .unionByName(got.exceptAll(expected)).count())

    named = {
        "freshness_p50_ms": _named(fresh_p50, "ms", len(fresh)),
        "freshness_p90_ms": _tail(fresh, 90, "ms"),
        "events_per_s": _named(float(events_per_s), "1/s",
                               len(in_commit) - 1),
    }
    report = {"offered_rate": INGEST_RATE, "mismatched_candles": diff,
              "batch_ms": [round((committed[b] - started[b]) * 1000.0)
                           for b in sorted(committed)],
              "batch_end_s": [round(committed[b] - window_start, 2)
                              for b in sorted(committed)],
              "generator_late_ms": {"p50": median(late_ms),
                                    "max": float(late_ms.max())}}
    res = Result(correct=diff == 0, attempted=len(ok),
                 failed=int((~ok).sum()), latency_p50_ms=fresh_p50,
                 throughput_per_s=float(events_per_s), warmup_s=warmup_s,
                 named=named, report=report)
    if tr.enabled:
        res.layers = _ingest_layers(tr, progress, window_start, started,
                                    committed, landed, file_batch, sched)
    return res


def _ingest_layers(tr, progress, window_start, started, committed,
                   landed, file_batch, sched) -> dict:
    def epoch(iso):
        return dt.datetime.fromisoformat(
            iso.replace("Z", "+00:00")).timestamp()
    trig_start = {p["batchId"]: epoch(p["timestamp"]) for p in progress}
    timed = sorted(b for b in committed if started[b] >= window_start)
    prog = [p for p in progress if p["batchId"] in set(timed)
            and p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in prog]
    waits = [(trig_start[b] - landed[k]) * 1000.0
             for k, b in enumerate(file_batch)
             if b in timed and b in trig_start]
    layers = tr.spark_metrics()
    # the engine's own count of the events each timed batch delivered
    layers["sources.records_in"] = _mean0([p["numInputRows"] for p in prog])
    # new rows of a batch: the candles (product, bucket) its ticks upsert
    ev_batch = file_batch[sched.file_of]
    in_timed = np.isin(ev_batch, timed)
    keys = (sched.ticks.product * 10**9
            + sched.ticks.time_us // 300_000_000)[in_timed]
    new_rows = len(np.unique(np.stack([ev_batch[in_timed], keys]), axis=1)
                   .T) / max(len(timed), 1)
    return {
        **layers,
        "streaming.batches": float(len(timed)),
        "streaming.trigger_ms": _median0(
            [x["triggerExecution"] for x in dur]),
        "streaming.overhead_ms": _median0(
            [x["triggerExecution"] - x.get("addBatch", 0) for x in dur]),
        "streaming.latest_offset_ms": _median0(
            [x.get("latestOffset", 0) for x in dur]),
        "streaming.queue_wait_ms": _median0(waits),
        "sinks.merge_ms": _median0(
            [(committed[b] - started[b]) * 1000.0 for b in timed]),
        **_amplification(layers, new_rows),
    }


def _amplification(layers: dict, new_rows: float) -> dict:
    """Bytes of the new rows (at the written files' bytes per row) and
    bytes written over them, from the sink's measured output."""
    rows = layers.get("sinks.rows_written", 0.0)
    if not rows or not new_rows:
        return {}
    new_bytes = new_rows * layers["sinks.bytes_written"] / rows
    return {"sinks.new_rows": new_rows, "sinks.new_row_bytes": new_bytes,
            "sinks.write_amplification":
                layers["sinks.bytes_written"] / new_bytes}


# ------------------------------------------------------------------- serve

def serve(ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    products = gen.PRODUCTS[:SERVE_PRODUCTS]
    first_asof = gen.seed_epoch_s(ctx.seed) - 2 * 3600

    def forecasts(candles, start, end, n, product=None):
        """The serve model chain: Holt forecasts for the latest `n`
        buckets of [start, end], SERVE_HORIZONS steps each."""
        window = time_range_fetch(candles, ts=TS, key_value=product,
                                  start=_ts(start), end=_ts(end))
        model = holt_features(enhance_features(window), key=KEY, ts=TS)
        return naive_forecast(latest_n_per_key(model, n, ts=TS),
                              price="hw_forecast", horizons=SERVE_HORIZONS,
                              model_name=SERVE_MODEL)

    def prepare(d):
        c = gen.candles(ctx.seed, SERVE_PRODUCTS, SERVE_HISTORY_S)
        pdf = pd.DataFrame({
            KEY: np.array(products)[c["product"]], "start_s": c["start_s"],
            "open": c["open"], "high": c["high"], "low": c["low"],
            "close": c["close"], "n_ticks": c["n_ticks"],
            # the ticker channel carries no trade size: tick count
            "volume": c["n_ticks"].astype(float)})
        write_table(spark.createDataFrame(pdf)
                    .withColumn("start_time", F.timestamp_seconds("start_s"))
                    .drop("start_s"), d, "candles", mode="overwrite")
        # stored forecasts of the last SERVE_PREFILL_ASOFS buckets before
        # the first cycle, made by the cycle's own chain (which warms
        # it), so each cycle's 12 rows are a small share of the upsert
        last = first_asof - 300
        merge_upsert(spark, forecasts(
            read_table(spark, d, "candles").withColumnRenamed(
                "start_time", TS),
            last - 300 * SERVE_PREFILL_ASOFS - SERVE_WINDOW_S, last,
            SERVE_PREFILL_ASOFS), d, "predictions", unique_keys=True)
        return d

    root = ctx.prepare(prepare)

    def cycle(i: int) -> tuple[float, bool]:
        product = products[i % SERVE_PRODUCTS]
        asof = first_asof + 300 * (i // SERVE_PRODUCTS)
        t0 = time.perf_counter()
        with tr.span("sinks", "read"):
            candles = (read_table(spark, root, "candles")
                       .withColumnRenamed("start_time", TS))
        with tr.span("operators", "build"):
            preds = forecasts(candles, asof - SERVE_WINDOW_S, asof, 1,
                              product)
        with tr.span("sinks", "merge"):
            merge_upsert(spark, preds, root, "predictions", unique_keys=True)
        with tr.span("sinks", "read"):
            back = recent_predictions(
                read_table(spark, root, "predictions"),
                model_col="model_name", pred_time_col="prediction_time",
                hours_back=1, cutoff=_ts(asof)).filter(
                    F.col(KEY) == product)
            rows = back.collect()
        elapsed = time.perf_counter() - t0
        tr.record_plan(preds, back)
        mine = {r.horizon: r for r in rows
                if r.prediction_time.timestamp() == asof}
        ok = (sorted(mine) == list(range(1, SERVE_HORIZONS + 1))
              and all(r.target_time.timestamp() == asof + 300 * h
                      for h, r in mine.items()))
        return elapsed, ok

    t0 = time.perf_counter()
    warm_ok = all(cycle(i)[1] for i in range(SERVE_WARM_CYCLES))
    warmup_s = time.perf_counter() - t0

    times, oks = [], []
    i = SERVE_WARM_CYCLES
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        with tr.op(f"serve-{i}"):
            elapsed, ok = cycle(i)
        times.append(elapsed * 1000.0)
        oks.append(ok)
        i += 1
    cycle_p50 = median(times)
    named = {"cycle_p50_ms": _named(cycle_p50, "ms", len(times)),
             "cycle_p90_ms": _tail(times, 90, "ms")}
    res = Result(correct=warm_ok and all(oks), attempted=len(times),
                 failed=oks.count(False), latency_p50_ms=cycle_p50,
                 throughput_per_s=len(times) * 1000.0 / sum(times),
                 warmup_s=warmup_s, named=named,
                 report={"products": SERVE_PRODUCTS,
                         "cycle_ms": [round(t) for t in times]})
    if tr.enabled:
        n = len(times)
        reads = tr.layer_ms("sinks", "read")[-2 * n:]
        layers = tr.spark_metrics()
        res.layers = {
            **layers,
            "operators.build_ms": _median0(
                tr.layer_ms("operators", "build")[-n:]),
            "operators.plan_ms": _median0(tr.plan_ms[-n:]),
            "sinks.merge_ms": _median0(tr.layer_ms("sinks", "merge")[-n:]),
            "sinks.read_ms": _median0(
                [a + b for a, b in zip(reads[::2], reads[1::2])]),
            **_amplification(layers, float(SERVE_HORIZONS)),
        }
    return res
