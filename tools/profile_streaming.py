#!/usr/bin/env python3
"""Phase breakdown of the streaming replay fixed cost (VERDICT r10 #5 /
r11 next #1): for every streaming headliner, split wall time into

  wire   — replay-dir synthesis (cold only; session-cached afterwards)
  plan   — query-fn work before writeStream.start(): fingerprint scan,
           plan building, static-model training passes
  start  — writeStream.start(): streaming planner + checkpoint setup
  drain  — awaitTermination(): all trigger cycles
  sink   — the bench's count+hash materialization of the memory sink
  batches — per-micro-batch durationMs from recentProgress (drain detail)

Run: python tools/profile_streaming.py [--runs 2] [--sf-dir DIR]
Writes a markdown table to stdout (paste into SCALING.md) and the raw
records to /tmp/profile_streaming.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F

from coinbase_data_pipeline_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR)

REC: list[dict] = []
_CUR: dict = {}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args()

    from coinbase_data_pipeline_spark.plans import catalog_stream as CS
    from coinbase_data_pipeline_spark.plans.registry import ALL_QUERIES
    from coinbase_data_pipeline_spark.session import get_spark
    from coinbase_data_pipeline_spark.streaming import pipelines as P

    spark = get_spark("profile-streaming")
    spark.sparkContext.setLogLevel("ERROR")
    ALL_QUERIES["available_products"](spark, args.sf_dir).count()

    # same session-level streaming warm-up bench.py does
    import shutil as _sh
    import tempfile as _tf
    _d = _tf.mkdtemp()
    with open(os.path.join(_d, "w.json"), "w") as fh:
        fh.write('{"a": 1}\n')
    q = (spark.readStream.schema("a long").json(_d)
         .writeStream.format("memory").queryName("pw")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    _sh.rmtree(_d, ignore_errors=True)

    orig_run = P.run_to_memory
    orig_cache = CS._cached_replay_dir

    def timed_run_to_memory(df, *, output_mode="complete",
                            progress_out=None, no_data_batches=True,
                            shuffle_partitions=None):
        name = f"stream_{uuid.uuid4().hex[:12]}"
        if shuffle_partitions is None:
            shuffle_partitions = P.STREAM_SHUFFLE_PARTITIONS
        with P._conf(df.sparkSession, P.SHUFFLE_KEY,
                     str(shuffle_partitions)), \
                P._conf(df.sparkSession, P.NO_DATA_KEY,
                        str(no_data_batches).lower()):
            t0 = time.perf_counter()
            sq = (df.writeStream.format("memory").queryName(name)
                  .outputMode(output_mode)
                  .trigger(availableNow=True)
                  .start())
            t1 = time.perf_counter()
            sq.awaitTermination()
            t2 = time.perf_counter()
        prog = [json.loads(p.json) if not isinstance(p, dict) else p
                for p in sq.recentProgress]
        if progress_out is not None:
            progress_out.extend(prog)
        _CUR.setdefault("start", 0.0)
        _CUR.setdefault("drain", 0.0)
        _CUR["start"] += t1 - t0
        _CUR["drain"] += t2 - t1
        _CUR.setdefault("batches", []).extend(
            {"batchId": p.get("batchId"),
             "durationMs": p.get("durationMs"),
             "numInputRows": p.get("numInputRows")} for p in prog)
        out = df.sparkSession.table(name)
        df.sparkSession.catalog.dropTempView(name)
        return out

    def timed_cached_replay_dir(tag, sf_dir, build):
        def timed_build(d):
            t0 = time.perf_counter()
            build(d)
            _CUR["wire"] = _CUR.get("wire", 0.0) + time.perf_counter() - t0
        return orig_cache(tag, sf_dir, timed_build)

    P.run_to_memory = timed_run_to_memory
    CS._cached_replay_dir = timed_cached_replay_dir

    names = [n for n in ALL_QUERIES if n.startswith("streaming_")]
    for name in names:
        for run in range(args.runs):
            _CUR.clear()
            t0 = time.perf_counter()
            df = ALL_QUERIES[name](spark, args.sf_dir)
            t_fn = time.perf_counter() - t0
            t1 = time.perf_counter()
            df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))
                   ).collect()
            t_sink = time.perf_counter() - t1
            rec = {
                "query": name, "run": run,
                "total": round(t_fn + t_sink, 3),
                "wire": round(_CUR.get("wire", 0.0), 3),
                "start": round(_CUR.get("start", 0.0), 3),
                "drain": round(_CUR.get("drain", 0.0), 3),
                "plan": round(t_fn - _CUR.get("wire", 0.0)
                              - _CUR.get("start", 0.0)
                              - _CUR.get("drain", 0.0), 3),
                "sink": round(t_sink, 3),
                "batches": _CUR.get("batches", []),
            }
            REC.append(rec)
            print(f"# {name} run{run}: total={rec['total']}"
                  f" wire={rec['wire']} plan={rec['plan']}"
                  f" start={rec['start']} drain={rec['drain']}"
                  f" sink={rec['sink']}"
                  f" nbatches={len(rec['batches'])}")

    P.run_to_memory = orig_run
    CS._cached_replay_dir = orig_cache

    with open("/tmp/profile_streaming.json", "w") as fh:
        json.dump(REC, fh, indent=1)

    # markdown: warm-run (last run) table + totals
    print("\n| query | total | wire | plan | start | drain | sink "
          "| batches |")
    print("|---|---|---|---|---|---|---|---|")
    tot = {k: 0.0 for k in ("total", "wire", "plan", "start", "drain",
                            "sink")}
    for rec in REC:
        if rec["run"] != args.runs - 1:
            continue
        for k in tot:
            tot[k] += rec[k]
        print(f"| {rec['query']} | {rec['total']} | {rec['wire']} "
              f"| {rec['plan']} | {rec['start']} | {rec['drain']} "
              f"| {rec['sink']} | {len(rec['batches'])} |")
    print("| **total (warm)** | " + " | ".join(
        f"**{round(tot[k], 1)}**" for k in
        ("total", "wire", "plan", "start", "drain", "sink")) + " | |")


if __name__ == "__main__":
    main()
