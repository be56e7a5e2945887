#!/usr/bin/env python3
"""VERDICT r12 #2: adjudicate the doc_pagerank 19.1s driver reading.

Runs an idle-window min-of-5 of the named queries (default:
doc_pagerank + the other two shuffle-heavy top-5 entries) bracketed
by BOTH bench calibration probes, using bench.py's exact timed action
and session, and writes the result additively to
plans/r13/NOISE_ADJUDICATION.json. A reading only counts when the
probes sit at their anchors (cpu/shuffle load factors ~1).

Usage: python tools/adjudicate_noise.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coinbase_data_pipeline_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR as SF_DIR)

RUNS = int(os.environ.get("RUNS", "5"))


def main() -> None:
    names = sys.argv[1:] or ["doc_pagerank", "corpus_curation",
                             "dedup_containment"]
    from pyspark.sql import functions as F

    import bench
    from coinbase_data_pipeline_spark.plans.registry import ALL_QUERIES
    from coinbase_data_pipeline_spark.session import get_spark

    spark = get_spark("adjudicate")
    spark.sparkContext.setLogLevel("ERROR")
    ALL_QUERIES["available_products"](spark, SF_DIR).count()

    cal_b = bench._calibrate(spark)
    shuf_b = bench._calibrate_shuffle(spark)

    out: dict = {"runs": RUNS, "sf_dir": SF_DIR, "queries": {}}
    for name in names:
        fn = ALL_QUERIES[name]
        runs = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.agg(F.count(F.lit(1)),
                   F.bit_xor(F.xxhash64(*df.columns))).collect()
            runs.append(round(time.perf_counter() - t0, 3))
        out["queries"][name] = {
            "min": min(runs), "runs": runs,
            "median": sorted(runs)[len(runs) // 2]}
        print(f"# {name}: min {min(runs)}s of {runs}", file=sys.stderr)

    cal_a = bench._calibrate(spark)
    shuf_a = bench._calibrate_shuffle(spark)
    out.update({
        "calibration_sec": round((cal_b + cal_a) / 2, 3),
        "calibration_shuffle_sec": round((shuf_b + shuf_a) / 2, 3),
        "calibration_ref_sec": bench.CAL_REF_SEC,
        "calibration_shuffle_ref_sec": bench.SHUF_REF_SEC,
        "host_load_factor": round((cal_b + cal_a) / 2 / bench.CAL_REF_SEC, 3),
        "shuffle_load_factor": round(
            (shuf_b + shuf_a) / 2 / bench.SHUF_REF_SEC, 3),
    })
    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r13",
        "NOISE_ADJUDICATION.json")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    prior = []
    if os.path.exists(dest):
        try:
            with open(dest) as fh:
                prior = json.load(fh)
        except ValueError:
            # unparseable: set it aside rather than lose either run
            os.replace(dest, f"{dest}.bak-{int(time.time())}")
        if not isinstance(prior, list):
            prior = [prior]
    prior.append(out)
    with open(dest, "w") as fh:
        json.dump(prior, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
