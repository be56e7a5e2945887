#!/usr/bin/env python3
"""Per-stage shuffle-byte profile for one or more registry queries.

VERDICT r12 #6 asks for measured bytes-per-stage on the minhash
family before touching its exchanges (guide §1.5/§7.1). This probe
runs each query through the bench's own materialization action in the
engine's own session (`get_spark`, UI off, so plans match bench.py)
and reads the new stages from Spark's in-process status store.

Usage: python tools/stage_bytes.py corpus_curation dedup_keep ...
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coinbase_data_pipeline_spark.sources.tables import (  # noqa: E402
    DEFAULT_SF_DIR as SF_DIR)


def _items(jcoll):
    """Iterate a Java or Scala collection from py4j."""
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: stage_bytes.py <query> [query ...]", file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import functions as F

    from coinbase_data_pipeline_spark.plans.registry import ALL_QUERIES
    from coinbase_data_pipeline_spark.session import get_spark

    spark = get_spark("stage-bytes")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    gw = sc._gateway

    def stages():
        # the status store is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(_items(sc._jsc.sc().statusStore().stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)))

    # warm
    ALL_QUERIES["available_products"](spark, SF_DIR).count()

    for name in names:
        fn = ALL_QUERIES[name]
        before = {s.stageId() for s in stages()}
        sc.setJobDescription(f"probe:{name}")
        t0 = time.perf_counter()
        df = fn(spark, SF_DIR)
        df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).collect()
        wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        new = [s for s in stages() if s.stageId() not in before]
        new.sort(key=lambda s: -s.executorRunTime())
        tot_w = sum(s.shuffleWriteBytes() for s in new)
        tot_r = sum(s.shuffleReadBytes() for s in new)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(new)} stages, "
              f"shuffle write {tot_w/1e6:.1f} MB read {tot_r/1e6:.1f} MB")
        for s in new[:14]:
            print(f"  stage {s.stageId():>5} {s.status().toString():>9} "
                  f"run {s.executorRunTime()/1000:7.2f}s  "
                  f"in {s.inputBytes()/1e6:8.1f}MB  "
                  f"sw {s.shuffleWriteBytes()/1e6:8.1f}MB  "
                  f"sr {s.shuffleReadBytes()/1e6:8.1f}MB  "
                  f"tasks {s.numCompleteTasks():>4}  "
                  f"{s.name()[:60]}")


if __name__ == "__main__":
    main()
