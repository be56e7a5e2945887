#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named registry queries into
plans/<round>/<query>_<suffix>.txt — the before/after plan evidence an
optimization round commits alongside its bench numbers.

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX QUERY [QUERY ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01 — plan SHAPE is
scale-independent; sf0.01 keeps streaming replays quick). The registry
is imported from the CURRENT working tree, so running this script from
a git worktree of an older commit yields that commit's plans.

A query that checkpoints eagerly while it is constructed
(dedup_components, dedup_keep, dedup_keep_best, corpus_curation) reads
its last checkpoint as `Scan ExistingRDD`: the pipeline that fed it
ran before the explain and is not in the plan. Such a dump starts with
a WARNING line (also printed), so a parent-vs-change diff that reads
"identical" is not taken as evidence for that pipeline.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def reads_checkpoint(plan: str) -> bool:
    """True when a formatted plan scans an eagerly materialized RDD
    (a `localCheckpoint`), whose lineage the plan does not show."""
    return re.search(r"^\(\d+\) Scan ExistingRDD", plan, re.M) is not None


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)

    from coinbase_data_pipeline_spark.plans.registry import ALL_QUERIES
    from coinbase_data_pipeline_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")

    for name in names:
        df = ALL_QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            if reads_checkpoint(plan):
                warn = (f"# WARNING: {name} reads an eager checkpoint "
                        "(Scan ExistingRDD); the pipeline that fed it ran "
                        "before the explain and is not in this plan, so "
                        "a diff of this dump cannot show a change there")
                fh.write(warn + "\n")
                print(warn)
            fh.write(f"# {name} — explain('formatted') at {SF}\n")
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
