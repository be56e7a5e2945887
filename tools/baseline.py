#!/usr/bin/env python3
"""Measure the single-node DuckDB baseline for the bench headliners.

For every headliner in bench.py that has a catalog oracle, run the
oracle SQL in DuckDB over the same sf parquet and record wall seconds
— the committed denominator for the "within 2x of single-node" bar.
Each query runs in its OWN subprocess under a hard cap (default 60s,
the judge's method) so a super-linear plan can be killed cleanly.

Usage: python tools/baseline.py [--sf-dir /root/testdata/sf0.1]
       [--threads 16] [--cap 60] [--out BASELINE.md]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

WORKER = r"""
import json, sys, time
import duckdb
sf_dir, threads, sql = sys.argv[1], int(sys.argv[2]), sys.stdin.read()
con = duckdb.connect()
con.execute(f"SET threads = {threads}")
# slow queries trigger DuckDB's progress bar, which pollutes stdout
# and breaks the parent's JSON parse
con.execute("SET enable_progress_bar = false")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
t0 = time.perf_counter()
n = len(con.execute(sql).fetchall())
print(json.dumps({"sec": round(time.perf_counter() - t0, 3), "rows": n}))
"""


def parse_worker_out(stdout: str) -> dict | None:
    """The worker's reading from its stdout: the last line that parses
    as a dict with the worker's keys, or None. Stray output (DuckDB's
    progress bar, a parseable bare number) and empty output yield no
    reading rather than an exception."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            cand = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(cand, dict) and "sec" in cand and "rows" in cand:
            return cand
    return None


def run_worker(sql: str, sf_dir: str, threads: int, cap: float) -> dict:
    """Run one oracle query in a fresh DuckDB process under a hard cap.
    Returns {"sec", "rows", "capped", "note"}: a capped query is floored
    at `cap`; a failed or unparseable run has sec None and an
    "error: ..." note."""
    try:
        proc = subprocess.run(
            [sys.executable, "-c", WORKER, sf_dir, str(threads)],
            input=sql, capture_output=True, text=True, timeout=cap + 5)
    except subprocess.TimeoutExpired:
        return {"sec": cap, "rows": None, "capped": True, "note": ""}
    if proc.returncode != 0:
        err = " ".join(proc.stderr.strip()[-200:].split())
        return {"sec": None, "rows": None, "capped": False,
                "note": "error: " + err}
    r = parse_worker_out(proc.stdout)
    if r is None:
        return {"sec": None, "rows": None, "capped": False,
                "note": "error: unparseable worker out"}
    if r["sec"] > cap:
        return {"sec": cap, "rows": r["rows"], "capped": True, "note": ""}
    return {**r, "capped": False, "note": ""}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--threads", type=int, default=16)
    ap.add_argument("--cap", type=float, default=60.0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    sys.path.insert(0, ".")
    from bench import HEADLINERS
    from coinbase_data_pipeline_spark.plans.registry import ALL_ORACLES

    results: dict[str, dict] = {}
    for name in HEADLINERS:
        if name not in ALL_ORACLES:
            results[name] = {"sec": None, "rows": None, "capped": False,
                             "note": "rows-only (no oracle)"}
            print(f"# {name}: no oracle", file=sys.stderr)
            continue
        r = results[name] = run_worker(ALL_ORACLES[name], args.sf_dir,
                                       args.threads, args.cap)
        if r["note"]:
            print(f"# {name}: ERROR ({r['note']})", file=sys.stderr)
        elif r["capped"]:
            print(f"# {name}: CAPPED at {args.cap}s", file=sys.stderr)
        else:
            print(f"# {name}: {r['sec']}s ({r['rows']} rows)",
                  file=sys.stderr)

    timed = {k: v["sec"] for k, v in results.items() if v["sec"] is not None}
    out = {"metric": "duckdb_oracle_baseline_total",
           "value": round(sum(timed.values()), 3), "unit": "sec",
           "threads": args.threads, "cap": args.cap,
           "sf_dir": args.sf_dir, "queries": results}
    print(json.dumps(out))
    if args.out:
        write_md(args.out, out)


def write_md(path: str, out: dict) -> None:
    lines = [
        "# BASELINE — single-node DuckDB on the bench headliners",
        "",
        "The committed denominator for the \"within 2x of single-node\"",
        "bar: each bench.py headliner's own catalog oracle SQL, run in",
        "DuckDB over the same parquet the Spark engine reads, one query",
        "per fresh process, hard per-query cap. Regenerate with:",
        "",
        f"    python tools/baseline.py --sf-dir {out['sf_dir']} "
        f"--threads {out['threads']} --cap {int(out['cap'])} "
        "--out BASELINE.md",
        "",
        f"- sf_dir: `{out['sf_dir']}`",
        f"- threads: {out['threads']}",
        f"- per-query cap: {out['cap']}s — capped queries are floored",
        "  at the cap (their true cost is HIGHER; DuckDB's plan is",
        "  super-linear where Spark's bucketed plan is not)",
        f"- total (capped values floored): **{out['value']}s**",
        "",
        "| query | duckdb sec | rows | note |",
        "|---|---|---|---|",
    ]
    for name, r in out["queries"].items():
        if r["sec"] is None:
            sec = "—"
        elif r["capped"]:
            sec = f"≥{r['sec']:.0f} (CAPPED)"
        else:
            sec = f"{r['sec']:.3f}"
        rows = "—" if r["rows"] is None else str(r["rows"])
        lines.append(f"| {name} | {sec} | {rows} | {r['note']} |")
    lines.append("")
    # preserve marker-delimited appendix blocks (the higher-cap
    # readings from tools/baseline_recap.py) across full regens
    import re

    appendices = []
    try:
        with open(path) as f:
            prev = f.read()
        for m in re.finditer(r"<!-- ([a-z_]+):start -->", prev):
            end = f"<!-- {m.group(1)}:end -->"
            if end in prev:
                appendices.append(
                    prev[m.start():prev.index(end) + len(end)])
    except OSError:
        pass
    with open(path, "w") as f:
        f.write("\n".join(lines))
        for block in appendices:
            f.write("\n" + block + "\n")


if __name__ == "__main__":
    main()
