#!/usr/bin/env python3
"""Re-measure ONLY the capped BASELINE.md oracles at a higher cap
(VERDICT r11 #7): the 60s floor makes the bench-vs-baseline aggregate
a lower bound on the real Spark win for the super-linear all-pairs
oracle shapes. This records each capped query's true (or
higher-floored) DuckDB cost and splices a footnote into BASELINE.md
between marker lines, leaving the committed 60s-cap table — the
stable round-over-round denominator — untouched.

Run: PYTHONPATH=. python tools/baseline_recap.py [--cap 300]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK_START = "<!-- baseline_recap:start -->"
MARK_END = "<!-- baseline_recap:end -->"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cap", type=float, default=300.0)
    ap.add_argument("--threads", type=int, default=16)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from coinbase_data_pipeline_spark.plans.registry import ALL_ORACLES
    from tools.baseline import run_worker

    with open(os.path.join(REPO, "BASELINE.json")) as f:
        base = json.load(f)
    capped = [k for k, v in base["queries"].items() if v.get("capped")]
    sf_dir = base["sf_dir"]

    rows: list[tuple[str, str]] = []
    for name in capped:
        t0 = time.time()
        r = run_worker(ALL_ORACLES[name], sf_dir, args.threads, args.cap)
        if r["note"]:
            cell = "error (see the run's stderr)"
            print(f"# {name}: {r['note']}", file=sys.stderr)
        elif r["capped"]:
            cell = f"≥{args.cap:.0f} (still capped)"
        else:
            cell = f"{r['sec']:.1f}"
        rows.append((name, cell))
        print(f"# {name}: {cell} ({time.time() - t0:.0f}s wall)",
              file=sys.stderr, flush=True)
        # splice after every reading: a later failure keeps these
        write_block(rows, args.cap)
    print(write_block(rows, args.cap))


def write_block(rows: list[tuple[str, str]], cap: float) -> str:
    """Splice the readings so far into BASELINE.md between the marker
    lines; returns the block."""
    lines = [
        MARK_START,
        f"## Higher-cap readings for the capped oracles (cap {cap:.0f}s)",
        "",
        "The 60s-capped rows above floor the total, making the",
        "bench-vs-baseline aggregate a LOWER bound on the Spark win",
        "for super-linear oracle shapes (VERDICT r11 #7). One-off",
        "re-run of only those queries at a higher cap, same method",
        "(fresh process per query, same sf parquet, same threads).",
        "These readings are informational — the committed denominator",
        "stays the 60s-cap table for round-over-round comparability.",
        "Regenerate: `PYTHONPATH=. python tools/baseline_recap.py`.",
        "",
        "| query | duckdb sec (cap "
        f"{cap:.0f}) | spark (BENCH_DETAIL min) |",
        "|---|---|---|",
    ]
    # pair each reading with the engine's committed bench min
    spark_min: dict[str, float] = {}
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)
        for k, v in detail.get("spreads", detail).items():
            if isinstance(v, dict) and "min" in v:
                spark_min[k] = v["min"]
    except (OSError, json.JSONDecodeError):
        pass
    for name, cell in rows:
        sp = f"{spark_min[name]:.1f}" if name in spark_min else "—"
        lines.append(f"| {name} | {cell} | {sp} |")
    lines.append(MARK_END)

    path = os.path.join(REPO, "BASELINE.md")
    with open(path) as f:
        text = f.read()
    block = "\n".join(lines)
    if MARK_START in text:
        text = (text[:text.index(MARK_START)] + block
                + text[text.index(MARK_END) + len(MARK_END):])
    else:
        text = text.rstrip("\n") + "\n\n" + block + "\n"
    with open(path, "w") as f:
        f.write(text)
    return block


if __name__ == "__main__":
    main()
