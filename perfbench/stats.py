"""Summary statistics and process measurements for the benchmark."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0 < q < 100) of `values`.

    Refuses a tail that fewer than MIN_BEYOND samples support: with n
    samples, n * (1 - q/100) of them must lie beyond the percentile, so
    p90 needs at least 100 samples."""
    values = sorted(values)
    n = len(values)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    beyond = n * (100.0 - q) / 100.0
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{q:g} needs {MIN_BEYOND} samples beyond it; "
                         f"{n} samples give {beyond:.1f}")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return float(values[lo] + (values[hi] - values[lo]) * (pos - lo))


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
