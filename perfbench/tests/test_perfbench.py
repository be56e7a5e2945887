"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import gen  # noqa: E402
from filelog import file_batches  # noqa: E402
from spans import parse_metric_total  # noqa: E402
from stats import median, percentile  # noqa: E402


def _generated_bytes(seed: int, out) -> bytes:
    hist = gen.history_ticks(seed, 5, 3600, 2.0)
    gen.write_jsonl(hist, str(out / "hist"), 2)
    sched = gen.live_schedule(seed, 5, 50.0, 4.0, 0.25)
    body = b"".join(open(out / "hist" / n, "rb").read()
                    for n in sorted(os.listdir(out / "hist")))
    live = "\n".join(gen.lines(sched.ticks)).encode()
    candles = b"".join(v.tobytes() for v in
                       gen.candles(seed, 5, 86400).values())
    return (body + live + sched.due_s.tobytes() + sched.file_of.tobytes()
            + candles)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _generated_bytes(7, tmp_path / "a")
    b = _generated_bytes(7, tmp_path / "b")
    c = _generated_bytes(8, tmp_path / "c")
    assert a == b
    assert a != c


def test_generator_wire_shape_and_late_share():
    sched = gen.live_schedule(3, 20, 200.0, 60.0, 0.25)
    rec = json.loads(gen.lines(sched.ticks, [0])[0])
    assert set(rec) == {"type", "product_id", "price", "time"}
    assert rec["type"] == "ticker" and isinstance(rec["price"], str)
    assert rec["time"].endswith("Z")
    epoch_us = gen.seed_epoch_s(3) * 1_000_000
    on_time = epoch_us + np.round(sched.due_s * 1e6).astype(np.int64)
    late = (sched.ticks.time_us < on_time).mean()
    assert 0.01 < late < 0.03
    counts = np.bincount(sched.ticks.product, minlength=20)
    assert counts[0] > counts[1] > counts[19]        # Zipf-ordered
    assert len(np.unique(sched.ticks.time_us)) == len(sched.ticks)


def test_percentile_refuses_thin_tails():
    with pytest.raises(ValueError):
        percentile(range(99), 90)            # 9.9 samples beyond p90
    assert percentile(range(100), 90) == pytest.approx(89.1)
    with pytest.raises(ValueError):
        percentile(range(19), 50)
    assert percentile(range(20), 50) == median(range(20))


def _write_log(log_dir, name, entries):
    with open(os.path.join(log_dir, name), "w") as f:
        f.write("v1\n")
        for path, batch in entries:
            f.write(json.dumps({"path": path, "timestamp": 1,
                                "batchId": batch}) + "\n")


@pytest.mark.parametrize("old_files_deleted", [False, True])
def test_file_batches_across_compaction(tmp_path, old_files_deleted):
    """Spark compacts the file-source log at batch 9 into 9.compact
    (all entries 0-9) and may delete the per-batch files before it."""
    log_dir = tmp_path / "sources" / "0"
    log_dir.mkdir(parents=True)
    uri = "file:///data/in%20dir/f{}.json"
    entries = [(uri.format(k), k) for k in range(12)]
    if not old_files_deleted:
        for k in range(9):
            _write_log(log_dir, str(k), [entries[k]])
    _write_log(log_dir, "9.compact", entries[:10])
    _write_log(log_dir, "10", [entries[10]])
    _write_log(log_dir, "11", [entries[11]])
    (log_dir / ".11.tmp").write_text("partial")
    got = file_batches(str(tmp_path))
    assert got == {f"/data/in dir/f{k}.json": k for k in range(12)}


def test_metric_parse():
    assert parse_metric_total("12.0 KiB") == 12 * 1024
    text = "total (min, med, max (stageId: taskId))\n1.5 MiB (1.0 B, ...)"
    assert parse_metric_total(text) == 1.5 * 1024 * 1024
    assert parse_metric_total("1,024") == 1024
    with pytest.raises(ValueError):
        parse_metric_total("12 ms")
