"""End-to-end benchmark of the coinbase-data-pipeline-spark package.

    python3 perfbench/run.py --workload {ingest,serve} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process starts one local Spark
session (``local[<cores>]``) through the package's ``session`` module,
generates Coinbase-shaped inputs from the seed (perfbench/gen.py),
drives one workload through the package's public functions, checks the
outputs and prints:

- a report line: a JSON object with the workload's named metrics (unit,
  sample count), the live core count and the generator's lateness;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``
  with the end-to-end metrics (``--trace 0``) or the per-layer metrics
  of the traced run (``--trace 1``).

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "serve")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.records_in": "count",
    "sources.bytes_read": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.queue_wait_ms": "ms",
    "operators.build_ms": "ms",
    "operators.plan_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.run_ms": "ms",
    "operators.cpu_ms": "ms",
    "operators.gc_ms": "ms",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.arrow_bytes": "bytes",
    "sinks.merge_ms": "ms",
    "sinks.files_written": "count",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.new_rows": "count",
    "sinks.new_row_bytes": "bytes",
    "sinks.write_amplification": "ratio",
    "sinks.read_ms": "ms",
    "trace.latency_p50_ms": "ms",
}


class Context:
    """What a workload gets: the session, its tracer, its scratch
    directory, and the seed and window length of the run."""

    def __init__(self, spark, tracer, work: str, seed: int,
                 seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.prepare_s = 0.0

    def prepare(self, fn):
        """Run `fn(dir)` once into a fresh directory and time it: the
        session's first Spark jobs run here, cold."""
        out = os.path.join(self.work, "setup")
        t0 = time.perf_counter()
        result = fn(out)
        self.prepare_s = time.perf_counter() - t0
        return result


def _configure_env(work: str) -> None:
    """Keep Spark's files inside the checkout and size the session to
    the cores this process may use."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"])
    # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _host_probe_ms() -> float:
    """A fixed single-thread CPU loop, timed: read beside the metrics,
    it tells a slow host from a slow program."""
    t0 = time.perf_counter()
    h = b""
    for _ in range(100_000):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t0) * 1000.0


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time over the run that the hypervisor gave to
    other guests (steal): read beside the metrics, it shows a run that
    shared its cores."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        from coinbase_data_pipeline_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the package is not in {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from stats import peak_rss_mb
    from spans import Tracer
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    probe_ms = [_host_probe_ms()]
    ticks = _cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer, work, args.seed, args.seconds)
        res = getattr(workloads, args.workload)(ctx)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = peak_rss_mb([jvm_pid, os.getpid()])
        cpus = spark.sparkContext.defaultParallelism
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal = _steal_share(ticks, _cpu_ticks())
    probe_ms.append(_host_probe_ms())

    setup_s = session_s + ctx.prepare_s + res.warmup_s
    named = dict(res.named)
    named["setup_s"] = {"value": setup_s, "unit": "s", "n": 1}
    named["peak_rss_mb"] = {"value": rss, "unit": "MB", "n": 1}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "cpus": cpus,
                      "host_probe_ms": probe_ms, "host_steal": steal,
                      "session_start_s": session_s,
                      "prepare_s": ctx.prepare_s,
                      "warmup_s": res.warmup_s, **res.report,
                      "metrics": named}))

    if args.trace:
        values = dict(res.layers)
        values["session.start_s"] = session_s
        values["session.peak_rss_mb"] = rss
        values["trace.latency_p50_ms"] = res.latency_p50_ms
        metrics = {k: _metric(values.get(k, 0.0), u)
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": setup_s, "latency_p50_ms": res.latency_p50_ms,
                  "throughput_per_s": res.throughput_per_s}
        metrics = {k: _metric(values[k], u) for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
