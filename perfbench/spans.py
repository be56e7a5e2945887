"""Spans around the benchmark's calls into each package module, plus the
job, stage and SQL metrics Spark keeps in its in-process status stores.

Spans are kept in memory and summarised when the run ends. A disabled
tracer records nothing and sets no job groups, so the untraced run pays
for none of this; the traced run's own end-to-end figures minus the
untraced run's are the tracing overhead.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict
from dataclasses import dataclass

GROUP_PREFIX = "perfbench-"
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")
# SQL metric name -> the per-layer metric it adds to
SQL_METRICS = {
    "data sent to Python workers": "operators.arrow_bytes",
    "data returned from Python workers": "operators.arrow_bytes",
    "number of written files": "sinks.files_written",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    op: str | None        # the operation (job group) the span belongs to


def parse_metric_total(text: str) -> float:
    """The total of a size or count metric from its display string:
    a bare ``12.3 KiB`` or ``1,024``, or ``total (min, med, max ...)``
    followed by a line that starts with the total."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)(?:\s*(B|KiB|MiB|GiB|TiB))?\s*(?:\(|$)",
                 last)
    if m is None:
        raise ValueError(f"not a size or count metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2) or "B"]


def _items(jcoll):
    """Iterate a Java or Scala collection from py4j."""
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.plan_ms: list[float] = []
        self.ops: list[str] = []
        self._op: str | None = None

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(layer, name, start, time.perf_counter(),
                                   self._op))

    @contextlib.contextmanager
    def op(self, name: str):
        """One operation of a workload: its Spark jobs run under a job
        group named after it, so the status store can attribute them.
        The thread's own job properties (a streaming query sets its
        run id as the group) are put back afterwards."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
        group = GROUP_PREFIX + name
        sc.setJobGroup(group, name)
        self._op = group
        self.ops.append(group)
        try:
            yield
        finally:
            self._op = None
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def record_plan(self, *frames) -> None:
        """Catalyst analysis + optimisation + planning time of `frames`,
        summed into one entry. A frame that has not run yet is planned
        here (not executed)."""
        if not self.enabled:
            return
        total = 0
        for df in frames:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            for phase in _items(qe.tracker().phases().values()):
                total += phase.durationMs()
        self.plan_ms.append(float(total))

    def layer_ms(self, layer: str, name: str | None = None) -> list[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans
                if s.layer == layer and (name is None or s.name == name)]

    def spark_metrics(self) -> dict[str, float]:
        """Means per operation over every job run under one of this
        tracer's groups: jobs, stages, tasks, executor run/CPU/GC time,
        shuffle and spill bytes and bytes moved to and from Python
        workers (operators); records and bytes read from files
        (sources); rows, bytes and files written (sinks)."""
        tot = defaultdict(float)
        if not self.enabled or not self.ops:
            return dict(tot)
        groups = set(self.ops)
        jsc = self.spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        stage_ids: set[int] = set()
        job_ids: set[int] = set()
        for job in _items(store.jobsList(None)):
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() in groups:
                job_ids.add(job.jobId())
                stage_ids.update(_items(job.stageIds()))
        tot["operators.jobs"] = len(job_ids)
        gw = self.spark.sparkContext._gateway
        stages = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for st in _items(stages):
            if st.stageId() not in stage_ids:
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            tot["operators.stages"] += 1
            tot["operators.tasks"] += st.numCompleteTasks()
            tot["operators.run_ms"] += st.executorRunTime()
            tot["operators.cpu_ms"] += st.executorCpuTime() / 1e6
            tot["operators.gc_ms"] += st.jvmGcTime()
            tot["operators.shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["operators.shuffle_read_bytes"] += st.shuffleReadBytes()
            tot["operators.spill_bytes"] += (st.memoryBytesSpilled()
                                             + st.diskBytesSpilled())
            tot["sources.records_in"] += st.inputRecords()
            tot["sources.bytes_read"] += st.inputBytes()
            tot["sinks.rows_written"] += st.outputRecords()
            tot["sinks.bytes_written"] += st.outputBytes()
        tot.update(self._sql_totals(job_ids))
        n = len(groups)
        return {k: v / n for k, v in tot.items()}

    def _sql_totals(self, job_ids: set[int]) -> dict[str, float]:
        """SQL metrics summed over the executions that ran `job_ids`."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        tot = {name: 0.0 for name in SQL_METRICS.values()}
        for ex in _items(sql.executionsList()):
            if not any(int(j) in job_ids for j in _items(ex.jobs().keySet())):
                continue
            wanted = {m.accumulatorId(): SQL_METRICS[m.name()]
                      for m in _items(ex.metrics())
                      if m.name() in SQL_METRICS}
            if not wanted:
                continue
            # iterate: a py4j int key would not match the Long keys
            for kv in _items(sql.executionMetrics(ex.executionId())):
                name = wanted.get(int(kv._1()))
                if name is not None:
                    tot[name] += parse_metric_total(kv._2())
        return tot
