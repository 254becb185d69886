"""Reader for Spark's in-process status stores, over py4j.

Jobs are attributed to benchmark ops by job group (the benchmark sets
``pb<op id>`` around each op). Stage metrics come from the SparkContext
``AppStatusStore``; Python-worker metrics come from the SQL execution
metrics, which Spark keeps as formatted strings. Both stores fill
asynchronously from the listener bus, so ``wait_idle`` polls until every
job the store knows of has finished before anything is read.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict

_UNITS = {
    "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")
PYTHON_TIME = "time to run Python workers"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
#: Physical operators that run user code in Python worker processes.
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
)


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('5.4 s', '2.9 MiB', or the multi-task
    'total (min, med, max ...)\\n2.0 s (...)') as seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1.0)


def python_nodes(df) -> int:
    """Python-worker operators in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(n) for n in PYTHON_NODES)


def _opt(o):
    return o.get() if o.isDefined() else None


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jvm = self.sc._gateway.jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)

    def wait_idle(self, timeout: float = 10.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not any(j.status().toString() == "RUNNING" for j in _iter(self._store.jobsList(None))):
                return
            time.sleep(0.05)

    def jobs_by_group(self, prefix: str) -> dict[str, list[dict]]:
        """Job group -> [{start, end, stages, tasks, <stage metric sums>}]
        for every finished job whose group starts with ``prefix``."""
        out: dict[str, list[dict]] = defaultdict(list)
        for j in _iter(self._store.jobsList(None)):
            group = _opt(j.jobGroup())
            start, end = _opt(j.submissionTime()), _opt(j.completionTime())
            if group is None or not group.startswith(prefix) or start is None or end is None:
                continue
            rec = {
                "start": start.getTime() / 1000.0, "end": end.getTime() / 1000.0,
                "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            }
            for sid in _iter(j.stageIds()):
                for s in _iter(self._store.stageData(sid, False, None, False, self._no_quantiles)):
                    if s.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += s.numTasks()
                    rec["run_ms"] += s.executorRunTime()
                    rec["cpu_ns"] += s.executorCpuTime()
                    rec["gc_ms"] += s.jvmGcTime()
                    rec["shuffle_read"] += s.shuffleReadBytes()
                    rec["shuffle_write"] += s.shuffleWriteBytes()
                    rec["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out[group].append(rec)
        return out

    def last_execution_id(self) -> int:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        return max((e.executionId() for e in _iter(sql.executionsList())), default=-1)

    def python_metrics(self, after_id: int = -1) -> dict[str, float]:
        """Summed Python-worker seconds and bytes over the SQL executions
        with id > ``after_id``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = {"python_s": 0.0, "python_bytes": 0.0}
        for e in _iter(sql.executionsList()):
            eid = e.executionId()
            if eid <= after_id:
                continue
            names = {m.accumulatorId(): m.name() for m in _iter(e.metrics())}
            for kv in _iter(sql.executionMetrics(eid)):
                name = names.get(kv._1())
                if name == PYTHON_TIME:
                    total["python_s"] += parse_metric(kv._2())
                elif name in PYTHON_BYTES:
                    total["python_bytes"] += parse_metric(kv._2())
        return total
