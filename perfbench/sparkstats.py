"""Counters read from a live SparkSession's status stores through py4j.

Nothing here changes what the engine runs: every number comes from the
listener-fed stores Spark keeps even with ``spark.ui.enabled=false``
(the job/stage store behind ``statusTracker`` and the SQL store behind
``sharedState().statusStore()``) or from the JVM's management beans.
"""

from __future__ import annotations

import re

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
_TIME_UNITS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float:
    """Raw number behind one formatted SQL metric value.

    ``SQLMetrics.stringValue`` renders sums as ``"1,234"``, sizes as
    ``"3.0 MiB"`` and timings as ``"12 ms"``/``"1.5 s"``; a metric updated
    by more than one task is prefixed by a ``"total (min, med, max …)"``
    header line, and its second line starts with the total.  Sizes come
    back in bytes, timings in milliseconds, counts as is.
    """
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    number, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return number
    if unit in _SIZE_UNITS:
        return number * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return number * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value: {text!r}")


# (benchmark counter, SQL metric name, predicate on the plan node's name or
# None for every node).
_OPERATOR_METRICS = (
    ("exec.shuffle_bytes", "shuffle bytes written", None),
    ("exec.shuffle_records", "shuffle records written", None),
    ("exec.spill_bytes", "spill size", None),
    ("exec.peak_memory_bytes", "peak memory", None),
    ("exec.sort_fallback_tasks", "number of sort fallback tasks", None),
    ("exec.broadcast_bytes", "data size", lambda n: n.startswith("BroadcastExchange")),
    ("exec.scan_rows", "number of output rows",
     lambda n: n.startswith(("Scan ", "BatchScan"))),
    ("exec.scan_bytes", "size of files read", None),
    ("exec.python_rows", "number of output rows",
     lambda n: "Python" in n or "Pandas" in n or "InArrow" in n),
)
_COUNTERS = tuple(dict.fromkeys(k for k, _, _ in _OPERATOR_METRICS))


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class SparkStats:
    """Snapshots of job, stage, SQL-execution and GC counters.

    ``mark()`` returns the current high-water marks; ``since(mark)``
    returns what ran after them.  Job and stage ids are allocated
    app-wide, so a window counts work from every job group and thread,
    including streaming micro-batches started on the stream's own thread.
    """

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._dag = self._sc.dagScheduler()
        self._gc_beans = list(
            self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event, so
        the stores reflect the jobs and executions that just finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return _seq(self.jvm, self._sql.executionsList(int(n) - 1, 1))[0].executionId()

    def gc(self) -> tuple[int, float]:
        count = sum(max(b.getCollectionCount(), 0) for b in self._gc_beans)
        ms = sum(max(b.getCollectionTime(), 0) for b in self._gc_beans)
        return count, ms / 1e3

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job (py4j unboxes the counter)."""
        return int(self._dag.nextJobId())

    def mark(self) -> dict:
        self.drain()
        gc_count, gc_s = self.gc()
        return {
            "job": self.next_job_id(),
            "stage": int(self._dag.nextStageId()),
            "execution": self._last_execution_id(),
            "gc_count": gc_count,
            "gc_s": gc_s,
        }

    def since(self, mark: dict, upto: dict | None = None, operators: bool = False) -> dict:
        """Counters accumulated between two marks (``upto`` defaults to
        now): jobs, stages, tasks, failed tasks and GC, plus the operator
        metrics of the SQL executions in between when ``operators``."""
        now = upto or self.mark()
        out = {
            "exec.jobs": now["job"] - mark["job"],
            "exec.stages": now["stage"] - mark["stage"],
            "jvm.gc_count": now["gc_count"] - mark["gc_count"],
            "jvm.gc_s": now["gc_s"] - mark["gc_s"],
        }
        tasks = failed = 0
        for sid in range(mark["stage"], now["stage"]):
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        out["exec.tasks"], out["exec.failed_tasks"] = tasks, failed
        if operators:
            out.update(self.operator_metrics(mark["execution"], now["execution"]))
        return out

    def operator_metrics(self, after_id: int, upto_id: int) -> dict:
        """Sum the operator metrics of SQL executions in (after_id, upto_id]."""
        out = dict.fromkeys(_COUNTERS, 0.0)
        out["exec.sql_executions"] = 0
        if upto_id <= after_id:
            return out
        n = int(self._sql.executionsCount())
        want = upto_id - after_id
        execs = _seq(self.jvm, self._sql.executionsList(max(0, n - want), want))
        for ex in execs:
            eid = ex.executionId()
            if not after_id < eid <= upto_id:
                continue
            out["exec.sql_executions"] += 1
            values = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                self._sql.executionMetrics(eid))
            for node in _seq(self.jvm, self._sql.planGraph(eid).allNodes()):
                name = node.name()
                for metric in _seq(self.jvm, node.metrics()):
                    for key, mname, on_node in _OPERATOR_METRICS:
                        if metric.name() != mname or (on_node and not on_node(name)):
                            continue
                        text = values.get(metric.accumulatorId())
                        if text is not None:
                            out[key] += parse_metric_value(text)
        return out
