"""Spans and Spark counters for the traced run.

Spans are recorded by the benchmark around its calls into each layer's
public functions (no span lives inside the engine). Each span has a name,
a start and an end (``perf_counter`` seconds), the id of its parent span
and the id of the client operation it belongs to. Spans stay in memory
and are written out once, at the end of the run.

Spark counters come from the in-process status stores of the Spark JVM, the same
ones the Spark UI renders: the ``AppStatusStore`` for jobs and stages and
the ``SQLAppStatusStore`` for the SQL plan metrics, where Spark's
``PythonSQLMetrics`` (worker boot, init and run time, bytes sent and
received) live. The listener bus is asynchronous, so every read first
waits until it is empty; a counter read right after an action is then
final.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

#: SQL metric display name -> per-layer counter name (PythonSQLMetrics)
PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it -> ms or bytes.

    One task: ``'835 ms'``. Several: ``'total (min, med, max ...)\\n2.3 s
    (...)'``; the total is the first figure of the last line."""
    last = text.strip().split("\n")[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", last)
    if m is None:
        raise ValueError(f"unparseable SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkCounters:
    """Job, stage and SQL-execution counters between two marks.

    One client thread runs every action, so the jobs, stages and SQL
    executions created between ``mark()`` and ``since()`` are exactly the
    ones the operation in between caused."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def _stages(self):
        quant = self._gw.new_array(self._jvm.double, 0)
        empty = self._jvm.java.util.ArrayList()
        return self._store.stageList(empty, False, False, quant, self._jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int, int]:
        """(last job id, last stage id, last SQL execution id) so far."""
        self._drain()
        jobs, stages = self._jobs(), self._stages()
        job = jobs.apply(0).jobId() if jobs.size() else -1
        stage = stages.apply(0).stageId() if stages.size() else -1
        ex = -1 if self._sql.executionsCount() == 0 else self._last_execution()
        return job, stage, ex

    def _last_execution(self) -> int:
        ex = self._sql.executionsList(int(self._sql.executionsCount()) - 1, 1)
        return ex.apply(0).executionId() if ex.size() else -1

    def since(self, mark: tuple[int, int, int]) -> dict[str, float]:
        """Counters of everything that ran after ``mark``."""
        self._drain()
        job0, stage0, ex0 = mark
        out = dict.fromkeys(
            ["jobs", "stages", "tasks", "shuffle_write_records", "shuffle_bytes",
             "input_bytes", "output_bytes", "executor_cpu_ms"], 0.0)
        out.update({f"python.{v}": 0.0 for v in PYTHON_METRICS.values()})
        jobs = self._jobs()
        i = 0
        while i < jobs.size() and jobs.apply(i).jobId() > job0:
            out["jobs"] += 1
            i += 1
        stages = self._stages()
        i = 0
        while i < stages.size() and stages.apply(i).stageId() > stage0:
            s = stages.apply(i)
            i += 1
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_records"] += s.shuffleWriteRecords()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
        ex = ex0 + 1
        while True:
            opt = self._sql.execution(ex)
            if opt.isEmpty():
                break
            values = self._sql.executionMetrics(ex)
            metrics = opt.get().metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                key = PYTHON_METRICS.get(m.name())
                v = values.get(m.accumulatorId()) if key else None
                if v is not None and v.isDefined():
                    out[f"python.{key}"] += parse_metric(v.get())
            ex += 1
        return out


class Tracer:
    """In-memory span log plus per-span Spark counters.

    With ``enabled=False`` every method is a no-op that costs one branch,
    so the untraced run times the same code path."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters = SparkCounters(spark) if enabled else None
        self._stack: list[int] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, op_id: int, spark_counters: bool = False):
        """Record one span; with ``spark_counters`` also the Spark work
        that ran inside it (read after the span closes, outside its time)."""
        if not self.enabled:
            yield None
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        mark = self.counters.mark() if spark_counters else None
        rec = {"id": sid, "name": name, "op": op_id, "parent": parent}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if mark is not None:
                rec["spark"] = self.counters.since(mark)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its direct children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        selft = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": selft[s["id"]]}) + "\n")
