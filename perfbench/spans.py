"""Spans around each layer call, plus what Spark itself recorded for them.

A ``Tracer`` keeps spans in memory (name, start, end, parent, iteration).
With tracing off, ``span`` only yields and records nothing.  With tracing
on, a span that may run Spark jobs sets a job group named after itself;
when it ends, the tracer reads, from Spark's status store, the jobs of that
group, their stages' task metrics and the SQL operator metrics of any
Python-UDF node.  Reading the status store runs no Spark job.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
         "TiB": 1024.0**4}

# SQL metric name on a Python-UDF plan node -> (udf.* key, scale to its unit)
_UDF_METRICS = {
    "number of output rows": ("rows", 1.0),
    "data sent to Python workers": ("mb_to_py", 1 / 1e6),
    "data returned from Python workers": ("mb_from_py", 1 / 1e6),
    "time to run Python workers": ("eval_ms", 1e3),
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '200,000', '1.2 MiB', or the total of
    'total (min, med, max ...)\\n10.1 s (2.4 s, ...)'."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].replace(",", "").strip()
    m = re.fullmatch(r"(-?[0-9.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNIT.get(m.group(2), 1.0)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.iteration: int | None = None

    def attach(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        """Record one layer call.  ``jobs=True`` marks a span whose Spark jobs,
        stages and SQL metrics are read when it ends."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "iter": self.iteration,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if (jobs and self.spark) else None
        if sc is not None:
            group = rec["group"] = f"perfbench-{rec['id']}"
            watermark = self._last_execution_id()
            sc.setJobGroup(group, name, False)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                parent = next((s for s in reversed(self._stack) if "group" in s), None)
                sc.setLocalProperty("spark.jobGroup.id",
                                    parent["group"] if parent else None)
                self._read_spark(rec, group, watermark)

    # ---------------------------------------------------------------- spark
    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        execs = self._sql_store().executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def _read_spark(self, rec: dict, group: str, watermark: int) -> None:
        sc = self.spark.sparkContext
        # the status store is filled by an asynchronous listener: let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        quantile = sc._gateway.new_array(sc._gateway.jvm.double, 1)
        quantile[0] = 1.0
        st = dict(jobs=0, stages=0, tasks=0, task_run_s=0.0, task_cpu_s=0.0,
                  jvm_gc_s=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0,
                  spill_mb=0.0, max_task_s=0.0)
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            st["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                st["stages"] += 1
                st["tasks"] += sd.numCompleteTasks()
                st["task_run_s"] += sd.executorRunTime() / 1e3
                st["task_cpu_s"] += sd.executorCpuTime() / 1e9
                st["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                st["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                st["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                st["spill_mb"] += sd.diskBytesSpilled() / 1e6
                summary = store.taskSummary(sid, sd.attemptId(), quantile)
                if summary.isDefined():
                    st["max_task_s"] = max(st["max_task_s"],
                                           summary.get().duration().apply(0) / 1e3)
        rec["spark"] = st
        rec["udf"], rec["plan_kb"] = self._read_sql(watermark)

    def _read_sql(self, watermark: int) -> tuple[dict, float]:
        """Python-UDF node metrics and the largest executed-plan text (KB) of
        the SQL executions started after ``watermark``."""
        ss = self._sql_store()
        udf = {key: 0.0 for key, _ in _UDF_METRICS.values()}
        plan_kb = 0.0
        execs = ss.executionsList()
        i = execs.size() - 1
        while i >= 0:
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= watermark:
                break
            i -= 1
            plan_kb = max(plan_kb, len(e.physicalPlanDescription()) / 1024)
            values = ss.executionMetrics(eid)
            nodes = ss.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "Python" not in node.name() and "Pandas" not in node.name():
                    continue
                metrics = node.metrics()
                for z in range(metrics.size()):
                    pm = metrics.apply(z)
                    if pm.name() in _UDF_METRICS:
                        key, scale = _UDF_METRICS[pm.name()]
                        v = values.get(pm.accumulatorId())
                        if v.isDefined():
                            udf[key] += parse_metric(v.get()) * scale
        return udf, plan_kb

    @staticmethod
    def catalyst_phases(df) -> dict[str, float]:
        """Plan ``df`` and return its tracker phase times in ms."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        out = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    # ------------------------------------------------------------- summary
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its child spans cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans if "end" in s}
        for s in self.spans:
            if s["parent"] is not None and s["id"] in own:
                own[s["parent"]] -= s["end"] - s["start"]
        return own
