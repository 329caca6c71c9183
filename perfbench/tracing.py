"""Per-call Spark counters and in-memory spans for the traced run.

Each public call runs under its own Spark job group.  After the call,
the group's jobs are mapped to stages and the stage metrics are read
from the status store (which works with ``spark.ui.enabled=false``).
Reading happens after the listener bus drains, so every finished stage
is accounted.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

MB = 1e6


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self.spans: list[dict] = []

    # -- spans ---------------------------------------------------------------

    def span(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a finished span; returns its id for use as a parent."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent}
        )
        return len(self.spans) - 1

    # -- job groups and counters ---------------------------------------------

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counters(self, group: str) -> dict:
        """Jobs, tasks, run/GC time, shuffle and spill of one job group,
        plus the task skew of its busiest stage."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = list(self._tracker.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        c = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
             "busiest_stage_run_s": 0.0, "skew": 1.0}
        for s in stages:
            try:
                sd = self._store.lastStageAttempt(s)
            except Py4JJavaError:  # evicted from the store
                continue
            run_s = sd.executorRunTime() / 1e3
            c["tasks"] += sd.numCompleteTasks()
            c["run_s"] += run_s
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            c["spill_mb"] += sd.diskBytesSpilled() / MB
            if run_s > c["busiest_stage_run_s"] and sd.numCompleteTasks() > 1:
                c["busiest_stage_run_s"] = run_s
                c["skew"] = self._skew(s, sd.attemptId())
        return c

    def _skew(self, stage: int, attempt: int) -> float:
        """Longest task over the median task of one stage."""
        summary = self._store.taskSummary(stage, attempt, self._quantiles)
        if not summary.isDefined():
            return 1.0
        q = summary.get().executorRunTime()
        med, top = q.apply(0), q.apply(1)
        return top / med if med > 0 else 1.0

    def sql_executions(self) -> int:
        """How many SQL executions the session has run so far."""
        return self._sql.executionsList().size()

    def generated_rows(self, since: int) -> int:
        """Rows produced by ``Generate`` (explode) nodes in the SQL
        executions numbered ``since`` and later.  For the binned join
        these are the bin rows, whether Spark then shuffles or
        broadcasts them."""
        self._jsc.listenerBus().waitUntilEmpty()
        executions = self._sql.executionsList()
        rows = 0
        for i in range(since, executions.size()):
            eid = executions.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() != "Generate":
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    if metric.name() == "number of output rows" and v.isDefined():
                        rows += int(v.get().replace(",", ""))
        return rows

    def cached_mb(self) -> float:
        """Storage held by persisted RDDs and Datasets, memory plus disk."""
        return sum(
            (r.memSize() + r.diskSize()) / MB for r in self._jsc.getRDDStorageInfo()
        )
