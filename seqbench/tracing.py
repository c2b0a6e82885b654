"""Spans around the benchmark's calls into the package, with Spark's own
counters attached.

A span has a name, start, end, parent and the id of the request or pass it
belongs to. Each span runs its Spark jobs under a job group of its own; when
the run ends, the job ids of each group come from the status tracker and the
per-stage counters (tasks, executor time, CPU, GC, shuffle, spill) from the
application status store. SQL metrics are read from a query's executed plan
after its action. Everything is kept in memory during the run and written
out once at the end, so a span costs two JVM calls while it is open.

With tracing off, :meth:`Tracer.span` and :meth:`Tracer.plan` do nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

from stats import median

_JOINS = {
    "ShuffledHashJoinExec", "SortMergeJoinExec", "BroadcastHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
}
_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputRecords",
    "shuffleWriteBytes", "shuffleReadBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _rows(node) -> int:
    m = node.metrics().get("numOutputRows")
    return int(m.get().value()) if m.isDefined() else 0


def plan_metrics(jplan) -> dict:
    """Row counts from an executed physical plan, walked through adaptive
    query stages: rows read by file scans, rows out of ``Generate`` (the
    binned rewrite's bin explode) and rows out of joins."""
    out = {"scan_rows": 0, "generate_rows": 0, "generate_nodes": 0, "join_rows": 0}
    todo = [jplan]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            out["scan_rows"] += _rows(node)
        elif kind == "GenerateExec":
            out["generate_rows"] += _rows(node)
            out["generate_nodes"] += 1
        elif kind in _JOINS:
            out["join_rows"] += _rows(node)
        todo.extend(_seq(node.children()))
    return out


class Tracer:
    """Records spans when ``enabled``; a no-op otherwise."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._plans: list[tuple[int, object]] = []
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._sc.setJobGroup(self._group(rec["id"]), name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self._sc.setJobGroup(self._group(top), self.spans[top]["name"])
            else:
                self._sc._jsc.clearJobGroup()

    def plan(self, df) -> None:
        """Keep the executed plan of ``df`` (after its action) for the
        innermost open span."""
        if self.enabled and self._stack:
            self._plans.append((self._stack[-1], df._jdf.queryExecution().executedPlan()))

    @staticmethod
    def _group(span_id: int) -> str:
        return f"seqbench-span-{span_id}"

    def finish(self) -> None:
        """Attach Spark counters and plan metrics to every span."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["spark"] = self._counters(store, tracker.getJobIdsForGroup(self._group(rec["id"])))
            rec["plan"] = {}
        for sid, jplan in self._plans:
            for k, v in plan_metrics(jplan).items():
                self.spans[sid]["plan"][k] = self.spans[sid]["plan"].get(k, 0) + v
        self._plans.clear()
        for rec in reversed(self.spans):  # children before parents
            if rec["parent"] is not None:
                up = self.spans[rec["parent"]]
                for part in ("spark", "plan"):
                    for k, v in rec[part].items():
                        merge = max if k == "skew" else (lambda a, b: a + b)
                        up[part][k] = merge(up[part].get(k, 0), v)

    @staticmethod
    def _counters(store, job_ids) -> dict:
        c = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "tasks_failed": 0,
             "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0, "input_records": 0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0, "skew": 0.0}
        longest = None
        for jid in job_ids:
            try:
                stage_ids = _seq(store.job(jid).stageIds())
            except Py4JError:  # evicted from the store
                continue
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                f = {k: getattr(st, k)() for k in _STAGE_FIELDS}
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["tasks_failed"] += st.numFailedTasks()
                c["executor_run_s"] += f["executorRunTime"] / 1e3
                c["executor_cpu_s"] += f["executorCpuTime"] / 1e9
                c["gc_s"] += f["jvmGcTime"] / 1e3
                c["input_records"] += f["inputRecords"]
                c["shuffle_write_mb"] += f["shuffleWriteBytes"] / 2**20
                c["shuffle_read_mb"] += f["shuffleReadBytes"] / 2**20
                c["spill_mb"] += (f["memoryBytesSpilled"] + f["diskBytesSpilled"]) / 2**20
                if longest is None or f["executorRunTime"] > longest[0]:
                    longest = (f["executorRunTime"], sid, st.attemptId())
        if longest is not None:
            durations = []
            for t in _seq(store.taskList(longest[1], longest[2], 100_000)):
                d = t.duration()
                if d.isDefined():
                    durations.append(float(d.get()))
            if durations and median(durations) > 0:
                c["skew"] = max(durations) / median(durations)
        return c

    def dump(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)
