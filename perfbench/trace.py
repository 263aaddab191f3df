"""Spans and Spark counters recorded from outside the engine.

A span wraps one call into a layer's public function. Each span gets its
own Spark job group, so the jobs, tasks, executor time and shuffle/input
bytes Spark's status store holds for that group belong to that span alone
(jobs of a nested span are in the nested span's group, never the parent's).
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path


def _stage_counters(spark, job_ids) -> dict:
    """Tasks, failed tasks, executor time and bytes over ``job_ids``' stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict(jobs=len(job_ids), tasks=0, failed_tasks=0, executor_s=0.0,
               shuffle_write_bytes=0, shuffle_read_bytes=0, input_bytes=0,
               input_records=0)
    for job_id in job_ids:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # a stage the status store no longer holds
                continue
            out["tasks"] += st.numCompleteTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_s"] += st.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
    return out


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every finished job's
    events, so the status store is complete for what ran before."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class JobWindow:
    """Counters for every job a block of code starts, under one job group."""

    _ids = itertools.count()

    def __init__(self, spark, label: str):
        self.spark = spark
        self.group = f"perfbench-{next(self._ids)}-{label}"

    @contextmanager
    def active(self):
        sc = self.spark.sparkContext
        previous = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(self.group, self.group)
        try:
            yield self
        finally:
            if previous is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(previous, previous)

    def job_ids(self) -> list[int]:
        drain_listener_bus(self.spark)
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.group))

    def collect(self) -> dict:
        return _stage_counters(self.spark, self.job_ids())

    def scan_output_rows(self, node_name: str) -> int:
        """Rows output by every plan node called ``node_name`` in the SQL
        executions that ran this window's jobs (Spark's SQL status store)."""
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.spark._jsparkSession.sharedState().statusStore()
        mine = set(self.job_ids())
        total = 0
        for ex in conv.asJava(store.executionsList()):
            jobs = {int(j) for j in conv.asJava(ex.jobs().keySet())}
            if not jobs & mine:
                continue
            values = store.executionMetrics(ex.executionId())
            for node in conv.asJava(store.planGraph(ex.executionId()).allNodes()):
                if node.name() != node_name:
                    continue
                for metric in conv.asJava(node.metrics()):
                    if metric.name() == "number of output rows":
                        raw = values.get(metric.accumulatorId())
                        if raw.isDefined():
                            total += int(str(raw.get()).replace(",", ""))
        return total


class Tracer:
    """In-memory span recorder: name, start, end, parent, workload, op id,
    plus the span's own Spark counters."""

    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: int):
        index = len(self.spans)
        rec = {"name": name, "workload": self.workload, "op_id": op_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(index)
        window = JobWindow(self.spark, name)
        start = time.perf_counter()
        try:
            with window.active():
                yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            rec["start_s"] = start - self._t0
            rec["end_s"] = end - self._t0
            rec.update(window.collect())

    def durations(self, name: str) -> list[float]:
        return [s["end_s"] - s["start_s"] for s in self.spans if s["name"] == name]

    def self_time(self, index: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        rec = self.spans[index]
        children = sum(s["end_s"] - s["start_s"] for s in self.spans
                       if s["parent"] == index)
        return rec["end_s"] - rec["start_s"] - children

    def write(self, path: Path) -> None:
        for i, rec in enumerate(self.spans):
            rec["self_s"] = self.self_time(i)
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")
