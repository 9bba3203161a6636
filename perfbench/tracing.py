"""Spans around public-function calls, Spark job groups, and the Spark
event-log parser that turns one traced run into per-layer numbers.

A span records name, start, end, parent and the iteration id it belongs
to. While a span is open, Spark jobs run under the job group
``<iteration>/<span name>``, so the event log attributes every job,
stage and task to the innermost open span. ``self_s`` is a span's
duration minus the part covered by its children.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Span:
    def __init__(self, name: str, parent: Span | None, iteration: str):
        self.name = name
        self.parent = parent
        self.iteration = iteration
        self.start = time.perf_counter()
        self.end: float | None = None
        self.children: list[Span] = []

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start

    @property
    def self_s(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    @property
    def group(self) -> str:
        return f"{self.iteration}/{self.name}"

    def as_dict(self, t0: float) -> dict:
        return {
            "name": self.name,
            "iteration": self.iteration,
            "parent": self.parent.name if self.parent else None,
            "start_s": self.start - t0,
            "end_s": (self.end or self.start) - t0,
            "self_s": self.self_s,
        }


class NullTracer:
    """The untraced path: no spans, no job groups."""

    @contextlib.contextmanager
    def span(self, name):
        yield None


class Tracer:
    """Records spans for one iteration and tags its Spark jobs."""

    def __init__(self, spark, iteration: str):
        self.sc = spark.sparkContext
        self.iteration = iteration
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stage: Span | None = None

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, self.iteration)
        if parent:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.remove(s)
        top = self._stack[-1] if self._stack else None
        if top is not None:
            self.sc.setJobGroup(top.group, top.name)
        else:
            self.sc.setJobGroup(f"{self.iteration}/-", "-")

    @contextlib.contextmanager
    def span(self, name):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def wrap_call(self, name, fn):
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def wrap_stage(self, name, fn):
        """Pipeline stages: a stage's span opens when its function is
        called and stays open until ``close_stage``, so it can also cover
        the checkpoint write that materializes the stage's lazy output."""

        def wrapped(*args, **kwargs):
            self.close_stage()
            self._stage = self._open(f"stage.{name}")
            return fn(*args, **kwargs)

        return wrapped

    def close_stage(self) -> None:
        if self._stage is not None:
            self._close(self._stage)
            self._stage = None


# ---------------------------------------------------------- event log

#: Physical-plan node names counted per plan.
PLAN_NODES = {
    "plan.exchange": "Exchange",
    "plan.broadcast_exchange": "BroadcastExchange",
    "plan.arrow_eval_python": "ArrowEvalPython",
    "plan.in_memory_scan": "InMemoryTableScan",
}


def _count_nodes(info: dict, counts: dict) -> None:
    name = info.get("nodeName", "")
    for metric, node in PLAN_NODES.items():
        if name == node:
            counts[metric] += 1
    for child in info.get("children", ()):
        _count_nodes(child, counts)


class EventLog:
    """Jobs, stages, tasks and final SQL plans of one Spark application,
    grouped by job group."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}
        self.plan_start: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "sql": props.get("spark.sql.execution.id"),
            }
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "tasks": info["Number of Tasks"],
                "s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3,
            }
        elif kind == "SparkListenerTaskEnd":
            self.tasks[e["Stage ID"]].append(e)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.plans[e["executionId"]] = e["sparkPlanInfo"]
            self.plan_start[e["executionId"]] = e["time"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            # the last plan seen for an execution is its final (AQE) plan
            self.plans[e["executionId"]] = e["sparkPlanInfo"]

    def metrics(self, groups, wall_s: float, cores: int, window: tuple[float, float]) -> dict:
        """Engine counts over every job whose group satisfies ``groups`` (a
        predicate on the group name). Plan shapes count every SQL execution
        started inside ``window`` (epoch ms): a lazily checkpointed frame's
        plan is planned in its own execution, which runs no job itself."""
        jobs = {j for j, info in self.jobs.items() if info["group"] and groups(info["group"])}
        stage_ids = {s for s, j in self.stage_job.items() if j in jobs and s in self.stages}
        tasks = [t for s in stage_ids for t in self.tasks.get(s, ())]
        m = defaultdict(float)
        for t in tasks:
            tm = t.get("Task Metrics") or {}
            ti = t["Task Info"]
            m["spark.task_failures"] += t["Task End Reason"]["Reason"] != "Success"
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spark.shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            ) / 1e6
            m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            m["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            m["input_rows"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            m["task_s"] += (ti["Finish Time"] - ti["Launch Time"]) / 1e3
        m["spark.jobs"] = len(jobs)
        m["spark.stages"] = len(stage_ids)
        m["spark.tasks"] = len(tasks)
        m["spark.single_task_stage_s"] = sum(
            self.stages[s]["s"] for s in stage_ids if self.stages[s]["tasks"] == 1
        )
        m["spark.idle_core_s"] = wall_s * cores - m["task_s"]
        for k in PLAN_NODES:
            m[k] = 0
        for sql, start in self.plan_start.items():
            if window[0] <= start <= window[1]:
                _count_nodes(self.plans[sql], m)
        return dict(m)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single application log in ``log_dir``, then delete it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {paths}")
    try:
        return EventLog(paths[0])
    finally:
        os.remove(paths[0])
