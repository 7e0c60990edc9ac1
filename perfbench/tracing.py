"""Spans around the benchmark's calls into each layer, and Spark's own
job/stage/task counters attributed to them.

Each span sets a Spark job group named after it, so every job the layer
starts is tagged by Spark itself; after the run the counters are read
back from Spark's in-process status stores (``AppStatusStore`` for jobs, stages
and tasks, ``SQLAppStatusStore`` for per-operator row counts). Jobs a
layer starts under a job group of its own (the subscription evaluator
sets one) are attributed to the innermost span whose interval holds
their submission time. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from collections.abc import Iterator

from harness import Span

GROUP_PREFIX = "perfbench."


class NullTracer:
    """Untraced runs: the same call sites, no spans and no job groups."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    @contextlib.contextmanager
    def request(self, rid: int) -> Iterator[None]:
        yield


class Tracer:
    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[tuple[int, str]] = []
        self._next = 0
        self._request: int | None = None

    def _set_group(self) -> None:
        if self._stack:
            sid, name = self._stack[-1]
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def request(self, rid: int) -> Iterator[None]:
        """Spans opened inside share the request id ``rid``."""
        self._request = rid
        try:
            yield
        finally:
            self._request = None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._set_group()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group()
            self.spans.append(Span(sid, name, parent, self._request, start, end))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _count(text: str) -> int:
    return int(text.replace(",", "").split()[0])


def collect_jobs(sc, spans: list[Span]) -> dict[int, dict]:
    """Every job Spark ran inside a span, keyed by job id, with the span
    it belongs to and its stages' counters."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    by_sid = {s.sid: s for s in spans}
    depth: dict[int, int] = {}
    for s in spans:
        d, p = 0, s.parent
        while p is not None:
            d, p = d + 1, by_sid[p].parent
        depth[s.sid] = d
    jobs: dict[int, dict] = {}
    for j in _seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        submitted = _opt(j.submissionTime())
        t = submitted.getTime() / 1000.0 if submitted is not None else None
        if group and group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
        elif t is not None:
            inside = [s for s in spans if s.start <= t <= s.end]
            if not inside:
                continue
            sid = max(inside, key=lambda s: depth[s.sid]).sid
        else:
            continue
        if sid not in by_sid:
            continue
        stages = []
        for stage_id in _seq(j.stageIds()):
            st = store.lastStageAttempt(stage_id)
            if st.status().toString() == "SKIPPED":
                continue
            durations, wait_ms = [], 0
            for task in _seq(store.taskList(st.stageId(), st.attemptId(), 100_000)):
                d = _opt(task.duration())
                if d is not None:
                    durations.append(d)
                wait_ms += task.schedulerDelay()
            stages.append({
                "stage": stage_id,
                "tasks": st.numTasks(),
                "failed_tasks": st.numFailedTasks(),
                "run_ms": st.executorRunTime(),
                "gc_ms": st.jvmGcTime(),
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "wait_ms": wait_ms,
                "skew": (max(durations) / statistics.median(durations)
                         if len(durations) >= 2 and statistics.median(durations) > 0
                         else 1.0),
            })
        jobs[j.jobId()] = {"sid": sid, "name": by_sid[sid].name, "stages": stages}
    return jobs


def inner_join_rows(spark, job_ids: set[int]) -> int:
    """Rows output by inner broadcast-hash joins in the SQL executions
    that ran any of ``job_ids``."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in _seq(store.executionsList()):
        ran = {int(k) for k in _seq(e.jobs().keys().toList())}
        if not ran & job_ids:
            continue
        values = store.executionMetrics(e.executionId())
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            if node.name() != "BroadcastHashJoin" or ", Inner," not in node.desc():
                continue
            for m in _seq(node.metrics()):
                if m.name() == "number of output rows":
                    v = _opt(values.get(m.accumulatorId()))
                    if v is not None:
                        total += _count(v)
    return total


def spark_totals(jobs: dict[int, dict], wall_s: float, cores: int) -> dict[str, float]:
    stages = [st for j in jobs.values() for st in j["stages"]]
    run_s = sum(st["run_ms"] for st in stages) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.executor_run_s": run_s,
        "spark.idle_share": 1.0 - run_s / (cores * wall_s) if wall_s > 0 else 0.0,
        "spark.task_wait_s": sum(st["wait_ms"] for st in stages) / 1000.0,
        "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "spark.spill_bytes": sum(st["spill"] for st in stages),
        "spark.gc_ms": sum(st["gc_ms"] for st in stages),
        "spark.task_skew": max((st["skew"] for st in stages), default=1.0),
        "spark.failed_tasks": sum(st["failed_tasks"] for st in stages),
    }
