"""Spans and Spark-side numbers, read from the benchmark process.

Nothing here reaches into the engine: every number comes from state Spark
already keeps in the driver —

* the status store (``AppStatusStore``): jobs with their submission
  time, per-stage executor run/CPU time, shuffle bytes, spill, and
  per-task durations;
* a collected DataFrame's ``QueryExecution``: Catalyst phase times and
  the SQL metrics of every node of the final physical plan.

``Tracer`` keeps spans in memory (name, start, end, parent, request id,
attributes) and writes them out once, at the end of a run. With tracing
off it still times ops but reads no Spark state and keeps no spans.

A root span owns the Spark jobs submitted while it ran (time-window
attribution). The benchmark's client is one thread that runs one call at
a time, so this also catches jobs the engine submits from its own threads
(the build's plan ∥ dictionary, the streaming query's micro-batches),
which a caller-side job group would not reach.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    rid: int
    parent: str | None
    start: float
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, to compare with Spark's clocks
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    """Sums over a set of Spark stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0  # max/median task time of the heaviest stage


class SparkState:
    """Reads jobs, stages and plan metrics out of the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._scala_sc = self.sc._jsc.sc()
        self._store = self._scala_sc.statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_exec = 0
        self.jobs_since()  # skip jobs run before the tracer existed
        self.filter_rows_since()

    def _drain(self) -> None:
        # the status store is fed by the asynchronous listener bus; an
        # action's last task/stage/job events can still be queued when
        # the action returns
        self._scala_sc.listenerBus().waitUntilEmpty(30_000)

    def _opt(self, o):
        return o.get() if o.isDefined() else None

    def jobs_since(self) -> list[dict]:
        """Every job submitted since the previous call, in id order."""
        from py4j.protocol import Py4JJavaError

        self._drain()
        out = []
        while True:
            try:
                j = self._store.job(self._next_job)
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            sub = self._opt(j.submissionTime())
            out.append(
                {
                    "id": j.jobId(),
                    "submitted": sub.getTime() / 1000.0 if sub is not None else None,
                    "stage_ids": list(self._conv.asJava(j.stageIds())),
                }
            )
            self._next_job += 1
        return out

    def filter_rows_since(self) -> int:
        """Rows that left Filter nodes in the SQL executions run since the
        previous call (from the SQL status store's final metric values)."""
        self._drain()
        n = self._sql.executionsCount()
        rows = 0
        if n <= self._next_exec:
            return rows
        for e in self._conv.asJava(self._sql.executionsList(self._next_exec, n - self._next_exec)):
            values = e.metricValues()
            if values is None:
                continue
            values = self._conv.asJava(values)
            for node in self._conv.asJava(self._sql.planGraph(e.executionId()).allNodes()):
                if node.name() != "Filter":
                    continue
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v:
                        rows += int(v.replace(",", "").split()[0])
        self._next_exec = n
        return rows

    def stage_stats(self, jobs: list[dict]) -> StageStats:
        from py4j.protocol import Py4JJavaError

        st = StageStats(jobs=len(jobs))
        heaviest = None
        for sid in sorted({s for j in jobs for s in j["stage_ids"]}):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if str(s.status()) == "SKIPPED":
                continue
            st.stages += 1
            st.tasks += s.numTasks()
            run_ms = s.executorRunTime()
            st.task_s += run_ms / 1000.0
            st.cpu_s += s.executorCpuTime() / 1e9
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.output_bytes += s.outputBytes()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if heaviest is None or run_ms > heaviest[0]:
                heaviest = (run_ms, sid, s.attemptId(), s.numTasks())
        if heaviest is not None and heaviest[3] > 1:
            tasks = self._conv.asJava(
                self._store.taskList(heaviest[1], heaviest[2], heaviest[3])
            )
            durs = [self._opt(t.duration()) for t in tasks]
            durs = [d for d in durs if d is not None]
            if durs and statistics.median(durs) > 0:
                st.task_skew = max(durs) / statistics.median(durs)
        return st

    def plan_metrics(self, df) -> dict:
        """Catalyst phase seconds and per-node SQL metrics (summed by node
        name) of a DataFrame that has been collected."""
        qe = df._jdf.queryExecution()
        phases = {
            k: v.durationMs() / 1000.0
            for k, v in self._conv.asJava(qe.tracker().phases()).items()
        }
        plan = qe.executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.finalPhysicalPlan()
        nodes: dict[str, dict[str, int]] = {}
        udf_rows_in = 0
        todo = [plan]
        while todo:
            n = todo.pop()
            metrics = self._metrics(n)
            acc = nodes.setdefault(n.nodeName(), {})
            for k, v in metrics.items():
                acc[k] = acc.get(k, 0) + v
            if n.nodeName() == "FlatMapGroupsInPandas":
                udf_rows_in += self._rows_into(n)
            todo.extend(self._children(n))
        return {
            "catalyst_s": sum(phases.values()),
            "phases": phases,
            "nodes": nodes,
            "udf_rows_in": udf_rows_in,
        }

    def _metrics(self, node) -> dict[str, int]:
        return {k: v.value() for k, v in self._conv.asJava(node.metrics()).items()}

    def _children(self, node) -> list:
        kids = list(self._conv.asJava(node.children()))
        if node.nodeName().endswith("QueryStage"):
            kids.append(node.plan())
        return kids

    def _rows_into(self, node) -> int:
        """Rows fed to a pandas UDF node: the output row count of the
        nearest node below it that counts rows."""
        queue = self._children(node)
        while queue:
            n = queue.pop(0)
            m = self._metrics(n)
            for key in ("numOutputRows", "recordsRead"):
                if key in m:
                    return m[key]
            queue.extend(self._children(n))
        return 0


class Tracer:
    """Times benchmark ops; when enabled also records spans and Spark state."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.spark = SparkState(spark) if enabled else None
        self._rids = itertools.count(1)
        self.overhead_s = 0.0  # time spent reading Spark state

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None):
        """Times the block; a child span shares its parent's request id.
        In a traced run a root span gets the jobs submitted while it ran
        (``attrs['jobs']``)."""
        rid = parent.rid if parent else next(self._rids)
        sp = Span(name, rid, parent.name if parent else None, 0.0)
        if self.enabled and parent is None:
            # work run outside any span is nobody's: drop it from the
            # job and SQL-execution watermarks before the span starts
            t = time.perf_counter()
            self.spark.jobs_since()
            self.spark.filter_rows_since()
            self.overhead_s += time.perf_counter() - t
        sp.start = time.perf_counter()
        sp.wall_start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if self.enabled:
                self.spans.append(sp)
                if parent is None:
                    t = time.perf_counter()
                    sp.attrs["jobs"] = self.spark.jobs_since()
                    self.overhead_s += time.perf_counter() - t

    def stage_stats(self, jobs: list[dict]) -> StageStats:
        t = time.perf_counter()
        st = self.spark.stage_stats(jobs)
        self.overhead_s += time.perf_counter() - t
        return st

    def filter_rows_since(self) -> int:
        t = time.perf_counter()
        rows = self.spark.filter_rows_since()
        self.overhead_s += time.perf_counter() - t
        return rows

    def plan_metrics(self, df) -> dict:
        t = time.perf_counter()
        pm = self.spark.plan_metrics(df)
        self.overhead_s += time.perf_counter() - t
        return pm

    def dump(self, path: str) -> None:
        """Write every span as one JSON line (jobs reduced to ids)."""
        with open(path, "w") as f:
            for s in self.spans:
                attrs = dict(s.attrs)
                if "jobs" in attrs:
                    attrs["jobs"] = [j["id"] for j in attrs["jobs"]]
                f.write(json.dumps({
                    "name": s.name, "rid": s.rid, "parent": s.parent,
                    "start": s.start, "end": s.end, "attrs": attrs,
                }, default=str) + "\n")
