"""Spans around calls into the program, plus Spark status-store counters.

Every timed call in a workload goes through :meth:`Tracer.span`, which
always records (name, start, end, parent, request id) in memory: the
end-to-end metrics are computed from these spans in both modes. With
tracing on, each span also tags the Spark jobs it starts with a job
group (``SparkContext.setJobGroup``); when the run ends, one pass over
the status store (``sparkContext._jsc.sc().statusStore()``) attributes
every job's stages (tasks, executor run/CPU time, shuffle bytes, spill,
GC, input records) to the span that started it. Nothing inside the
program is instrumented.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_PREFIX = "perfbench-span-"

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "jvmGcTime",  # ms
    "inputRecords",
    "outputBytes",
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    req: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: dict = field(default_factory=dict)  # own jobs' stage totals
    solve_run_ms: float = 0.0  # own stages running applyInPandas

    @property
    def layer(self) -> str:
        return self.name.rsplit(".", 1)[0] if "." in self.name else self.name

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``enabled`` turns on job-group tagging and the
    status-store harvest; span timing is always on."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.bookkeeping_s = 0.0  # time spent tagging jobs and harvesting counters

    def attach(self, spark) -> None:
        """Tag jobs of ``spark`` from now on (``None`` before it stops)."""
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(len(self.spans), name, 0.0, parent.sid if parent else None, req, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled and self._sc is not None:
            t = time.perf_counter()
            self._sc.setJobGroup(f"{_GROUP_PREFIX}{s.sid}", name)
            self.bookkeeping_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled and self._sc is not None:
                t = time.perf_counter()
                if parent is not None:
                    self._sc.setJobGroup(f"{_GROUP_PREFIX}{parent.sid}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self.bookkeeping_s += time.perf_counter() - t

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    # ---------------------------------------------------------- harvest
    def harvest(self, spark, solve_under: tuple[str, ...] = ()) -> None:
        """Attribute the status store's jobs and stages to spans. Must run
        before the SparkContext the spans ran under is stopped. Stages of
        spans named in ``solve_under`` (or below them) are also checked
        for an applyInPandas solve (``FlatMapGroupsInPandas`` in the
        stage's operation graph)."""
        if not self.enabled:
            return
        t = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API; a short pause lets the bus drain
            time.sleep(1.0)
        jvm = spark._jvm
        store = jsc.statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__(
                "MODULE$"
            )
        )
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        by_sid = {s.sid: s for s in self.spans}
        stage_span: dict[int, Span] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if not group.startswith(_GROUP_PREFIX):
                continue
            span = by_sid.get(int(group[len(_GROUP_PREFIX):]))
            if span is None:
                continue
            span.jobs.append(job["jobId"])
            for st in job["stageIds"]:
                stage_span.setdefault(st, span)
        solve_spans = {s.sid for s in self.spans if self._under(s, solve_under, by_sid)}
        graph = store.operationGraphForStage
        dot = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
        for st in stages:
            span = stage_span.get(st["stageId"])
            if span is None:
                continue
            for f in STAGE_FIELDS:
                span.stages[f] = span.stages.get(f, 0) + (st.get(f) or 0)
            if span.sid in solve_spans and st.get("numTasks") and st["status"] == "COMPLETE":
                if '"FlatMapGroupsInPandas"' in dot(graph(st["stageId"])):
                    span.solve_run_ms += st["executorRunTime"]
        self.bookkeeping_s += time.perf_counter() - t

    @staticmethod
    def _under(s: Span, names: tuple[str, ...], by_sid: dict) -> bool:
        while s is not None:
            if s.name in names:
                return True
            s = by_sid.get(s.parent) if s.parent is not None else None
        return False

    # ---------------------------------------------------------- reports
    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def counters(self, name: str) -> dict:
        """Status-store totals over every span named ``name`` and its
        descendants, plus the job count."""
        tot: dict = {"jobs": 0, "solve_run_ms": 0.0}
        for root in (s for s in self.spans if s.name == name):
            for s in self.subtree(root):
                tot["jobs"] += len(s.jobs)
                tot["solve_run_ms"] += s.solve_run_ms
                for f, v in s.stages.items():
                    tot[f] = tot.get(f, 0) + v
        return tot

    def self_times_under(self, root: Span) -> dict[str, float]:
        """Seconds per layer, over ``root``'s subtree, not covered by child
        spans. The driver thread runs one span at a time, so children
        never overlap and self time is the duration minus the children's."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.subtree(root):
            out[s.layer] = out.get(s.layer, 0.0) + s.dur - child_time.get(s.sid, 0.0)
        return out

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "parent": s.parent,
                            "req": s.req,
                            "start_s": round(s.start - t0, 6),
                            "end_s": round(s.end - t0, 6),
                            "attrs": s.attrs,
                            "jobs": s.jobs,
                            "stages": s.stages,
                            "solve_run_ms": s.solve_run_ms,
                        }
                    )
                    + "\n"
                )
