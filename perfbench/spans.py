"""Client-side spans and per-op Spark attribution for the traced run.

A ``Tracer`` records one span per call into an engine layer (name, start,
end, parent span) and, when tracing is on, tags every Spark job the call
starts with its own job group. After the call it reads the jobs of that
group from ``statusTracker()`` and the stage totals from Spark's status
store, which is populated even with ``spark.ui.enabled=false``.

With tracing off a span is two clock reads and nothing is asked of Spark,
so the untraced runs that give the end-to-end numbers pay no tracing cost.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# stage call sites ("collect at .../build.py:602") are attributed to these
# modules. Parquet writes carry the JVM frame that DataFrameWriter was called
# through ("write"); stages that AQE and broadcast exchanges start from their
# own threads carry a CompletableFuture frame ("async"); the rest is "other".
CALLSITE_MODULES = ("build", "docids", "incremental", "merge", "search",
                    "perfbench", "write", "async", "other")


@dataclass
class SparkTotals:
    """Spark work of one span, summed over the stages its jobs ran."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    skew_ratio: float = 0.0
    by_callsite: dict = field(default_factory=dict)

    @property
    def shuffle_bytes(self) -> int:
        """Bytes the stages' exchanges wrote."""
        return self.shuffle_write_bytes


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    spark: SparkTotals | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def _callsite_module(stage_name: str) -> str:
    site = stage_name.rsplit(" at ", 1)[-1].split(":", 1)[0]
    if os.sep + "perfbench" + os.sep in site:
        return "perfbench"
    if site.startswith("NativeMethodAccessorImpl"):
        return "write"
    if site.startswith("CompletableFuture"):
        return "async"
    mod = os.path.basename(site).removesuffix(".py")
    return mod if mod in CALLSITE_MODULES else "other"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._stack: list[str] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, spark_work: bool = True):
        """Time the body; with tracing on and ``spark_work``, also attribute
        the Spark jobs it starts. Spans nest; only the outermost span that
        asks for Spark attribution owns the job group."""
        group = None
        if self.enabled and spark_work and not any(
                s.startswith("@") for s in self._stack):
            group = f"perfbench-{next(self._ids)}"
            self._sc.setJobGroup(group, name, False)
        parent = self._stack[-1].lstrip("@") if self._stack else None
        self._stack.append(("@" if group else "") + name)
        span = Span(name, time.perf_counter(), 0.0, parent)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
                span.spark = self._totals(group)
            self.spans.append(span)

    def of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # ------------------------------------------------------------ spark ---
    def _totals(self, group: str) -> SparkTotals:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        out = SparkTotals()
        job_ids = tracker.getJobIdsForGroup(group)
        out.jobs = len(job_ids)
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        gw = self._sc._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        biggest = None  # (shuffle bytes, stage id, attempt)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks() + st.numFailedTasks()
                out.failed_tasks += st.numFailedTasks()
                run_s = st.executorRunTime() / 1e3
                out.task_s += run_s
                out.cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                mod = _callsite_module(st.name())
                c = out.by_callsite.setdefault(mod, [0, 0.0])
                c[0] += 1
                c[1] += run_s
                shuffled = st.shuffleReadBytes()
                if shuffled and (biggest is None or shuffled > biggest[0]):
                    biggest = (shuffled, sid, st.attemptId())
        if biggest is not None:
            out.skew_ratio = self._skew(store, biggest[1], biggest[2])
        return out

    @staticmethod
    def _skew(store, sid: int, attempt: int) -> float:
        """max / median task run time of one stage."""
        tasks = store.taskList(sid, attempt, 100_000)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        if not times:
            return 0.0
        times.sort()
        med = times[len(times) // 2]
        return times[-1] / med if med else 0.0
