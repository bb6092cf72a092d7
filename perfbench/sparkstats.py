"""Engine counters per span, read from outside the engine.

- Job and task counts: a job group is set around the span, then read
  back from ``statusTracker()``.
- Plan metrics: every DataFrame an action (``collect`` or ``toPandas``)
  ran on inside the span is kept, and after the pass the executed plan
  of each is walked, through adaptive stages and cached relations. A
  metric is summed over the nodes that carry it; a node that does not
  carry a metric adds nothing to it.
"""

from __future__ import annotations

import functools
import re
from collections import defaultdict
from contextlib import contextmanager

FIELDS = (
    "jobs",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_sent_bytes",
    "python_received_bytes",
    "python_time_s",
)
#: plan metric name -> (field, scale)
_PLAN_METRICS = {
    "shuffleBytesWritten": ("shuffle_write_bytes", 1),
    "spillSize": ("spill_bytes", 1),
    "pythonDataSent": ("python_sent_bytes", 1),
    "pythonDataReceived": ("python_received_bytes", 1),
    "pythonTotalTime": ("python_time_s", 1e-3),  # a millisecond timing
}


class SparkSpans:
    """Captures DataFrames and job groups per named span. ``install``
    wraps ``DataFrame.collect`` and ``toPandas`` for the life of the
    process, so only a traced run installs it."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self._active: list[list] = []
        self._pending: list[tuple[str, str, list]] = []
        self._n = 0
        self.results: dict[str, dict[str, float]] = {}

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        for name in ("collect", "toPandas"):
            setattr(DataFrame, name, self._recording(getattr(DataFrame, name)))

    def _recording(self, meth):
        @functools.wraps(meth)
        def wrapper(df, *args, **kwargs):
            for captured in self._active:
                captured.append(df)
            return meth(df, *args, **kwargs)

        return wrapper

    @contextmanager
    def capture(self, name: str):
        sc = self.spark.sparkContext
        self._n += 1
        group = f"perfbench-{self._n}-{name}"
        with self.tracer.span("spark.set_job_group", "spark"):
            sc.setJobGroup(group, name)
        captured: list = []
        self._active.append(captured)
        try:
            yield
        finally:
            self._active.remove(captured)
            with self.tracer.span("spark.clear_job_group", "spark"):
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            # a span captured again replaces its earlier capture
            self._pending = [p for p in self._pending if p[0] != name]
            self._pending.append((name, group, captured))

    def resolve(self) -> dict[str, dict[str, float]]:
        """Read the counters of every span captured since the last call.
        Spans resolve
        in capture order and a plan node counts in the first span that
        reaches it, so a cached frame counts where it was built, not in
        every later span that reads it."""
        seen: set[int] = set()
        for name, group, dfs in self._pending:
            out = dict.fromkeys(FIELDS, 0.0)
            tracker = self.spark.sparkContext.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            out["jobs"] = float(len(jobs))
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    out["tasks"] += st.numTasks if st else 0
            plan = plan_metrics(self.spark, dfs, seen)
            for metric, (field, scale) in _PLAN_METRICS.items():
                out[field] += plan.get(metric, 0) * scale
            out["join_output_rows"] = float(plan.get("join_output_rows", 0))
            self.results[name] = out
        self._pending.clear()
        return self.results


_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


def _children(node, name: str) -> list:
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "InMemoryTableScan":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_metrics(spark, dfs: list, seen: set[int]) -> dict[str, float]:
    """Sum each SQL metric by name over the executed plans of ``dfs``,
    skipping nodes already in ``seen`` (and adding the rest to it), so a
    node reached twice (a shared cache or reused exchange) counts once.
    ``join_output_rows`` sums the output rows of join nodes."""
    ident = spark._jvm.System.identityHashCode
    acc: dict[str, float] = defaultdict(float)
    stack = [df._jdf.queryExecution().executedPlan() for df in {id(d): d for d in dfs}.values()]
    while stack:
        node = stack.pop()
        h = ident(node)
        if h in seen:
            continue
        seen.add(h)
        name = node.nodeName()
        # one JVM round trip per node: the metric map's string form
        for key, value in _METRIC.findall(node.metrics().toString()):
            acc[key] += int(value)
            if key == "numOutputRows" and "Join" in name:
                acc["join_output_rows"] += int(value)
        stack.extend(_children(node, name))
    return acc
