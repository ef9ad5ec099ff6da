"""Spans around the benchmark's calls into each engine layer, plus the Spark
job-group, stage, Catalyst and cache figures of every traced operation.

Every span runs its Spark jobs under its own job group, so the stages of an
operation are attributed to the layer call that submitted them. Spans stay
in memory and are written out when the run ends. Untraced runs use the same
calls with ``enabled=False``: the context managers then only yield.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: physical operators that run Python/Arrow kernels in executor workers
PYTHON_STAGE = re.compile(
    r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonMapInArrow")

#: per-operation counters reported as a median over the operations that have
#: them and as a run total
OP_METRICS = (
    "model.build_ms", "model.build_jobs", "model.merge_ms", "groupingsets.build_ms",
    "export.to_array_ms", "driver.result_rows", "store.save_ms", "store.bytes_written",
    "store.files_written", "store.load_ms", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "spark.jobs", "spark.stages",
    "spark.stages_skipped", "spark.tasks", "spark.sched_delay_ms", "spark.executor_run_ms",
    "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "dedup.build_ms", "similarity.build_ms",
    "dedup.build_jobs", "kernel.python_stage_ms",
)

#: span name -> the per-operation metric its duration feeds
SPAN_METRIC = {
    "model.build": "model.build_ms", "model.merge": "model.merge_ms",
    "groupingsets.build": "groupingsets.build_ms", "export.to_array": "export.to_array_ms",
    "store.save": "store.save_ms", "store.load": "store.load_ms",
    "dedup.build": "dedup.build_ms", "similarity.build": "similarity.build_ms",
}
#: span name -> the metric counting the Spark jobs it ran
SPAN_JOBS = {"model.build": "model.build_jobs", "dedup.build": "dedup.build_jobs"}

#: layers whose self time is reported; a span belongs to the layer named
#: before its first dot
LAYERS = ("model", "groupingsets", "export", "store", "dedup", "similarity", "spark")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    group: str


@dataclass
class OpRecord:
    op: int
    kind: str
    seconds: float
    traced: bool
    ok: bool = True
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.records: list[OpRecord] = []
        self._op = -1
        self._root: int | None = None
        self._frames: list = []
        self._counts: dict = {}

    # -- recording (inside the timed interval) ----------------------------
    @contextmanager
    def op(self, op_id: int):
        """Root span of one operation."""
        if not self.enabled:
            yield
            return
        self._op, self._frames, self._counts = op_id, [], {}
        try:
            with self._span("op") as idx:
                self._root = idx
                yield
        finally:
            self._root = None

    @contextmanager
    def span(self, name: str):
        """Span around one call into an engine layer."""
        if not self.enabled or self._root is None:
            yield
            return
        with self._span(name):
            yield

    @contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        group = f"cubebench-{self._op}-{idx}"
        parent = self._root if name != "op" else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op, group))
        self.sc.setJobGroup(group, name)
        try:
            yield idx
        finally:
            self.spans[idx].end = time.perf_counter()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.spans[parent].group, "op")

    def count(self, name: str, n: int) -> None:
        """Add ``n`` to a per-operation counter of the current operation."""
        if self.enabled and self._root is not None:
            self._counts[name] = self._counts.get(name, 0) + n

    def plan(self, df):
        """Remember a DataFrame the operation executed, for its Catalyst
        phases and scan mix."""
        if self.enabled and self._root is not None:
            self._frames.append(df)

    # -- collection (after the timed interval) ----------------------------
    def collect(self, rec: OpRecord) -> None:
        """Fill ``rec.counts`` from the spans, job groups and plans of the
        operation just finished."""
        c = dict.fromkeys(OP_METRICS, 0)
        c.update({"cache.mem_scans": 0, "cache.scans": 0})
        self._drain()
        seen: set[int] = set()
        for s in (s for s in self.spans if s.op == rec.op):
            dur_ms = (s.end - s.start) * 1000
            if s.name in SPAN_METRIC:
                c[SPAN_METRIC[s.name]] += dur_ms
            jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if s.name in SPAN_JOBS:
                c[SPAN_JOBS[s.name]] += len(jobs)
            c["spark.jobs"] += len(jobs)
            for j in jobs:
                info = self.sc.statusTracker().getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid not in seen:
                        seen.add(sid)
                        self._stage(sid, c)
        for df in self._frames:
            self._catalyst(df, c)
        for k, v in self._counts.items():
            c[k] += v
        self._frames, self._counts = [], {}
        rec.counts = c

    def _drain(self) -> None:
        # the status store is fed by an asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _stage(self, sid: int, c: dict) -> None:
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False,
                              self.sc._gateway.new_array(jvm.double, 0))
        for i in range(seq.size()):
            d = seq.apply(i)
            if d.status().toString() == "SKIPPED":
                c["spark.stages_skipped"] += 1
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += d.numCompleteTasks()
            run = d.executorRunTime()
            c["spark.executor_run_ms"] += run
            c["spark.executor_cpu_ms"] += d.executorCpuTime() / 1e6
            c["spark.gc_ms"] += d.jvmGcTime()
            c["spark.input_bytes"] += d.inputBytes()
            c["spark.shuffle_read_bytes"] += d.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += d.shuffleWriteBytes()
            c["spark.spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            sub, first = d.submissionTime(), d.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                c["spark.sched_delay_ms"] += first.get().getTime() - sub.get().getTime()
            graph = jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(
                store.operationGraphForStage(sid))
            if PYTHON_STAGE.search(graph):
                c["kernel.python_stage_ms"] += run

    def _catalyst(self, df, c: dict) -> None:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for k in ("analysis", "optimization", "planning"):
            if phases.contains(k):
                c[f"catalyst.{k}_ms"] += phases.apply(k).durationMs()
        for leaf in _leaves(qe.executedPlan()):
            c["cache.scans"] += 1
            c["cache.mem_scans"] += leaf == "InMemoryTableScanExec"

    # -- summary -----------------------------------------------------------
    def summary(self, records: list[OpRecord]) -> dict:
        """Per-layer metrics over the traced operations in ``records``."""
        traced = [r for r in records if r.traced]
        out: dict[str, float] = {}
        for m in OP_METRICS:
            vals = [r.counts[m] for r in traced]
            touched = [v for v in vals if v] or [0]
            out[m] = statistics.median(touched)
            out[m + ".total"] = sum(vals)
        scans = sum(r.counts["cache.scans"] for r in traced)
        out["cache.scan_hit_ratio"] = (
            sum(r.counts["cache.mem_scans"] for r in traced) / scans if scans else 0.0)
        run = sum(r.counts["spark.executor_run_ms"] for r in traced)
        out["kernel.python_stage_frac"] = (
            sum(r.counts["kernel.python_stage_ms"] for r in traced) / run if run else 0.0)
        out.update(self.self_times({r.op for r in traced}))
        return out

    def self_times(self, ops: set[int]) -> dict:
        """Each layer's self time as a share of total operation wall time;
        what no layer span covers is the unattributed remainder."""
        wall = 0.0
        layer = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            if s.op in ops:
                if s.parent is None:
                    wall += s.end - s.start
                else:
                    layer[s.name.split(".")[0]] += s.end - s.start
        out = {f"self.{k}_frac": (v / wall if wall else 0.0) for k, v in layer.items()}
        out["trace.unattributed_frac"] = 1 - sum(layer.values()) / wall if wall else 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "ops": [asdict(r) for r in self.records]}, f)


def _leaves(plan) -> list[str]:
    """Class names of the leaf nodes of an executed physical plan, looking
    through adaptive-execution wrappers and query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _leaves(plan.executedPlan())
    if name.endswith("QueryStageExec"):
        return _leaves(plan.plan())
    if name == "ReusedExchangeExec":
        return _leaves(plan.child())
    kids = plan.children()
    if kids.size() == 0:
        return [name]
    return [leaf for i in range(kids.size()) for leaf in _leaves(kids.apply(i))]
