"""Spans around library calls, and the per-layer record read from Spark's
status stores.

A span is opened by the runner around each call into a ``ratatool_spark``
module and around the action that materializes that call's output. Each
span sets the Spark job group to its own id, so every job is tied to the
innermost span that triggered it. After every step the tracer reads the
core status store (jobs, stages, task quantiles) and the SQL status store
(plan-node metrics, e.g. the Python/Arrow boundary), because both evict
entries past ``spark.ui.retainedJobs``. Executor work of a step is charged
to the operator module that owns the step; ``sources`` gets the scan and
write I/O counts.

``NullTracer`` has the same interface and records nothing: the untimed
end-to-end passes run with it.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

# operator modules that get the generic per-module metric set
MODULES = ("generators", "sampler", "diffy", "dedup", "snapshots", "scd2")
GENERIC = ("calls", "self_s", "driver_gap_s", "jobs", "tasks", "run_s", "cpu_s",
           "gc_s", "shuffle_write_bytes", "spill_bytes", "critical_task_s",
           "failed_tasks")

_WRITE = "Execute InsertIntoHadoopFsRelationCommand"
# the SQL plan-node metrics the per-layer record reads
_SQL_METRICS = {"number of output rows", "number of written files", "number of files read",
                "time to run Python workers", "time to start Python workers",
                "data sent to Python workers"}
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'1,070'``, ``'4.1 s'``,
    ``'total (min, med, max (stageId: taskId))\\n9.2 s (2.3 s, ...)'``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1.0)


@dataclass
class Span:
    id: int
    module: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


@dataclass
class StepRecord:
    """Everything the status stores said about one step."""
    name: str
    owner: str
    kind: str
    span_ids: list[int]
    jobs: list[dict] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)
    nodes: list[tuple[str, dict[str, float]]] = field(default_factory=list)
    window_input_rows: float = 0.0
    cache_bytes: int = 0
    leaked_blocks: int = 0
    info: dict = field(default_factory=dict)


class NullTracer:
    @contextlib.contextmanager
    def span(self, module: str, name: str):
        yield

    @contextlib.contextmanager
    def step(self, name: str, owner: str, kind: str):
        yield None

    @contextlib.contextmanager
    def untraced(self):
        yield


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self.steps: list[StepRecord] = []
        self._stack: list[int] = []
        self._step: StepRecord | None = None
        self._next_exec = 0
        self._new_executions()
        self._q1 = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 1)
        self._q1[0] = 1.0

    # -- recording ---------------------------------------------------
    @contextlib.contextmanager
    def span(self, module: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), module, name, parent, time.time())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        if self._step is not None:
            self._step.span_ids.append(s.id)
        self._stack.append(s.id)
        self.sc.setJobGroup(f"perfbench-{s.id}", f"{module}.{name}", False)
        try:
            yield
        finally:
            self._sample_cache()
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{top.id}", f"{top.module}.{top.name}", False)
            else:
                self.sc._jsc.clearJobGroup()

    @contextlib.contextmanager
    def step(self, name: str, owner: str, kind: str):
        rec = StepRecord(name, owner, kind, [])
        self._step = rec
        try:
            with self.span(owner, name):
                yield rec
        finally:
            self._step = None
            rec.leaked_blocks = self._cached_blocks()
            self._collect(rec)
            self.steps.append(rec)

    @contextlib.contextmanager
    def untraced(self):
        """Run set-up work whose SQL executions no step is charged for
        (its jobs carry no span group, so they are never collected)."""
        try:
            yield
        finally:
            self._new_executions()

    def _storage(self):
        return self.sc._jsc.sc().getRDDStorageInfo()

    def _sample_cache(self) -> None:
        if self._step is None:
            return
        total = sum(i.memSize() + i.diskSize() for i in self._storage())
        self._step.cache_bytes = max(self._step.cache_bytes, total)

    def _cached_blocks(self) -> int:
        return sum(i.numCachedPartitions() for i in self._storage())

    # -- status-store reads ------------------------------------------
    def _new_executions(self) -> list:
        """SQL executions started since the last call (ids are sequential)."""
        found = []
        while True:
            e = self.sql_store.execution(self._next_exec)
            if not e.isDefined():
                return found
            found.append(e.get())
            self._next_exec += 1

    def _collect(self, rec: StepRecord) -> None:
        tracker = self.sc.statusTracker()
        for span_id in rec.span_ids:
            for jid in sorted(tracker.getJobIdsForGroup(f"perfbench-{span_id}")):
                j = self.store.job(jid)
                start, end = j.submissionTime(), j.completionTime()
                rec.jobs.append({
                    "start": start.get().getTime() / 1e3 if start.isDefined() else None,
                    "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                    "failed_tasks": j.numFailedTasks(),
                })
                it = j.stageIds().iterator()
                while it.hasNext():
                    sid = it.next()
                    if sid in rec.stages:
                        continue
                    st = self.store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    summary = self.store.taskSummary(sid, st.attemptId(), self._q1)
                    slowest = (summary.get().duration().apply(0) / 1e3
                               if summary.isDefined() else 0.0)
                    rec.stages[sid] = {
                        "tasks": st.numTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "input_bytes": st.inputBytes(),
                        "input_rows": st.inputRecords(),
                        "output_bytes": st.outputBytes(),
                        "slowest_task_s": slowest,
                    }
        self._collect_sql(rec)

    def _collect_sql(self, rec: StepRecord) -> None:
        for e in self._new_executions():
            values = self.sql_store.executionMetrics(e.executionId())
            graph = self.sql_store.planGraph(e.executionId())
            nodes = graph.allNodes()
            by_id = {}
            for k in range(nodes.size()):
                n = nodes.apply(k)
                metrics = {}
                for mi in range(n.metrics().size()):
                    mm = n.metrics().apply(mi)
                    if mm.name() not in _SQL_METRICS:
                        continue
                    v = values.get(mm.accumulatorId())
                    if v.isDefined():
                        metrics[mm.name()] = parse_sql_metric(v.get())
                by_id[n.id()] = (n.name(), metrics)
                rec.nodes.append((n.name(), metrics))
            # rows entering a Window: the nearest node below it that counts rows
            edges = graph.edges()
            below = defaultdict(list)
            for k in range(edges.size()):
                edge = edges.apply(k)
                below[edge.toId()].append(edge.fromId())
            for nid, (name, _) in by_id.items():
                if name != "Window":
                    continue
                frontier = list(below[nid])
                while frontier:
                    cid = frontier.pop()
                    _, cm = by_id.get(cid, ("", {}))
                    if "number of output rows" in cm:
                        rec.window_input_rows += cm["number of output rows"]
                    else:
                        frontier.extend(below[cid])


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


def _self_time(spans: list[Span], s: Span) -> float:
    kids = [(spans[c].start, spans[c].end) for c in s.children]
    return (s.end - s.start) - _covered(kids, s.start, s.end)


def _driver_gap(spans: list[Span], s: Span, job_iv: list[tuple[float, float]]) -> float:
    """Self time of ``s`` during which no Spark job was running."""
    kids = sorted((spans[c].start, spans[c].end) for c in s.children)
    gaps, cursor = [], s.start
    for a, b in kids:
        if a > cursor:
            gaps.append((cursor, a))
        cursor = max(cursor, b)
    if s.end > cursor:
        gaps.append((cursor, s.end))
    return sum((b - a) - _covered(job_iv, a, b) for a, b in gaps)


def layer_metrics(tr: Tracer) -> dict[str, float]:
    """Fold spans and step records into the per-layer metric names."""
    out: dict[str, float] = {f"{m}.{g}": 0.0 for m in MODULES for g in GENERIC}
    spans = tr.spans
    job_iv = [(j["start"], j["end"]) for st in tr.steps for j in st.jobs
              if j["start"] is not None and j["end"] is not None]
    for s in spans:
        if s.module in MODULES:
            # a call is a span inside a step that is not its output action
            if s.parent is not None and not s.name.startswith("materialize:"):
                out[f"{s.module}.calls"] += 1
            out[f"{s.module}.self_s"] += _self_time(spans, s)
            out[f"{s.module}.driver_gap_s"] += _driver_gap(spans, s, job_iv)

    def node_sum(steps, node: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for st in steps for name, m in st.nodes
                   if name.startswith(node))

    def steps_of(owner=None, kind=None):
        return [st for st in tr.steps
                if (owner is None or st.owner == owner) and (kind is None or st.kind == kind)]

    for st in tr.steps:
        m = st.owner
        out[f"{m}.jobs"] += len(st.jobs)
        out[f"{m}.failed_tasks"] += sum(j["failed_tasks"] for j in st.jobs)
        for sd in st.stages.values():
            out[f"{m}.tasks"] += sd["tasks"]
            for k in ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                out[f"{m}.{k}"] += sd[k]
            out[f"{m}.critical_task_s"] += sd["slowest_task_s"]

    stages = [sd for st in tr.steps for sd in st.stages.values()]
    out["sources.read_bytes"] = sum(sd["input_bytes"] for sd in stages)
    out["sources.read_rows"] = sum(sd["input_rows"] for sd in stages)
    out["sources.write_bytes"] = sum(sd["output_bytes"] for sd in stages)
    out["sources.write_files"] = node_sum(tr.steps, _WRITE, "number of written files")

    sampler = steps_of("sampler")
    out["functions.python_s"] = node_sum(sampler, "ArrowEvalPython", "time to run Python workers")
    out["functions.arrow_rows"] = node_sum(sampler, "ArrowEvalPython", "number of output rows")
    exact = steps_of("sampler", "exact_sample")
    kept = node_sum(exact, _WRITE, "number of output rows")
    out["sampler.candidate_ratio"] = (
        sum(st.window_input_rows for st in exact) / kept if kept else 0.0)

    diffs = steps_of("diffy")
    out["diffy.cached_bytes"] = max((st.cache_bytes for st in diffs), default=0)
    out["diffy.input_scans"] = (
        sum(1 for st in diffs for sd in st.stages.values() if sd["input_bytes"] > 0)
        / len(diffs) if diffs else 0.0)

    dedup = steps_of("dedup")
    out["dedup.python_s"] = node_sum(dedup, "MapInPandas", "time to run Python workers")
    out["dedup.python_boot_s"] = node_sum(dedup, "MapInPandas", "time to start Python workers")
    out["dedup.arrow_bytes_in"] = node_sum(dedup, "MapInPandas", "data sent to Python workers")
    out["dedup.arrow_rows_out"] = node_sum(dedup, "MapInPandas", "number of output rows")
    # pair operators whose pairs come out of the Python kernel (not minhash)
    kernel_steps = [st for st in steps_of("dedup", "pairs")
                    if any(name.startswith("MapInPandas") for name, _ in st.nodes)]
    from_python = node_sum(kernel_steps, "MapInPandas", "number of output rows")
    kept_pairs = node_sum(kernel_steps, _WRITE, "number of output rows")
    out["dedup.pair_yield"] = kept_pairs / from_python if from_python else 0.0

    commits = steps_of("snapshots", "commit")
    n_commits = len(commits)
    out["snapshots.jobs_per_commit"] = (
        sum(len(st.jobs) for st in commits) / n_commits if n_commits else 0.0)
    out["snapshots.files_written"] = node_sum(commits, _WRITE, "number of written files")
    written = sum(sd["output_bytes"] for st in commits for sd in st.stages.values())
    out["snapshots.bytes_written"] = written
    committed = sum(st.info.get("batch_bytes", 0) for st in commits)
    out["snapshots.write_amp"] = written / committed if committed else 0.0
    scans = steps_of(kind="scan")
    out["snapshots.files_per_scan"] = (
        node_sum(scans, "Scan parquet", "number of files read") / len(scans)
        if scans else 0.0)

    out["cache.peak_bytes"] = max((st.cache_bytes for st in tr.steps), default=0)
    out["cache.leaked_blocks"] = sum(st.leaked_blocks for st in tr.steps)
    return out
