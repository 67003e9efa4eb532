"""Per-layer trace for one benchmark run.

Tracing is only ever switched on in the ``--trace 1`` run. It has two parts:

* Spans, recorded in the benchmark process around calls into the program.
  :meth:`Tracer.patch` swaps a function at the module attribute the program
  resolves it through (``plans.job.publish``, each entry's ``fn``, ...) for
  a wrapper that records name, layer, start, end, parent and op id, and tags
  every Spark job started inside the span with ``setJobGroup(span id)``.
* The Spark event log, switched on through ``get_spark(extra_conf=...)``.
  :func:`read_event_log` reads jobs, stages, task metrics and SQL metrics
  from it; :meth:`Tracer.layer_rows` attributes them to spans and returns
  one row per op and layer.

A span's self time is its duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
    "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)
JOIN_NODES = (
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
# ops whose largest join is a candidate generator and whose result is the
# verified subset of those candidates
CANDIDATE_OPS = ("x_dedup_minhash_lsh", "x_fuzzy_join")


@dataclass
class Span:
    id: str
    name: str
    layer: str
    op: str
    parent: str | None
    start: float
    end: float = 0.0
    tag: int = 0  # the timed pass an op span belongs to


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _undo: list[tuple[object, str, object]] = field(default_factory=list)
    _n: int = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        s = self._enter(name, layer, op)
        try:
            yield s
        finally:
            self._exit(s)

    def patch(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Wrap ``owner.attr`` in a span until :meth:`unpatch`."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(label, layer):
                return orig(*args, **kwargs)

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _enter(self, name: str, layer: str, op: str | None) -> Span:
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        s = Span(
            id=f"pb{self._n}", name=name, layer=layer,
            op=op or (parent.op if parent else name),
            parent=parent.id if parent else None, start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self.spark.sparkContext.setJobGroup(s.id, f"{s.op}:{name}")
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        sc = self.spark.sparkContext
        if self._stack:
            top = self._stack[-1]
            sc.setJobGroup(top.id, f"{top.op}:{top.name}")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def layer_rows(self, log: "EventLog", result_rows: dict[str, int]) -> list[dict]:
        """One row per (op span, layer): the per-layer metrics of each op."""
        by_id = {s.id: s for s in self.spans}
        children = defaultdict(list)
        for s in self.spans:
            if s.parent:
                children[s.parent].append(s)
        op_of = {}
        for s in self.spans:
            root = s
            while root.parent:
                root = by_id[root.parent]
            op_of[s.id] = root
        jobs_by_op = defaultdict(list)
        for job in log.jobs.values():
            if job.group in op_of:
                jobs_by_op[op_of[job.group].id].append(job)
        rows = []
        for op in (s for s in self.spans if s.parent is None):
            rows.extend(self._op_rows(op, children, jobs_by_op[op.id], log, result_rows))
        return rows

    def _op_rows(self, op, children, jobs, log, result_rows) -> list[dict]:
        wall = op.end - op.start
        job_iv = [(j.start, j.end) for j in jobs if j.end]
        in_jobs = _covered(job_iv, op.start, op.end)

        descendants, todo = [], list(children[op.id])
        while todo:
            s = todo.pop()
            descendants.append(s)
            todo.extend(children[s.id])
        covered = _covered(
            job_iv + [(c.start, c.end) for c in children[op.id]], op.start, op.end
        )
        self_s = defaultdict(float)
        for s in descendants:
            own = _covered([(c.start, c.end) for c in children[s.id]], s.start, s.end)
            self_s[s.layer] += (s.end - s.start) - own

        t = log.totals([j.id for j in jobs])
        row = {"op": op.name, "pass": op.tag, "wall_s": wall}
        layers = {
            "plans": {
                "build_s": self_s["plans.build"],
                "spark_jobs": len(jobs),
                "driver_gap_s": wall - in_jobs,
            },
            "sources": {
                "read_s": self_s["sources.read"],
                "scan_files": t["scan_files"], "scan_bytes": t["scan_bytes"],
                "scan_rows": t["scan_rows"], "scan_s": t["scan_s"],
                "files_in_tables": t["table_files"],
                "commit_s": t["commit_s"], "write_bytes": t["write_bytes"],
                "write_files": t["write_files"],
            },
            "exchange": {
                "shuffle_write_bytes": t["shuffle_write_bytes"],
                "shuffle_read_bytes": t["shuffle_read_bytes"],
                "fetch_wait_s": t["fetch_wait_s"], "stages": t["stages"],
            },
            "operators": {
                "cpu_s": t["cpu_s"], "gc_s": t["gc_s"],
                "spill_bytes": t["spill_bytes"], "tasks": t["tasks"],
                "candidate_rows": t["max_join_rows"] if op.name in CANDIDATE_OPS else 0,
                "result_rows": result_rows.get(op.name, 0) if op.name in CANDIDATE_OPS else 0,
            },
            "functions": {
                "python_rows": t["python_rows"], "python_bytes": t["python_bytes"],
                "python_s": t["python_s"],
            },
            "runlog": {"s": self_s["runlog"]},
            "trace": {"accounted_ratio": covered / wall if wall > 0 else 1.0},
        }
        return [{**row, "layer": k, **v} for k, v in layers.items()]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_done: set = field(default_factory=set)
    task_metrics: dict[int, dict] = field(default_factory=lambda: defaultdict(lambda: defaultdict(float)))
    accum_node: dict[int, tuple[str, str, str, int]] = field(default_factory=dict)
    accum_value: dict[int, float] = field(default_factory=lambda: defaultdict(float))
    # "number of files read" accumulator of each parquet scan -> table paths
    scan_paths: dict[int, list[str]] = field(default_factory=dict)

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        """Task and SQL metrics summed over the given jobs."""
        t = defaultdict(float)
        stages = [s for j in job_ids for s in self.jobs[j].stages]
        for s in stages:
            for k, v in self.task_metrics.get(s, {}).items():
                t[k] += v
        t["stages"] = sum(1 for s in stages if s in self.stage_done)
        execs = {self.jobs[j].execution for j in job_ids} - {None}
        join_rows = defaultdict(float)
        for acc, (node, metric, mtype, ex) in self.accum_node.items():
            if ex not in execs:
                continue
            v = _unit(self.accum_value.get(acc, 0.0), mtype)
            if node.startswith("Scan parquet"):
                key = {
                    "number of files read": "scan_files",
                    "size of files read": "scan_bytes",
                    "number of output rows": "scan_rows",
                    "scan time": "scan_s",
                }.get(metric)
            elif node.startswith(PYTHON_NODES):
                key = {
                    "number of output rows": "python_rows",
                    "data sent to Python workers": "python_bytes",
                    "data returned from Python workers": "python_bytes",
                    "time to run Python workers": "python_s",
                }.get(metric)
            elif "InsertIntoHadoopFsRelationCommand" in node or node == "WriteFiles":
                key = {
                    "task commit time": "commit_s", "job commit time": "commit_s",
                    "written output": "write_bytes",
                    "number of written files": "write_files",
                }.get(metric)
            elif node.startswith(JOIN_NODES) and metric == "number of output rows":
                join_rows[acc] = v
                key = None
            else:
                key = None
            if key:
                t[key] += v
        t["max_join_rows"] = max(join_rows.values(), default=0.0)
        t["table_files"] = sum(
            _count_files(p)
            for acc, paths in self.scan_paths.items()
            if self.accum_node[acc][3] in execs and self.accum_value.get(acc)
            for p in paths
        )
        return t


def _unit(v: float, mtype: str) -> float:
    if mtype == "timing":
        return v / 1e3
    if mtype == "nsTiming":
        return v / 1e9
    return v


def _count_files(path: str) -> int:
    path = path.removeprefix("file:")
    if os.path.isfile(path):
        return 1
    return sum(
        1 for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                for line in fh:
                    _event(log, json.loads(line))
    return log


def _event(log: EventLog, e: dict) -> None:
    kind = e.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        ex = props.get("spark.sql.execution.id")
        job = Job(
            id=e["Job ID"], group=props.get("spark.jobGroup.id"),
            execution=int(ex) if ex is not None else None,
            start=e["Submission Time"] / 1e3, stages=list(e.get("Stage IDs", [])),
        )
        log.jobs[job.id] = job
    elif kind == "SparkListenerJobEnd":
        if e["Job ID"] in log.jobs:
            log.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
    elif kind == "SparkListenerStageCompleted":
        log.stage_done.add(e["Stage Info"]["Stage ID"])
    elif kind == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        acc = log.task_metrics[e["Stage ID"]]
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        acc["tasks"] += 1
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            # SQL metric updates are serialised as strings
            try:
                log.accum_value[a["ID"]] += float(a.get("Update"))
            except (TypeError, ValueError):
                pass
    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
        "SparkListenerSQLAdaptiveExecutionUpdate"
    ):
        ex = e["executionId"]
        _plan(log, e["sparkPlanInfo"], ex)
    elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
        for m in e.get("sqlPlanMetrics", []):
            log.accum_node.setdefault(
                m["accumulatorId"], ("", m["name"], m["metricType"], e["executionId"])
            )
    elif kind.endswith("SparkListenerDriverAccumUpdates"):
        for acc, v in e.get("accumUpdates", []):
            log.accum_value[acc] += v


def _plan(log: EventLog, node: dict, ex: int) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        log.accum_node[m["accumulatorId"]] = (name, m["name"], m["metricType"], ex)
    loc = (node.get("metadata") or {}).get("Location", "")
    files_acc = [m["accumulatorId"] for m in node.get("metrics", [])
                 if m["name"] == "number of files read"]
    if name.startswith("Scan parquet") and "[" in loc and files_acc:
        paths = loc[loc.index("[") + 1: loc.rindex("]")].split(", ")
        log.scan_paths[files_acc[0]] = [p for p in paths if not p.endswith("...")]
    for child in node.get("children", []):
        _plan(log, child, ex)
