"""Tracing for the benchmark's traced run, all from outside the engine.

- :class:`Tracer` keeps spans (name, start, end, parent, op id) in
  memory.  :meth:`Tracer.install` wraps the engine's public functions
  that the workloads call, so their time shows as spans without editing
  an engine module; :meth:`Tracer.uninstall` puts the originals back.
- :func:`self_times` gives each span its duration minus the time its
  child spans cover.
- :func:`read_event_log` and :func:`spark_metrics` turn Spark's own
  event log (``spark.eventLog.enabled``, uncompressed) into per-interval
  scheduler, executor, shuffle and scan counters.

The untraced run uses :data:`NULL_TRACER`, whose spans cost nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans are no-ops and nothing is wrapped."""

    op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def wrap_stages(self, stages):
        return stages

    def install(self):
        pass

    def uninstall(self):
        pass


NULL_TRACER = NullTracer()


class Tracer(NullTracer):
    def __init__(self, clock=time.time):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._clock = clock
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self._clock(), 0.0, parent, self.op, attrs)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s.attrs
        finally:
            self._stack.pop()
            s.end = self._clock()

    def traced(self, name, fn, on_result=None):
        """``fn`` wrapped in a span; ``name`` may be a callable of the
        call's arguments.  ``on_result(attrs, result)`` may record counts."""
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as attrs:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(attrs, result)
                return result

        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_stages(self, stages):
        from aws_etl_bank_spark.pipeline import Stage

        return [Stage(s.name, self.traced(f"pipeline.{s.name}", s.fn),
                      s.attempts, s.interval_s, s.backoff) for s in stages]

    def _patch(self, owner, attr: str, name, on_result=None):
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.traced(name, orig, on_result))

    def install(self):
        """Wrap the engine's public entry points the workloads reach."""
        from pyspark.sql import DataFrameWriter

        from aws_etl_bank_spark.context import EngineContext
        from aws_etl_bank_spark.jobstate import BookmarkStore
        from aws_etl_bank_spark.plans import flagship
        from aws_etl_bank_spark.sources.catalog import Catalog

        def write_name(_writer, path, *a, **k):
            leaf = os.path.basename(os.path.normpath(path))
            kind = "fact" if leaf.startswith("fact_") else "dim" if "dim_" in path else "other"
            return f"write.{kind}"

        def count_files(attrs, result):
            attrs["new_files"] = len(result)

        self._patch(flagship, "run_banking_etl", "flagship.etl")
        self._patch(DataFrameWriter, "parquet", write_name)
        self._patch(Catalog, "crawl", "catalog.crawl")
        self._patch(EngineContext, "create_data_frame_from_catalog", "context.catalog_read")
        self._patch(BookmarkStore, "filter_new_files", "jobstate.filter_new_files", count_files)
        self._patch(BookmarkStore, "commit", "jobstate.commit")

    def uninstall(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str):
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# -- span arithmetic -----------------------------------------------------------

def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id → its duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - union_length(children.get(s.id, [])) for s in spans}


def ancestors(span: Span, by_id: dict[int, Span]):
    p = span.parent
    while p is not None:
        yield by_id[p]
        p = by_id[p].parent


# -- Spark event log -------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in file
    order.  Handles both a single file and Spark's rolling
    ``eventlog_v2_*/events_<n>_*`` layout; compressed logs are refused."""
    def order(path):
        base = os.path.basename(path)
        parts = base.split("_")
        return (os.path.dirname(path), int(parts[1]) if base.startswith("events_") else 0)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    events = []
    for path in sorted(files, key=order):
        if path.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise ValueError(f"compressed event log {path}; set spark.eventLog.compress=false")
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _ms(v) -> float:
    return (v or 0) / 1000.0


@dataclass
class EventIndex:
    """The parts of an event log the per-op metrics need, with times in
    epoch seconds."""

    stages: list[dict]       # {"start", "end", "tasks"}
    tasks: list[dict]        # {"end", "run_s", "cpu_s", "gc_s", ...}
    jobs: list[float]        # submission times
    scans: list[dict]        # {"time", "files", "rows"} per SQL execution


_SCAN_FILES = "number of files read"
_ROWS = "number of output rows"


def _scan_accumulators(plan: dict, out: dict[int, str]):
    if plan.get("nodeName", "").startswith("Scan "):
        for m in plan.get("metrics", []):
            if m["name"] in (_SCAN_FILES, _ROWS):
                out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _scan_accumulators(child, out)


def index_events(events: list[dict]) -> EventIndex:
    stages, tasks, jobs = [], [], []
    scan_acc: dict[int, str] = {}          # accumulator id → scan metric name
    exec_of_acc: dict[int, int] = {}       # accumulator id → SQL execution id
    exec_start: dict[int, float] = {}
    scan_vals: dict[int, dict[str, float]] = {}
    job_exec: dict[int, int] = {}          # job id → SQL execution id

    def note_plan(exec_id, plan):
        found: dict[int, str] = {}
        _scan_accumulators(plan, found)
        scan_acc.update(found)
        for acc in found:
            exec_of_acc[acc] = exec_id

    def add_scan(acc_id, value):
        name = scan_acc.get(acc_id)
        if name is not None:
            vals = scan_vals.setdefault(exec_of_acc[acc_id], {})
            vals[name] = vals.get(name, 0) + float(value)

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs.append(_ms(e["Submission Time"]))
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                job_exec[e["Job ID"]] = int(eid)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time") and info.get("Completion Time"):
                stages.append({"start": _ms(info["Submission Time"]),
                               "end": _ms(info["Completion Time"]),
                               "tasks": info.get("Number of Tasks", 0)})
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "end": _ms(info.get("Finish Time")),
                "run_s": _ms(m.get("Executor Run Time")),
                "cpu_s": (m.get("Executor CPU Time") or 0) / 1e9,
                "gc_s": _ms(m.get("JVM GC Time")),
                "shuffle_read_bytes": (sr.get("Remote Bytes Read") or 0)
                + (sr.get("Local Bytes Read") or 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written") or 0,
                "spill_bytes": (m.get("Memory Bytes Spilled") or 0)
                + (m.get("Disk Bytes Spilled") or 0),
                "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read") or 0,
                "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written") or 0,
            })
            for acc in info.get("Accumulables", []):
                if "Update" in acc:
                    add_scan(acc["ID"], acc["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[e["executionId"]] = _ms(e["time"])
            note_plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            note_plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                add_scan(acc_id, value)
    scans = [{"time": exec_start[x], "files": v.get(_SCAN_FILES, 0.0),
              "rows": v.get(_ROWS, 0.0)}
             for x, v in scan_vals.items() if x in exec_start]
    return EventIndex(stages, tasks, jobs, scans)


def spark_metrics(idx: EventIndex, start: float, end: float) -> dict[str, float]:
    """Scheduler/executor counters for work inside ``[start, end]`` (an op's
    wall interval), plus the driver gap: wall time no stage was running."""
    inside = [s for s in idx.stages if s["start"] >= start and s["end"] <= end]
    tasks = [t for t in idx.tasks if start <= t["end"] <= end]
    out = {
        "spark.jobs": float(sum(1 for j in idx.jobs if start <= j <= end)),
        "spark.stages": float(len(inside)),
        "spark.tasks": float(len(tasks)),
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.jvm_gc_s": sum(t["gc_s"] for t in tasks),
        "spark.driver_gap_s": (end - start) - union_length(
            (max(s["start"], start), min(s["end"], end)) for s in idx.stages
            if s["end"] > start and s["start"] < end),
    }
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "output_bytes"):
        out[f"spark.{k}"] = float(sum(t[k] for t in tasks))
    return out


def scan_totals(idx: EventIndex, intervals) -> tuple[float, float]:
    """(files read, rows read) by file scans of SQL executions that
    started inside any of ``intervals``."""
    files = rows = 0.0
    for s in idx.scans:
        if any(a <= s["time"] <= b for a, b in intervals):
            files += s["files"]
            rows += s["rows"]
    return files, rows


# -- JVM --------------------------------------------------------------------------

def jvm_state(spark) -> dict[str, float]:
    """Live JVM threads and retained heap after a full GC, over py4j."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jvm.java.lang.System.gc()
    return {"jvm.threads": float(mf.getThreadMXBean().getThreadCount()),
            "jvm.heap_retained_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20}
