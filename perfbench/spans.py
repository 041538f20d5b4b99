"""Spans recorded around calls into the engine, and attribution of
Spark work to them from the Spark event log.

A span is one public call: name (the per-layer metric prefix), start,
end, parent span and request id. Spans stay in memory and are written
once, when the run ends. Before each call the span id becomes the
Spark job group, so every job the call starts carries it; after the
run, :func:`parse_event_log` reads the uncompressed JSON-lines event
log and :func:`attribute` adds jobs, stages, tasks, executor run time
and bytes to the span that started them.

With tracing off, :class:`Tracer` records nothing and touches no Spark
state, so untraced runs time the engine alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    request: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: filled by :func:`attribute` from the event log
    spark: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Nested spans for one run; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"span-{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            request=request or (parent.request if parent else None),
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == s.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.ms - covered * 1000.0

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            rows.append({
                "id": s.id, "name": s.name, "parent": s.parent,
                "request": s.request, "start": s.start, "end": s.end,
                "ms": s.ms, "self_ms": self.self_ms(s),
                "attrs": s.attrs, "spark": s.spark,
            })
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)


# -- event log ----------------------------------------------------------------


@dataclass
class StageRecord:
    stage_id: int
    kind: str  # "scan", "python", "shuffle" or "other"
    tasks: int = 0
    failed_tasks: int = 0
    wall_ms: float = 0.0
    run_ms: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class EventLog:
    #: job id -> (job group, stage ids)
    jobs: dict[int, tuple[str | None, list[int]]] = field(default_factory=dict)
    stages: dict[int, StageRecord] = field(default_factory=dict)

    def failed_tasks(self) -> int:
        return sum(s.failed_tasks for s in self.stages.values())


_PYTHON_SCOPES = ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                  "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                  "PythonMapInArrow", "MapInArrow")


def _stage_kind(info: dict) -> str:
    names = []
    for rdd in info.get("RDD Info", []):
        names.append(rdd.get("Name", ""))
        scope = rdd.get("Scope")
        if scope:
            try:
                names.append(json.loads(scope).get("name", ""))
            except ValueError:
                names.append(scope)
    text = " ".join(names)
    if any(p in text for p in _PYTHON_SCOPES):
        return "python"
    if "Scan parquet" in text or "FileScan" in text:
        return "scan"
    if "Exchange" in text or "ShuffledRowRDD" in text:
        return "shuffle"
    return "other"


def parse_event_log(paths: list[str]) -> EventLog:
    """Jobs, stages and task metrics from Spark's JSON-lines event log."""
    log = EventLog()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    log.jobs[ev["Job ID"]] = (group, list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(
                        info["Stage ID"],
                        StageRecord(info["Stage ID"], _stage_kind(info)),
                    )
                    st.kind = _stage_kind(info)
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    if sub and done:
                        st.wall_ms += done - sub
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    st = log.stages.setdefault(sid, StageRecord(sid, "other"))
                    st.tasks += 1
                    if (ev.get("Task Info") or {}).get("Failed"):
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.run_ms += m.get("Executor Run Time", 0)
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.input_records += inp.get("Records Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return log


def attribute(tracer: Tracer, log: EventLog) -> None:
    """Sum each span's own jobs (those started under its job group)
    into ``span.spark``. Stages skipped by Spark (reused shuffle
    output) never complete and count nowhere."""
    by_id = {s.id: s for s in tracer.spans}
    for s in tracer.spans:
        s.spark = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_ms": 0.0, "input_bytes": 0, "input_records": 0,
            "shuffle_bytes": 0,
            "scan_wall_ms": 0.0, "python_wall_ms": 0.0,
            "scan_input_records": 0,
        }
    for group, stage_ids in log.jobs.values():
        s = by_id.get(group)
        if s is None:
            continue
        agg = s.spark
        agg["jobs"] += 1
        for sid in stage_ids:
            st = log.stages.get(sid)
            if st is None or st.tasks == 0:
                continue
            agg["stages"] += 1
            agg["tasks"] += st.tasks
            agg["failed_tasks"] += st.failed_tasks
            agg["run_ms"] += st.run_ms
            agg["input_bytes"] += st.input_bytes
            agg["input_records"] += st.input_records
            agg["shuffle_bytes"] += st.shuffle_write_bytes
            if st.kind == "scan":
                agg["scan_wall_ms"] += st.wall_ms
                agg["scan_input_records"] += st.input_records
            elif st.kind == "python":
                agg["python_wall_ms"] += st.wall_ms


def subtree(tracer: Tracer, root: Span) -> list[Span]:
    """``root`` and every span below it."""
    kids: dict[str | None, list[Span]] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


def spark_total(tracer: Tracer, root: Span, key: str) -> float:
    """A Spark figure summed over a span and all its descendants."""
    return sum(s.spark.get(key, 0) for s in subtree(tracer, root))
