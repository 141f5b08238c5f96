"""Spans around the benchmark's calls into each module, and a parser that
turns the Spark event log of a traced session into per-layer counters.

A span is (name, start, end, parent, op id).  While a span is open its id
is the Spark job group of the calling thread, so every job, stage and SQL
execution it triggers carries the span in the event log.  Counters are
attributed to the innermost open span; a layer's self time is its span
duration minus the time covered by its child spans.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float  # epoch seconds (aligned with event-log timestamps)
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``sc`` set, also tags Spark jobs with the span
    id as job group.  Spans stay in memory until the run ends."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, op if op is not None else (parent.op if parent else None),
                 parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", None if s is None else f"span-{s.sid}")
        self.sc.setLocalProperty("spark.job.description", None if s is None else s.name)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's spans."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        return {
            s.sid: s.wall - _union([(k.start, k.end) for k in kids[s.sid]], s.start, s.end)
            for s in self.spans
        }


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# task-metric accumulables summed per span (event-log names)
_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1.0),
    "internal.metrics.input.bytesRead": ("input_bytes", 1.0),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1.0),
}
COUNTERS = ["task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes",
            "output_bytes", "failed_tasks"]


@dataclass
class EventLog:
    """What the parser keeps from one application's event log."""

    jobs: dict[int, dict] = field(default_factory=dict)  # id -> group, exec, start, end
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_time: dict[int, float] = field(default_factory=dict)  # submission, epoch s
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    stage_accums: dict[int, set[int]] = field(default_factory=dict)
    executions: dict[int, dict] = field(default_factory=dict)  # id -> start, end, plan, info

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        log = cls()
        with open(files[0], encoding="utf-8") as fh:
            for line in fh:
                log._add(json.loads(line))
        return log

    def _add(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(ex) if ex is not None else None,
                "start": ev["Submission Time"] / 1e3,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            info = ev["Stage Info"]
            self.stage_group[info["Stage ID"]] = props.get("spark.jobGroup.id")
            self.stage_time[info["Stage ID"]] = (info.get("Submission Time") or 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            m = self.stage_metrics.setdefault(sid, defaultdict(float))
            acc = self.stage_accums.setdefault(sid, set())
            for a in info.get("Accumulables", []):
                acc.add(a["ID"])
                spec = _STAGE_METRICS.get(a.get("Name"))
                if spec and a.get("Value") is not None:
                    m[spec[0]] += float(a["Value"]) * spec[1]
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason not in (None, "Success"):
                m = self.stage_metrics.setdefault(ev["Stage ID"], defaultdict(float))
                m["failed_tasks"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = {
                "start": ev["time"] / 1e3,
                "end": None,
                "plan": ev.get("physicalPlanDescription", ""),
                "info": [ev.get("sparkPlanInfo")],
            }
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex["plan"] += "\n" + ev.get("physicalPlanDescription", "")
                ex["info"].append(ev.get("sparkPlanInfo"))
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex["end"] = ev["time"] / 1e3

    # -- attribution ---------------------------------------------------------

    def span_counters(self, sid: int) -> dict[str, float]:
        """Task counters of every stage submitted under span ``sid``."""
        group = f"span-{sid}"
        out = {k: 0.0 for k in COUNTERS}
        for stage, g in self.stage_group.items():
            if g == group:
                for k, v in self.stage_metrics.get(stage, {}).items():
                    out[k] += v
        return out

    def window_counters(self, lo: float, hi: float) -> dict[str, float]:
        """Task counters of every stage submitted in [lo, hi], whatever
        its job group (jobs a streaming query runs on its own threads)."""
        out = {k: 0.0 for k in COUNTERS}
        for stage, t in self.stage_time.items():
            if lo <= t <= hi:
                for k, v in self.stage_metrics.get(stage, {}).items():
                    out[k] += v
        return out

    def window_job_intervals(self, lo: float, hi: float) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["end"] is not None and lo <= j["start"] <= hi]

    def span_job_intervals(self, sid: int) -> list[tuple[float, float]]:
        group = f"span-{sid}"
        return [(j["start"], j["end"]) for j in self.jobs.values()
                if j["group"] == group and j["end"] is not None]

    def executions_writing(self, path_fragment: str) -> list[dict]:
        """Finished SQL executions whose plan writes under ``path_fragment``
        (the write command's arguments name the output path)."""
        pat = re.compile(re.escape(path_fragment) + r"[,\s\]]")
        return [e for e in self.executions.values()
                if e["end"] is not None and "InsertIntoHadoopFsRelationCommand" in e["plan"]
                and pat.search(e["plan"])]

    def executed_scans(self, location_fragment: str, exec_ids: set[int]) -> int:
        """Distinct parquet scan nodes over ``location_fragment``, in the
        SQL executions ``exec_ids``, that ran: their SQL metric
        accumulators were updated by a completed stage."""
        updated: set[int] = set().union(*self.stage_accums.values()) if self.stage_accums else set()
        scans: set[tuple[int, ...]] = set()

        def walk(node):
            if not node:
                return
            meta = node.get("metadata") or {}
            if node.get("nodeName", "").startswith("Scan") and location_fragment in meta.get("Location", ""):
                ids = tuple(sorted(m["accumulatorId"] for m in node.get("metrics", [])))
                if any(i in updated for i in ids):
                    scans.add(ids)
            for child in node.get("children", []):
                walk(child)

        for eid, ex in self.executions.items():
            if eid not in exec_ids:
                continue
            for info in ex["info"]:
                walk(info)
        return len(scans)
