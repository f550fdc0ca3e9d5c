"""Spans recorded around the engine's public calls, and Spark job/stage
metrics attributed to them from the driver's REST status API.

A span is (name, start, end, parent, request id). Spans live in memory and
are written as JSONL when the run ends. Spark jobs are attributed to the
innermost span whose time window contains the job's submission time: the
load is serial, and ``build_segments`` submits from its own thread pool, so
thread-local job groups would not reach every job.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    start: float  # epoch seconds (Spark reports epoch milliseconds)
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    attrs: dict = field(default_factory=dict)
    sid: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; a disabled tracer records nothing, so the untraced run
    pays one context-manager entry per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 request=request, attrs=dict(attrs), sid=len(self.spans))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        except BaseException:
            s.attrs["error"] = True  # kept in the span file, left out of the metrics
            raise
        finally:
            self._stack.pop()
            s.end = time.time()

    def write_jsonl(self, path: str, bundles: dict[int, dict]) -> None:
        """One line per span, with its Spark bundle from :func:`attribute`."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "spark": bundles.get(s.sid)}) + "\n")


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Reads jobs and stages from the driver's ``/api/v1`` status API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def settled(self, timeout_s: float = 30.0) -> tuple[list, list]:
        """Jobs and stages once no job is running and the job list has
        stopped growing (the listener bus updates the store asynchronously)."""
        deadline = time.monotonic() + timeout_s
        prev = -1
        while True:
            jobs = self._get("jobs")
            idle = all(j["status"] != "RUNNING" for j in jobs)
            if (idle and len(jobs) == prev) or time.monotonic() > deadline:
                return jobs, self._get("stages")
            prev = len(jobs)
            time.sleep(0.3)


SLACK_S = 0.005
BUNDLE = ("wall_s", "jobs", "stages", "tasks", "task_s", "gc_s",
          "shuffle_write_bytes", "spill_bytes", "driver_s")


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(spans: list[Span], jobs: list[dict], stages: list[dict]) -> dict[int, dict]:
    """Per-span bundle {BUNDLE key: value} over the Spark jobs submitted
    inside the span, its child spans included."""
    stage_by_id: dict[int, dict] = {}
    for st in stages:
        if st.get("status") in ("COMPLETE", "FAILED"):
            prev = stage_by_id.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stage_by_id[st["stageId"]] = st
    # innermost span containing t: latest-starting span whose window holds
    # t; Spark stamps whole milliseconds, so windows open SLACK_S early
    ordered = sorted(spans, key=lambda s: s.start)

    def owner(t: float) -> Span | None:
        best = None
        for s in ordered:
            if s.start - SLACK_S > t:
                break
            if s.end >= t:
                best = s
        return best

    out = {s.sid: {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0, "_run": []}
           for s in spans}
    seen_stages: set[int] = set()
    for j in jobs:
        t = _epoch(j.get("submissionTime"))
        s = owner(t) if t is not None else None
        if s is None:
            continue
        b = out[s.sid]
        b["jobs"] += 1
        for sid in j.get("stageIds", []):
            st = stage_by_id.get(sid)
            if st is None or sid in seen_stages:
                continue  # skipped (reused shuffle output) or shared stage
            seen_stages.add(sid)
            b["stages"] += 1
            b["tasks"] += int(st.get("numCompleteTasks", 0))
            b["task_s"] += st.get("executorRunTime", 0) / 1000.0
            b["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
            b["shuffle_write_bytes"] += int(st.get("shuffleWriteBytes", 0))
            b["spill_bytes"] += int(st.get("memoryBytesSpilled", 0)) + int(
                st.get("diskBytesSpilled", 0))
            lo, hi = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
            if lo is not None and hi is not None:
                b["_run"].append((max(lo, s.start), min(hi, s.end)))
    # a span's own bundle counts only its own jobs; roll children up so the
    # reported numbers cover everything that ran inside the call
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)
    for s in sorted(spans, key=lambda s: -s.sid):  # children have larger ids
        b = out[s.sid]
        for c in children.get(s.sid, []):
            cb = out[c]
            for k in ("jobs", "stages", "tasks", "task_s", "gc_s",
                      "shuffle_write_bytes", "spill_bytes"):
                b[k] += cb[k]
            b["_run"].extend((max(lo, s.start), min(hi, s.end)) for lo, hi in cb["_run"])
    for s in spans:
        b = out[s.sid]
        run = [(lo, hi) for lo, hi in b.pop("_run") if hi > lo]
        b["wall_s"] = s.wall_s
        b["driver_s"] = max(0.0, s.wall_s - _union_len(run))
    return out
