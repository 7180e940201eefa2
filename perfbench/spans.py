"""In-memory spans around the benchmark's calls into each layer, and Spark's
own per-stage counters read from the driver's UI REST API.

Spans are recorded only from the benchmark's files, around calls into the
package (``plans``, ``operators``, ``pipeline``, ``streaming``, ``sources``,
``session``); nothing inside the package is instrumented. The ``driver`` and
``executor`` layers come from ``/api/v1/applications/<id>/jobs`` and
``/stages``, one Spark job group per operation.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: int            # operation id; -1 for set-up spans
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a no-op so the
    untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int = -1):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, op,
                 self._stack[-1] if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the union of its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {s.sid: (s.end - s.start) - union_length(
                    [(c.start, c.end) for c in kids.get(s.sid, [])])
                for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.sid, "name": s.name, "op": s.op,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end, "self": selfs[s.sid]})
                        + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def _epoch(stamp: str) -> float:
    # the REST API's format: 2026-01-02T03:04:05.678GMT
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


class StageReader:
    """Per-job-group totals from the local UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def groups(self, run: str, build: str, timeout_s: float = 10.0) -> dict:
        """Totals over the jobs tagged ``run`` or ``build``, plus the number
        of ``build`` jobs. The UI store is fed asynchronously by the listener
        bus, so poll until every job has finished and each of its stages has
        a completion time."""
        deadline = time.time() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") in (run, build)]
            stages = []
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done:
                for sid in sorted({s for j in jobs for s in j["stageIds"]}):
                    for att in self._get(f"/stages/{sid}?details=false"):
                        if att["status"] == "SKIPPED":
                            continue
                        stages.append(att)
                done = all("completionTime" in s for s in stages)
            if done or time.time() > deadline:
                break
            time.sleep(0.05)
        iv = [(_epoch(s["submissionTime"]), _epoch(s["completionTime"]))
              for s in stages if "submissionTime" in s and "completionTime" in s]
        return {
            "jobs": len(jobs),
            "build_jobs": sum(1 for j in jobs if j.get("jobGroup") == build),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"]
                         for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "stage_union_s": union_length(iv),
            "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 1e6,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in stages) / 1e6,
        }
