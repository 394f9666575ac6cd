"""Measurement plumbing: RSS sampling, Spark accounting, spans.

None of this reaches into the program under test: RSS comes from ``/proc``,
Spark accounting from Spark's local status REST API (grouped by job
group), and spans are recorded around the benchmark's own calls.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total_kb += int(f.read().split()[1]) * PAGE_KB
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """One thread that samples the summed RSS of this process's descendants
    (the Spark JVM and the Python workers it forks) while ``active``.  The
    process tree is re-listed every ``relist_s``; RSS is read every
    ``interval_s``, often enough to catch a worker's short peak."""

    def __init__(self, interval_s: float = 0.02, relist_s: float = 0.5):
        self.interval_s = interval_s
        self.relist_s = relist_s
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me, pids, listed = os.getpid(), [], 0.0
        while not self._stop.wait(self.interval_s):
            if not self.active.is_set():
                continue
            if time.monotonic() - listed > self.relist_s:
                pids, listed = descendants(me), time.monotonic()
            self.peak_mb = max(self.peak_mb, rss_mb(pids))


class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        self.rec = {"trace": t.trace_id, "id": len(t.spans), "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "start": time.time(), "end": None, **self.attrs}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._stack.pop()

    @property
    def seconds(self) -> float:
        return self.rec["end"] - self.rec["start"]


class SparkStatus:
    """Per-job-group accounting from Spark's local status REST API."""

    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _group_jobs(self, group: str, settle_s: float = 10.0) -> list[dict]:
        """The group's jobs once the listener bus has delivered them all
        (every job terminal, and the same count on two reads in a row)."""
        deadline = time.monotonic() + settle_s
        last = -1
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if (done and len(jobs) == last) or time.monotonic() > deadline:
                return jobs
            last = len(jobs) if done else -1
            time.sleep(0.2)

    def account(self, group: str) -> dict:
        jobs = self._group_jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get(
            "/stages?status=complete&withSummaries=true&quantiles=0.5,1.0")
            if s["stageId"] in stage_ids]
        skews = []
        for s in stages:
            dist = s.get("taskMetricsDistributions") or {}
            med, top = (dist.get("executorRunTime") or [0, 0])[:2]
            if s["numTasks"] >= 2 and med > 0:
                skews.append(top / med)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "task_skew": max(skews) if skews else 1.0,
        }
