"""Spark-side readout and process-tree memory.

:func:`job_stages` reads the stages of every job tagged with a given
description (``SparkContext.setJobDescription``) from the application's
monitoring REST API, and :func:`stage_summary` folds them into the
counts the benchmark reports.  :class:`RssSampler` is one thread that
polls ``/proc`` for the summed resident memory of this process and all
of its descendants (the driver JVM and its Python workers).
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone
from urllib.parse import urlsplit, urlunsplit


class SparkRest:
    def __init__(self, sc) -> None:
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is disabled; no REST API to read")
        # the UI binds every interface; ask the loopback one
        parts = urlsplit(url)
        self.base = urlunsplit((parts.scheme, f"127.0.0.1:{parts.port}",
                                f"/api/v1/applications/{sc.applicationId}",
                                "", ""))

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return (datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z")
            .replace(tzinfo=timezone.utc).timestamp())


def job_stages(rest: SparkRest, description: str,
               timeout: float = 30.0) -> list[dict]:
    """Completed stage attempts of every job whose description is
    ``description``, once the status store shows all of them done."""
    deadline = time.time() + timeout
    while True:
        jobs = [j for j in rest.get("/jobs")
                if j.get("description") == description]
        if jobs and all(j["status"] != "RUNNING" for j in jobs):
            break
        if time.time() > deadline:
            raise TimeoutError(f"jobs for {description!r} not finished")
        time.sleep(0.1)
    stages = []
    for sid in sorted({s for j in jobs for s in j["stageIds"]}):
        for att in rest.get(f"/stages/{sid}"):
            if att["status"] == "COMPLETE":
                stages.append(att)
    return stages


def stage_summary(rest: SparkRest, stages: list[dict],
                  cores: int) -> dict[str, float]:
    """Totals over ``stages`` plus the busiest stage's shape.

    The scan stage is the stage with the largest executor run time:
    the per-image kernel dominates every MICR job.  Its busy fraction
    is executor run time over (cores x the stage's wall time)."""
    out = {
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
    }
    if not stages:
        return out
    scan = max(stages, key=lambda s: s["executorRunTime"])
    t0 = _ts(scan.get("firstTaskLaunchedTime")) or _ts(
        scan.get("submissionTime"))
    t1 = _ts(scan.get("completionTime"))
    wall = max(1e-3, (t1 - t0)) if t0 and t1 else float("nan")
    out["scan_tasks"] = scan["numTasks"]
    out["scan_busy_frac"] = scan["executorRunTime"] / 1000.0 / (cores * wall)
    summary = rest.get(f"/stages/{scan['stageId']}/{scan['attemptId']}"
                       "/taskSummary?quantiles=0.5,1.0")
    p50, pmax = summary["executorRunTime"]
    out["scan_task_s.p50"] = p50 / 1000.0
    out["scan_task_s.max"] = pmax / 1000.0
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Polls the process tree's summed RSS every ``interval`` seconds;
    :meth:`reset` starts a new window, :attr:`peak_mb` is its peak."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = rss

    @property
    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / (1 << 20)
