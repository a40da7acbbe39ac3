"""Spans, process-tree memory sampling and Spark engine counters.

Spans are kept in memory and written out once, when the traced run
ends. Engine counters come from Spark's monitoring REST API, which is
served by the UI; the UI is switched on only in traced runs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "run": self.run_id, "id": idx, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_memory_bytes() -> int:
    """Resident memory of the process tree, each shared page counted
    once: the sum of the processes' proportional set sizes. (A plain
    RSS sum counts a forked Python worker's copy-on-write pages twice,
    and a JVM helper child between fork and exec as a second JVM.)"""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


#: Seconds between memory samples. One sample walks the JVM's page
#: tables (tens of ms of CPU), hence the coarse interval.
SAMPLE_INTERVAL_S = 0.5


class MemorySampler:
    """Samples the resident memory of the whole process tree (Python
    driver, JVM, Python workers) every :data:`SAMPLE_INTERVAL_S` while
    enabled; ``peak`` is the largest value seen."""

    def __init__(self):
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                self.peak = max(self.peak, tree_memory_bytes())
                self._stop.wait(SAMPLE_INTERVAL_S)

    @contextmanager
    def sampling(self):
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class SparkStatus:
    """Engine counters for the stages run since :meth:`mark`, read
    from the monitoring REST API of a session whose UI is enabled."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._stage_floor = -1
        self._job_floor = -1
        self._sql_floor = -1

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the stages that just finished."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # the bus API is internal; fall back to a pause
            time.sleep(1.0)

    def mark(self) -> None:
        self._drain()
        self._stage_floor = max((s["stageId"] for s in self._get("/stages")), default=-1)
        self._job_floor = max((j["jobId"] for j in self._get("/jobs")), default=-1)
        self._sql_floor = max((q["id"] for q in self._get("/sql?length=100000")), default=-1)

    def counters(self) -> dict[str, float]:
        self._drain()
        stages = [
            s for s in self._get("/stages?status=complete")
            if s["stageId"] > self._stage_floor
        ]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._job_floor]
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            summary = self._get(
                f"/stages/{longest['stageId']}/{longest['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )
            median, top = summary["executorRunTime"]
            skew = top / median if median > 0 else 1.0
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "task_skew": skew,
        }

    def scan_metric(self, metric: str) -> float:
        """Sum of ``metric`` over the file-scan nodes of the SQL
        executions since :meth:`mark` (e.g. "number of files read")."""
        self._drain()
        total = 0.0
        for q in self._get("/sql?details=true&planDescription=false&length=100000"):
            if q["id"] <= self._sql_floor:
                continue
            for node in q.get("nodes", []):
                if not node["nodeName"].startswith("Scan"):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == metric:
                        total += float(str(m["value"]).replace(",", "").split()[0])
        return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
