"""Measurement helpers for the benchmark: spans, Spark job-group figures,
process-tree memory sampling and the pure-CPU load control.

Nothing here touches the program under test beyond the public Spark
status surfaces (``statusTracker`` and the UI's REST API), and those are
read only after timing has stopped.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

import numpy as np


class Tracer:
    """In-memory spans (name, start, end, parent, run id), each optionally
    tagged with a Spark job group so the jobs it ran can be attributed
    to a layer afterwards. ``enabled=False`` makes every span a no-op,
    which is how the untraced end-to-end runs call the same code."""

    def __init__(self, spark, run_id: str, enabled: bool = True):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "group": group,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self._groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", self._groups.pop())

    def total(self, name: str) -> float:
        """Summed duration of every closed span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """name -> summed self time (duration minus the time its direct
        children cover), and each span's own ``self`` field."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            s["self"] = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
        return out

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def job_counts(spark, groups: list[str]) -> dict[str, int]:
    tracker = spark.sparkContext.statusTracker()
    return {g: len(tracker.getJobIdsForGroup(g)) for g in groups}


def stage_figures(spark, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU seconds, shuffle bytes (read + write),
    spill bytes (memory + disk) and task count, summed over the stages
    of the group's jobs. One REST fetch of the stage list from the
    driver's own UI (loopback); call only after timing has stopped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_group: dict[int, str] = {}
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                for sid in info.stageIds:
                    stage_group[sid] = g
    out = {g: {"cpu_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0}
           for g in groups}
    url = sc.uiWebUrl
    if not url or not stage_group:
        return out
    with urllib.request.urlopen(
        f"{url}/api/v1/applications/{sc.applicationId}/stages", timeout=60
    ) as resp:
        stages = json.load(resp)
    for st in stages:
        g = stage_group.get(st["stageId"])
        if g is None:
            continue
        acc = out[g]
        acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        acc["shuffle_bytes"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
        acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        acc["tasks"] += st.get("numCompleteTasks", 0)
    return out


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
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of ``root_pid`` (the Spark
    JVM and its Python workers), excluding ``root_pid`` itself."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    todo = list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of ``tree_rss_bytes`` every ``interval`` s;
    ``peak`` is the highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def cpu_control() -> float:
    """Fixed pure-CPU control (the same numpy hash loop as
    bench_extra.cpu_control): no Spark, no IO, so only host CPU
    contention moves it."""
    t0 = time.perf_counter()
    rng = np.random.RandomState(0)
    x = rng.randint(0, 1 << 62, size=2_000_000, dtype=np.int64)
    for _ in range(20):
        x = x * np.int64(6364136223846793005) + np.int64(1442695040888963407)
        x ^= x >> np.int64(17)
    return time.perf_counter() - t0
