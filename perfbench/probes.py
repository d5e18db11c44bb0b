"""Instruments the benchmark attaches from outside the program: a process
memory sampler, a reader of the JVM status store (jobs, stages, task time,
shuffle and spill by stage-id window) and a streaming-progress listener.
The status store and the listener are used only in traced runs."""

from __future__ import annotations

import os
import threading
from collections.abc import Callable
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and every process below it, minus excluded subtrees."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between processes (the
    forked Python workers share most of theirs) are split among them
    instead of being counted once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class Sampler:
    """Background sampler of the summed memory of this process tree (the
    driver, the JVM and the Python workers) and of optional probes; keeps
    the maximum of each. Subtrees in ``exclude`` (the record generator)
    are left out."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.probes: dict[str, Callable[[], float]] = {}
        self.peak: dict[str, float] = {"mem_bytes": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        mem = pss_bytes(descendants(os.getpid(), self.exclude))
        self.peak["mem_bytes"] = max(self.peak["mem_bytes"], mem)
        for name, probe in list(self.probes.items()):
            self.peak[name] = max(self.peak.get(name, 0.0), probe())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class StatusStore:
    """Reads finished jobs and stages from the JVM status store. It works
    with ``spark.ui.enabled=false``; windows are job-id and stage-id
    ranges taken with ``mark()`` before and after the work. Both lists
    come newest first, so a window read stops at its lower bound."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _jobs(self):
        return self._store.jobsList(None)

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    @staticmethod
    def _newer(seq, key, lo: int, hi: int) -> list:
        out = []
        for i in range(seq.size()):
            item = seq.apply(i)
            k = key(item)
            if k <= lo:
                break
            if k <= hi:
                out.append(item)
        return out

    def mark(self) -> tuple[int, int]:
        jobs, stages = self._jobs(), self._stages()
        return (
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def window(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
        jobs = self._newer(self._jobs(), lambda j: j.jobId(), start[0], end[0])
        stages = self._newer(self._stages(), lambda s: s.stageId(), start[1], end[1])
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.numCompleteTasks() for s in stages),
            "task_ms": sum(s.executorRunTime() for s in stages),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
            "spill_bytes": sum(
                s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages
            ),
        }


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress report of every streaming query.

    The listener bus delivers reports asynchronously, so every read first
    waits until the bus has delivered all it was given."""

    def __init__(self, spark):
        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        src = p.sources[0] if p.sources else None
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "trigger_start": _epoch(p.timestamp),
            "end_offset": src.endOffset if src else None,
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def _settled(self) -> list[dict]:
        self._bus.waitUntilEmpty()
        with self._lock:
            return list(self.events)

    def of(self, query) -> list[dict]:
        """Progress reports of one query."""
        qid = str(query.id)
        return [e for e in self._settled() if e["query"] == qid]

    def between(self, t0: float, t1: float) -> list[dict]:
        """Progress reports of the batches triggered between t0 and t1."""
        return [e for e in self._settled() if t0 <= e["trigger_start"] <= t1]


_PHASES = {
    "trigger_ms_mean": "triggerExecution",
    "add_batch_ms_mean": "addBatch",
    "query_planning_ms_mean": "queryPlanning",
    "wal_commit_ms_mean": "walCommit",
    "latest_offset_ms_mean": "latestOffset",
    "commit_offsets_ms_mean": "commitOffsets",
}


def batch_summary(events: list[dict]) -> dict[str, float]:
    """Micro-batch count, input rows and the mean time per batch of each
    ``durationMs`` phase (Spark reports whole milliseconds, so a mean keeps
    the resolution a median of a few batches would lose)."""
    out: dict[str, float] = {"batches": len(events), "rows": sum(e["rows"] for e in events)}
    if not events:
        return out
    for name, phase in _PHASES.items():
        vals = [e["duration_ms"].get(phase, 0) for e in events]
        out[name] = sum(vals) / len(vals)
    return out
