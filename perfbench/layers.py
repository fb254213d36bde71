"""Per-layer readers, all attached from outside the engine.

- ``Tracer`` keeps spans (name, start, end, parent, trace id) in memory around
  the benchmark's calls into the engine's layers and writes them out at the
  end. A disabled tracer records nothing.
- ``StageReader`` reads Spark's public status store (works with the UI off):
  job ids per job group from ``statusTracker()``, each job's stage ids from
  ``statusStore().jobsList``, and task counts, executor run time, shuffle
  bytes, spill and peak execution memory from ``statusStore().stageList``.
- ``ProgressListener`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress``.
- ``tree_peak_rss_mb`` sums the peak resident memory of this process and all
  of its descendants (the driver JVM and the Python workers).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({
                "id": sid, "parent": parent, "trace": trace_id, "name": name,
                "start": start, "end": time.perf_counter(), **attrs,
            })

    def total(self, name: str, trace_ids: set[str]) -> tuple[int, float]:
        """(count, summed seconds) of spans called ``name`` in the traces."""
        hits = [s for s in self.spans if s["name"] == name and s["trace"] in trace_ids]
        return len(hits), sum(s["end"] - s["start"] for s in hits)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _opt(o):
    """A Scala Option from py4j as a Python value or None."""
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [s.apply(i) for i in range(s.size())]


class StageReader:
    """Job and stage metrics per job group, read after the measured phase."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def read(self, groups: list[str]) -> dict[str, dict]:
        """Per group: jobs, executed stages, and the summed stage metrics,
        plus the heaviest stage's straggler ratio (max / mean task time)."""
        wanted = {j: g for g in groups for j in self.job_ids(g)}
        stage_group: dict[int, str] = {}
        for job in _seq(self._store.jobsList(None)):
            g = wanted.get(job.jobId())
            if g is None:
                continue
            for sid in _seq(job.stageIds()):
                stage_group[sid] = g
        gw = self._sc._gateway
        stages = _seq(self._store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None))
        out = {g: {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
                   "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
                   "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
                   "heaviest": None, "straggler_ratio": 1.0}
               for g in groups}
        for j, g in wanted.items():
            out[g]["jobs"] += 1
        for s in stages:
            g = stage_group.get(s.stageId())
            if g is None or s.status().toString() == "SKIPPED":
                continue
            m = out[g]
            run_ms = s.executorRunTime()
            m["stages"] += 1
            m["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["task_s"] += run_ms / 1e3
            m["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            m["spill_mb"] += s.diskBytesSpilled() / 2**20
            m["peak_exec_mem_mb"] = max(m["peak_exec_mem_mb"], s.peakExecutionMemory() / 2**20)
            if m["heaviest"] is None or run_ms > m["heaviest"][2]:
                m["heaviest"] = (s.stageId(), s.attemptId(), run_ms)
        for m in out.values():
            if m["heaviest"] is not None:
                m["straggler_ratio"] = self._straggler(*m["heaviest"][:2])
            del m["heaviest"]
        return out

    def _straggler(self, stage_id: int, attempt: int) -> float:
        times = []
        for t in _seq(self._store.taskList(stage_id, attempt, 100_000)):
            tm = _opt(t.taskMetrics())
            if tm is not None:
                times.append(tm.executorRunTime())
        mean = sum(times) / len(times) if times else 0.0
        return max(times) / mean if mean > 0 else 1.0


class ProgressListener(StreamingQueryListener):
    """Keeps every StreamingQueryProgress, grouped by run id."""

    def __init__(self):
        self.progress: dict[str, list] = {}
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self._cv:
            self.progress.setdefault(str(event.progress.runId), []).append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self.terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, run_id: str, timeout: float = 30.0) -> None:
        """Progress events arrive on the listener bus after the query
        returns; its termination event is posted after all of them."""
        with self._cv:
            self._cv.wait_for(lambda: run_id in self.terminated, timeout)


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over a process and its descendants, in MiB."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
