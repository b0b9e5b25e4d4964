"""Outside-in instrumentation: spans around calls into the engine's layers,
Spark job-group counters, and a resident-memory sampler.

Nothing here reaches into the engine.  A span times one call into a public
function; the Spark counters come from the job group the benchmark sets
around that call, read back from ``statusTracker()`` and the status store
(both fed by the listener bus, so they work with the UI off).
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Span recorder.  With ``enabled=False`` :meth:`span` only yields,
    so the untimed-vs-traced difference is the tracing overhead."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span minus what its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# Stage fields summed per job group (names as in the status store's StageData).
_STAGE_SUMS = {
    "tasks": "numTasks",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_records": "inputRecords",
    "gc_ms": "jvmGcTime",
}


class JobGroups:
    """Per-call Spark accounting through job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        gid = f"lakebench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label, interruptOnCancel=False)
        return gid

    def job_count(self, gid: str) -> int:
        self._drain()
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))

    def _drain(self) -> None:
        """Job and stage data reach the status store through the listener
        bus; wait until it has caught up."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def harvest(self, gid: str, task_records: bool = False) -> dict:
        """Jobs, stages and summed stage metrics of every job in ``gid``.
        ``task_records`` adds the largest per-task input+shuffle-read
        record count (one ``taskSummary`` call per stage)."""
        self._drain()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(gid)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "max_task_records": 0}
        out.update({k: 0 for k in _STAGE_SUMS})
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never ran and have no attempt
                continue
            out["stages"] += 1
            for k, field in _STAGE_SUMS.items():
                out[k] += int(getattr(st, field)())
            if task_records:
                out["max_task_records"] = max(
                    out["max_task_records"], self._max_task_records(store, sid, st.attemptId())
                )
        return out

    def _max_task_records(self, store, sid: int, attempt: int) -> int:
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 1)
        q[0] = 1.0
        summary = store.taskSummary(sid, attempt, q)
        if not summary.isDefined():
            return 0
        s = summary.get()
        return int(s.inputMetrics().recordsRead().apply(0)
                   + s.shuffleReadMetrics().readRecords().apply(0))

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)


def _proc_tree(root: int) -> list[int]:
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
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: the share of
    time the hypervisor ran someone else marks a host slow phase."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_probe_s(reps: int = 5) -> float:
    """Median time to hash 32 MB on one core: fixed work that owes nothing
    to the engine, so a host slow phase shows in it as in the benchmark's
    own times, also when the hypervisor reports no steal."""
    buf = bytes(32 << 20)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a process tree so far."""
    hz = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / hz


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled on a background thread.  The root's own
    high-water mark (``VmHWM``) also bounds the peak from below, so a
    spike between samples of a lone JVM is not missed."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kb = sum(_status_kb(p) for p in _proc_tree(self.root_pid))
        self.peak_kb = max(self.peak_kb, kb, _status_kb(self.root_pid, "VmHWM"))
        return kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
