"""Measurement from outside the engine: spans kept in memory, Spark's own
status store read per job group, and resource probes.

Nothing here changes what the engine runs. Spans are recorded by the
benchmark around its calls into the engine's public functions; execution
figures come from `statusStore()` (which works with the UI disabled).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory and written
    out once, when the benchmark ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_ids(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_stats(spark, ids: list[int], timeout: float = 5.0) -> dict:
    """Sum the stage metrics of the given jobs from the status store.

    The status listener runs behind the action that launched the jobs, so
    wait (bounded) until every job has left the RUNNING state."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    deadline = time.time() + timeout
    infos = []
    for jid in ids:
        info = tracker.getJobInfo(jid)
        while info is not None and info.status in ("RUNNING", "UNKNOWN") and time.time() < deadline:
            time.sleep(0.01)
            info = tracker.getJobInfo(jid)
        infos.append((jid, info))
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "job_intervals": {}, "stage_intervals": [],
    }
    for jid, info in infos:
        if info is None:
            continue
        out["jobs"] += 1
        jd = store.job(jid)
        a, b = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
        if a is not None and b is not None:
            out["job_intervals"][jid] = (a, b)
        for sid in list(info.stageIds):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += st.diskBytesSpilled() / MB
            a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if a is not None and b is not None:
                out["stage_intervals"].append((a, b))
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user plus system, reaped children included) used so far
    by process `pid` (default: this one) and every live process descended
    from it: the Python driver, the JVM it launched and any Python workers
    the JVM forked."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited meanwhile
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for p, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(p)
    ticks, todo = 0, [pid or os.getpid()]
    while todo:
        p = todo.pop()
        ticks += stats.get(p, (0, 0))[1]
        todo += children.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def storage_mb(spark) -> float:
    """Memory plus disk size of every persisted relation."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / MB


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory (MB) of the driver JVM and of this Python process."""
    return _hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024.0, _hwm_kb("self") / 1024.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`; hidden and underscore files skipped
    for the count, included in the bytes."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            if not n.startswith((".", "_")):
                files += 1
    return files, size
