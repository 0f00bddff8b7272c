"""Counters read from public surfaces, always outside the timed region:
Spark's status tracker, ``/proc`` for the JVM and the PySpark worker
processes, and directory walks over the streaming state."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid() -> int:
    """The Spark driver JVM: the java process this Python process started."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    raise RuntimeError("no Spark driver JVM below this process")


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime+stime of a live process; with ``reaped``, also the CPU of its
    children that have exited and been waited for."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def pyworker_cpu_s(jvm: int) -> float:
    """CPU of every PySpark worker process: the daemons the JVM started,
    the workers they forked, and workers already exited (reaped into their
    daemon's child counters)."""
    kids = _children()
    total = 0.0
    for daemon in kids.get(jvm, []):
        total += cpu_s(daemon, reaped=True)
        for worker in descendants(daemon):
            total += cpu_s(worker)
    return total


def machine_cpu_ticks() -> list[int]:
    """The machine's CPU time counters, the ``cpu`` line of /proc/stat:
    user nice system idle iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class SparkCounters:
    """Jobs, stages and tasks since the last call, from
    ``SparkContext.statusTracker()``. Job ids are sequential per context,
    so every job started since the previous call is enumerated by id; the
    tracker fills asynchronously, so the count waits until no job is active
    and the newest id has been stable for two polls."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()
        self.next_job = 0
        self.seen_stages: set[int] = set()
        while self.tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        self.take()

    def _scan(self) -> int:
        j = self.next_job
        while self.tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def take(self) -> dict[str, int]:
        end, stable = self._scan(), 0
        deadline = time.monotonic() + 5.0
        while stable < 2 and time.monotonic() < deadline:
            time.sleep(0.02)
            now = self._scan()
            busy = bool(self.tracker.getActiveJobsIds())
            stable = stable + 1 if (now == end and not busy) else 0
            end = now
        out = {"jobs": end - self.next_job, "stages": 0, "tasks": 0, "tasks_failed": 0}
        for j in range(self.next_job, end):
            for sid in self.tracker.getJobInfo(j).stageIds:
                if sid in self.seen_stages:
                    continue  # a stage shared by several jobs counts once
                self.seen_stages.add(sid)
                info = self.tracker.getStageInfo(sid)
                if info is None:
                    continue
                out["stages"] += 1
                out["tasks"] += info.numCompletedTasks
                out["tasks_failed"] += info.numFailedTasks
        self.next_job = end
        return out


def _state_versions(root: str) -> dict[str, list[str]]:
    """Per partition directory of a VersionedStateTable root, its
    ``state_version=N`` directories, oldest first."""
    out: dict[str, list[str]] = {}
    if not os.path.isdir(root):
        return out
    for part in sorted(os.listdir(root)):
        pdir = os.path.join(root, part)
        if "=" in part and os.path.isdir(pdir):
            out[pdir] = sorted(
                (v for v in os.listdir(pdir) if v.startswith("state_version=")),
                key=lambda v: int(v.split("=", 1)[1]),
            )
    return out


def _files(d: str) -> list[str]:
    return [os.path.join(d, f) for f in sorted(os.listdir(d))]


def latest_state_files(root: str) -> list[str]:
    """Parquet files of the table's current contents: each partition's
    newest version."""
    return [
        f
        for pdir, versions in _state_versions(root).items()
        if versions
        for f in _files(os.path.join(pdir, versions[-1]))
        if f.endswith(".parquet")
    ]


def state_stats(root: str) -> dict[str, int]:
    """Files and bytes under a VersionedStateTable root (every version
    kept), and the rows of its current contents, from parquet footers."""
    files = n_bytes = 0
    for pdir, versions in _state_versions(root).items():
        for v in versions:
            for f in _files(os.path.join(pdir, v)):
                files += 1
                n_bytes += os.path.getsize(f)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in latest_state_files(root))
    return {"files": files, "bytes": n_bytes, "rows": rows}


def version_bytes(root: str, version: int) -> int:
    """Bytes a batch wrote into the state: its ``state_version`` dirs."""
    return sum(
        os.path.getsize(f)
        for pdir in _state_versions(root)
        if os.path.isdir(os.path.join(pdir, f"state_version={version}"))
        for f in _files(os.path.join(pdir, f"state_version={version}"))
    )
