"""Spans around the benchmark's calls into the package, plus the probes
they read: Spark jobs/stages/tasks from the status tracker, bytes and
files written from a walk of the output directories, and the resident
memory of the Spark process tree from ``/proc``.

Spans are kept in memory and written once, at the end of a run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


def walk_new_files(roots: list[str], since_ns: int) -> tuple[int, int]:
    """(bytes, files) of regular files under ``roots`` modified at or
    after ``since_ns`` — what a span wrote and left in place."""
    n_bytes = n_files = 0
    stack = [r for r in roots if os.path.isdir(r)]
    while stack:
        with os.scandir(stack.pop()) as it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    stack.append(e.path)
                elif e.is_file(follow_symlinks=False):
                    st = e.stat(follow_symlinks=False)
                    if st.st_mtime_ns >= since_ns:
                        n_bytes += st.st_size
                        n_files += 1
    return n_bytes, n_files


def tree_bytes(root: str) -> int:
    return walk_new_files([root], 0)[0]


class JobCounter:
    """Counts the Spark jobs, stages and tasks run between two points.

    Job ids are dense and increase by one per job, whatever job group
    submitted it (the streaming gates set their own), so the jobs of a
    span are the ids from the first unused id at its start up to the
    first unused id at its end. The status store keeps only recent
    jobs, so each span is read as soon as it ends.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._next = 0

    def _drain(self) -> None:
        # Job and stage events reach the status store asynchronously.
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        while self._tracker.getJobInfo(self._next) is not None:
            self._next += 1
        return self._next

    def since(self, first: int) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) for job ids >= ``first``."""
        end = self.mark()
        stages: set[int] = set()
        for jid in range(first, end):
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for sid in stages:
            st = self._tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += st.numCompletedTasks
        return end - first, n_stages, n_tasks


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, run_id: str, enabled: bool, write_roots: list[str]):
        self.run_id = run_id
        self.enabled = enabled
        self.write_roots = write_roots
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._jobs: JobCounter | None = None
        # Wall time spent in the probes, outside the spans' own timings.
        self.probe_s = 0.0

    def attach(self, spark) -> None:
        if self.enabled:
            self._jobs = JobCounter(spark)
            self._jobs.mark()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "id": len(self.spans),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t = time.perf_counter()
        first_job = self._jobs.mark() if self._jobs else 0
        start_ns = time.time_ns()
        rec["start"] = time.perf_counter()
        self.probe_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"], rec["stages"], rec["tasks"] = (
                self._jobs.since(first_job) if self._jobs else (0, 0, 0))
            rec["bytes_written"], rec["files_written"] = walk_new_files(
                self.write_roots, start_ns
            )
            self.probe_s += time.perf_counter() - rec["end"]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans}, fh)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of ``root_pid`` (the driver
    JVM and the Python workers it forks)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, list(kids.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user and system) used so far by ``root_pid`` and its
    descendants, including the children they have reaped: the driver,
    its JVM and the JVM's Python workers. Time a stolen virtual CPU
    spends waiting for the host is not in it."""
    kids = _children_map()
    tick = os.sysconf("SC_CLK_TCK")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5).
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def steal_share() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine so far, from
    /proc/stat; two readings give the share of time the host took."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler:
    """Background sampler of the peak resident memory of the Spark
    process tree; started before the session, stopped after it. Off in
    untraced runs: its walks of ``/proc`` hold the GIL the driver
    thread needs."""

    def __init__(self, enabled: bool, interval_s: float = 0.2):
        self.enabled = enabled
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join(timeout=5)
