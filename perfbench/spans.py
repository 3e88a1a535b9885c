"""Measurement plumbing: spans with Spark job groups, event-log totals,
peak RSS of the process tree, and a clean Spark shutdown.

Spans are recorded from the benchmark's side of each call into the
program, never from inside the program.  Each span tags the jobs it runs
with ``setJobGroup`` so job, stage and task counts come from the status
tracker, and executor metrics come from the event log after the session
stops.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span list; ``enabled=False`` turns every span into a
    plain timer with no job group and no status-tracker queries."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, kind: str = "fused", **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}:{sid}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.enabled:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
                rec.update(job_counts(self.sc, rec["group"]))


def job_counts(sc, group: str) -> dict:
    """Jobs, stages, completed tasks and failed tasks of one job group,
    from the status tracker (works with the UI disabled)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks, failed = set(), 0, 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    for sid in stages:
        s = st.getStageInfo(sid)
        if s is not None:
            tasks += s.numCompletedTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "failed_tasks": failed}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

EVENTLOG_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
)


def eventlog_by_group(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from an uncompressed event log."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict] = {}
    # Spark 4 writes a directory of rolled ``events_<n>_<app>`` files
    paths = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        group_of_job[ev["Job ID"]] = group
                        for sid in ev.get("Stage IDs", []):
                            group_of_stage.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = group_of_stage.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out.setdefault(group, dict.fromkeys(EVENTLOG_FIELDS, 0.0))
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


# ---------------------------------------------------------------------------
# peak RSS of this process and its descendants
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        pid = int(raw[: raw.index(" ")])
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the summed RSS of this process tree every ``interval``
    seconds on a daemon thread.  ``take()`` returns the peak in MB since
    the previous ``take()`` and starts a new window."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def take(self) -> float:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak / 1e6

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark shutdown
# ---------------------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it: the JVM
    exits when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any wait failure: kill and reap
            proc.kill()
            proc.wait(timeout=30)


def pinned_mb(sc) -> float:
    """Bytes held by cached and checkpointed RDD blocks, in MB."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 1e6
