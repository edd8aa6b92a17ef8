"""Spans, checkpoint timing, Spark event-log reading and process-tree
accounting for the benchmark.

A span is a named interval around one call into the engine. In a traced run
each span also sets the Spark job group, so every job the call launches is
tagged with the span in Spark's own event log; :func:`span_metrics` then sums
the log's task metrics per span.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import time
from contextlib import contextmanager

import pyarrow as pa

from graph_data_science_spark.plans.checkpoint import CheckpointStore

MB = 1024.0 * 1024.0

# Spark's Python-UDF SQL metrics (PythonSQLMetrics; times in ms):
# name -> (key, scale)
_PY_METRICS = {
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1.0 / MB),
    "data returned from Python workers": ("python_received_mb", 1.0 / MB),
}
SPAN_KEYS = (
    "jobs", "tasks", "job_wall_s", "gap_s", "python_boot_s",
    "python_init_s", "python_run_s", "python_sent_mb", "python_received_mb",
    "shuffle_write_mb", "shuffle_read_mb", "executor_cpu_s", "gc_s",
)


class Spans:
    """Wall time per name, summed over calls. :meth:`span` also makes the
    interval the Spark job group of the jobs it launches, once ``spark`` is
    set (traced runs only); :meth:`timed` only times."""

    def __init__(self, spark=None):
        self.spark = spark
        self.seconds: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self.intervals: list[tuple[str, str, float, float]] = []
        self._seq = 0

    @contextmanager
    def timed(self, name: str):
        t0 = time.monotonic()
        try:
            yield
        finally:
            self._add(name, time.monotonic() - t0)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        t_wall = time.time()
        t0 = time.monotonic()
        try:
            yield
        finally:
            dt = time.monotonic() - t0
            self._add(name, dt)
            self.intervals.append((name, group, t_wall, t_wall + dt))
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup("", "")

    def _add(self, name: str, dt: float) -> None:
        self.seconds[name] = self.seconds.get(name, 0.0) + dt
        self.calls[name] = self.calls.get(name, 0) + 1


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / MB


class TimingCheckpointStore(CheckpointStore):
    """CheckpointStore that times and counts its own public calls."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.stats = {
            "write_state_s": 0.0, "write_state_calls": 0,
            "write_lineage_s": 0.0, "write_lineage_calls": 0,
            "latest_complete_s": 0.0, "state_mb": 0.0, "lineage_rows": 0,
        }

    def write_state(self, state, iteration):
        t0 = time.monotonic()
        out = super().write_state(state, iteration)
        self.stats["write_state_s"] += time.monotonic() - t0
        self.stats["write_state_calls"] += 1
        self.stats["state_mb"] += dir_mb(self._state_dir(iteration))
        return out

    def write_lineage(self, iteration, per_partition, wall_time):
        t0 = time.monotonic()
        super().write_lineage(iteration, per_partition, wall_time)
        self.stats["write_lineage_s"] += time.monotonic() - t0
        self.stats["write_lineage_calls"] += 1
        self.stats["lineage_rows"] += max(1, len(per_partition))

    def latest_complete(self):
        t0 = time.monotonic()
        out = super().latest_complete()
        self.stats["latest_complete_s"] += time.monotonic() - t0
        return out


# --- Spark event log -------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application under ``log_dir``. Handles the
    rolled layout (``eventlog_v2_<app>/events_<n>_<app>[.zstd]``) and a
    single file, compressed with zstd or not."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
    events = []
    for path in files:
        codec = "zstd" if path.endswith(".zstd") else None
        if path.endswith((".lz4", ".snappy", ".lzf")):
            raise ValueError(f"unsupported event-log codec: {path}")
        with pa.input_stream(path, compression=codec) as fh:
            text = fh.read().decode()
        events += [json.loads(line) for line in text.splitlines() if line]
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def span_metrics(events: list[dict], spans: Spans) -> dict[str, dict]:
    """Per span name: Spark jobs and tasks of its job groups, their task
    metrics and Python-worker SQL metrics, summed over the span's calls."""
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                jid = ev["Job ID"]
                group_of_job[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    group_of_stage.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0

    name_of_group = {g: n for n, g, _a, _b in spans.intervals}
    out = {n: dict.fromkeys(SPAN_KEYS, 0.0) for n in spans.calls}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        group = group_of_stage.get(ev.get("Stage ID"))
        name = name_of_group.get(group)
        if name is None:
            continue
        m = out[name]
        m["tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / MB
        sw = tm.get("Shuffle Write Metrics") or {}
        m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = _PY_METRICS.get(acc.get("Name"))
            if hit is not None:
                key, scale = hit
                m[key] += float(acc.get("Update", 0) or 0) * scale
    jobs_of: dict[str, list[tuple[float, float]]] = {}
    for jid, group in group_of_job.items():
        name = name_of_group.get(group)
        if name is not None and jid in job_end:
            jobs_of.setdefault(name, []).append((job_start[jid], job_end[jid]))
    for name, m in out.items():
        jobs = jobs_of.get(name, [])
        m["jobs"] = len(jobs)
        m["job_wall_s"] = _union_seconds(jobs)
        wall = sum(b - a for n, _g, a, b in spans.intervals if n == name)
        m["gap_s"] = wall - m["job_wall_s"]
    return out


# --- process tree ----------------------------------------------------------

def descendants(pid: int | None = None) -> list[int]:
    """Live descendant pids of ``pid`` (default: this process)."""
    root = os.getpid() if pid is None else pid
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_running(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.05)
    return alive
