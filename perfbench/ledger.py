"""Tracing: spans around the benchmark's calls into each layer, a per-job-group
ledger parsed from Spark's own event log, and a resident-memory sampler.

Everything here reads public surfaces only: Spark conf (the event log is
switched on by ``spark.eventLog.*`` settings), ``SparkContext.setJobGroup``,
``statusTracker`` and the JSON lines of the uncompressed event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4.1 compresses with zstd by default; the zstandard package is
    # not available to read it back
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

LEDGER_FIELDS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "deser_ms", "gc_ms",
    "input_bytes", "input_records", "shuffle_write_bytes", "output_bytes",
)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run: str


@dataclass
class Tracer:
    """In-memory spans; ``span()`` nests, ``self_times()`` subtracts the part
    of each span its children cover."""

    spans: list[Span] = field(default_factory=list)
    run: str = ""
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def totals(self, run: str) -> dict[str, float]:
        """Summed duration by span name over the spans of ``run``."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.run == run:
                out[s.name] += s.end - s.start
        return dict(out)

    def self_times(self) -> list[float]:
        """Self time per span; children never overlap (one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run": s.run, "self_s": st}
            for s, st in zip(self.spans, self.self_times())
        ]


@contextmanager
def job_group(sc, group: str):
    """``setJobGroup`` for the body; restores the enclosing group after."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


# ---------------------------------------------------------------------------
# event-log ledger
# ---------------------------------------------------------------------------

class EventLogLedger:
    """Incremental reader of one application's uncompressed event log.

    ``read_new()`` consumes the complete lines written since the last call;
    ``groups`` maps a job group to summed task metrics, ``jobs_ended`` holds
    the ids of finished jobs.
    """

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self._path: str | None = None
        self._offset = 0
        self._partial = b""
        self._stage_group: dict[int, str] = {}
        self._group_stages: dict[str, set] = defaultdict(set)
        self.groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(LEDGER_FIELDS, 0))
        self.jobs_ended: set[int] = set()

    def _log_path(self) -> str | None:
        """The application's log, ``<app id>.inprogress`` while it runs."""
        if self._path is None:
            names = [n for n in os.listdir(self.log_dir) if not n.startswith(".")]
            if names:
                self._path = os.path.join(self.log_dir, sorted(names)[0])
        return self._path

    def read_new(self) -> None:
        path = self._log_path()
        if path is None:
            return
        with open(path, "rb") as fh:
            fh.seek(self._offset)
            data = fh.read()
        self._offset += len(data)
        lines = (self._partial + data).split(b"\n")
        self._partial = lines.pop()
        for line in lines:
            if line:
                self.feed(json.loads(line))

    def feed(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            self.groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                self._stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            self.jobs_ended.add(ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            group = self._stage_group.get(ev["Stage ID"], "")
            g = self.groups[group]
            self._group_stages[group].add(ev["Stage ID"])
            g["stages"] = len(self._group_stages[group])
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["run_ms"] += m.get("Executor Run Time", 0)
            g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["deser_ms"] += m.get("Executor Deserialize Time", 0)
            g["gc_ms"] += m.get("JVM GC Time", 0)
            inp = m.get("Input Metrics") or {}
            g["input_bytes"] += inp.get("Bytes Read", 0)
            g["input_records"] += inp.get("Records Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    def settle(self, job_ids, timeout_s: float = 30.0) -> None:
        """Read until every job in ``job_ids`` has its JobEnd in the log (the
        listener bus writes asynchronously, after the action returned)."""
        want = set(job_ids)
        deadline = time.monotonic() + timeout_s
        while True:
            self.read_new()
            if want <= self.jobs_ended:
                return
            if time.monotonic() > deadline:
                raise TimeoutError(f"event log missing JobEnd for {sorted(want - self.jobs_ended)}")
            time.sleep(0.02)


def tracker_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) of ``group`` from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks


# ---------------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree[ppid].append(int(name))
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from ``/proc/stat``:
    the time a virtual machine's CPUs were runnable but held by the host."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def descendants_rss_mb(root: int) -> float:
    tree = _children()
    total, todo = 0, list(tree.get(root, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(tree.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Background thread recording the peak summed RSS of this process's
    descendants (the JVM and the Python workers it forks)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
