"""Measurement from outside the program: process-tree CPU and memory from
/proc, in-memory spans around public calls, Spark job groups that tie
each Spark job to the span that caused it, and a reader for Spark's
event log."""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

_TICK = os.sysconf("SC_CLK_TCK")
MEMORY_INTERVAL_S = 0.1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from state onwards


def process_tree(root: int) -> dict[int, list[str]]:
    """/proc stat fields of `root` and all its descendants, by pid."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
                children.setdefault(int(st[1]), []).append(int(d))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of `root`'s process tree, reaped children included, so
    the difference of two readings covers workers that ended between them."""
    return sum(sum(int(x) for x in st[11:15]) for st in process_tree(root).values()) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Resident memory of `root`'s process tree, as proportional set size:
    pages the forked Python workers share with their daemon count once,
    not once per worker."""
    return sum(_pss_kb(pid) for pid in process_tree(root)) / 1024


class PeakMemory:
    """Peak tree_pss_mb of this process's tree, sampled every
    MEMORY_INTERVAL_S."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
            self._stop.wait(MEMORY_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    id: int
    name: str
    rid: str  # request id shared by the spans of one query or round
    parent: int | None
    start: float  # time.time() seconds
    end: float = 0.0
    cpu_s: float | None = None  # process-tree CPU inside the span

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. When `jobs` is on, each span also becomes
    the Spark job group of the calling thread, so the event log names the
    span behind every job."""

    def __init__(self, jobs: bool):
        self.jobs = jobs
        self.spans: list[Span] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, rid: str, cpu: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), name, rid, stack[-1].id if stack else None,
                  time.time())
        cpu0 = tree_cpu_s(os.getpid()) if cpu else None
        if self.jobs and self.sc is not None:
            self.sc.setJobGroup(str(sp.id), name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            if cpu:
                sp.cpu_s = tree_cpu_s(os.getpid()) - cpu0
            if self.jobs and self.sc is not None:
                if stack:
                    self.sc.setJobGroup(str(stack[-1].id), stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def named(self, name: str, rid_prefix: str = "") -> list[Span]:
        return [s for s in self.spans
                if s.name == name and s.rid.startswith(rid_prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.id):
                fh.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ event log

@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class Stage:
    id: int
    group: str | None
    submit_ms: int = 0
    complete_ms: int = 0


class EventLog:
    """Jobs, stages and task metrics from Spark event-log lines, with each
    stage attributed to the job group (span id) of the job that ran it."""

    def __init__(self, lines):
        self.job_group: dict[int, str | None] = {}
        self.stages: dict[int, Stage] = {}
        self.tasks: list[Task] = []
        for line in lines:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                self.job_group[e["Job ID"]] = group
                for sid in e["Stage IDs"]:
                    # a stage reused by a later job keeps its first owner
                    self.stages.setdefault(sid, Stage(sid, group))
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = self.stages.setdefault(info["Stage ID"],
                                            Stage(info["Stage ID"], None))
                st.submit_ms = info.get("Submission Time", 0)
                st.complete_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                sr = m.get("Shuffle Read Metrics", {})
                self.tasks.append(Task(
                    stage=e["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=m.get("Shuffle Write Metrics", {})
                    .get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    spill=m.get("Disk Bytes Spilled", 0)))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        """Every application log under `log_dir` (one plain file each)."""
        files = [p for p in sorted(glob.glob(os.path.join(log_dir, "*")))
                 if not p.endswith(".crc")]

        def lines():
            for f in files:
                with open(f) as fh:
                    yield from (ln for ln in fh if ln.strip())
        return cls(lines())

    def jobs_of(self, group: str) -> int:
        return sum(1 for g in self.job_group.values() if g == group)

    def stages_of(self, group: str) -> list[Stage]:
        return [s for s in self.stages.values() if s.group == group]

    def tasks_of(self, group: str) -> list[Task]:
        ids = {s.id for s in self.stages_of(group)}
        return [t for t in self.tasks if t.stage in ids]


def union_ms(intervals) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
