"""Measurement taken from outside the program: process-tree memory from
``/proc``, timed spans around public calls, and Spark's own event log.

Spans are recorded by the benchmark around its calls into each layer; every
Spark job a span launches carries the span's job group, which is how the
event log's counts are attributed to layers (call sites are missing for
writes, so they cannot be used).
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

def process_age_s() -> float:
    """Seconds since this process was started (interpreter start-up included)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5); fields[0] is field 3
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root``'s children, their children and so on."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        children[ppid].append(int(name))
    found, todo = [], [(c, root) for c in children.get(root, ())]
    while todo:
        pid, parent = todo.pop()
        found.append((pid, parent))
        todo.extend((c, pid) for c in children.get(pid, ()))
    return found


def descendants(root: int) -> list[int]:
    """Process ids of ``root``'s children, their children and so on."""
    return [pid for pid, _ in _tree(root)]


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _exe(pid: int) -> str:
    return os.path.basename(os.readlink(f"/proc/{pid}/exe"))


def _tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants, by executable.

    Read from ``statm``, which the kernel keeps as counters.  PSS (from
    ``smaps_rollup``) would split pages shared after a fork between the
    sharers, but reading it walks the page tables under the process's memory
    lock; sampled every 0.1 s it made the extraction jobs about a third
    slower.  So a page a Python worker shares with the daemon it was forked
    from counts once per sharer.  A child of the JVM that still runs
    ``java`` is a process spawn that has not reached ``exec`` yet and shares
    the JVM's memory; it is skipped."""
    by_exe: dict[str, int] = defaultdict(int)
    for pid, parent in [(root, 0), *_tree(root)]:
        try:
            exe = _exe(pid)
            if exe == "java" and parent and _exe(parent) == "java":
                continue
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                by_exe[exe] += int(fh.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
    return by_exe


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver Python, the JVM and Spark's Python workers) until stopped, and
    keeps the peak of their sum."""

    def __init__(self, interval_s: float = 0.2):
        self.peak_bytes = 0
        self.at_peak: dict[str, int] = {}  # resident bytes by executable at the peak
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            by_exe = _tree_rss_bytes(root)
            if sum(by_exe.values()) > self.peak_bytes:
                self.peak_bytes, self.at_peak = sum(by_exe.values()), dict(by_exe)
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


@dataclass
class Span:
    group: str
    start: float  # epoch seconds, comparable with the event log's clock
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into the program, each under its
    own Spark job group.  While ``enabled`` is false it only times."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str):
        sp = Span(group=f"perfbench:{next(self._ids)}:{layer}", start=time.time())
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sp.group, layer)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


@dataclass
class GroupStats:
    """What the event log says about the Spark jobs of one span."""

    jobs: int = 0
    intervals: list = field(default_factory=list)  # (submit_s, end_s) per job
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_task_s: dict = field(default_factory=lambda: defaultdict(list))

    def busy_s(self) -> float:
        """Length of the union of this span's job intervals."""
        total, cur_s, cur_e = 0.0, None, None
        for s, e in sorted(self.intervals):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def heaviest_stage(self) -> list[float]:
        """Task run times of the stage with the most task time (for the
        extraction job that is the fused extract + write stage)."""
        if not self.stage_task_s:
            return []
        return max(self.stage_task_s.values(), key=sum)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group stats from an uncompressed, non-rolling event log."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    submitted: dict[int, float] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    submitted[jid] = ev["Submission Time"] / 1000.0
                    stats[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        stats[job_group[jid]].intervals.append(
                            (submitted[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = stats[group]
                    g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    g.stage_task_s[ev["Stage ID"]].append(m.get("Executor Run Time", 0) / 1000.0)
    return stats


def max_over_p50(values: list[float]) -> float:
    med = statistics.median(values) if values else 0.0
    return max(values) / med if med > 0 else 0.0
