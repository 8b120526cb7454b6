"""Spans around the package's public functions, and a process sampler.

The benchmark wraps layer entry points from the outside (no source
edits): ``Tracer.patch`` swaps a module attribute for a wrapper and
rebinds every ``from module import name`` copy already held by other
package modules, so calls made inside the package are traced too and
nest. A span records its layer, parent, wall time, and the Spark jobs
and tasks launched under its own job group (``setJobGroup`` plus
``statusTracker``, both public; counts are read as the span closes,
before the tracker's retained-job limit can evict them). A layer's
self time is its spans' time minus the time of their child spans.

Spark is lazy: a call that only builds a plan returns fast, and its
execution is charged to the span of the action that runs it.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "layer", "parent", "t0", "t1", "child_s",
                 "jobs", "tasks", "group")

    def __init__(self, name, layer, parent, group):
        self.name, self.layer, self.parent = name, layer, parent
        self.group = group
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.child_s = 0.0
        self.jobs = self.tasks = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """Collects spans in memory while ``recording`` is set."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.spans: list[Span] = []
        self.recording = False
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.recording:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        sp = Span(name, layer, parent, f"perfbench-{self._seq}")
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            b1 = sp.t1
            self._stack.pop()
            if parent is not None:
                parent.child_s += sp.dur
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            for jid in self.tracker.getJobIdsForGroup(sp.group):
                sp.jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = self.tracker.getStageInfo(sid)
                    sp.tasks += st.numCompletedTasks if st else 0
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - b1

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    def patch(self, module, attr: str, name: str, layer: str) -> None:
        """Trace ``module.attr`` everywhere the package holds a reference."""
        orig = getattr(module, attr)
        wrapped = self.wrap(orig, name, layer)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(
                    "mc_ns_data_pipeline_spark")
                    and getattr(mod, attr, None) is orig):
                setattr(mod, attr, wrapped)

    def calls(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def inclusive_jobs(self, sp: Span) -> int:
        """Jobs of ``sp`` and every span nested under it."""
        total = sp.jobs
        for s in self.spans:
            p = s.parent
            while p is not None and p is not sp:
                p = p.parent
            if p is sp:
                total += s.jobs
        return total

    def by_layer(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"self_s": 0.0, "jobs": 0, "tasks": 0})
        for s in self.spans:
            agg = out[s.layer]
            agg["self_s"] += s.self_s
            agg["jobs"] += s.jobs
            agg["tasks"] += s.tasks
        return out


def _children(pid_ppid: dict[int, int], root: int) -> set[int]:
    """Every descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for c, pp in pid_ppid.items():
        kids.setdefault(pp, []).append(c)
    found, frontier = set(), [root]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            if c not in found:
                found.add(c)
                frontier.append(c)
    return found


def _scan() -> dict[int, tuple[int, int, str, int]]:
    """Every process in /proc: pid -> (ppid, RSS pages, command name, CPU
    ticks of the process and its reaped children)."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                rss_pages = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), rss_pages,
                         stat[stat.index("(") + 1:stat.rindex(")")],
                         sum(int(x) for x in fields[11:15]))
    return procs


class ProcSampler:
    """Samples the RSS of this process and all its descendants (the
    driver JVM and the Python workers it forks) from /proc: the peak sum,
    the sums seen while ``timing`` is set, and the distinct Python PIDs
    that ran under the JVM."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_rss_kb = 0
        self.timed_rss_kb: list[int] = []  # samples while ``timing`` is set
        self.timing = False
        self.python_pids: set[int] = set()
        self.jvm_pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def tree_cpu_s(self) -> float:
        """CPU seconds used so far by this process and its descendants,
        reaped ones included (time the host stole is not counted)."""
        procs = _scan()
        tree = _children({p: v[0] for p, v in procs.items()},
                         os.getpid()) | {os.getpid()}
        ticks = sum(procs[p][3] for p in tree if p in procs)
        return ticks / os.sysconf("SC_CLK_TCK")

    def sample(self) -> None:
        procs = _scan()
        parents = {p: v[0] for p, v in procs.items()}
        tree = _children(parents, os.getpid()) | {os.getpid()}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        rss = sum(procs[p][1] for p in tree if p in procs) * page_kb
        self.peak_rss_kb = max(self.peak_rss_kb, rss)
        if self.timing:
            self.timed_rss_kb.append(rss)
        if self.jvm_pid is not None:
            under = _children(parents, self.jvm_pid)
            self.python_pids |= {p for p in under
                                 if procs[p][2].startswith("python")}
