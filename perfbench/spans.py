"""Span tracing for the traced (``--trace 1``) benchmark run.

Spans are recorded from the benchmark's own files only: ``Tracer.wrap``
swaps a public function or method of the engine for a wrapper that opens a
span around each call, and ``Tracer.span`` opens one around a block of
benchmark code. Every span adds a Spark job tag for its duration, so the
Spark UI REST API can hand back the jobs each span launched with their
executor CPU and shuffle bytes.

Spans live in memory and are summarised when the run ends. A span's self
time is its duration minus the part of it covered by its direct children.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    sid: int
    parent: int | None
    tag: str
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span) -> float:
    return span.dur - covered([(c.start, c.end) for c in span.children],
                              span.start, span.end)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + self_time(s)
    return out


def prefix_differences(prefix_secs: list[tuple[str, float]]
                       ) -> dict[str, float]:
    """Stage times from timings of growing prefixes of one operator chain:
    stage k costs ``t(prefix k) - t(prefix k-1)``. The differences sum to
    the full chain's time by construction."""
    out, prev = {}, 0.0
    for name, secs in prefix_secs:
        out[name] = secs - prev
        prev = secs
    return out


class Tracer:
    """Records nested spans (per thread) and tags the Spark jobs each one
    launches. ``wrap`` patches are undone by ``close``."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the block. Its parent is the innermost open span
        of this thread or, on a thread with none open (a streaming
        callback), the innermost open span of any thread."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        tag = f"pb-span-{sid}"
        with self._lock:
            parent = stack[-1] if stack else (
                self._open[-1] if self._open else None)
            s = Span(name, time.perf_counter(), 0.0, sid,
                     parent.sid if parent else None, tag)
            self._open.append(s)
        stack.append(s)
        self.sc.addJobTag(tag)
        try:
            yield s
        finally:
            self.sc.removeJobTag(tag)
            stack.pop()
            s.end = time.perf_counter()
            with self._lock:
                self._open.remove(s)
                self.spans.append(s)
                if parent is not None:
                    parent.children.append(s)

    def wrap(self, owner, attr: str, name) -> None:
        """Open a span around every call of ``owner.attr``. ``name`` is the
        span name, or a function of the call's (args, kwargs) giving it."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else \
            getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name(a, kw) if callable(name) else name):
                return fn(*a, **kw)

        setattr(owner, attr,
                staticmethod(traced) if isinstance(orig, staticmethod)
                else traced)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def tags_under(self, name: str) -> set[str]:
        """Job tags of every span named ``name`` and of its descendants."""
        by_parent: dict[int, list[Span]] = {}
        for s in self.spans:
            by_parent.setdefault(s.parent, []).append(s)
        out, todo = set(), [s for s in self.spans if s.name == name]
        while todo:
            s = todo.pop()
            out.add(s.tag)
            todo.extend(by_parent.get(s.sid, []))
        return out


# -- Spark UI REST API ------------------------------------------------------

def rest_jobs(sc) -> list[dict]:
    """Every job of the application with its tags and the executor CPU and
    shuffle bytes of its (non-skipped) stages."""
    base = (sc.uiWebUrl + "/api/v1/applications/" + sc.applicationId)

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    stages = {}
    for st in get("/stages"):
        if st.get("status") == "SKIPPED":
            continue
        d = stages.setdefault(st["stageId"], {"cpu_s": 0.0, "shuffle_b": 0})
        d["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        d["shuffle_b"] += (st.get("shuffleReadBytes", 0)
                           + st.get("shuffleWriteBytes", 0))
    out = []
    for j in get("/jobs"):
        ss = [stages[i] for i in j.get("stageIds", []) if i in stages]
        out.append({"job": j["jobId"], "tags": j.get("jobTags", []),
                    "cpu_s": sum(s["cpu_s"] for s in ss),
                    "shuffle_b": sum(s["shuffle_b"] for s in ss)})
    return out


# -- /proc sampling -----------------------------------------------------------

def proc_tree() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds, rss bytes) for every process."""
    clk = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        lp = s.rindex(")")
        comm = s[s.index("(") + 1:lp]
        fields = s[lp + 2:].split()
        out[int(d)] = (int(fields[1]), comm,
                       (int(fields[11]) + int(fields[12])) / clk,
                       int(fields[21]) * page)
    return out


def descendants(procs: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in procs.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


class TreeSampler(threading.Thread):
    """Samples this process tree every ``interval`` seconds: the peak
    summed RSS of the driver, the JVM and the Python workers, and the
    cumulative CPU of the Python workers. Worker CPU is kept monotone,
    since a reaped worker's CPU would otherwise drop out of the sum.

    Other descendants are left out of the RSS: a child that a JVM thread
    has just forked, before it execs, shares or copies the JVM's pages and
    carries the thread's name (``Executor task l``), so counting it would
    add the JVM's RSS a second time, in whichever samples happen to catch
    it."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_rss = 0
        # (JVM bytes, Python worker bytes, Python processes) at the peak
        self.peak_parts = (0, 0, 0)
        self.py_cpu = 0.0
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()
        self._dead_cpu = 0.0
        self._live: dict[int, float] = {}

    def sample(self) -> float:
        procs = proc_tree()
        me = os.getpid()
        pids = descendants(procs, me)
        jvm = sum(procs[p][3] for p in pids if procs[p][1] == "java")
        py = [p for p in pids if procs[p][1].startswith("python")]
        py_rss = sum(procs[p][3] for p in py)
        rss = procs[me][3] + jvm + py_rss
        live = {p: procs[p][2] for p in py}
        with self._lock:
            if rss > self.peak_rss:
                self.peak_rss = rss
                self.peak_parts = (jvm, py_rss, len(py))
            self._dead_cpu += sum(c for p, c in self._live.items()
                                  if p not in live)
            self._live = live
            self.py_cpu = max(self.py_cpu,
                              self._dead_cpu + sum(live.values()))
            return self.py_cpu

    def run(self):
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
