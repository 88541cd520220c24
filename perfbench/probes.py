"""Measurement helpers: process-tree CPU and memory, host steal, Spark
job counts and in-memory spans around calls into the engine's modules.

Nothing here edits the engine. Spans come from wrappers the benchmark
installs on module attributes (``Tracer.patch``) for the traced run
only, and removes again before it ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------- /proc ----

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _klass(pid: int) -> str:
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return "other"
    if b"java" in cmd.split(b" ")[0]:
        return "jvm"
    if b"python" in cmd:
        return "pyworker"
    return "other"


def cpu_by_class() -> dict[str, float]:
    """CPU seconds (user+system, with reaped children) per process class
    over the live process tree: driver (this Python process), jvm and
    pyworker (Spark's Python workers)."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # utime stime cutime cstime are fields 14-17 (1-based)
        ticks = sum(int(x) for x in fields[11:15])
        out[_klass(pid)] += ticks * _TICK_S
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM summed per process class over the live process tree, MiB."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[_klass(pid)] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total else 0.0


def host_calib_ms(reps: int = 5) -> float:
    """Median wall of a fixed pure-Python loop, ms: a reading of the
    host's single-core speed, recorded beside the metrics so that a slow
    run can be told from a slow program."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x += i * i % 7
        walls.append(time.perf_counter() - t0)
    return 1000.0 * sorted(walls)[reps // 2]


# ------------------------------------------------------------ spans -----

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    sid: int


@dataclass
class Tracer:
    """Spans with name, start, end, parent and request id, kept in
    memory; ``dump`` writes them out once at the end."""

    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patched: list = field(default_factory=list)

    def begin_request(self, rid: str) -> None:
        self._local.rid = rid
        self._local.stack = []

    def open(self, name: str) -> tuple:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        return (name, time.perf_counter(), parent, sid)

    def close(self, tok: tuple) -> None:
        name, t0, parent, sid = tok
        t1 = time.perf_counter()
        self._local.stack.pop()
        with self._lock:
            self.spans.append(
                Span(name, t0, t1, parent, getattr(self._local, "rid", None), sid)
            )

    def wrap(self, name: str, fn, collect_name: str | None = None):
        """``fn`` inside a span ``name``. With ``collect_name``, the
        returned DataFrame's ``collect`` also runs inside a span."""
        tracer = self

        @functools.wraps(fn)
        def inner(*a, **kw):
            tok = tracer.open(name)
            try:
                out = fn(*a, **kw)
            finally:
                tracer.close(tok)
            if collect_name is not None and hasattr(out, "collect"):
                orig = out.collect

                def collect():
                    t = tracer.open(collect_name)
                    try:
                        return orig()
                    finally:
                        tracer.close(t)

                out.collect = collect
            return out

        return inner

    def patch(self, module, attr: str, name: str, collect_name: str | None = None):
        orig = getattr(module, attr)
        setattr(module, attr, self.wrap(name, orig, collect_name))
        self._patched.append((module, attr, orig))

    def unpatch_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def by_request(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.rid, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def top_level(spans: list[Span], prefix: str, outer: str | None = None) -> float:
    """Wall seconds of the spans named ``prefix*`` that have no ancestor
    named ``outer*`` (default ``prefix``), so a nested engine call is
    not counted twice."""
    outer = prefix if outer is None else outer
    by_id = {s.sid: s for s in spans}
    total = 0.0
    for s in spans:
        if not s.name.startswith(prefix):
            continue
        p = by_id.get(s.parent)
        while p is not None and not p.name.startswith(outer):
            p = by_id.get(p.parent)
        if p is None:
            total += s.end - s.start
    return total


def count(spans: list[Span], prefix: str) -> int:
    return sum(1 for s in spans if s.name.startswith(prefix))


# -------------------------------------------------------- spark jobs ----

class JobCounter:
    """Spark jobs, stages and tasks of one request, read from the status
    tracker under a per-request job group."""

    def __init__(self, sc):
        self.sc = sc

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def finish(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
                "failed_tasks": failed}
