"""Outside-in layer tracing and engine counters.

Spans ``(name, start, end, parent, run_id)`` are recorded at the package's
layer boundaries by wrapping public functions from here — the package is
not edited. Spans stay in memory and are written out once, at the end.

Engine counters come from the running SparkContext: the DAG scheduler's job
counter (exact and synchronous), the status store's per-stage data, and
``/proc`` for the CPU time and memory of the engine's process tree.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    def __init__(self, run_id: str, jobs) -> None:
        self.run_id = run_id
        self.jobs = jobs  # () -> jobs submitted so far
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id,
               "job0": self.jobs(), **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["job1"] = self.jobs()

    def wrap(self, owner, attr: str, name: str, on_exit=None) -> None:
        """Replace ``owner.attr`` with a spanned twin (undone by ``unwrap``)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if on_exit is not None:
                    on_exit(rec, args, kwargs, out)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def total(self, name: str, field: str = "s") -> float:
        rs = [r for r in self.spans if r["name"] == name]
        if field == "s":
            return sum(r["end"] - r["start"] for r in rs)
        if field == "jobs":
            return sum(r["job1"] - r["job0"] for r in rs)
        if field == "n":
            return len(rs)
        return sum(r.get(field, 0) for r in rs)

    def self_time(self, name: str) -> float:
        """Time in ``name`` spans not covered by their child spans."""
        total = 0.0
        for i, r in enumerate(self.spans):
            if r["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            total += (r["end"] - r["start"]) - kids
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class Engine:
    """Counters of one SparkContext and of this process tree."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def jobs(self) -> int:
        """Jobs submitted so far (DAGScheduler.nextJobId, updated on submit)."""
        n = self._jsc.dagScheduler().nextJobId()
        return n if isinstance(n, int) else n.get()

    def drain(self) -> None:
        """Wait until the status listener has seen every posted event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_totals(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Sum the status store's stage data over jobs [job_lo, job_hi)."""
        self.drain()
        store = self._jsc.statusStore()
        empty = self.sc._gateway.new_array(self._jvm.double, 0)
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        out = dict(stages=0, tasks=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
                   spill_bytes=0, executor_run_s=0.0, gc_s=0.0)
        for jid in range(job_lo, job_hi):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(), False, empty)
                except Py4JJavaError:  # a skipped stage never ran, so it is not in the store
                    continue
                for k in range(attempts.length()):
                    s = attempts.apply(k)
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["executor_run_s"] += s.executorRunTime() / 1000.0
                    out["gc_s"] += s.jvmGcTime() / 1000.0
        return out


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user+sys, reaped children included) of this process tree:
    the driver Python, the JVM, and the Python workers."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        except (OSError, IndexError, ValueError):
            continue
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the process tree, in MB."""
    kb = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
