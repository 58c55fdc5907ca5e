"""Measurement plumbing: spans with self time, Spark job counters, and a
process-tree peak-RSS sampler.

Spans are recorded by the benchmark around its calls into each
``sparklucene`` module; nothing inside the package is instrumented.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op, so one workload body serves the traced and untraced runs."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request = ""

    def span(self, name: str, request: str | None = None):
        return _SpanCtx(self, name, request)

    def count(self, **counts) -> None:
        """Attach counts to the innermost open span."""
        if self.enabled and self._stack:
            self.spans[self._stack[-1]].counts.update(counts)

    def _open(self, name: str, request: str | None) -> int:
        if request is not None and not self._stack:
            self._request = request
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               request=self._request))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self._stack.pop()

    def self_times(self) -> list[float]:
        """Per-span duration minus the union of its children's intervals
        (children of one parent never overlap: calls are sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def roots(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.parent is None and s.name == name]

    def per_request(self, root: str, name: str) -> list[float]:
        """Self time of layer ``name`` summed within each ``root``
        request (one value per request, 0 where the layer was not hit)."""
        st = self.self_times()
        out: list[float] = []
        for r in self.roots(root):
            req = self.spans[r].request
            out.append(sum(t for s, t in zip(self.spans, st)
                           if s.request == req and s.name == name))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s, t in zip(self.spans, self.self_times()):
                fh.write(json.dumps({**asdict(s), "self": t}) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, request: str | None):
        self.t, self.name, self.request, self.i = tracer, name, request, -1

    def __enter__(self):
        if self.t.enabled:
            self.i = self.t._open(self.name, self.request)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t._close(self.i)
        return False


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 20 samples that is the median."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    pct = max(50.0, 100.0 * (1 - 10 / n))
    i = max(0, math.ceil(pct / 100 * n) - 1)
    return float(xs[i]), round(pct, 1), n


# ---- Spark job counters --------------------------------------------------
class JobCounter:
    """Jobs, stages, tasks and failed tasks of the Spark work one call
    caused. The call runs under its own job group (visible in the event
    log); jobs are attributed by job-id range, because the engine also
    submits jobs from pool threads and the streaming thread, which do not
    inherit the caller's group. Counts are read after the listener bus
    drained (:meth:`resolve`), never inside a timed span."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._dag = sc._jsc.sc().dagScheduler()
        self._pending: list[tuple[dict, int, int]] = []
        self._n = 0

    def next_job_id(self) -> int:
        n = self._dag.nextJobId()  # an AtomicInteger; py4j may unbox it
        return int(n if isinstance(n, int) else n.get())

    def start(self, label: str) -> tuple[str, int]:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group, self.next_job_id()

    def stop(self, token: tuple[str, int], into: dict) -> None:
        """Record the call's job-id range; ``into`` is filled later."""
        self.sc.setJobGroup(None, None)
        self._pending.append((into, token[1], self.next_job_id()))

    def resolve(self) -> None:
        deadline = time.monotonic() + 2.0
        while self.tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)  # let the listener bus deliver the last events
        for into, lo, hi in self._pending:
            jobs = stages = tasks = failed = 0
            for jid in range(lo, hi):
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped (shuffle reuse) or unknown
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            into.update(jobs=jobs, stages=stages, tasks=tasks,
                        failed_tasks=failed)
        self._pending.clear()


# ---- process tree --------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (driver JVM, Python daemon and workers) every INTERVAL seconds;
    :meth:`stop` returns the highest sum seen, in MB."""

    INTERVAL = 0.2

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_ev.is_set():
            self.sample()
            self._stop_ev.wait(self.INTERVAL)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0
