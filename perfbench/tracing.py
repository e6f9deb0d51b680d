"""Measurement plumbing: Spark job/task counters, in-memory spans, the thin
proxies the traced run puts around the handles it passes into the program,
and process memory.

Untraced runs use none of the proxies: they hand the program its real
handles and only time whole ops, so end-to-end metrics carry no tracing
cost.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


class SparkCounters:
    """Job ids from the DAG scheduler's sequential allocator (exact and
    synchronous); completed/failed task counts per job from the status
    tracker, resolved after the listener bus has caught up."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def tasks(self, job_ids) -> tuple[int, int]:
        """(completed, failed) tasks over ``job_ids``."""
        st = self.sc.statusTracker()
        done = failed = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    done += si.numCompletedTasks
                    failed += si.numFailedTasks
        return done, failed

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store shows no active job (task counts
        are final)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        while st.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)


@dataclass
class Span:
    name: str
    layer: str
    op_id: int | None
    parent: int | None
    start: float
    job0: int
    end: float = 0.0
    job1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``op`` opens a root span per client op.
    ``own_s`` is the time spent in span bookkeeping (mostly the job-id
    reads), i.e. what tracing adds to the traced ops."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self.own_s = 0.0
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(name, layer, self._op, parent, 0.0, self.counters.next_job_id())
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        sp.start = time.perf_counter()
        self.own_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.job1 = self.counters.next_job_id()
            self.own_s += time.perf_counter() - sp.end

    @contextmanager
    def op(self, op_id: int, kind: str):
        self._op = op_id
        try:
            with self.span(f"op.{kind}", "client") as sp:
                yield sp
        finally:
            self._op = None

    # -- aggregation ------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: summed span duration minus the part its child spans
        cover (spans on one thread nest, so children never overlap)."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op_id is None:
                continue
            own = s.dur - sum(self.spans[c].dur for c in s.children)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def to_records(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "layer": s.layer,
                "op": s.op_id,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "jobs": s.job1 - s.job0,
            }
            for i, s in enumerate(self.spans)
        ]


class Traced:
    """Proxy that wraps every public method call of ``target`` in a span
    named ``<prefix>.<method>``; attributes and private helpers pass
    through untouched, so the program sees the same object surface."""

    def __init__(self, target, tracer: Tracer, prefix: str, layer: str):
        object.__setattr__(self, "_t", (target, tracer, prefix, layer))

    def __getattr__(self, name: str):
        target, tracer, prefix, layer = object.__getattribute__(self, "_t")
        attr = getattr(target, name)
        if name.startswith("_") or not callable(attr):
            return attr

        def call(*args, **kwargs):
            with tracer.span(f"{prefix}.{name}", layer):
                return attr(*args, **kwargs)

        return call


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def descendants(pid: int) -> list[int]:
    out = []
    for c in _children(pid):
        out.append(c)
        out.extend(descendants(c))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(exe) == b"java"


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) in MB of this Python process and of its
    JVM."""
    me = os.getpid()
    jvm = sum(_status_kb(p, "VmHWM") for p in descendants(me) if _is_jvm(p))
    return {"python": _status_kb(me, "VmHWM") / 1024.0, "jvm": jvm / 1024.0}


def tree_bytes(root: str) -> dict[str, int]:
    """{relative path: size} of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass
    return out
