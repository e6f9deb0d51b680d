"""Shared workload scaffolding: the op record, timing of benchmark-only
work, and span helpers that do nothing in untraced runs."""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass
from typing import Any, Callable

from perfbench.tracing import Traced


@dataclass
class Op:
    """One client op. ``prepare`` draws its inputs (untimed), ``run`` is the
    timed call into the program, ``check`` verifies the result (untimed)
    and returns failure messages."""

    kind: str
    writes: bool
    prepare: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any, Any], list[str]]


class Workload:
    def __init__(self, spark, seed: int, run_dir: str):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = None
        self.bench_s = 0.0  # benchmark-only work (input generation, checks)
        self.failures: list[str] = []  # set-up check failures
        self.setup_phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase (wall time, benchmark-only work included)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases[name] = time.perf_counter() - t0

    @contextmanager
    def bench_time(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bench_s += time.perf_counter() - t0

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def traced(self, obj, prefix: str, layer: str):
        return Traced(obj, self.tracer, prefix, layer) if self.tracer else obj

    # -- interface ---------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def block(self) -> list[Op]:
        """The next block of ops; every block has the same composition."""
        raise NotImplementedError

    def begin_measured(self) -> None:
        """Called before the block loop whose per-layer numbers are kept."""

    def report(self, ops: list[dict]) -> dict:
        """Workload-specific end-to-end extras and the input sizes."""
        return {}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        return {}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0
