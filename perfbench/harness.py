"""Closed-loop client shared by the workloads, and the metric helpers.

One client: each operation starts only after the previous one has
finished and been checked. A workload is a list of *parts*; one cycle
runs every part's fixed sequence of operation kinds once, with seeded
parameters. A measured window runs whole cycles, so every run measures
the same mix.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass


@dataclass
class Op:
    part: str
    kind: str
    latency_s: float
    ok: bool


class Part:
    """One component of a workload. Subclasses set ``name`` and
    implement ``setup`` and ``cycle`` (calling ``self.op`` once per
    operation) plus the optional hooks."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.seed = ctx.seed
        self.final_ok = True

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """End-of-run output checks (set ``self.final_ok``)."""

    def sizes(self) -> dict:
        return {}

    def context_metrics(self, ops: list[Op]) -> dict:
        """The part's own end-to-end figures, for the context record."""
        return {}

    def layer_extras(self) -> dict:
        """Per-layer metrics only the part can compute."""
        return {}

    def check(self, fn, *args) -> bool:
        """Run an output check. Its CPU time in this process (Python
        models, DuckDB) is added to ``ctx.check_cpu_s``, which the run
        keeps out of ``cpu_s_per_op``."""
        c0 = time.process_time()
        try:
            return fn(*args)
        finally:
            self.ctx.check_cpu_s += time.process_time() - c0

    def op(self, kind: str, fn) -> Op:
        """Run ``fn`` as one checked operation. ``fn`` returns
        ``(ok, latency_s)``, timing only the engine calls and result
        collection, not its own check, which it runs through ``check``
        (a write's latency runs from the write's start to the end of its
        last read)."""
        tr = self.tracer
        tr.op_id = len(self.ctx.ops)
        t0 = time.perf_counter()
        try:
            with tr.span("bench", f"{self.name}.{kind}"):
                ok, lat = fn()
        except Exception:  # an engine error fails this operation only
            traceback.print_exc(file=sys.stderr)
            ok, lat = False, time.perf_counter() - t0
        rec = Op(self.name, kind, lat, bool(ok))
        if not rec.ok:
            print(f"# FAILED {self.name}.{kind}", file=sys.stderr)
        self.ctx.ops.append(rec)
        tr.op_id = None
        return rec


def run_window(parts: list[Part], ops: list[Op], seconds: float) -> tuple[list[Op], float]:
    """Whole cycles: at least one, and another only while the window is
    expected to end within ``seconds`` (elapsed + mean cycle time).
    Returns the window's operations and its wall time."""
    start = len(ops)
    t0 = time.perf_counter()
    cycles = 0
    while True:
        for p in parts:
            p.cycle()
        cycles += 1
        elapsed = time.perf_counter() - t0
        if elapsed + elapsed / cycles > seconds:
            return ops[start:], elapsed


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples above it:
    ``(value, statistic, n)``. Below twenty samples that percentile
    would not be above the median, so the mean of the slowest quarter
    is reported instead: a tail that, unlike the single slowest sample,
    does not rest on one operation."""
    v = sorted(values)
    n = len(v)
    if n < 20:
        k = math.ceil(n / 4)
        return statistics.fmean(v[-k:]), f"mean of slowest {k}", n
    idx = n - 11
    return v[idx], f"p{100.0 * (idx + 1) / n:.1f}", n


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
