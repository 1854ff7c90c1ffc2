"""Spans and counters recorded around calls into the engine's layers.

A span records a layer call from outside: layer, name, start, end, the
enclosing span and the operation id, plus counter deltas taken at its
two boundaries:

- Spark jobs and stages started (the scheduler's job and stage id
  counters) and tasks completed in those stages (status tracker);
- py4j ``send_command`` round-trips, counted by wrapping the gateway
  client — the tracer's own probe calls are not counted;
- JVM garbage-collection milliseconds (GC MXBeans).

Spans stay in memory and are written out once, at the end of the run.
With tracing off, ``span`` yields ``None`` and touches nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._stage_tasks: dict[int, int] = {}
        self._lock = threading.Lock()
        self._gateway_calls = 0
        self._probing = 0
        #: seconds spent in the tracer's own counter probes
        self.probe_s = 0.0
        if not enabled:
            return
        sc = spark.sparkContext
        self._dag = sc._jsc.sc().dagScheduler()
        self._status = sc.statusTracker()
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        client = sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if not self._probing:
                with self._lock:
                    self._gateway_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    # -- counters -----------------------------------------------------------
    def counters(self) -> dict:
        """Current counter values."""
        self._probing += 1
        t0 = time.perf_counter()
        try:
            return {
                "jobs": int(self._dag.numTotalJobs()),
                "stages": int(self._dag.nextStageId()),
                "gc_ms": sum(int(b.getCollectionTime()) for b in self._gc_beans),
                "gateway_calls": self._gateway_calls,
            }
        finally:
            self.probe_s += time.perf_counter() - t0
            self._probing -= 1

    def tasks(self, first_stage: int, end_stage: int) -> int:
        """Tasks completed in stages ``[first_stage, end_stage)``."""
        self._probing += 1
        t0 = time.perf_counter()
        try:
            total = 0
            for sid in range(first_stage, end_stage):
                if sid not in self._stage_tasks:
                    info = self._status.getStageInfo(sid)
                    self._stage_tasks[sid] = info.numCompletedTasks if info else 0
                total += self._stage_tasks[sid]
            return total
        finally:
            self.probe_s += time.perf_counter() - t0
            self._probing -= 1

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        """Record one layer call; yields the span dict (``None`` when
        tracing is off) so callers can attach attributes."""
        if not self.enabled:
            yield None
            return
        c0 = self.counters()
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            c1 = self.counters()
            for k in c0:
                sp[k] = c1[k] - c0[k]
            sp["tasks"] = self.tasks(c0["stages"], c1["stages"])

    def wrap(self, module, attr: str, layer: str) -> None:
        """Record every call of ``module.attr`` as a span named
        ``attr``: for layer calls made inside the engine, e.g. the
        parse inside ``GQLEngine.execute``."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(layer, attr):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        direct children cover (children of one span never overlap: the
        client is a single closed loop)."""
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = {}
        for sp, c in zip(self.spans, child):
            out[sp["layer"]] = out.get(sp["layer"], 0.0) + (sp["end"] - sp["start"] - c)
        return out

    def select(self, layer: str, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["layer"] == layer and (name is None or s["name"] == name)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
