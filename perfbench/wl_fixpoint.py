"""``graph_fixpoint``: a fixed set of seeded algorithm runs over the
materialized TPC-H graph — CC, PageRank, SSSP and BFS from seeded
sources, k-core, SCC and LPA — each checked against a plain-Python
reference computed once per run.

Most of the work is in ``algorithms`` (supersteps looped from Python:
one or more Spark jobs per round); ``plans`` is not called, so a GQL change
should read as no change here.
"""

from __future__ import annotations

import math
import random
import time

import dd_graphdb_spark.algorithms as A
from dd_graphdb_spark.graph import OFFSET, materialized_tpch_graph

from harness import Part, p50
from oracle import PyGraph

PAGERANK_ITERATIONS = 5
LPA_ITERATIONS = 2
KCORE_K = 1
BFS_DEPTH = 3


class GraphFixpoint(Part):
    name = "graph_fixpoint"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(f"graph_fixpoint/{self.seed}")
        self.ref = PyGraph(ctx.input_dir)
        self._reference = {
            "cc": self.ref.component_count(),
            "kcore": self.ref.k_core_size(KCORE_K),
            "scc": self.ref.scc_count(),
            "pagerank": self.ref.pagerank(PAGERANK_ITERATIONS),
            "lpa": self.ref.label_propagation(LPA_ITERATIONS),
        }
        # sources are orders: every order's forward cone has the same
        # depth (order → customer → nation → region), so each seed does
        # the same number of supersteps
        self._sources = [v for v in self.ref.vertices if v >= OFFSET["orders"]]

    def setup(self) -> None:
        self.g = materialized_tpch_graph(self.spark, self.ctx.input_dir)

    def cycle(self) -> None:
        g, ref = self.g, self._reference
        sssp_src = self.rng.choice(self._sources)
        bfs_src = self.rng.choice(self._sources)
        # the cheapest loop goes first: the first fixpoint of a fresh JVM
        # also pays the loop machinery's JIT and code-generation warm-up
        self.op("bfs", lambda: self._run(
            lambda: A.bfs_shortest_path(g, bfs_src, max_depth=BFS_DEPTH),
            lambda rows: self._check_distances(rows, bfs_src, BFS_DEPTH)))
        self.op("cc", lambda: self._run(
            lambda: A.connected_components(g),
            lambda rows: len({r[1] for r in rows}) == ref["cc"]))
        self.op("pagerank", lambda: self._run(
            lambda: A.pagerank(g, max_iterations=PAGERANK_ITERATIONS),
            self._check_pagerank))
        self.op("sssp", lambda: self._run(
            lambda: A.sssp(g, sssp_src),
            lambda rows: self._check_distances(rows, sssp_src, None)))
        self.op("k_core", lambda: self._run(
            lambda: A.k_core(g, KCORE_K),
            lambda rows: len(rows) == ref["kcore"]))
        self.op("scc", lambda: self._run(
            lambda: A.strongly_connected_components(g),
            lambda rows: len({r[1] for r in rows}) == ref["scc"]))
        self.op("lpa", lambda: self._run(
            lambda: A.label_propagation(g, max_iterations=LPA_ITERATIONS),
            lambda rows: {r[0]: r[1] for r in rows} == ref["lpa"]))

    def _run(self, call, check):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("algorithms", "call"):
            df = call()
        with tr.span("algorithms", "collect"):
            rows = df.collect()
        latency = time.perf_counter() - t0
        return self.check(check, rows), latency

    def _check_pagerank(self, rows) -> bool:
        """Top-3 ids and every rank within 1e-9 of the reference."""
        ref = self._reference["pagerank"]
        got = {r[0]: r[1] for r in rows}
        if got.keys() != ref.keys():
            return False
        top = lambda d: sorted(d, key=lambda v: (-d[v], v))[:3]
        return top(got) == top(ref) and all(abs(got[v] - ref[v]) < 1e-9 for v in ref)

    def _check_distances(self, rows, source: int, max_depth: int | None) -> bool:
        """Reachable vertices and hop counts equal a Python BFS; SSSP
        also returns every other vertex at +inf."""
        hops = self.ref.hops_from(source, max_depth)
        got = {r[0]: r[1] for r in rows if not math.isinf(r[1])}
        if max_depth is None and len(rows) != len(self.ref.vertices):
            return False
        return got == {v: float(h) if max_depth is None else h for v, h in hops.items()}

    def sizes(self) -> dict:
        return {"graph_vertices": len(self.ref.vertices), "graph_edges": len(self.ref.edges)}

    def context_metrics(self, ops) -> dict:
        lat = [o.latency_s for o in ops]
        cycles = max(1, len(lat) // 7)
        return {"algo_p50_s": p50(lat), "algo_total_s": sum(lat) / cycles}
