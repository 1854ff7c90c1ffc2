"""Reference results the workloads check the engine against.

- GQL statements: DuckDB over the engine's own ``graph.GRAPH_CTE``
  derivation of the TPC-H graph, compared as a hash of the canonical
  row multiset.
- Graph algorithms: plain-Python traversals of the same derived graph.
"""

from __future__ import annotations

import hashlib
import os
from collections import defaultdict, deque

import duckdb
import pyarrow.parquet as pq

from dd_graphdb_spark.graph import GRAPH_CTE, OFFSET

GRAPH_TABLES = ("region", "nation", "customer", "supplier", "orders")


def canon_hash(rows) -> str:
    """Order-insensitive hash of result rows; floats compare at 6
    decimals (both engines sum and compare doubles, but may print the
    last binary digit differently)."""
    def cell(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        return repr(v)

    lines = sorted("|".join(cell(v) for v in r) for r in rows)
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


def min_labels(nodes, edges) -> dict[int, int]:
    """Undirected connected components of ``nodes`` plus the endpoints
    of ``edges``, as {node: smallest node id in its component}."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class DuckGraph:
    """DuckDB connection holding ``vertices`` and ``edges`` derived by
    ``GRAPH_CTE`` from the workload's input tables."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in GRAPH_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for t in ("vertices", "edges"):
            self.con.execute(f"CREATE TABLE g_{t} AS {GRAPH_CTE} SELECT * FROM {t}")

    #: table names to substitute for ``{V}`` / ``{E}`` in oracle SQL
    V, E = "g_vertices", "g_edges"

    def query(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()


class PyGraph:
    """The derived TPC-H graph as Python adjacency lists."""

    def __init__(self, data_dir: str):
        def col(table, name):
            return pq.read_table(os.path.join(data_dir, f"{table}.parquet"), columns=[name]).column(0).to_pylist()

        self.vertices: list[int] = []
        self.edges: list[tuple[int, int]] = []
        for table, key in (("region", "r_regionkey"), ("nation", "n_nationkey"),
                           ("customer", "c_custkey"), ("supplier", "s_suppkey"),
                           ("orders", "o_orderkey")):
            off = OFFSET[table]
            self.vertices += [k + off for k in col(table, key)]
        for table, s, soff, d, doff in (
            ("nation", "n_nationkey", OFFSET["nation"], "n_regionkey", OFFSET["region"]),
            ("customer", "c_custkey", OFFSET["customer"], "c_nationkey", OFFSET["nation"]),
            ("supplier", "s_suppkey", OFFSET["supplier"], "s_nationkey", OFFSET["nation"]),
            ("orders", "o_orderkey", OFFSET["orders"], "o_custkey", OFFSET["customer"]),
        ):
            self.edges += [(a + soff, b + doff) for a, b in zip(col(table, s), col(table, d))]
        self.out = defaultdict(list)
        self.und = defaultdict(set)
        for a, b in self.edges:
            self.out[a].append(b)
            self.und[a].add(b)
            self.und[b].add(a)

    def component_count(self) -> int:
        return len(set(min_labels(self.vertices, self.edges).values()))

    def hops_from(self, source: int, max_depth: int | None = None) -> dict[int, int]:
        """Directed BFS hop counts from ``source`` (source at 0)."""
        dist = {source: 0}
        q = deque([source])
        while q:
            v = q.popleft()
            if max_depth is not None and dist[v] >= max_depth:
                continue
            for w in self.out[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        return dist

    def k_core_size(self, k: int) -> int:
        """Vertices left after repeatedly peeling those of undirected
        degree < k (self-loops and parallel edges collapse)."""
        deg = {v: len(self.und[v] - {v}) for v in self.vertices}
        alive = set(self.vertices)
        q = deque(v for v in self.vertices if deg[v] < k)
        while q:
            v = q.popleft()
            if v not in alive:
                continue
            alive.discard(v)
            for w in self.und[v]:
                if w in alive and w != v:
                    deg[w] -= 1
                    if deg[w] < k:
                        q.append(w)
        return len(alive)

    def pagerank(self, iterations: int, damping: float = 0.85) -> dict[int, float]:
        """The engine's PageRank: no dangling-mass redistribution,
        rank' = (1-d)/N + d * sum(rank(u) / outdeg(u)) over in-edges."""
        n = len(self.vertices)
        rank = {v: 1.0 / n for v in self.vertices}
        for _ in range(iterations):
            msum: dict[int, float] = defaultdict(float)
            for a, b in self.edges:
                msum[b] += rank[a] / len(self.out[a])
            rank = {v: (1.0 - damping) / n + damping * msum.get(v, 0.0) for v in self.vertices}
        return rank

    def label_propagation(self, iterations: int) -> dict[int, int]:
        """Synchronous LPA over the undirected simple graph: each vertex
        takes its neighbours' most frequent label, ties to the smallest."""
        lbl = {v: v for v in self.vertices}
        for _ in range(iterations):
            new = {}
            for v in self.vertices:
                nbrs = self.und[v] - {v}
                if not nbrs:
                    new[v] = lbl[v]
                    continue
                freq: dict[int, int] = defaultdict(int)
                for w in nbrs:
                    freq[lbl[w]] += 1
                new[v] = min(freq, key=lambda x: (-freq[x], x))
            lbl = new
        return lbl

    def scc_count(self) -> int:
        """Strongly connected components (Kosaraju, iterative)."""
        order: list[int] = []
        seen: set[int] = set()
        for s in self.vertices:
            if s in seen:
                continue
            seen.add(s)
            stack = [(s, iter(self.out[s]))]
            while stack:
                v, it = stack[-1]
                w = next(it, None)
                if w is None:
                    stack.pop()
                    order.append(v)
                elif w not in seen:
                    seen.add(w)
                    stack.append((w, iter(self.out[w])))
        rev = defaultdict(list)
        for a, b in self.edges:
            rev[b].append(a)
        seen.clear()
        n = 0
        for s in reversed(order):
            if s in seen:
                continue
            n += 1
            seen.add(s)
            stack2 = [s]
            while stack2:
                for w in rev[stack2.pop()]:
                    if w not in seen:
                        seen.add(w)
                        stack2.append(w)
        return n
