"""``write_view_read``: writes beside reads over one store and its views.

Set-up loads a ``GraphStore`` (engine defaults) with the customer /
supplier / nation / region subgraph and registers four views: an
incremental balance aggregate and an incremental connectivity view fed
from the store's change feed (``changes`` → ``cdc_to_deltas``), an
events-fed aggregate, and a plain SQL view over the aggregate.

One cycle is three writes, each followed by the same read set — a
routed read of every view (the written view first) and a GQL read over
``store.as_property_graph``:

- ``store_write``: a seeded op batch through ``apply_batch``;
- ``gql_write``: a GQL ``MATCH … SET`` through ``GQLEngine(store=…)``;
- ``events``: a seeded events micro-batch through
  ``incremental_view_pipeline``.

Store writes are maintained as ``changes`` → ``apply_deltas`` →
``refresh_all``; the store is vacuumed every ``VACUUM_EVERY`` commits.
An operation's latency runs from the start of its write to the end of
its last read, so merge-on-read cost shows in it; the time until the
written view's read returned is kept apart as the commit (or stream)
visibility figure. A plain-Python model of the store and views gives
the expected value of every read.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dd_graphdb_spark.graph import OFFSET
from dd_graphdb_spark.plans.lower import GQLEngine
from dd_graphdb_spark.storage import GraphStore, add_edge, add_vertex, remove_edge, update_vertex_props
from dd_graphdb_spark.storage.store import cdc_to_deltas, prop_typed
from dd_graphdb_spark.streaming import incremental_view_pipeline
from dd_graphdb_spark.views import (
    IncrementalAggState, IncrementalConnectivity, QueryPattern, QueryRouter,
    ViewCatalog, ViewDefinition,
)

from datagen import events_table
from harness import Part, p50, tail
from oracle import min_labels

AGG, CONN, EVENTS, TOTALS = "balance_by_nation", "connectivity", "events_by_type", "balance_totals"
#: the routed reads after every write: (view, query pattern kind)
READS = ((AGG, "aggregation"), (CONN, "analytics"), (TOTALS, "aggregation"), (EVENTS, "aggregation"))
VACUUM_EVERY = 2
UPDATES_PER_BATCH = 4
EVENTS_PER_BATCH = 200
SET_STATEMENT = "MATCH (c:Customer {id: $cid}) SET c.acctbal = $bal"
STORE_READ = "MATCH (c:Customer {id: $cid}) RETURN c.acctbal AS bal"


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class WriteViewRead(Part):
    name = "write_view_read"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(f"write_view_read/{self.seed}")
        self.nrng = np.random.default_rng(self.rng.randrange(2**32))

        def rows(t):
            return pq.read_table(os.path.join(ctx.input_dir, f"{t}.parquet")).to_pylist()

        # model: vertex props (the store's replace-map semantics need
        # the full map on every update) and the edge set
        self.props: dict[int, dict] = {}
        self.edges: set[tuple[int, int, str]] = set()
        for r in rows("region"):
            self.props[r["r_regionkey"] + OFFSET["region"]] = {"type": "Region", "name": r["r_name"]}
        for r in rows("nation"):
            v = r["n_nationkey"] + OFFSET["nation"]
            self.props[v] = {"type": "Nation", "name": r["n_name"]}
            self.edges.add((v, r["n_regionkey"] + OFFSET["region"], "in_region"))
        for r in rows("customer"):
            v = r["c_custkey"] + OFFSET["customer"]
            self.props[v] = {"type": "Customer", "name": r["c_name"],
                             "acctbal": r["c_acctbal"], "nation": r["c_nationkey"]}
            self.edges.add((v, r["c_nationkey"] + OFFSET["nation"], "located_in"))
        for r in rows("supplier"):
            v = r["s_suppkey"] + OFFSET["supplier"]
            self.props[v] = {"type": "Supplier", "name": r["s_name"], "acctbal": r["s_acctbal"]}
            self.edges.add((v, r["s_nationkey"] + OFFSET["nation"], "located_in"))
        self.customers = sorted(v for v, p in self.props.items() if p["type"] == "Customer")
        self.knows: list[tuple[int, int, str]] = []
        self.events = defaultdict(lambda: [0, 0.0])  # event_type -> [n, total]
        self._next_event = 0
        self._batch = 0
        self.commits = 0
        self.read_s: list[float] = []  # routed read latencies
        #: seconds from a write's start until the written view showed it
        self.visible: dict[str, list[float]] = {"commit": [], "stream": []}

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        spark, st = self.spark, self.ctx.state_dir
        self.store = GraphStore(spark, os.path.join(st, "store"))
        ops = [add_vertex(v, p["type"], p) for v, p in self.props.items()]
        ops += [add_edge(s, d, lbl) for s, d, lbl in sorted(self.edges)]
        self.store.apply_batch(ops)
        cat = ViewCatalog(spark, os.path.join(st, "views"))
        cat.register_incremental(
            ViewDefinition(name=AGG, view_type="aggregation"),
            IncrementalAggState(spark, os.path.join(st, AGG), ["nation"], "acctbal"),
        )
        cat.register_incremental(
            ViewDefinition(name=CONN, view_type="analytics"),
            IncrementalConnectivity(spark, os.path.join(st, CONN)),
        )
        cat.register_incremental(
            ViewDefinition(name=EVENTS, view_type="aggregation"),
            IncrementalAggState(spark, os.path.join(st, EVENTS), ["event_type"], "value"),
        )
        cat.register(ViewDefinition(
            name=TOTALS, view_type="sql",
            sql=f"SELECT count(*) AS nations, sum(n) AS customers, sum(total) AS total FROM mv_{AGG}",
        ))
        self.catalog, self.router = cat, QueryRouter(cat)
        self._maintain(0)
        self._events_schema = None

    # -- the write path -----------------------------------------------------
    def _commit(self, name: str, write, n_rows: int) -> None:
        """Run one store write inside a storage span, recording commit
        bytes when tracing."""
        tr = self.tracer
        before = _dir_bytes(self.store.path) if tr.enabled else 0
        with tr.span("storage", name) as sp:
            write()
        if sp is not None:
            after = _dir_bytes(self.store.path)
            row_bytes = after / (len(self.props) + len(self.edges))
            sp.update(bytes_written=max(0, after - before),
                      logical_bytes=n_rows * row_bytes, store_bytes=after)
        self.commits += 1

    def _maintain(self, v0: int) -> None:
        """Change feed of both tables since ``v0`` → view deltas →
        refresh."""
        tr, v1 = self.tracer, self.store.version
        with tr.span("storage", "changes"):
            vch = self.store.changes("vertices", v0, v1)
        with tr.span("storage", "changes"):
            ech = self.store.changes("edges", v0, v1)
        vd = cdc_to_deltas(vch).filter(F.col("label") == "Customer").select(
            prop_typed("properties", "nation").alias("nation"),
            prop_typed("properties", "acctbal", "double").alias("acctbal"),
            "_sign",
        )
        ed = cdc_to_deltas(ech).select("src", "dst", "_sign")
        with tr.span("views", "apply_deltas"):
            self.catalog.apply_deltas(AGG, vd)
        with tr.span("views", "apply_deltas"):
            self.catalog.apply_deltas(CONN, ed)
        with tr.span("views", "refresh_all"):
            self.catalog.refresh_all()
        if self.commits and self.commits % VACUUM_EVERY == 0:
            with tr.span("storage", "vacuum"):
                self.store.vacuum()

    def _read(self, view: str, kind: str):
        """One routed read: ``route`` then ``execute`` + collect."""
        tr = self.tracer
        pattern = QueryPattern(kind, target=view)
        t0 = time.perf_counter()
        with tr.span("views", "route"):
            decision = self.router.route(pattern)
        with tr.span("views", "read"):
            rows = self.router.execute(pattern).collect()
        self.read_s.append(time.perf_counter() - t0)
        return decision.view == view, rows

    def _read_all(self, written: str, cid: int, t_write: float):
        """The read set after a write: every routed read, the written
        view first, then the GQL read of ``cid`` over the store. Returns
        the results, the seconds from ``t_write`` until the written
        view's read returned, and the seconds until the last read did.
        Results are checked after the clock stops."""
        out, visible = {}, None
        for view, kind in sorted(READS, key=lambda r: r[0] != written):
            out[view] = self._read(view, kind)
            if visible is None:
                visible = time.perf_counter() - t_write
        tr = self.tracer
        g = self.store.as_property_graph({"acctbal": "double"})
        with tr.span("plans", "execute"):
            df = GQLEngine(g).execute(STORE_READ, {"cid": cid})
        with tr.span("plans", "collect"):
            out["store"] = df.collect()
        return out, visible, time.perf_counter() - t_write

    # -- model views --------------------------------------------------------
    def _nation_balance(self, nation: int) -> tuple[int, float]:
        bals = [p["acctbal"] for p in self.props.values()
                if p["type"] == "Customer" and p["nation"] == nation]
        return len(bals), round(sum(bals), 2)

    def _component_count(self) -> int:
        labels = min_labels(self.props, ((s, d) for s, d, _ in self.edges))
        return len(set(labels.values()))

    def _check(self, out: dict, cid: int) -> bool:
        """Every read of the set equals the model."""
        nation = self.props[cid]["nation"]
        routed, rows = out[AGG]
        n, total = self._nation_balance(nation)
        got = [r for r in rows if r["nation"] == str(nation)]
        ok = routed and len(got) == 1 and got[0]["n"] == n and abs(got[0]["total"] - total) < 1e-6
        routed, rows = out[CONN]
        ok &= routed and rows[0]["component_count"] == self._component_count()
        routed, rows = out[TOTALS]
        custs = sum(1 for p in self.props.values() if p["type"] == "Customer")
        bal = round(sum(p["acctbal"] for p in self.props.values() if p["type"] == "Customer"), 2)
        ok &= routed and rows[0]["customers"] == custs and abs(rows[0]["total"] - bal) < 1e-4
        routed, rows = out[EVENTS]
        got = {r["event_type"]: (r["n"], r["total"]) for r in rows}
        want = {k: (c, round(s, 2)) for k, (c, s) in self.events.items()}
        ok &= routed and got.keys() == want.keys() and all(
            got[k][0] == want[k][0] and abs(got[k][1] - want[k][1]) < 1e-4 for k in want
        )
        got = out["store"]
        return ok and len(got) == 1 and got[0]["bal"] == self.props[cid]["acctbal"]

    def _new_balance(self) -> float:
        return round(self.rng.uniform(-999.99, 9999.99), 2)

    # -- operations ---------------------------------------------------------
    def cycle(self) -> None:
        self.op("store_write", self._store_write)
        self.op("gql_write", self._gql_write)
        self.op("events", self._events)

    def _store_write(self):
        rng = self.rng
        updates = {cid: self._new_balance() for cid in rng.sample(self.customers, UPDATES_PER_BATCH)}
        ops = [update_vertex_props(c, dict(self.props[c], acctbal=b)) for c, b in updates.items()]
        a, b = rng.sample(self.customers, 2)
        added = (min(a, b), max(a, b), "knows")
        if added in self.edges:
            added = None
        else:
            ops.append(add_edge(*added))
        removed = self.knows.pop(rng.randrange(len(self.knows))) if len(self.knows) > 2 else None
        if removed:
            ops.append(remove_edge(*removed))
        t0 = time.perf_counter()
        v0 = self.store.version
        self._commit("apply_batch", lambda: self.store.apply_batch(ops), len(ops))
        for c, bal in updates.items():
            self.props[c] = dict(self.props[c], acctbal=bal)
        if added:
            self.edges.add(added)
            self.knows.append(added)
        if removed:
            self.edges.discard(removed)
        self._maintain(v0)
        cid = next(iter(updates))
        out, visible, latency = self._read_all(AGG, cid, t0)
        self.visible["commit"].append(visible)
        return self.check(self._check, out, cid), latency

    def _gql_write(self):
        cid = self.rng.choice(self.customers)
        bal = self._new_balance()
        t0 = time.perf_counter()
        v0 = self.store.version
        eng = GQLEngine(self.store.as_property_graph({"acctbal": "double"}), store=self.store)
        self._commit("gql_write", lambda: eng.execute(SET_STATEMENT, {"cid": cid, "bal": bal}), 1)
        self.props[cid] = dict(self.props[cid], acctbal=bal)
        self._maintain(v0)
        out, visible, latency = self._read_all(AGG, cid, t0)
        self.visible["commit"].append(visible)
        return self.check(self._check, out, cid), latency

    def _events(self):
        n = EVENTS_PER_BATCH
        t = events_table(self.nrng, self._next_event, n, dt.datetime(2024, 2, 1))
        self._next_event += n
        d = os.path.join(self.ctx.state_dir, "events", f"batch-{self._batch:05d}")
        self._batch += 1
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))
        for et, v in zip(t.column("event_type").to_pylist(), t.column("value").to_pylist()):
            self.events[et][0] += 1
            self.events[et][1] += v
        if self._events_schema is None:
            self._events_schema = self.spark.read.parquet(d).schema
        cid = self.rng.choice(self.customers)
        t0 = time.perf_counter()
        stream = self.spark.readStream.schema(self._events_schema).parquet(d)
        with self.tracer.span("streaming", "incremental_view_pipeline") as sp:
            q = incremental_view_pipeline(
                stream, self.catalog,
                affected_views=lambda b: [EVENTS],
                delta_map={EVENTS: lambda b: b.select("event_type", "value")},
            )
        if sp is not None:
            sp["progress"] = [
                {"durationMs": dict(p["durationMs"]), "numInputRows": p["numInputRows"]}
                for p in q.recentProgress
            ]
        out, visible, latency = self._read_all(EVENTS, cid, t0)
        self.visible["stream"].append(visible)
        return self.check(self._check, out, cid), latency

    # -- end of run ---------------------------------------------------------
    def finish(self) -> None:
        """Final view state equals a batch recompute from the store."""
        v = self.store.vertices()
        recompute = {
            r["nation"]: (r["n"], round(r["total"], 2))
            for r in v.filter(F.col("label") == "Customer")
            .groupBy(prop_typed("properties", "nation").alias("nation"))
            .agg(F.count("*").alias("n"),
                 F.sum(prop_typed("properties", "acctbal", "double").cast("decimal(18,2)"))
                 .cast("double").alias("total"))
            .collect()
        }
        view = {r["nation"]: (r["n"], round(r["total"], 2))
                for r in self.catalog.read(AGG).collect()}
        edges = {(r["src"], r["dst"], r["label"]) for r in self.store.edges().collect()}
        conn = self.catalog.read(CONN).collect()[0]["component_count"]
        self.final_ok = view == recompute and edges == self.edges and conn == self._component_count()

    # -- metrics ------------------------------------------------------------
    def sizes(self) -> dict:
        store_bytes = _dir_bytes(self.store.path)
        return {
            "store_vertices": len(self.props),
            "store_edges": len(self.edges),
            "store_bytes": store_bytes,
            "cow_min_bytes": self.store.cow_min_bytes,
            "commit_path": "cow" if store_bytes >= self.store.cow_min_bytes else "full_rewrite",
            "event_rows_per_batch": EVENTS_PER_BATCH,
            "updates_per_store_batch": UPDATES_PER_BATCH,
        }

    def context_metrics(self, ops) -> dict:
        t, stat, n = tail(self.read_s)
        return {
            "commit_visible_p50_s": p50(self.visible["commit"]),
            "stream_visible_p50_s": p50(self.visible["stream"]),
            "view_read_p50_s": p50(self.read_s),
            "view_read_tail_s": t,
            "view_read_tail_stat": stat,
            "view_read_n": n,
        }
