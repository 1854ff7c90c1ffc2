"""``gql_read``: a seeded mix of GQL read statements over the
materialized TPC-H graph, each checked against DuckDB.

Most of the work is in ``plans`` (parse, lowering, py4j plan building)
and the Spark jobs that execute the plans; ``algorithms``, ``storage``,
``views`` and ``operators`` stay idle.
"""

from __future__ import annotations

import random
import time

from dd_graphdb_spark.graph import materialized_tpch_graph
from dd_graphdb_spark.plans.lower import GQLEngine

from harness import Part, p50, tail
from oracle import DuckGraph, canon_hash

#: (kind, GQL statement, DuckDB oracle, parameter draw from the graph's
#: value domains). One cycle runs every kind once, in this order.
STATEMENTS = [
    (
        "point_lookup",
        "MATCH (c:Customer {id: $cid}) RETURN c.name AS name, c.acctbal AS bal",
        "SELECT name, acctbal FROM {V} WHERE label = 'Customer' AND id = {cid}",
        lambda r, d: {"cid": r.choice(d["customers"])},
    ),
    (
        "hop_aggregate",
        "MATCH (c:Customer)-[:located_in]->(n:Nation) WHERE c.acctbal > $bal "
        "RETURN n.name AS nation, count(c) AS n_cust, max(c.acctbal) AS top",
        "SELECT n.name, COUNT(*), MAX(c.acctbal) FROM {V} c "
        "JOIN {E} e ON e.src = c.id AND e.label = 'located_in' "
        "JOIN {V} n ON n.id = e.dst AND n.label = 'Nation' "
        "WHERE c.label = 'Customer' AND c.acctbal > {bal} GROUP BY n.name",
        lambda r, d: {"bal": round(r.uniform(0.0, 9000.0), 2)},
    ),
    (
        "with_chain",
        "MATCH (c:Customer)-[:located_in]->(n:Nation) WHERE c.mktsegment = $seg "
        "WITH n.name AS nation, count(*) AS n_cust "
        "WITH nation, n_cust WHERE n_cust > $k "
        "WITH nation, n_cust * 2 AS score RETURN nation, score",
        "SELECT nation, n_cust * 2 FROM (SELECT n.name AS nation, COUNT(*) AS n_cust "
        "FROM {V} c JOIN {E} e ON e.src = c.id AND e.label = 'located_in' "
        "JOIN {V} n ON n.id = e.dst AND n.label = 'Nation' "
        "WHERE c.label = 'Customer' AND c.mktsegment = '{seg}' GROUP BY n.name) "
        "WHERE n_cust > {k}",
        lambda r, d: {
            "seg": r.choice(d["segments"]),
            "k": r.randrange(max(1, len(d["customers"]) // 125) + 1),
        },
    ),
    (
        "var_length",
        "MATCH (o:Order)-[p*2..3]->(t) WHERE o.acctbal > $price "
        "RETURN t.name AS t_name, p.hops AS hops, count(*) AS n",
        "WITH s AS (SELECT id FROM {V} WHERE label = 'Order' AND acctbal > {price}), "
        "w AS (SELECT e2.dst AS tid, 2 AS hops FROM s JOIN {E} e1 ON e1.src = s.id "
        "JOIN {E} e2 ON e2.src = e1.dst UNION ALL "
        "SELECT e3.dst, 3 FROM s JOIN {E} e1 ON e1.src = s.id "
        "JOIN {E} e2 ON e2.src = e1.dst JOIN {E} e3 ON e3.src = e2.dst) "
        "SELECT v.name, w.hops, COUNT(*) FROM w JOIN {V} v ON v.id = w.tid GROUP BY 1, 2",
        lambda r, d: {"price": round(r.uniform(400_000.0, 490_000.0), 2)},
    ),
    (
        "optional_match",
        "MATCH (c:Customer {mktsegment: $seg}) "
        "OPTIONAL MATCH (c)<-[:placed_by]-(o:Order) WHERE o.acctbal > $price "
        "RETURN c.name AS name, count(o) AS n_big",
        "SELECT c.name, COUNT(o.id) FROM {V} c LEFT JOIN ("
        "SELECT e.dst AS cid, v.id FROM {E} e JOIN {V} v ON e.src = v.id "
        "WHERE e.label = 'placed_by' AND v.label = 'Order' AND v.acctbal > {price}"
        ") o ON c.id = o.cid WHERE c.label = 'Customer' AND c.mktsegment = '{seg}' "
        "GROUP BY c.name",
        lambda r, d: {
            "seg": r.choice(d["segments"]),
            "price": round(r.uniform(300_000.0, 490_000.0), 2),
        },
    ),
    (
        "exists",
        "MATCH (c:Customer)-[:located_in]->(n:Nation {id: $nid}) "
        "WHERE NOT EXISTS((c)<-[:placed_by]-(o:Order {name: $status})) "
        "RETURN c.name AS nm, c.acctbal AS bal",
        "SELECT c.name, c.acctbal FROM {V} c "
        "JOIN {E} e ON e.src = c.id AND e.label = 'located_in' AND e.dst = {nid} "
        "WHERE c.label = 'Customer' AND NOT EXISTS (SELECT 1 FROM {E} e2 "
        "JOIN {V} o ON o.id = e2.src AND o.label = 'Order' AND o.name = '{status}' "
        "WHERE e2.dst = c.id AND e2.label = 'placed_by')",
        lambda r, d: {"nid": r.choice(d["nations"]), "status": r.choice(d["statuses"])},
    ),
    (
        "correlated_call",
        "MATCH (n:Nation) CALL { WITH n MATCH (s:Supplier)-[:located_in]->(n) "
        "WHERE s.acctbal > $bal RETURN count(s) AS n_sup } "
        "RETURN n.name AS nm, n_sup",
        "SELECT n.name, COALESCE(a.n_sup, 0) FROM {V} n LEFT JOIN ("
        "SELECT e.dst AS nid, COUNT(*) AS n_sup FROM {E} e "
        "JOIN {V} s ON s.id = e.src AND s.label = 'Supplier' "
        "WHERE e.label = 'located_in' AND s.acctbal > {bal} GROUP BY e.dst"
        ") a ON a.nid = n.id WHERE n.label = 'Nation'",
        lambda r, d: {"bal": round(r.uniform(0.0, 9000.0), 2)},
    ),
    (
        "shortest_path",
        "MATCH p = shortestPath((c:Customer)-[*1..3]->(r:Region)) "
        "WHERE c.acctbal > $bal "
        "RETURN c.name AS cust, r.name AS region, p.hops AS hops",
        "SELECT c.name, r.name, 2 FROM {V} c "
        "JOIN {E} e1 ON e1.src = c.id AND e1.label = 'located_in' "
        "JOIN {V} n ON n.id = e1.dst AND n.label = 'Nation' "
        "JOIN {E} e2 ON e2.src = n.id AND e2.label = 'in_region' "
        "JOIN {V} r ON r.id = e2.dst WHERE c.label = 'Customer' AND c.acctbal > {bal}",
        lambda r, d: {"bal": round(r.uniform(9000.0, 9900.0), 2)},
    ),
]


class GqlRead(Part):
    name = "gql_read"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.rng = random.Random(f"gql_read/{self.seed}")
        self.oracle = o = DuckGraph(ctx.input_dir)

        def values(sql):
            return [r[0] for r in o.query(sql.format(V=o.V))]

        #: value domains the statement parameters are drawn from
        self.domains = {
            "customers": values("SELECT id FROM {V} WHERE label = 'Customer' ORDER BY id"),
            "nations": values("SELECT id FROM {V} WHERE label = 'Nation' ORDER BY id"),
            "segments": values("SELECT DISTINCT mktsegment FROM {V} "
                               "WHERE label = 'Customer' ORDER BY 1"),
            "statuses": values("SELECT DISTINCT name FROM {V} WHERE label = 'Order' ORDER BY 1"),
        }

    def setup(self) -> None:
        self.engine = GQLEngine(materialized_tpch_graph(self.spark, self.ctx.input_dir))

    def cycle(self) -> None:
        for kind, text, oracle_sql, draw in STATEMENTS:
            params = draw(self.rng, self.domains)
            self.op(kind, lambda: self._statement(text, oracle_sql, params))

    def _statement(self, text: str, oracle_sql: str, params: dict):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("plans", "execute"):
            df = self.engine.execute(text, params)
        with tr.span("plans", "collect"):
            rows = df.collect()
        latency = time.perf_counter() - t0
        o = self.oracle

        def matches():
            expect = o.query(oracle_sql.format(V=o.V, E=o.E, **params))
            return canon_hash(tuple(r) for r in rows) == canon_hash(expect)

        return self.check(matches), latency

    def sizes(self) -> dict:
        o = self.oracle
        v, e = o.query(f"SELECT (SELECT COUNT(*) FROM {o.V}), (SELECT COUNT(*) FROM {o.E})")[0]
        return {"graph_vertices": v, "graph_edges": e}

    def context_metrics(self, ops) -> dict:
        lat = [o.latency_s for o in ops]
        t, stat, n = tail(lat)
        return {
            "gql_p50_s": p50(lat),
            "gql_tail_s": t,
            "gql_tail_stat": stat,
            "gql_n": n,
            "gql_stmts_per_s": len(lat) / sum(lat),
        }
