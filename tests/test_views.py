"""ViewCatalog + QueryRouter (reference graph/views semantics)."""

import time

import pytest

from dd_graphdb_spark.views import (
    QueryPattern,
    QueryRouter,
    RefreshPolicy,
    ViewCatalog,
    ViewDefinition,
)


@pytest.fixture()
def catalog(spark, tmp_path, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    return ViewCatalog(spark, str(tmp_path / "views"))


def test_register_refresh_read(catalog):
    catalog.register(
        ViewDefinition(
            name="orders_by_status",
            view_type="aggregation",
            sql="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
        )
    )
    df = catalog.read("orders_by_status")
    assert df.count() > 0
    assert set(df.columns) == {"o_orderstatus", "n"}


def test_dependent_view_topo_refresh(catalog):
    catalog.register(
        ViewDefinition(
            name="base_counts",
            view_type="aggregation",
            sql="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
        )
    )
    catalog.register(
        ViewDefinition(
            name="total",
            view_type="aggregation",
            sql="SELECT SUM(n) AS total FROM mv_base_counts",
            dependencies=["base_counts"],
        )
    )
    assert catalog.topo_order(["total"]) == ["base_counts", "total"]
    refreshed = catalog.refresh_all()
    assert refreshed == ["base_counts", "total"]
    total = catalog.read("total").collect()[0]["total"]
    direct = catalog.read("base_counts").groupBy().sum("n").collect()[0][0]
    assert total == direct


def test_auto_dependency_extraction(catalog):
    """Dependencies discovered from the view SQL itself — no declaration
    (extract_tables, sql_parser.rs:142-168). CTE names are scoped out;
    subquery references count."""
    from dd_graphdb_spark.views.catalog import extract_tables

    tabs = extract_tables(
        catalog.spark,
        "WITH c AS (SELECT * FROM orders) "
        "SELECT * FROM c JOIN mv_base ON c.k = mv_base.k "
        "WHERE c.x IN (SELECT x FROM mv_other)",
    )
    assert tabs == {"orders", "mv_base", "mv_other"}

    catalog.register(
        ViewDefinition(
            name="base",
            view_type="aggregation",
            sql="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
        )
    )
    catalog.register(
        ViewDefinition(
            name="roll",
            view_type="aggregation",
            sql="SELECT SUM(n) AS total FROM mv_base",
        )
    )
    assert catalog.defs["base"].dependencies == []
    assert catalog.defs["roll"].dependencies == ["base"]
    assert catalog.topo_order(["roll"]) == ["base", "roll"]
    assert catalog.refresh_all() == ["base", "roll"]


def test_cycle_detection(catalog):
    catalog.register(ViewDefinition(name="a", view_type="sql", sql="SELECT 1 AS x"))
    with pytest.raises(ValueError, match="cycle"):
        catalog.register(
            ViewDefinition(name="b", view_type="sql", sql="SELECT 1 AS x", dependencies=["b"])
        )


def test_dirty_propagation(catalog):
    catalog.register(ViewDefinition(name="a", view_type="sql", sql="SELECT 1 AS x"))
    catalog.register(
        ViewDefinition(name="b", view_type="sql", sql="SELECT * FROM mv_a", dependencies=["a"])
    )
    catalog.refresh_all()
    assert not catalog.state["b"]["dirty"]
    catalog.mark_dirty("a")
    assert catalog.state["b"]["dirty"]


def test_refresh_policies():
    now = time.time()
    fixed = RefreshPolicy(kind="fixed_interval", interval_s=60)
    assert fixed.needs_refresh(None, False, now)
    assert not fixed.needs_refresh(now - 30, False, now)
    assert fixed.needs_refresh(now - 61, False, now)
    ev = RefreshPolicy(kind="event_driven", debounce_s=5)
    assert not ev.needs_refresh(now - 10, False, now)
    assert ev.needs_refresh(now - 10, True, now)
    assert not ev.needs_refresh(now - 1, True, now)  # debounced
    od = RefreshPolicy(kind="on_demand", ttl_s=100)
    assert od.needs_refresh(now - 101, False, now)
    assert not od.needs_refresh(now - 50, False, now)


def test_sql_validation(catalog):
    with pytest.raises(ValueError):
        catalog.register(ViewDefinition(name="bad", view_type="sql", sql="DROP TABLE orders"))
    with pytest.raises(ValueError):
        catalog.register(
            ViewDefinition(name="bad2", view_type="sql", sql="SELECT 1; SELECT 2")
        )


def test_router_scoring(catalog):
    # scoring table parity (query_router.rs:192-260)
    catalog.register(
        ViewDefinition(
            name="lkp", view_type="lookup", sql="SELECT o_orderkey FROM orders LIMIT 10"
        )
    )
    catalog.register(
        ViewDefinition(
            name="agg",
            view_type="aggregation",
            sql="SELECT COUNT(*) AS n FROM orders",
        )
    )
    r = QueryRouter(catalog)
    assert r.score(QueryPattern("vertex_lookup"), "lkp") == 100
    assert r.score(QueryPattern("aggregation"), "agg") == 95
    assert r.score(QueryPattern("edge_traversal"), "lkp") == 75
    d = r.route(QueryPattern("aggregation"))
    assert d.view == "agg" and d.score == 95
    df = r.execute(QueryPattern("aggregation"))
    assert df.collect()[0]["n"] > 0
    assert r.report()["agg"]["hits"] == 1
    # default: lazy route, no forced scan → latency stays unrecorded
    assert r.report()["agg"]["avg_latency_s"] == 0.0
    rm = QueryRouter(r.catalog, measure_latency=True)
    rm.execute(QueryPattern("aggregation"))
    assert rm.report()["agg"]["avg_latency_s"] > 0.0


def test_catalog_reload(spark, tmp_path, sf_dir):
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    p = str(tmp_path / "views2")
    c1 = ViewCatalog(spark, p)
    c1.register(ViewDefinition(name="v1", view_type="sql", sql="SELECT 1 AS x"))
    c1.refresh_all()
    c2 = ViewCatalog(spark, p)  # load_from_disk parity
    assert c2.list_views() == ["v1"]
    assert c2.read("v1").collect()[0]["x"] == 1


def test_drop_removes_materialized_data(catalog):
    catalog.register(ViewDefinition("dv", "sql", sql="SELECT 1 AS a"))
    catalog.refresh("dv", force=True)
    assert catalog.read("dv").collect()[0]["a"] == 1
    catalog.drop("dv")
    # re-register the same name with DIFFERENT content: read() must not
    # serve the dropped view's stale parquet
    catalog.register(ViewDefinition("dv", "sql", sql="SELECT 2 AS a"))
    assert catalog.read("dv").collect()[0]["a"] == 2


def test_builder_view_reload_skips_with_warning(spark, tmp_path, sf_dir):
    import warnings

    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    path = str(tmp_path / "views_b")
    cat = ViewCatalog(spark, path)
    cat.register(
        ViewDefinition("bv", "analytics"), builder=lambda s: s.sql("SELECT 41 AS a")
    )
    cat.refresh("bv", force=True)

    cat2 = ViewCatalog(spark, path)  # reload: builder not persisted
    # refresh() raises a CLEAR error, not spark.sql(None)
    with pytest.raises(ValueError, match="python builder"):
        cat2.refresh("bv", force=True)
    # refresh_all() warns and continues instead of aborting the pass
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cat2.refresh_all(force=True)
    assert any("python builder" in str(x.message) for x in w)
    # the stale materialization stays readable
    assert cat2.read("bv").collect()[0]["a"] == 41
    # re-attaching the builder restores refresh
    cat2.register(
        ViewDefinition("bv", "analytics"), builder=lambda s: s.sql("SELECT 42 AS a")
    )
    cat2.refresh("bv", force=True)
    assert cat2.read("bv").collect()[0]["a"] == 42


def test_view_name_path_traversal_rejected(spark, tmp_path):
    """View names become filesystem paths and mv_ identifiers: names
    arriving over the REST API must be identifier-shaped — '../x' would
    write <catalog>/../x.view.json and drop() would rmtree outside the
    catalog dir."""
    import pytest as _pt

    c = ViewCatalog(spark, str(tmp_path / "v"))
    for bad in ("../evil", "a/b", "a b", "", "x" * 200, "1leading"):
        with _pt.raises(ValueError, match="invalid view name"):
            c.register(ViewDefinition(name=bad, view_type="sql", sql="SELECT 1 AS x"))
        with _pt.raises(ValueError, match="invalid view name"):
            c.drop(bad)
    # nothing escaped the catalog dir
    import os

    assert not os.path.exists(str(tmp_path / "evil.view.json"))


def test_mark_dirty_diamond_no_blowup(spark, tmp_path):
    """Visited-set guard: a deep diamond DAG must not re-walk shared
    dependents exponentially (2^depth calls without the guard)."""
    c = ViewCatalog(spark, str(tmp_path / "d"))
    c.register(ViewDefinition(name="base", view_type="sql", sql="SELECT 1 AS x"))
    prev = ["base"]
    for lvl in range(12):  # 2^12 re-visits would hang without the guard
        cur = [f"l{lvl}a", f"l{lvl}b"]
        for n in cur:
            c.register(ViewDefinition(name=n, view_type="sql",
                                      sql="SELECT 1 AS x", dependencies=list(prev)))
        prev = cur
    import time as _t

    t0 = _t.time()
    c.mark_dirty("base")
    assert _t.time() - t0 < 1.0
    assert all(c.state[n]["dirty"] for n in c.defs)


def test_shell_survives_refresh_failure_and_unknown_drop(spark, tmp_path):
    from dd_graphdb_spark.shell import GraphShell

    c = ViewCatalog(spark, str(tmp_path / "s"))
    c.register(ViewDefinition(name="bad", view_type="sql",
                              sql="SELECT nonexistent_col FROM missing_table"))
    sh = GraphShell(spark, c)
    res = sh.execute("VIEW REFRESH bad FORCE")
    assert not res.ok and "failed" in res.message
    res2 = sh.execute("VIEW DROP never_registered")
    assert not res2.ok and "unknown view" in res2.message


def test_router_read_honors_ttl(spark, catalog):
    """A routed read is policy-gated (execute_query_with_cache +
    OnDemand{ttl}, view_types.rs:159-190): within the TTL it serves the
    stale materialization even when the source moved un-announced; past
    the TTL it recomputes before serving."""
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("ttl_src")
    catalog.register(
        ViewDefinition(
            name="ttlv",
            view_type="aggregation",
            sql="SELECT SUM(x)::BIGINT AS s FROM ttl_src",
            refresh_policy=RefreshPolicy(kind="on_demand", ttl_s=0.5),
        )
    )
    catalog.refresh_all()
    # source moves; catalog not told
    spark.sql("SELECT 2 AS x UNION ALL SELECT 3 AS x").createOrReplaceTempView("ttl_src")
    r = QueryRouter(catalog)
    assert r.execute(QueryPattern("aggregation")).collect()[0]["s"] == 1  # stale, in TTL
    time.sleep(0.6)
    assert r.execute(QueryPattern("aggregation")).collect()[0]["s"] == 5  # TTL lapsed


def test_router_read_refreshes_dirty_view(spark, catalog):
    """mark_dirty + OnDemand: the next ROUTED read recomputes without an
    explicit refresh_all()."""
    spark.sql("SELECT 10 AS x").createOrReplaceTempView("dirty_src")
    catalog.register(
        ViewDefinition(
            name="dirtyv",
            view_type="aggregation",
            sql="SELECT SUM(x)::BIGINT AS s FROM dirty_src",
        )
    )
    catalog.refresh_all()
    spark.sql("SELECT 20 AS x").createOrReplaceTempView("dirty_src")
    r = QueryRouter(catalog)
    assert r.execute(QueryPattern("aggregation")).collect()[0]["s"] == 10
    catalog.mark_dirty("dirtyv")
    assert r.execute(QueryPattern("aggregation")).collect()[0]["s"] == 20


# ---------------------------------------------------------------------------
# Round 12: delta-bounded connectivity refresh — labels persist with
# version-pinned state snapshots; the next refresh recomputes only the
# affected components (splits AND merges), a no-change refresh
# short-circuits, and labels always equal a from-scratch recompute.
# ---------------------------------------------------------------------------
def _model_cc(verts, edges):
    parent = {v: v for v in verts}
    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return len({find(v) for v in parent}), len(parent)


@pytest.fixture(params=["one_task", "splice"])
def refresh_path(request, monkeypatch):
    """Runs a connectivity test over both refresh paths. Every test
    state is tiny and takes the one-task recompute; the splice side
    shuts the size gate so the state-vs-snapshot diff and splice run."""
    from dd_graphdb_spark.views.incremental import IncrementalConnectivity

    if request.param == "splice":
        monkeypatch.setattr(IncrementalConnectivity, "NARROW_BYTES", -1)


def test_incremental_connectivity_delta_bounded_refresh(spark, tmp_path, refresh_path):
    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms.components import connected_components
    from dd_graphdb_spark.views.incremental import IncrementalConnectivity

    state = IncrementalConnectivity(spark, str(tmp_path / "iconn"))
    verts = [1, 2, 3, 4, 5, 6]
    edges = {(1, 2), (2, 3), (4, 5)}
    state.apply_vertex_deltas(
        spark.createDataFrame([(v,) for v in verts], "id long")
    )
    state.apply_edge_deltas(
        spark.createDataFrame(sorted(edges), "src long, dst long")
    )
    r1 = state.result().collect()[0]
    assert (r1[0], r1[1]) == _model_cc(verts, edges)

    # split {1,2,3} via a removal AND merge {4,5}+{6} via adds
    state.apply_edge_deltas(
        spark.createDataFrame(
            [(3, 4, 1), (5, 6, 1), (1, 2, -1)],
            "src long, dst long, _sign int",
        )
    )
    edges = (edges - {(1, 2)}) | {(3, 4), (5, 6)}
    r2 = state.result().collect()[0]
    assert (r2[0], r2[1]) == _model_cc(verts, edges)

    # spliced labels equal a from-scratch distributed recompute
    full = {
        r["id"]: r["component"]
        for r in connected_components(state.graph()).collect()
    }
    cached = {
        r["id"]: r["component"] for r in state._labels.read().collect()
    }
    assert cached == full

    # no-change refresh short-circuits to the cached labels
    r3 = state.result().collect()[0]
    assert (r3[0], r3[1]) == (r2[0], r2[1])

    # vertex removal (isolated 6 after its edge goes) + isolated add
    state.apply_edge_deltas(
        spark.createDataFrame([(5, 6, -1)], "src long, dst long, _sign int")
    )
    state.apply_vertex_deltas(
        spark.createDataFrame([(6, -1), (7, 1)], "id long, _sign int")
    )
    edges = edges - {(5, 6)}
    r4 = state.result().collect()[0]
    assert (r4[0], r4[1]) == _model_cc([1, 2, 3, 4, 5, 7], edges)
    full = {
        r["id"]: r["component"]
        for r in connected_components(state.graph()).collect()
    }
    cached = {
        r["id"]: r["component"] for r in state._labels.read().collect()
    }
    assert cached == full


def test_versioned_table_pins_survive_vacuum(spark, tmp_path):
    from dd_graphdb_spark.views.incremental import _VersionedTable

    t = _VersionedTable(spark, str(tmp_path / "vt"), "id long", lazy=True)
    assert t.version == -1 and t.read().count() == 0
    v0 = t.write(spark.createDataFrame([(1,)], "id long"))
    t.pin(v0)
    for i in range(2, 8):  # far past KEEP_LAST
        t.write(spark.createDataFrame([(i,)], "id long"))
    assert t.read_version(v0).collect()[0]["id"] == 1  # pinned survives
    t.unpin(v0)
    import os

    assert not os.path.exists(str(tmp_path / "vt" / f"v{v0}"))


def test_single_partition_cc_matches_distributed(spark):
    from pyspark.sql import functions as F

    from dd_graphdb_spark.algorithms.components import connected_components
    from dd_graphdb_spark.graph import PropertyGraph

    v = spark.createDataFrame([(i,) for i in range(1, 11)], "id long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (8, 9)],
        "src long, dst long",
    ).withColumn("label", F.lit("l"))
    g = PropertyGraph(v, e)
    dist = {
        r["id"]: r["component"] for r in connected_components(g).collect()
    }
    single = {
        r["id"]: r["component"]
        for r in connected_components(g, single_partition=True).collect()
    }
    assert single == dist


def test_connectivity_refresh_survives_lost_snapshot(spark, tmp_path, refresh_path):
    import json
    import os

    from dd_graphdb_spark.views.incremental import IncrementalConnectivity

    state = IncrementalConnectivity(spark, str(tmp_path / "iconn"))
    state.apply_vertex_deltas(
        spark.createDataFrame([(v,) for v in [1, 2, 3]], "id long")
    )
    state.apply_edge_deltas(
        spark.createDataFrame([(1, 2)], "src long, dst long")
    )
    assert state.result().collect()[0][0] == 2
    # simulate a crash that lost the pinned snapshot versions
    with open(state._snap_meta) as f:
        snap = json.load(f)
    snap["edges_v"] = 99  # vacuumed/never-existed version
    with open(state._snap_meta, "w") as f:
        json.dump(snap, f)
    state.apply_edge_deltas(
        spark.createDataFrame([(2, 3)], "src long, dst long")
    )
    r = state.result().collect()[0]
    assert (r[0], r[1]) == (1, 3)  # full-recompute fallback, correct


def test_connectivity_refresh_many_batches_and_vertex_only(spark, tmp_path, refresh_path):
    from dd_graphdb_spark.views.incremental import IncrementalConnectivity

    # 4+ batches between refreshes pushes state versions past
    # KEEP_LAST; the pinned snapshot must survive vacuum and the
    # returned frame must stay collectable repeatedly (it reads the
    # freshly WRITTEN labels, not the lazy plan over old versions)
    st = IncrementalConnectivity(spark, str(tmp_path / "ic"))
    st.apply_vertex_deltas(
        spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    )
    st.apply_edge_deltas(spark.createDataFrame([(1, 2)], "src long, dst long"))
    r = st.result().collect()[0]
    assert (r[0], r[1]) == (5, 6)
    for s, d in [(2, 3), (3, 4), (4, 5), (5, 6)]:
        st.apply_edge_deltas(
            spark.createDataFrame([(s, d)], "src long, dst long")
        )
    df = st.result()
    assert [tuple(x) for x in df.collect()] == [(1, 6)]
    assert [tuple(x) for x in df.collect()] == [(1, 6)]  # re-collectable

    # vertex-only delta stream: edges table never written (version -1
    # snapshots as the empty state) — the bounded path must engage
    st2 = IncrementalConnectivity(spark, str(tmp_path / "ic2"))
    st2.apply_vertex_deltas(spark.createDataFrame([(1,), (2,)], "id long"))
    assert tuple(st2.result().collect()[0]) == (2, 2)
    st2.apply_vertex_deltas(spark.createDataFrame([(3,)], "id long"))
    assert tuple(st2.result().collect()[0]) == (3, 3)


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_small_state_maintenance_launches_few_jobs(spark, tmp_path):
    """Scheduler job counts of the write→view path on a tiny state: a
    changed 4-vertex connectivity state refreshes with the one-task
    union-find (the diff/splice launched 40 jobs), and state and view
    reads launch no schema-inference job."""
    from dd_graphdb_spark.views.incremental import IncrementalConnectivity

    st = IncrementalConnectivity(spark, str(tmp_path / "ic"))
    st.apply_vertex_deltas(spark.createDataFrame([(i,) for i in range(1, 5)], "id long"))
    st.apply_edge_deltas(spark.createDataFrame([(1, 2)], "src long, dst long"))
    st._refresh_labels()
    st.apply_edge_deltas(spark.createDataFrame([(3, 4)], "src long, dst long"))
    j0 = _jobs(spark)
    labels = st._refresh_labels()
    assert _jobs(spark) - j0 <= 2
    assert {r["id"]: r["component"] for r in labels.collect()} == {1: 1, 2: 1, 3: 3, 4: 3}

    j0 = _jobs(spark)
    state = st._edges.read()
    assert _jobs(spark) - j0 == 0
    assert sorted(tuple(r) for r in state.collect()) == [(1, 2), (3, 4)]

    cat = ViewCatalog(spark, str(tmp_path / "views"))
    cat.register(ViewDefinition(name="v", view_type="sql", sql="SELECT 7L AS x, 'a' AS y"))
    cat.refresh("v", force=True)
    j0 = _jobs(spark)
    view = cat.read("v")
    assert _jobs(spark) - j0 == 0
    assert [tuple(r) for r in view.collect()] == [(7, "a")]
    # a reloaded catalog has no recorded schema: it infers and reads the same
    assert [tuple(r) for r in ViewCatalog(spark, cat.path).read("v").collect()] == [(7, "a")]
