"""Delta-based incremental view maintenance — the reference's flagship.

Reference parity (graph/views/src/incremental_engine.rs):
- AggregationState {count, sum, min, max}                (:19-28)
- apply_aggregation_add / _remove: ±1 count, ±value sum; min/max updated
  on add, left unchanged on remove ("cannot be precisely updated on
  removal without full data — conservative approach")   (:875-892)
- update = remove(old) + add(new)                        (:826-833)
- compute_final_aggregation count/sum/avg/min/max        (:931-946)
- state reuse across computations (first result feeds the second)
  (test, :1554-1583)
- incremental PageRank: bounded-iteration power method, warm-started
  from the previous score vector, over maintained adjacency state; new
  vertices receive rank in their first iteration but contribute nothing
  until they have a score                                (:1139-1211)

Spark shape — the part that matters at 100 TB: a change batch touches
O(batch) rows, so the maintenance work must be O(batch + touched groups),
never O(base table).

- The batch is pre-aggregated per group (map-side combine) into
  (±count, ±sum, min-of-adds, max-of-adds) — one small row per touched
  group.
- That delta frame MERGEs into the persisted state table with a single
  outer join on the group keys; untouched groups pass through unchanged.
  State is one row per group — orders of magnitude smaller than the base.
- Sums are DECIMAL(18,6): exact, order-independent arithmetic, so an
  incremental result hash-matches a from-scratch recompute (the oracle
  gate's criterion).
- The result view is derived from state (avg = sum/count at read), so
  refresh cost is O(groups), independent of base size.

State is versioned parquet (v0, v1, ... + meta.json pointer swap), the
same dependency-free WAL/snapshot mapping GraphStore uses.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dd_graphdb_spark.localrel import local_df


class _VersionedTable:
    """Tiny versioned-parquet state cell: read current, write next,
    atomic meta.json pointer swap (snapshot/checkpoint mapping,
    graph/storage/src/lib.rs:213-261).

    Commit protocol: data lands fully in a NEW version directory before
    the meta.json pointer flips via ``os.replace`` — readers either see
    the old version or the complete new one, never a torn write (a
    crashed writer leaves an orphaned vN+1 dir that the next write
    overwrites). ``os.replace`` atomicity is a POSIX-filesystem
    guarantee; on an object store (S3 et al.) rename is copy+delete, so
    there the pointer must become a content-addressed manifest object
    written with put-if-absent (the Delta/Iceberg commit shape) —
    the version-directory layout carries over unchanged."""

    def __init__(
        self, spark: SparkSession, path: str, schema: str, lazy: bool = False
    ):
        """``lazy``: skip the eager empty-v0 write — reads before the
        first write return an empty frame and ``version`` is -1.
        For OPTIONAL state cells (e.g. a view's cached labels) the
        init write would charge every view instance for state only
        refreshes use."""
        self.spark = spark
        self.path = path
        self.schema = schema
        os.makedirs(path, exist_ok=True)
        self._meta = os.path.join(path, "meta.json")
        if not lazy and not os.path.exists(self._meta):
            self.write(local_df(spark, [], schema))

    def _load_meta(self) -> dict:
        if not os.path.exists(self._meta):
            return {"version": -1, "pins": []}
        with open(self._meta) as f:
            m = json.load(f)
        m.setdefault("pins", [])
        return m

    def _save_meta(self, m: dict) -> None:
        tmp = self._meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._meta)

    @property
    def version(self) -> int:
        return self._load_meta()["version"]

    def data_bytes(self) -> int:
        """On-disk size of the current version (filesystem stats — the
        size signal for size-aware execution choices, no Spark job)."""
        if self.version < 0:
            return 0
        d = os.path.join(self.path, f"v{self.version}")
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d)
            for f in fs
        )

    def pin(self, version: int) -> None:
        """Protect ``version`` from write-time vacuum — a consumer
        (e.g. a view's labels snapshot) references it across later
        writes. No data moves: pinning IS the snapshot. Version -1
        (never written) is a no-op: the empty state needs no
        protection and read_version(-1) reconstructs it.

        SINGLE-WRITER contract (pins included): pin/unpin are
        read-modify-write on meta.json with no cross-process
        coordination, so a pin racing a concurrent writer's
        write()-time vacuum can interleave and lose the pinned
        version's directory. All in-repo callers pin from the same
        refresh thread that writes (the view owns its state cells);
        refreshers additionally degrade to a full recompute when a
        pinned read fails (read_version try/except), so a violated
        race costs work, not correctness. Folding pins into a
        put-if-absent commit file would lift this to multi-writer —
        see the class docstring's Delta note."""
        if version < 0:
            return
        m = self._load_meta()
        if version not in m["pins"]:
            m["pins"] = sorted(set(m["pins"]) | {version})
            self._save_meta(m)

    def unpin(self, version: int) -> None:
        if version < 0:
            return
        m = self._load_meta()
        if version in m["pins"]:
            m["pins"] = [p for p in m["pins"] if p != version]
            self._save_meta(m)
            if version <= m["version"] - self.KEEP_LAST:
                shutil.rmtree(
                    os.path.join(self.path, f"v{version}"), ignore_errors=True
                )

    def read_version(self, version: int, spark: SparkSession | None = None) -> DataFrame:
        """Read a specific (pinned or retained) version; -1 = the
        empty never-written state (a legitimate snapshot for a table
        whose first delta arrives after the consumer snapshotted)."""
        s = spark or self.spark
        if version < 0:
            return local_df(s, [], self.schema)
        d = os.path.join(self.path, f"v{version}")
        if not os.path.exists(d):
            raise ValueError(f"version {version} of {self.path} is gone")
        raw = s.read.parquet(d)
        declared = local_df(s, [], self.schema).schema
        cols = [
            (F.col(f.name) if f.name in raw.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in declared.fields
        ]
        return raw.select(cols)

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        # caller may pass a foreachBatch session clone so state rows and
        # batch rows live in the same session
        s = spark or self.spark
        if self.version < 0:
            return local_df(s, [], self.schema)
        raw = s.read.parquet(os.path.join(self.path, f"v{self.version}"))
        # Migration-tolerant: cast the footer's types to the declared
        # schema instead of forcing the declared schema onto the file.
        # State persisted under an older declaration (e.g. the
        # decimal(18,6) → decimal(38,6) widening) reads cleanly; a
        # column added to the declaration since the state was written
        # materializes as NULL rather than failing the read.
        declared = local_df(s, [], self.schema).schema
        cols = [
            (F.col(f.name) if f.name in raw.columns else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in declared.fields
        ]
        return raw.select(cols)

    #: state versions kept after the pointer swap — enough for any
    #: in-flight reader of the previous version, bounded so a streaming
    #: pipeline applying thousands of micro-batches doesn't retain
    #: O(batches × state) snapshots on disk (GraphStore has vacuum();
    #: this is the same retention, applied automatically)
    KEEP_LAST = 3

    def write(self, df: DataFrame) -> int:
        m = self._load_meta()
        nxt = m["version"] + 1
        df.write.mode("overwrite").parquet(os.path.join(self.path, f"v{nxt}"))
        m["version"] = nxt
        self._save_meta(m)
        for old in range(max(0, nxt - self.KEEP_LAST + 1)):
            if old in m["pins"]:
                continue  # a consumer snapshot references it
            stale = os.path.join(self.path, f"v{old}")
            if os.path.exists(stale):
                shutil.rmtree(stale, ignore_errors=True)
        return nxt


class IncrementalAggState:
    """Grouped ±count/±sum/±avg (and add-side min/max) delta maintenance.

    ``apply_deltas`` takes a change frame with the group columns, the
    value column, and an optional ``_sign`` column (+1 add / -1 remove;
    missing = all adds). An update is remove(old) + add(new), exactly the
    reference's decomposition (incremental_engine.rs:826-833).

    min/max semantics under delete follow the reference's documented
    conservative approach (:885-892): they tighten on adds and stay
    unchanged on removes. count/sum/avg are exact for well-formed
    histories (every remove targets a previously-added row). The
    reference additionally clamps count at 0 per-op for ill-formed
    removes (:886, ``(count - 1).max(0)``); that clamp is
    non-associative, so the batched form instead drops any group whose
    net count reaches <= 0 — identical on well-formed input, where a
    group's sum is exactly 0 whenever its count is (every removed value
    was previously added, so dropping the group loses nothing).

    The reference maintains ONE global AggregationState; ``group_cols``
    generalizes it per-group (its `_group_by` parameter exists but is
    ignored, :801-805 — this implements the declared intent).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        value_col: str | None = None,
    ):
        self.spark = spark
        self.group_cols = list(group_cols)
        self.value_col = value_col
        gschema = ", ".join(f"{c} string" for c in self.group_cols)
        self._table = _VersionedTable(
            spark,
            path,
            f"{gschema}, _count long, _sum decimal(38,6), _min double, _max double",
        )

    def apply_deltas(self, deltas: DataFrame) -> None:
        g = self.group_cols
        if "_sign" not in deltas.columns:
            deltas = deltas.withColumn("_sign", F.lit(1))
        if self.value_col is not None:
            val = F.col(self.value_col).cast("decimal(38,6)")
        else:
            val = F.lit(None).cast("decimal(38,6)")

        # O(batch) pre-aggregation with map-side combine: one row per
        # touched group leaves the shuffle
        batch = deltas.groupBy(*[F.col(c).cast("string").alias(c) for c in g]).agg(
            F.sum("_sign").cast("long").alias("d_count"),
            F.sum(F.col("_sign") * F.coalesce(val, F.lit(0))).alias("d_sum"),
            F.min(F.when(F.col("_sign") > 0, val.cast("double"))).alias("d_min"),
            F.max(F.when(F.col("_sign") > 0, val.cast("double"))).alias("d_max"),
        )

        # MERGE: one outer join on group keys; untouched groups unchanged.
        # NULL-SAFE key equality: a plain name-list join never matches a
        # NULL group, so the existing NULL-group state row and the batch
        # row would both survive — one duplicate NULL-group row per batch
        state = self._table.read(deltas.sparkSession).alias("s")
        batch = batch.alias("b")
        cond = None
        for c in g:
            eq = F.col(f"s.{c}").eqNullSafe(F.col(f"b.{c}"))
            cond = eq if cond is None else (cond & eq)
        merged = (
            state.join(batch, cond, "full_outer")
            .select(
                *[F.coalesce(F.col(f"s.{c}"), F.col(f"b.{c}")).alias(c) for c in g],
                (
                    F.coalesce(F.col("s._count"), F.lit(0))
                    + F.coalesce(F.col("b.d_count"), F.lit(0))
                ).alias("_count"),
                (
                    F.coalesce(F.col("s._sum"), F.lit(0).cast("decimal(38,6)"))
                    + F.coalesce(F.col("b.d_sum"), F.lit(0).cast("decimal(38,6)"))
                )
                .cast("decimal(38,6)")
                .alias("_sum"),
                # least/greatest skip nulls: tightens on adds, keeps the
                # old bound on remove-only batches (conservative, :885-892)
                F.least(F.col("s._min"), F.col("b.d_min")).alias("_min"),
                F.greatest(F.col("s._max"), F.col("b.d_max")).alias("_max"),
            )
            .filter(F.col("_count") > 0)
        )
        self._table.write(merged)

    def result(self) -> DataFrame:
        """Final aggregates per group (compute_final_aggregation,
        :931-946): n, total, avg (round-6 per the determinism contract),
        min_v, max_v."""
        return self._table.read().select(
            *self.group_cols,
            F.col("_count").alias("n"),
            F.col("_sum").cast("double").alias("total"),
            F.round(F.col("_sum").cast("double") / F.col("_count"), 6).alias("avg_v"),
            F.col("_min").alias("min_v"),
            F.col("_max").alias("max_v"),
        )


class IncrementalCentroids:
    """Maintained per-group centroid vectors under ±embedding deltas —
    the LLM-ops counterpart of IncrementalAggState: state is one
    (group, dim) row holding exact decimal sums and counts, so adds and
    retractions merge with one full-outer join per batch and the
    centroid is always sum/count of the surviving rows. Update =
    retract preimage + add postimage, like every other view here."""

    def __init__(self, spark: SparkSession, path: str, group_col: str):
        self.spark = spark
        self.group_col = group_col
        self._table = _VersionedTable(
            spark,
            path,
            f"{group_col} string, dim long, _count long, _sum decimal(38,6)",
        )

    def apply_deltas(self, deltas: DataFrame, vec_col: str = "embedding") -> None:
        g = self.group_col
        if "_sign" not in deltas.columns:
            deltas = deltas.withColumn("_sign", F.lit(1))
        e = deltas.select(
            F.col(g).cast("string").alias(g),
            "_sign",
            F.posexplode(F.col(vec_col)).alias("_pos", "_x"),
        )
        batch = e.groupBy(g, (F.col("_pos") + 1).alias("dim")).agg(
            F.sum("_sign").cast("long").alias("d_count"),
            F.sum(
                F.col("_sign") * F.col("_x").cast("double").cast("decimal(38,6)")
            ).alias("d_sum"),
        )
        state = self._table.read(deltas.sparkSession).alias("s")
        batch = batch.alias("b")
        zero = F.lit(0).cast("decimal(38,6)")
        # null-safe group equality (a NULL group must merge, not duplicate)
        cond = F.col(f"s.{g}").eqNullSafe(F.col(f"b.{g}")) & (
            F.col("s.dim").eqNullSafe(F.col("b.dim"))
        )
        merged = (
            state.join(batch, cond, "full_outer")
            .select(
                F.coalesce(F.col(f"s.{g}"), F.col(f"b.{g}")).alias(g),
                F.coalesce(F.col("s.dim"), F.col("b.dim")).alias("dim"),
                (
                    F.coalesce(F.col("s._count"), F.lit(0))
                    + F.coalesce(F.col("b.d_count"), F.lit(0))
                )
                .cast("long")
                .alias("_count"),
                (F.coalesce(F.col("s._sum"), zero) + F.coalesce(F.col("b.d_sum"), zero))
                .cast("decimal(38,6)")
                .alias("_sum"),
            )
            .filter(F.col("_count") > 0)
        )
        self._table.write(merged)

    def result(self) -> DataFrame:
        return self._table.read().select(
            self.group_col,
            "dim",
            F.round(F.col("_sum").cast("double") / F.col("_count"), 6).alias(
                "centroid"
            ),
        )


class IncrementalMinHash:
    """Maintained MinHash signature table under ±document deltas — the
    incremental half of the near-dup pipeline: signatures are computed
    ONLY for newly added documents (per-doc work, no corpus rescan);
    retractions drop rows; an update is retract + add. Downstream LSH
    banding/candidate joins read the maintained table, so ingesting a
    batch costs O(batch · signature) instead of O(corpus).
    """

    def __init__(self, spark: SparkSession, path: str, n: int = 3):
        from dd_graphdb_spark.operators.dedup import MINHASH_PARAMS

        self.spark = spark
        self.n = n
        cols = ", ".join(f"h{i} long" for i in range(len(MINHASH_PARAMS)))
        self._table = _VersionedTable(spark, path, f"id long, {cols}")

    def apply_deltas(self, deltas: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> None:
        from dd_graphdb_spark.operators.dedup import minhash_signatures

        if "_sign" not in deltas.columns:
            deltas = deltas.withColumn("_sign", F.lit(1))
        touched = deltas.select(F.col(id_col).alias("id")).distinct()
        adds = deltas.filter(F.col("_sign") > 0).select(id_col, text_col)
        new_sigs = minhash_signatures(adds, text_col=text_col, id_col=id_col, n=self.n)
        state = self._table.read(deltas.sparkSession)
        merged = state.join(touched, "id", "left_anti").unionByName(new_sigs)
        self._table.write(merged)

    def result(self) -> DataFrame:
        return self._table.read()


class _EdgeState:
    """Maintained adjacency state shared by the incremental analytics
    views (apply_change_to_analytics_state, incremental_engine.rs:
    1009-1078): a distinct (src, dst[, weight]) edge set merged with
    ±delta batches, plus an optional explicit vertex set (the
    reference's ``vertex_properties`` keys — lets isolated vertices
    count toward connectivity/centrality).

    Merge semantics per batch (one op per edge key per batch, the
    reference applies ops sequentially): sign<0 removes the key,
    sign>0 (re-)inserts it — an insert overwrites any existing weight,
    mirroring ``edge_weights.insert`` (:1059, :1075).
    """

    def __init__(self, spark: SparkSession, path: str, weighted: bool = False):
        self.spark = spark
        self.weighted = weighted
        cols = "src long, dst long" + (", weight double" if weighted else "")
        # lazy: reads before the first delta batch return empty frames,
        # so registering a view never pays two empty-parquet writes
        self._edges = _VersionedTable(
            spark, os.path.join(path, "edges"), cols, lazy=True
        )
        self._verts = _VersionedTable(
            spark, os.path.join(path, "verts"), "id long", lazy=True
        )

    def apply_edge_deltas(self, deltas: DataFrame) -> None:
        if "_sign" not in deltas.columns:
            deltas = deltas.withColumn("_sign", F.lit(1))
        if self.weighted:
            if "weight" not in deltas.columns:
                deltas = deltas.withColumn("weight", F.lit(1.0))
            cols = ["src", "dst", "weight"]
        else:
            cols = ["src", "dst"]
        adds = deltas.filter(F.col("_sign") > 0).select(*cols).distinct()
        keys = deltas.select("src", "dst").distinct()
        state = self._edges.read(deltas.sparkSession)
        # any touched key leaves the state, then adds re-insert (insert
        # overwrites weight; remove deletes) — one anti-join + union
        merged = state.join(keys, ["src", "dst"], "left_anti").unionByName(adds)
        self._edges.write(merged)

    def apply_vertex_deltas(self, deltas: DataFrame) -> None:
        if "_sign" not in deltas.columns:
            deltas = deltas.withColumn("_sign", F.lit(1))
        adds = deltas.filter(F.col("_sign") > 0).select("id").distinct()
        removes = deltas.filter(F.col("_sign") < 0).select("id")
        state = self._verts.read(deltas.sparkSession)
        self._verts.write(
            state.join(removes, ["id"], "left_anti").unionByName(adds).distinct()
        )

    def apply_deltas(self, deltas: DataFrame) -> None:
        """Catalog interface — dispatch on batch shape: edge batches
        carry (src, dst), vertex batches carry (id)."""
        if "src" in deltas.columns:
            self.apply_edge_deltas(deltas)
        else:
            self.apply_vertex_deltas(deltas)

    def edges(self) -> DataFrame:
        return self._edges.read()

    def graph(self):
        """State as a PropertyGraph: vertices = explicit set ∪ edge
        endpoints (vertex_properties ∪ adjacency keys, :1152-1158)."""
        from dd_graphdb_spark.graph import PropertyGraph

        e = self._edges.read()
        verts = (
            self._verts.read()
            .unionByName(e.select(F.col("src").alias("id")))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        return PropertyGraph(verts, e.withColumn("label", F.lit("link")))


class IncrementalConnectivity(_EdgeState):
    """Connectivity view: component count over maintained adjacency
    (compute_connectivity + dfs_visit, incremental_engine.rs:1082-1136).
    Undirected (DFS follows out- AND in-neighbors); isolated vertices
    from the vertex set count as their own components.

    The reference's maintenance contract: state is merged per changeset,
    then the algorithm re-runs over state — bounded by the maintained
    graph, never re-derived from base tables. The reference recomputes
    the whole graph per refresh; here the refresh is DELTA-BOUNDED
    (r12): component labels persist alongside edge/vertex snapshots of
    the last refresh, and the next refresh

    1. derives the dirty vertex set from the state-vs-snapshot
       symmetric difference (two anti-joins — linear passes, no
       per-batch bookkeeping writes),
    2. short-circuits to the cached labels when nothing changed,
    3. otherwise re-runs the FastSV fixpoint only on the AFFECTED
       components' subgraph (components containing a dirty vertex —
       edge changes dirty both endpoints, so any component whose
       membership could change is affected; the subgraph is
       edge-closed: an old edge touching an affected component has
       both endpoints in it by reachability, a new edge has both
       endpoints dirty) and splices the relabeled rows over the kept
       ones. Labels are component-min vertex ids on both paths, so
       spliced and full labels agree exactly.

    At 100 TB this turns the per-refresh cost from a log-diameter
    fixpoint over the WHOLE graph into linear diff scans plus a
    fixpoint over just the touched components. A tiny maintained state
    (measured on-disk bytes) additionally routes to the one-task
    union-find (``connected_components(single_partition=True)``) and
    plans its diff/splice joins in a cloned session of width
    ``NARROW_PARTITIONS`` — small-state cost is task fan-out and round
    latency, not data.

    Result: one row (component_count, vertex_count) — the value +
    metadata pair of :1104-1107.
    """

    #: below this many on-disk state bytes (~50k edge rows) the
    #: refresh plans at NARROW_PARTITIONS width; filesystem stats make
    #: the check free
    NARROW_BYTES = 1 << 20

    def __init__(self, spark: SparkSession, path: str, weighted: bool = False):
        super().__init__(spark, path, weighted)
        self._labels = _VersionedTable(
            spark, os.path.join(path, "labels"), "id long, component long",
            lazy=True,
        )
        # which edge/vertex state versions the labels reflect — the
        # "snapshot" is a PIN on those versions (no data copied)
        self._snap_meta = os.path.join(path, "labels", "snapshot.json")

    def _fixpoint(self, g, small: bool) -> DataFrame:
        from dd_graphdb_spark.algorithms.components import connected_components

        # small (measured on-disk state bytes): one-task union-find —
        # a tiny refresh should not pay log-diameter round latency
        return connected_components(g, single_partition=small)

    def _refresh_labels(self) -> DataFrame:
        g = self.graph()
        small = (
            self._edges.data_bytes() + self._verts.data_bytes()
        ) <= self.NARROW_BYTES
        snap = None
        if os.path.exists(self._snap_meta):
            with open(self._snap_meta) as f:
                snap = json.load(f)
        if snap is not None and (
            snap["edges_v"] == self._edges.version
            and snap["verts_v"] == self._verts.version
        ):
            return self._labels.read()  # nothing changed since refresh
        from dd_graphdb_spark.algorithms._iter import (
            NARROW_CONF,
            cloned_session,
            rebind_graph,
        )

        # small state: the diff/splice joins below also run narrow —
        # their cost is task fan-out, not data
        s = cloned_session(self.spark, NARROW_CONF) if small else self.spark
        g = rebind_graph(g, s)
        if snap is not None:
            try:
                # a crash between the labels write and the pin can lose
                # the snapshot versions to vacuum — fall back to a full
                # recompute rather than failing the refresh
                self._edges.read_version(snap["edges_v"])
                self._verts.read_version(snap["verts_v"])
            except ValueError:
                snap = None
        if snap is None:
            comp = self._fixpoint(g, small)
        else:
            cur_v = g.vertices.select("id")
            labels = self._labels.read(s)
            snap_e = self._edges.read_version(snap["edges_v"], s)
            snap_vt = self._verts.read_version(snap["verts_v"], s)
            cur_e = self._edges.read(s).select("src", "dst")
            # dirty = endpoints of changed edges ∪ changed RAW vertex
            # rows (a superset of truly-affected vertices is fine — it
            # only widens the recomputed region; subtract = EXCEPT
            # DISTINCT, both sides are key sets)
            changed_e = cur_e.subtract(
                snap_e.select("src", "dst")
            ).unionByName(snap_e.select("src", "dst").subtract(cur_e))
            dirty = (
                changed_e.select(F.col("src").alias("id"))
                .unionByName(changed_e.select(F.col("dst").alias("id")))
                .unionByName(self._verts.read(s).subtract(snap_vt))
                .unionByName(snap_vt.subtract(self._verts.read(s)))
                .distinct()
            )
            if dirty.isEmpty():
                # version bumped but content identical (e.g. an edge
                # re-insert): keep labels, just advance the snapshot
                comp = labels
            else:
                affected = (
                    labels.join(dirty, "id", "left_semi")
                    .select("component")
                    .distinct()
                )
                sub_ids = (
                    labels.join(affected, "component", "left_semi")
                    .select("id")
                    .unionByName(dirty)
                    .distinct()
                    .join(cur_v, "id", "left_semi")  # drop removed vertices
                )
                # edge-closure invariant (see class docstring): either
                # endpoint in the subgraph implies both — one semi-join
                e_sub = g.edges.join(
                    sub_ids, g.edges["src"] == sub_ids["id"], "left_semi"
                )
                from dd_graphdb_spark.graph import PropertyGraph

                sub = self._fixpoint(PropertyGraph(sub_ids, e_sub), small)
                comp = labels.join(
                    affected, "component", "left_anti"
                ).unionByName(sub.select("id", "component"))
        self._labels.write(comp)
        # return the READ-BACK of the version just written — comp's
        # lazy plan still references the OLD label/snapshot versions,
        # which the unpin below may delete (and a caller action would
        # re-execute the whole diff+fixpoint a second time anyway)
        result = self._labels.read()
        # move the snapshot pins to the just-labeled state versions
        new_snap = {
            "edges_v": self._edges.version,
            "verts_v": self._verts.version,
        }
        self._edges.pin(new_snap["edges_v"])
        self._verts.pin(new_snap["verts_v"])
        if snap is not None:
            if snap["edges_v"] != new_snap["edges_v"]:
                self._edges.unpin(snap["edges_v"])
            if snap["verts_v"] != new_snap["verts_v"]:
                self._verts.unpin(snap["verts_v"])
        tmp = self._snap_meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_snap, f)
        os.replace(tmp, self._snap_meta)
        return result

    def result(self) -> DataFrame:
        return self._refresh_labels().agg(
            F.count_distinct("component").alias("component_count"),
            F.count("*").alias("vertex_count"),
        )


def _undirected_simple(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple-graph edge set: low→high pair,
    parallel edges deduped, self-loops dropped — the ONE definition the
    triangle/k-core views' edge_count metadata shares."""
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


class IncrementalTriangles(_EdgeState):
    """Triangle-count view over maintained adjacency — beyond the
    reference's four maintained analytics (connectivity / PageRank /
    shortest-path / degree, incremental_engine.rs:1082-1326) but the
    same maintenance contract: state merged per changeset, algorithm
    re-run bounded by the maintained graph, never re-derived from base
    tables. Result: one row (triangle_count, edge_count)."""

    def result(self) -> DataFrame:
        from dd_graphdb_spark.algorithms.structure import triangle_count

        g = self.graph()
        tri = triangle_count(g)
        und = _undirected_simple(g.edges)
        return tri.crossJoin(und.agg(F.count("*").alias("edge_count")))


class IncrementalKCore(_EdgeState):
    """K-core membership view over maintained adjacency (same contract
    as IncrementalTriangles; the reference's k-core itself is
    graph/algorithms/src/lib.rs:46-82). Result: one row
    (core_size, edge_count) — the surviving-vertex count of the k-core
    plus the maintained undirected edge count."""

    def __init__(self, spark: SparkSession, path: str, k: int):
        super().__init__(spark, path)
        self.k = k

    def result(self) -> DataFrame:
        from dd_graphdb_spark.algorithms.structure import k_core

        g = self.graph()
        core = k_core(g, self.k)
        und = _undirected_simple(g.edges)
        return core.agg(F.count("*").alias("core_size")).crossJoin(
            und.agg(F.count("*").alias("edge_count"))
        )


class IncrementalLPA(_EdgeState):
    """Community view: label-propagation communities over maintained
    adjacency — beyond the reference's four maintained analytics, same
    maintenance contract (state merged per changeset, deterministic
    algorithm re-run bounded by the maintained graph). Fixed rounds
    keep the result a pure function of the edge state (oracle-
    unrollable). Result: one row (community_count, vertex_count)."""

    def __init__(self, spark: SparkSession, path: str, rounds: int = 4):
        super().__init__(spark, path)
        self.rounds = rounds

    def result(self) -> DataFrame:
        from dd_graphdb_spark.algorithms import label_propagation

        comm = label_propagation(self.graph(), max_iterations=self.rounds)
        return comm.agg(
            F.count_distinct("community").alias("community_count"),
            F.count("*").alias("vertex_count"),
        )


class IncrementalSSSP(_EdgeState):
    """Shortest-path view: dist + "a->b->c" path + path_length over
    maintained weighted adjacency (compute_shortest_path,
    incremental_engine.rs:1214-1285). Unreachable target ⇒ distance
    +Infinity, path 'not_found' (:1277-1281). Weight defaults to 1.0
    (:1264); UpdateEdge = re-insert with the new weight (:1072-1077).

    The reference's FIFO "Dijkstra" is SPFA-shaped but converges to true
    shortest distances on non-negative weights; we run the distributed
    frontier-relaxation SSSP (algorithms/paths.py) and reproduce the
    RESULT semantics, per SURVEY §2.8.
    """

    def __init__(self, spark: SparkSession, path: str, source: int, target: int):
        super().__init__(spark, path, weighted=True)
        self.source = source
        self.target = target

    def result(self) -> DataFrame:
        from dd_graphdb_spark.algorithms.paths import sssp

        row = sssp(
            self.graph(),
            source=self.source,
            weight_property="weight",
            target=self.target,
        ).select("distance", "path")
        # exactly-one-row contract (:1277-1281): when the target vertex
        # is absent from maintained state entirely (fresh view, or every
        # incident edge retracted), sssp's target filter yields ZERO
        # rows — union an infinity fallback and keep the best row
        fallback = local_df(self.spark, 
            [(float("inf"), None)], "distance double, path string"
        )
        row = (
            row.unionByName(fallback)
            .orderBy(F.col("distance").asc(), F.col("path").asc_nulls_last())
            .limit(1)
        )
        return row.select(
            F.col("distance"),
            F.coalesce(F.col("path"), F.lit("not_found")).alias("path"),
            F.when(
                F.col("path").isNotNull(), F.size(F.split(F.col("path"), "->"))
            ).alias("path_length"),
        )


class IncrementalDegreeCentrality(_EdgeState):
    """Degree-centrality view: max-degree vertex + normalized score over
    maintained adjacency (compute_degree_centrality,
    incremental_engine.rs:1288-1326). Degree = |out-set| + |in-set|
    (adjacency sets dedupe parallel edges); centrality =
    max_degree / (2·(n−1)). The reference's max_vertex depends on
    HashMap iteration order on ties; we deterministically take the
    smallest vertex id among maxima. Result: one row
    (max_vertex, max_degree, centrality, vertex_count) — the value +
    metadata of :1313-1323.
    """

    def result(self) -> DataFrame:
        g = self.graph()
        deg = (
            g.vertices.join(
                g.edges.select(F.col("src").alias("id")).unionByName(
                    g.edges.select(F.col("dst").alias("id"))
                )
                .groupBy("id")
                .agg(F.count("*").alias("degree")),
                "id",
                "left",
            )
            .select("id", F.coalesce("degree", F.lit(0)).alias("degree"))
        )
        top = (
            deg.orderBy(F.col("degree").desc(), F.col("id"))
            .limit(1)
            .select(F.col("id").alias("max_vertex"), F.col("degree").alias("max_degree"))
        )
        n = g.vertices.select(F.count("*").alias("n"))
        return top.crossJoin(n).select(
            "max_vertex",
            "max_degree",
            # n=1 → denominator 0 → non-ANSI divide yields NULL; a
            # single-vertex graph has a defined centrality of 0.0
            F.when(
                F.col("n") > 1,
                F.round(
                    F.col("max_degree").cast("double")
                    / (2.0 * (F.col("n").cast("double") - 1.0)),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("centrality"),
            F.col("n").alias("vertex_count"),
        )


class IncrementalPageRank:
    """Analytics-view incremental maintenance: PageRank warm-started from
    the previous score vector over maintained edge state
    (compute_pagerank_incremental, incremental_engine.rs:1139-1211).

    - ``apply_edge_deltas``: ±(src,dst) set deltas merge into the edge
      state table (adjacency maintenance, apply_change_to_analytics_state).
    - ``refresh``: ``iterations`` power steps
      rank'(v) = (1-d)/n + d·Σ_{u→v} rank(u)/outdeg(u),
      starting from the stored vector. Vertices new since the last
      refresh have no stored score: they contribute nothing in the first
      step but receive rank (reference scores.get(neighbor) miss ⇒ skip,
      :1183-1190). An empty vector initializes to 1/n (:1167-1173).
      Dead-end mass decays, matching the reference recurrence.

    At scale both tables partition by vertex id; each power step is one
    co-partitioned join + aggregated shuffle, and refresh cost is
    iterations × O(E/cluster), never a from-scratch convergence run.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        damping: float = 0.85,
        iterations: int = 10,
    ):
        self.spark = spark
        self.damping = damping
        self.iterations = iterations
        # edge-delta maintenance delegates to _EdgeState — ONE copy of
        # the per-batch key semantics (touched keys leave, adds
        # re-insert; a same-batch retract+add keeps the edge)
        self._state = _EdgeState(spark, path)
        self._edges = self._state._edges
        self._ranks = _VersionedTable(spark, os.path.join(path, "ranks"), "id long, rank double")

    def apply_edge_deltas(self, deltas: DataFrame) -> None:
        self._state.apply_edge_deltas(deltas)

    def refresh(self) -> DataFrame:
        """Warm-started bounded refresh. The loop's localCheckpoint pins
        are released before returning (the result is persisted to the
        ranks table and re-read, so no returned frame references them) —
        the same bracket discipline as run_loop/apply_batch."""
        from dd_graphdb_spark.algorithms._iter import (
            _PIN_LOCK,
            _persistent_ids,
            _unpersist,
        )

        with _PIN_LOCK:
            try:
                before = _persistent_ids(self.spark)
            except Exception:  # Spark Connect: no gateway — just run
                return self._refresh_impl()
            try:
                return self._refresh_impl()
            finally:
                _unpersist(self.spark, _persistent_ids(self.spark) - before)

    def _refresh_impl(self) -> DataFrame:
        # serialized checkpoints throughout (_ckpt): the edge-sized
        # contrib frame cached as deserialized rows is a heap hazard at
        # scale — see algorithms._iter._ckpt
        from dd_graphdb_spark.algorithms._iter import _ckpt

        edges = self._edges.read()
        verts = _ckpt(
            edges.select(F.col("src").alias("id")).union(
                edges.select(F.col("dst").alias("id"))
            ).distinct()
        )
        n = verts.count()
        if n == 0:
            self._ranks.write(local_df(self.spark, [], "id long, rank double"))
            return self.ranks()
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        contrib_edges = _ckpt(edges.join(outdeg, "src"))
        base = float((1.0 - self.damping) / n)

        ranks = self._ranks.read()
        if ranks.isEmpty():
            ranks = verts.withColumn("rank", F.lit(1.0 / n))
        ranks = _ckpt(ranks)
        for _ in range(self.iterations):
            contribs = (
                ranks.join(contrib_edges, ranks.id == contrib_edges.src)
                .select(F.col("dst").alias("id"), (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("msum"))
            )
            ranks = _ckpt(
                verts.join(contribs, "id", "left")
                .select(
                    "id",
                    (
                        F.lit(base)
                        + F.lit(self.damping) * F.coalesce(F.col("msum"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
        self._ranks.write(ranks)
        return self.ranks()

    def ranks(self) -> DataFrame:
        return self._ranks.read()

    # ViewCatalog.register_incremental interface: a change batch merges
    # into edge state; the view's "result" is a warm-started bounded
    # refresh (the reference's analytics-view update path,
    # incremental_engine.rs:651-701 → 1139-1211)
    def apply_deltas(self, deltas: DataFrame) -> None:
        self.apply_edge_deltas(deltas)

    def result(self) -> DataFrame:
        return self.refresh()
