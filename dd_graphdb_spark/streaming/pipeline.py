"""Streaming pipeline plumbing: sources, sinks, incremental view refresh.

Reference parity:
- stream ingestion → changesets → topo-ordered incremental view updates
  (stream_processing.rs:515-628,670-711; incremental_engine.rs:272-310)
  → here: readStream → foreachBatch → ViewCatalog.mark_dirty +
  refresh_all (dependencies first)
- flush policy (batch size / interval, stream_processing.rs:271-332)
  → trigger intervals / availableNow
- backpressure (drop-oldest, :247-268) → maxFilesPerTrigger source
  rate limits (no data loss — strictly better)
- Kafka/CDC/MQTT/webhook sources are declared-but-dead in the reference
  (stream_connectors.rs — not compiled, SURVEY.md §0.1);
  ``events_stream`` uses the file source; ``kafka_stream`` builds the
  reader config for environments where the kafka package is deployed.

The parquet `events` table doubles as a file-source stream: each file is
a micro-batch.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dd_graphdb_spark.algorithms._iter import cloned_session, rebind
from dd_graphdb_spark.graph import read_events

#: staged-source cache (r15, advisor): the multi-file restage rewrites
#: the whole events table — paying that full-table write on EVERY
#: events_stream call doubled disk per bench/gate invocation at sf1.
#: Key = source identity (path + per-data-file name/mtime/size), value
#: = the staging dir; a same-identity call reuses it, and every staged
#: dir is removed at interpreter exit.
_STAGE_CACHE: dict[tuple, str] = {}
_STAGE_LOCK = threading.Lock()

#: source bytes per state partition in ``run_to_memory``. A stateful
#: query creates one state store per shuffle partition per stateful
#: operator per micro-batch — a stream-stream join opens 4 RocksDB
#: instances per partition, and batch commit cost is per-STORE fixed
#: work regardless of rows (measured: the watermark-eviction batch of
#: stream_live_left_outer_join runs 3.4 s with ZERO input rows at 32
#: partitions; the whole gate is 7.0–7.3 s at 32 vs 2.3 s at 8 vs 2.0 s
#: at 4, identical results). 256 KB of compressed source is a few MB of
#: state.
STREAM_STATE_BYTES = 256 << 10

_PROV = "spark.sql.streaming.stateStore.providerClass"
_CLOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _purge_staged_dirs() -> None:
    for d in _STAGE_CACHE.values():
        shutil.rmtree(d, ignore_errors=True)
    _STAGE_CACHE.clear()


atexit.register(_purge_staged_dirs)


def _source_identity(src: str) -> tuple:
    import os

    if os.path.isdir(src):
        names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        return (os.path.abspath(src),) + tuple(
            (n, int(os.path.getmtime(p) * 1e6), os.path.getsize(p))
            for n in names
            for p in [os.path.join(src, n)]
        )
    return (os.path.abspath(src), int(os.path.getmtime(src) * 1e6), os.path.getsize(src))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (schema from the batch
    reader, including the nanos→µs ts normalization).

    The file source requires a *directory*; the testdata table is a
    single parquet file, so it is staged into a temp dir via symlink —
    in production this is simply the ingest directory files land in.
    Staging is cached per source identity (_STAGE_CACHE): repeated
    calls over the same unchanged table reuse one staged dir instead of
    re-running the full-table restage write per call.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(src).schema
    key = _source_identity(src)
    with _STAGE_LOCK:
        src_dir = _STAGE_CACHE.get(key)
        if src_dir is None or not os.path.isdir(src_dir):
            src_dir = _stage_events_dir(spark, src, raw_schema)
            _STAGE_CACHE[key] = src_dir
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)  # source-side rate limit
        .parquet(src_dir)
    )
    from pyspark.sql import functions as F

    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark rejects NTZ; session tz is UTC so the cast is
        # value-preserving (see read_events)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _stage_events_dir(spark: SparkSession, src: str, raw_schema) -> str:
    """Materialize ``src`` as a flat directory of time-ordered micro-
    batch files (see events_stream's docstring for the arrival-order
    contract)."""
    import os

    src_dir = tempfile.mkdtemp(prefix="events_src_")
    if os.path.isdir(src):
        # directory-shaped table (any real multi-file layout): the file
        # source does not recurse into a nested non-partition directory,
        # so the data files must stage flat (linking the directory
        # itself yields an EMPTY stream — found at sf1). With
        # maxFilesPerTrigger=1 each file is a micro-batch, so file order
        # IS arrival order: files must respect the pipeline's declared
        # disorder bound (the 10-minute watermarks downstream). A real
        # ingest directory guarantees that — files land in event-time
        # order; an arbitrary Spark-written table does NOT (each output
        # part spans the whole time range, i.e. an N-way time-shuffled
        # arrival that silently drops ~everything after batch 1 —
        # found at sf1: the interval-join gates lost 4/5 of their
        # matches). Restage multi-file dirs into range-partitioned,
        # time-ordered slices to restore the ingest contract.
        names = [f for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
        if not names:
            # fail loudly: an empty staging dir is a stream that "runs"
            # and silently produces nothing
            raise ValueError(f"no .parquet data files found under {src}")
        if len(names) == 1:
            os.symlink(os.path.join(src, names[0]), os.path.join(src_dir, names[0]))
        else:
            ts_field = "ts" if "ts" in raw_schema.fieldNames() else raw_schema.fieldNames()[0]
            (
                spark.read.schema(raw_schema)
                .parquet(src)
                .repartitionByRange(len(names), ts_field)
                .sortWithinPartitions(ts_field)
                .write.mode("overwrite")
                .parquet(src_dir)
            )
            # part file index follows the range order; the source
            # ORDERS BY FILE MODIFICATION TIME, and one write job gives
            # every part the same mtime (a tie the listing breaks
            # arbitrarily) — stamp strictly increasing mtimes in part
            # order so arrival order = event-time order deterministically
            import time as _time

            base_t = _time.time() - 3600
            for k, fname in enumerate(
                sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
            ):
                os.utime(os.path.join(src_dir, fname), (base_t + k, base_t + k))
    else:
        os.symlink(src, os.path.join(src_dir, "events.parquet"))
    return src_dir


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source reader (KafkaStreamSource declared intent,
    stream_connectors.rs:68-118). Requires the spark-sql-kafka package on
    the cluster; raises a clear error otherwise."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def _file_source_bytes(df: DataFrame) -> int:
    """Bytes of the data files under the file-source paths at the
    leaves of ``df``'s plan (each distinct path once — a self-join of
    one source reads one table; staged symlinks stat through to the
    source). 0 when the plan has no local file source."""
    import os

    paths = set()
    try:
        leaves = df._jdf.logicalPlan().collectLeaves().iterator()
    except AttributeError:  # Spark Connect
        return 0
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "StreamingRelation":
            path = leaf.dataSource().options().get("path")
            if path.isDefined():
                paths.add(path.get())
    total = 0
    for p in paths:
        for root, dirs, files in os.walk(p):
            # the file source skips hidden (_SUCCESS, .crc) entries too
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    return total


def run_to_memory(
    df: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into an
    in-memory table and return it as a batch DataFrame. Test/verification
    harness — production sinks are parquet/kafka/foreachBatch.

    The stream runs in a ``cloned_session`` holding its state width and
    state-store settings, so the caller's conf never changes (concurrent
    callers of one shared session plan unaffected). The memory table
    lives in the clone and comes back rebound into the caller's session.

    State width: one state store per shuffle partition. An untuned
    session (default 200) would open 200 Python workers + stores for a
    single micro-batch, so it gets the default parallelism; a caller who
    set the conf keeps it as the cap. Below the cap the width is one
    partition per ``STREAM_STATE_BYTES`` of the stream's own file-source
    bytes — at sf1+ the derived width already hits the cap, so this only
    trims the tiny-state end."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    width = spark.sparkContext.defaultParallelism if prev == "200" else int(prev)
    src_bytes = _file_source_bytes(df)
    if src_bytes:
        width = min(width, src_bytes // STREAM_STATE_BYTES + 1)
    conf = {"spark.sql.shuffle.partitions": str(width)}
    # State store: default to RocksDB. The default
    # HDFSBackedStateStoreProvider keeps every store's full state
    # on-heap — at 100 TB the state of a stream-stream join outgrows
    # executor heaps long before the data outgrows the cluster; RocksDB
    # holds state off-heap/on-disk with incremental checkpoints.
    # Measured on the join-state-heaviest gate query
    # (stream_live_left_outer_join, sf0.1, same session, min of 3):
    # 45.1 s on-heap → 12.3 s RocksDB. A caller who set the provider
    # explicitly (≠ the HDFS default) keeps their choice.
    prov = spark.conf.get(_PROV, "HDFSBackedStateStoreProvider")
    if prov.rsplit(".", 1)[-1] == "HDFSBackedStateStoreProvider":
        conf[_PROV] = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        # Changelog checkpointing rides along with the RocksDB default
        # (and only then — a caller-chosen provider keeps its own
        # settings): per-commit state checkpoints upload the batch's
        # changelog instead of full SST snapshots. That is both the
        # documented at-scale posture (incremental checkpoints bound
        # commit I/O by delta size, not state size) and a measured local
        # win — stream_live_left_outer_join min-of-3 A/B: 10.02 s
        # snapshots → 7.06 s changelog.
        if spark.conf.get(_CLOG, None) is None:
            conf[_CLOG] = "true"
    scoped = cloned_session(spark, conf)
    q = (
        rebind(df, scoped)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
    return rebind(scoped.table(name), spark)


def incremental_view_pipeline(
    stream: DataFrame,
    catalog,
    affected_views: Callable[[DataFrame], list[str]] | None = None,
    events_view_name: str = "stream_events",
    timeout_s: float = 180.0,
    delta_map: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    group_by_source: str | None = None,
):
    """Change stream → topo-ordered view refresh, the reference's
    flagship dataflow (SURVEY.md §3.3).

    Each micro-batch: register the batch as ``stream_events``, decide
    which views it affects (determine_affected_views,
    incremental_engine.rs:426-446 — default: all), then per view:

    - views registered via ``catalog.register_incremental`` get the
      batch MERGED into their delta state (±count/±sum application,
      incremental_engine.rs:875-946) — O(batch) work, no recompute of
      the base. ``delta_map[name]`` optionally reshapes the batch into
      that view's delta frame (e.g. project group/value columns, attach
      a ``_sign``); default: the batch itself, all adds.
    - other views are marked dirty and fully rebuilt.

    Finally ``refresh_all`` runs in dependency order; for incremental
    views that is just an O(groups) result rewrite from merged state.
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands the batch to an isolated session clone; the
        # temp view only exists there, so the catalog builds this batch's
        # refresh in that session — passed in, never swapped onto the
        # shared catalog, where a concurrent reader would plan in it.
        batch_df.createOrReplaceTempView(events_view_name)
        names = affected_views(batch_df) if affected_views else catalog.list_views()
        incr = getattr(catalog, "incremental", {})
        if group_by_source is not None:
            # event→changeset conversion (stream_processing.rs:670-711):
            # tag one changeset per source, then apply ALL changesets in
            # a SINGLE partitioned pass — no per-batch distinct+collect
            # of source names, no per-source jobs. Equivalent to
            # sequential per-source application because every state's
            # delta merge is changeset-commutative: agg states pre-sum
            # ± deltas (count/sum exact, min/max conservative add-only
            # least/greatest), graph states resolve per key (adds win
            # within the batch). The old per-source loop applied sources
            # in ALPHABETICAL order — an arbitrary tie-break, not event
            # order — so no ordering semantics are lost; the end-to-end
            # equality with a batch recompute is pinned by
            # tests/test_transform.py::test_pipeline_per_source_changesets.
            from dd_graphdb_spark.streaming.transform import convert_to_changesets

            deltas_frame = convert_to_changesets(
                batch_df, group_by_source, batch_id
            ).drop("changeset_id")
        else:
            deltas_frame = batch_df
        for n in names:
            if n in incr:
                deltas = (
                    delta_map[n](deltas_frame)
                    if delta_map and n in delta_map
                    else deltas_frame
                )
                catalog.apply_deltas(n, deltas)
            else:
                catalog.mark_dirty(n)
        catalog.refresh_all(spark=batch_df.sparkSession)

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
    return q
