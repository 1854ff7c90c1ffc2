"""Structured Streaming operators: real readStream runs verified
against the identical batch expressions (which are DuckDB-oracle-checked
in suites/streaming_batch.py)."""

import pytest

from dd_graphdb_spark.graph import read_events
from dd_graphdb_spark.streaming import (
    events_stream,
    global_agg,
    run_to_memory,
    session_window_agg,
    stream_dedup,
    tumbling_window_agg,
)


def _norm(df, cols):
    # double sums differ in addition order between stream and batch plans;
    # round to tolerate last-ulp drift
    def v(x):
        return round(x, 6) if isinstance(x, float) else x

    return sorted(tuple(v(r[c]) for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, sf_dir):
    batch = tumbling_window_agg(read_events(spark, sf_dir), "1 hour", key_cols=("event_type",))
    stream = tumbling_window_agg(events_stream(spark, sf_dir), "1 hour", key_cols=("event_type",))
    result = run_to_memory(stream, output_mode="complete")
    cols = ["window_start", "event_type", "n", "total"]
    assert _norm(result, cols) == _norm(batch, cols)


def test_stream_session_equals_batch(spark, sf_dir):
    batch = session_window_agg(read_events(spark, sf_dir), "10 minutes")
    stream = session_window_agg(events_stream(spark, sf_dir), "10 minutes")
    result = run_to_memory(stream, output_mode="complete")
    cols = ["session_start", "user_id", "n"]
    assert _norm(result, cols) == _norm(batch, cols)


def test_stream_dedup(spark, sf_dir):
    batch_events = read_events(spark, sf_dir)
    deduped = stream_dedup(events_stream(spark, sf_dir), key_cols=("user_id", "event_type"))
    result = run_to_memory(deduped, output_mode="append")
    n_keys = batch_events.select("user_id", "event_type").distinct().count()
    assert result.count() == n_keys


def test_global_agg_complete_mode(spark, sf_dir):
    stream = global_agg(events_stream(spark, sf_dir), key_cols=("event_type",))
    result = run_to_memory(stream, output_mode="complete")
    batch = global_agg(read_events(spark, sf_dir), key_cols=("event_type",))
    cols = ["event_type", "n", "total"]
    assert _norm(result, cols) == _norm(batch, cols)


def test_custom_agg_closure(spark, sf_dir):
    """Custom window-agg closure via Arrow grouped-agg pandas UDF
    (windowed_operations.rs:97 parity)."""
    import numpy as np

    from dd_graphdb_spark.streaming.windows import custom_agg

    rng = custom_agg(lambda s: float(s.max() - s.min()), "double")
    out = tumbling_window_agg(
        read_events(spark, sf_dir), "1 hour", extra_aggs={"value_range": rng("value")}
    )
    rows = out.collect()
    assert rows and all(r["value_range"] == r["vmax"] - r["vmin"] for r in rows)

    p50 = custom_agg(lambda s: float(np.percentile(s, 50)), "double")
    out2 = tumbling_window_agg(
        read_events(spark, sf_dir), "1 hour", extra_aggs={"p50": p50("value")}
    )
    r = out2.collect()
    assert all(x["vmin"] <= x["p50"] <= x["vmax"] for x in r)


def test_incremental_view_pipeline(spark, sf_dir, tmp_path):
    """Write stream → dirty marking → topo-ordered refresh (SURVEY §3.3)."""
    from dd_graphdb_spark.streaming import incremental_view_pipeline
    from dd_graphdb_spark.views import ViewCatalog, ViewDefinition

    catalog = ViewCatalog(spark, str(tmp_path / "views"))
    catalog.register(
        ViewDefinition(
            name="by_type",
            view_type="aggregation",
            sql="SELECT event_type, COUNT(*) AS n FROM stream_events GROUP BY event_type",
        )
    )
    catalog.register(
        ViewDefinition(
            name="total",
            view_type="aggregation",
            sql="SELECT SUM(n) AS total FROM mv_by_type",
            dependencies=["by_type"],
        )
    )
    incremental_view_pipeline(events_stream(spark, sf_dir), catalog)
    total = catalog.read("total").collect()[0]["total"]
    # single-file source → one micro-batch containing the whole table
    assert total == read_events(spark, sf_dir).count()


def test_count_window_stream_string_key(spark, tmp_path):
    """Streaming count windows with a STRING key: the output schema must
    carry the key's real dtype (it was hardcoded long), and multi-chunk
    groups must sort globally before buffering."""
    from datetime import datetime

    from dd_graphdb_spark.streaming import count_window_agg
    from dd_graphdb_spark.streaming.pipeline import run_to_memory

    rows = [
        ("alpha", i, datetime(2026, 1, 1, 0, 0, i)) for i in range(7)
    ] + [("beta", i, datetime(2026, 1, 1, 0, 0, i)) for i in range(3)]
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema(
        "user_id string, event_id long, ts timestamp"
    ).parquet(src_dir)
    out = run_to_memory(
        count_window_agg(stream, size=3, key_col="user_id"),
        output_mode="append",
    )
    got = {
        (r["user_id"], r["chunk"]): (r["n"], r["first_event"], r["last_event"])
        for r in out.collect()
    }
    # alpha: chunks [0,1,2], [3,4,5]; 6 stays buffered. beta: [0,1,2].
    assert got == {
        ("alpha", 0): (3, 0, 2),
        ("alpha", 1): (3, 3, 5),
        ("beta", 0): (3, 0, 2),
    }


def test_count_window_stream_string_order_col(spark, tmp_path):
    """Streaming count windows with STRING event ids: first/last carry
    the order column's real dtype (was hardcoded long + int())."""
    from datetime import datetime

    from dd_graphdb_spark.streaming import count_window_agg
    from dd_graphdb_spark.streaming.pipeline import run_to_memory

    rows = [(1, f"evt-{i:03d}", datetime(2026, 1, 1, 0, 0, i)) for i in range(6)]
    src = str(tmp_path / "s2")
    spark.createDataFrame(
        rows, "user_id long, event_id string, ts timestamp"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "user_id long, event_id string, ts timestamp"
    ).parquet(src)
    out = run_to_memory(
        count_window_agg(stream, size=3, key_col="user_id"),
        output_mode="append",
    )
    got = {
        r["chunk"]: (r["first_event"], r["last_event"]) for r in out.collect()
    }
    assert got == {0: ("evt-000", "evt-002"), 1: ("evt-003", "evt-005")}


def test_stream_dedup_batch_keeps_earliest(spark):
    from datetime import datetime

    from dd_graphdb_spark.streaming import stream_dedup

    df = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1, 0, 5), "late"),
            (1, datetime(2026, 1, 1, 0, 0), "first"),
            (2, datetime(2026, 1, 1, 0, 1), "only"),
        ],
        "event_id long, ts timestamp, payload string",
    )
    got = {
        r["event_id"]: r["payload"]
        for r in stream_dedup(df, key_cols=("event_id",)).collect()
    }
    # deterministic keep-first by ts, not an arbitrary survivor
    assert got == {1: "first", 2: "only"}


def test_events_stream_empty_dir_fails_loudly(spark, tmp_path):
    """A directory table with no data files must raise, not start an
    empty stream that silently produces nothing (found at sf1)."""
    import os

    import pytest as _pt

    d = tmp_path / "empty_sf"
    os.makedirs(d / "events.parquet")
    # schema read needs at least... no: spark.read.parquet on empty dir
    # raises first — either way the call must raise, not return a stream
    from dd_graphdb_spark.streaming.pipeline import events_stream

    with _pt.raises(Exception):
        events_stream(spark, str(d))


def _shuffled_events_sf(spark, tmp_path, n=200, n_parts=4):
    """A Spark-written multi-file events table whose every part spans
    the WHOLE time range (round-robin repartition) — the adversarial
    arrival order found at sf1: staged per-file, batch 1 advances the
    watermark to ~max(ts) and later batches are silently dropped."""
    import datetime as dt
    import os

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(minutes=2 * i),
            (i // 2) % 5,
            "click" if i % 2 == 0 else "purchase",
            1.0,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    sf = tmp_path / "sf_shuffled"
    os.makedirs(sf)
    df.repartition(n_parts).write.parquet(str(sf / "events.parquet"))
    return str(sf)


def test_events_stream_multifile_restage_preserves_matches(spark, tmp_path):
    """Regression (sf1, r14): a multi-file events dir staged in raw
    part order violates the 10-minute watermark disorder bound and the
    stream-stream interval join loses ~4/5 of its matches. The restage
    (range-partitioned time slices, increasing mtimes) must recover the
    FULL batch match count."""
    from pyspark.sql import functions as F

    from dd_graphdb_spark.suites.streaming_live import stream_live_interval_join

    sf = _shuffled_events_sf(spark, tmp_path)
    ev = read_events(spark, sf)
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    want = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 DAY")),
    ).count()
    assert want > 50  # the workload actually joins
    got = stream_live_interval_join(spark, sf)
    assert got.count() == want


def test_events_stream_restage_is_cached(spark, tmp_path):
    """Regression (advisor, r15): the multi-file restage is a full-table
    rewrite — repeated events_stream calls over the same unchanged table
    must reuse ONE staged dir, not re-stage (and re-write) per call."""
    import os

    from dd_graphdb_spark.streaming import pipeline as P

    sf = _shuffled_events_sf(spark, tmp_path)
    key = P._source_identity(f"{sf}/events.parquet")
    P._STAGE_CACHE.pop(key, None)
    P.events_stream(spark, sf)
    staged = P._STAGE_CACHE[key]
    stamps = {
        f: os.path.getmtime(os.path.join(staged, f)) for f in os.listdir(staged)
    }
    P.events_stream(spark, sf)
    assert P._STAGE_CACHE[key] == staged  # same dir, no re-stage
    assert stamps == {
        f: os.path.getmtime(os.path.join(staged, f)) for f in os.listdir(staged)
    }


def test_run_to_memory_sizes_state_from_its_own_stream(spark, sf_dir, monkeypatch):
    """State width comes from the bytes of the stream being run: a
    larger events stream built in between (another caller on the same
    session) does not widen it. sf0.001 events are one state partition
    of STREAM_STATE_BYTES."""
    import os

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    started = []
    real_start = DataStreamWriter.start

    def start(self, *a, **kw):
        started.append(real_start(self, *a, **kw))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", start)
    small = global_agg(events_stream(spark, sf_dir), key_cols=("event_type",))
    events_stream(spark, os.path.join(os.path.dirname(sf_dir), "sf0.1"))
    run_to_memory(small, output_mode="complete")
    (q,) = started
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
