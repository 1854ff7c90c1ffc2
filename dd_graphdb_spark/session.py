"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration is chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime shuffle
coalescing + skew-join handling), explicit shuffle partitioning, Arrow
for any Python exchange, UTC session timezone for deterministic
event-time windows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dd-graphdb-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The engine's session: AQE on, ``shuffle_partitions`` (default 32)
    both as the shuffle width and as AQE's initial partition count.

    Engine work that needs other physical settings — a wider initial
    count for edge-sized loop aggregates, AQE off for a keyed
    checkpoint, a narrow width for tiny state, a stream's state width
    and store — plans in a clone of the caller's session
    (``algorithms._iter.cloned_session``) instead of setting and
    restoring this session's conf, so concurrent callers sharing it
    (``api.py``) keep planning with these values."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can COALESCE shuffle partitions but never SPLIT them. A
        # global raise of initialPartitionNum is a measured LOSS though:
        # small-state fixpoint loops pay per-round fan-out overhead
        # (same-host sf10 A/B: BFS 7.9 s at 32 → 33.5 s at 256, SCC
        # 283 s → 487 s) while only EDGE-sized-aggregate loops gain
        # (LPA 122 → 90 s, k-core 164 → 119 s, FastSV CC 77 → 47 s).
        # The raise is therefore SCOPED to those loops
        # (algorithms._iter.wide_graph); the session default stays at
        # the shuffle-partition count.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(shuffle))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local_df (localrel.py) depends on Arrow createDataFrame(pandas)
        # for LocalTableScan planning; keep the documented fallback ON so
        # a schema Arrow cannot convert (exotic nested combos on older
        # pyarrow) degrades to the Python-RDD path instead of raising
        # (ADVICE r15)
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # local mode: executor == driver, so a heartbeat "loss" can only
        # be a long driver GC pause (observed: a 127 s full-GC during a
        # 409 M-row bucketed write got the executor removed and killed
        # the context). A generous timeout is strictly safe same-process.
        .config("spark.network.timeout", "600s")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
