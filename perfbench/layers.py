"""Per-layer metrics from the traced run's spans.

Every metric is reported on every workload; a layer the workload does
not call reads 0. Times and counts are means per call of the named
function unless the name says otherwise (``spark.*``, ``jvm.gc_s`` and
``<layer>.self_s`` are per workload operation).
"""

from __future__ import annotations

from spans import Tracer

LAYERS = ("bench", "plans", "algorithms", "storage", "views", "streaming", "operators")
OPERATORS = (
    "exact_dedup", "minhash_lsh_pairs", "near_dup_clusters",
    "ngram_jaccard_pairs", "semantic_dedup", "ivf_topk",
)
PROGRESS_KEYS = ("triggerExecution", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


#: end-to-end figures repeated from the traced window as ``trace.<name>``
TRACED_E2E = ("op_tail_s", "ops_per_s", "cpu_s_per_op")


def layer_metrics(tr: Tracer, n_ops: int, e2e: dict[str, float]) -> dict[str, float]:
    """All per-layer metrics of a traced window of ``n_ops`` operations
    whose end-to-end figures (measured with tracing on) are ``e2e``."""
    m: dict[str, float] = {}

    # plans: read statements, each an "execute" span holding the parse
    # made inside GQLEngine.execute and followed by a "collect" span
    # (GQL writes are storage.gql_write)
    parse = {s["parent"]: s for s in tr.select("plans", "parse_gql")}
    execute = [s for s in tr.select("plans", "execute") if s["id"] in parse]
    parse = [parse[s["id"]] for s in execute]
    collect = tr.select("plans", "collect")
    n = len(execute)
    m["plans.parse_s"] = _per(_dur(parse), n)
    m["plans.build_s"] = _per(_dur(execute) - _dur(parse), n)
    m["plans.build_jobs"] = _per(sum(s["jobs"] for s in execute), n)
    m["plans.gateway_calls"] = _per(sum(s["gateway_calls"] for s in execute), n)
    m["plans.exec_s"] = _per(_dur(collect), n)
    m["plans.exec_jobs"] = _per(sum(s["jobs"] for s in collect), n)

    # algorithms: one "call" span (the public function) + one "collect"
    calls = tr.select("algorithms", "call")
    sinks = tr.select("algorithms", "collect")
    both = calls + sinks
    n = len(calls)
    m["algorithms.call_s"] = _per(_dur(calls), n)
    m["algorithms.exec_s"] = _per(_dur(sinks), n)
    for k in ("jobs", "stages", "tasks"):
        m[f"algorithms.{k}"] = _per(sum(s[k] for s in both), n)

    # storage: commits are apply_batch and GQL mutation statements
    apply = tr.select("storage", "apply_batch")
    gqlw = tr.select("storage", "gql_write")
    commits = apply + gqlw
    nc = len(commits)
    m["storage.apply_batch_s"] = _per(_dur(apply), len(apply))
    m["storage.gql_write_s"] = _per(_dur(gqlw), len(gqlw))
    changes = tr.select("storage", "changes")
    m["storage.changes_s"] = _per(_dur(changes), len(changes))
    vac = tr.select("storage", "vacuum")
    m["storage.vacuum_s"] = _per(_dur(vac), len(vac))
    m["storage.jobs_per_commit"] = _per(sum(s["jobs"] for s in commits), nc)
    written = sum(s.get("bytes_written", 0) for s in commits)
    logical = sum(s.get("logical_bytes", 0) for s in commits)
    m["storage.bytes_written_per_commit"] = _per(written, nc)
    m["storage.write_amp"] = _per(written, logical)
    m["storage.store_bytes"] = float(commits[-1].get("store_bytes", 0)) if commits else 0.0

    # views
    apply_d = tr.select("views", "apply_deltas")
    refresh = tr.select("views", "refresh_all")
    route = tr.select("views", "route")
    read = tr.select("views", "read")
    m["views.apply_deltas_s"] = _per(_dur(apply_d), len(apply_d))
    m["views.refresh_all_s"] = _per(_dur(refresh), len(refresh))
    m["views.jobs_per_refresh"] = _per(sum(s["jobs"] for s in refresh), len(refresh))
    m["views.route_s"] = _per(_dur(route), len(route))
    m["views.read_s"] = _per(_dur(read), len(read))

    # streaming: one pipeline span per events micro-batch run, carrying
    # the query's recentProgress
    pipe = tr.select("streaming", "incremental_view_pipeline")
    m["streaming.pipeline_s"] = _per(_dur(pipe), len(pipe))
    progress = [p for s in pipe for p in s.get("progress", [])]
    for k in PROGRESS_KEYS:
        m[f"streaming.{k}_ms"] = _per(
            sum(p["durationMs"].get(k, 0) for p in progress), len(progress)
        )
    m["streaming.input_rows"] = _per(sum(p["numInputRows"] for p in progress), len(pipe))

    # operators: one span per operator call (call + collect)
    ops = tr.select("operators")
    for fn in OPERATORS:
        spans = [s for s in ops if s["name"] == fn]
        m[f"operators.{fn}_s"] = _per(_dur(spans), len(spans))
    cycles = len([s for s in ops if s["name"] == OPERATORS[0]])
    m["operators.jobs"] = _per(sum(s["jobs"] for s in ops), cycles)
    m["operators.pairs_emitted"] = _per(sum(s.get("pairs", 0) for s in ops), cycles)
    m["operators.dup_recall"] = 0.0  # set by the workload that injects duplicates

    # engine underneath: per workload operation
    bench = tr.select("bench")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = _per(sum(s[k] for s in bench), n_ops)
    m["jvm.gc_s"] = _per(sum(s["gc_ms"] for s in bench) / 1000.0, n_ops)

    self_t = tr.self_times()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = _per(self_t.get(layer, 0.0), n_ops)

    # traced end-to-end figures: minus the untraced run's for the same
    # seed, they give the tracing overhead; probe_s is the share spent
    # in the tracer's own counter probes
    for k in TRACED_E2E:
        m[f"trace.{k}"] = e2e[k]
    m["trace.probe_s"] = _per(tr.probe_s, n_ops)
    return m


def unit_of(name: str) -> str:
    if name in ("storage.write_amp", "operators.dup_recall"):
        return "ratio"
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith(("_s", "_s_per_op")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    return "count"
