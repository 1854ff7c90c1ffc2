"""Engine benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine is imported from that
checkout's source and reads the engine's test tables bundled under
``perfbench/data``; seeded inputs, Spark working files and span dumps
live under ``.bench_build/perfbench`` in the checkout. The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics, from the same window recorded with
spans. The line before it is a JSON ``context`` record: host probe,
input sizes, the parts' own figures, tail percentiles and counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: workload -> parts (module, class), run in this order each cycle
WORKLOADS = {
    "interactive": [("wl_gql", "GqlRead"), ("wl_write", "WriteViewRead")],
    "batch": [("wl_fixpoint", "GraphFixpoint"), ("wl_dedup", "LlmDedup")],
}
#: end-to-end metrics (``--trace 0``) and their units
E2E_UNITS = {"setup_s": "s", "op_tail_s": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="0.01", choices=("0.01", "0.001"),
                    help="scale factor of the bundled input tables")
    return ap.parse_args(argv)


def prepare_dirs(work: str) -> dict:
    """Per-run working directories; Spark, the JVM and Python's
    tempfile all write under the run directory."""
    for name in os.listdir(work) if os.path.isdir(work) else ():
        pid = name.removeprefix("run-")
        if name.startswith("run-") and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)  # killed runs
    run = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in ("tmp", "local", "state")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["run"] = run
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={dirs['tmp']}"
    ).strip()
    return dirs


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dd_graphdb_spark", "__init__.py")):
        print(f"error: no engine source (dd_graphdb_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import importlib

    import datagen

    work = os.path.join(ROOT, ".bench_build", "perfbench")
    data_dir = datagen.data_dir(args.scale)
    dirs = prepare_dirs(work)
    os.chdir(dirs["run"])

    from dd_graphdb_spark import get_spark

    from harness import run_window, tail
    from host import cpu_count, host_steal_s, peak_rss_mb, tree_cpu_s
    from spans import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(cpus=cpu_count())
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            from dd_graphdb_spark.plans import lower

            tracer.wrap(lower, "parse_gql", "plans")  # the parse inside GQLEngine.execute
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, seed=args.seed,
            input_dir=data_dir, state_dir=dirs["state"], ops=[], check_cpu_s=0.0,
        )
        parts = [getattr(importlib.import_module(m), c)(ctx) for m, c in WORKLOADS[args.workload]]
        tracer.enabled = False  # spans cover the measured window only
        t0 = time.perf_counter()
        for p in parts:
            p.setup()
        setup_s = time.perf_counter() - t0

        tracer.enabled = bool(args.trace)
        cpu0, steal0, check0 = tree_cpu_s(), host_steal_s(), ctx.check_cpu_s
        ops, wall = run_window(parts, ctx.ops, args.seconds)
        window_cpu_s, steal_s = tree_cpu_s() - cpu0, host_steal_s() - steal0
        check_cpu_s = ctx.check_cpu_s - check0
        tracer.enabled = False
        for p in parts:
            p.finish()

        t = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id * 2)").collect()
        probe_s = time.perf_counter() - t

        lat = [o.latency_s for o in ops]
        op_tail, tail_stat, _ = tail(lat)
        e2e = {
            "setup_s": session_s + setup_s,
            "op_tail_s": op_tail,
            "ops_per_s": len(lat) / sum(lat),
            "cpu_s_per_op": (window_cpu_s - check_cpu_s) / len(lat),
        }
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "input_rows": datagen.table_rows(data_dir),
            "trace": args.trace,
            "nproc": cpu_count(),
            "calibration_range_sum_2e8_s": probe_s,
            "session_s": session_s,
            "window_s": wall,
            "window_cpu_s": window_cpu_s,
            "window_steal_s": steal_s,
            "window_check_cpu_s": check_cpu_s,
            "ops": len(lat),
            "e2e": e2e,
            "op_tail_stat": tail_stat,
            "op_p50_s": statistics.median(lat),
            "peak_rss_mb": peak_rss_mb(),
            "op_latencies_s": [[f"{o.part}.{o.kind}", round(o.latency_s, 4)] for o in ops],
        }
        for p in parts:
            mine = [o for o in ops if o.part == p.name]
            context[p.name] = {"sizes": p.sizes(), **p.context_metrics(mine)}
        failed = sum(not o.ok for o in ctx.ops) + sum(not p.final_ok for p in parts)
        attempted = len(ctx.ops) + len(parts)  # + each part's end-of-run check
        context["failed_frac"] = failed / attempted
        if args.trace:
            from layers import layer_metrics, unit_of

            metrics = layer_metrics(tracer, len(ops), e2e)
            for p in parts:
                metrics.update(p.layer_extras())
            spans_dir = os.path.join(work, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            span_file = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
            tracer.dump(span_file)
            context["spans_file"] = os.path.relpath(span_file, ROOT)
            metrics = {k: (v, unit_of(k)) for k, v in metrics.items()}
        else:
            metrics = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        sys.stdout.flush()
        return 0
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(dirs["run"], ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # a gateway already gone needs no shutdown
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
