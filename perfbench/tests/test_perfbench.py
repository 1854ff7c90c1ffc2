"""Tests of the benchmark itself: metric schema, input determinism and a
scale-0.001 smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _NoSpans:
    probe_s = 0.0

    def select(self, layer, name=None):
        return []

    def self_times(self):
        return {}


def _layer_names() -> dict[str, str]:
    m = layers.layer_metrics(_NoSpans(), 1, dict.fromkeys(run.E2E_UNITS, 1.0))
    return {k: layers.unit_of(k) for k in m}


def test_benchmark_json_follows_schema():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = []
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
        names.append(w["name"])
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
        names.append(m["name"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        names.append(m["name"])
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(json.dumps(spec)) <= 64 * 1024


def test_benchmark_json_matches_emitted_metrics():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == _layer_names()


class _Ctx:
    def __init__(self, seed, state_dir, input_dir):
        self.spark = self.tracer = None
        self.seed, self.state_dir, self.input_dir = seed, state_dir, input_dir
        self.ops = []


def _inputs(seed, tmp_path):
    """Everything a run generates from its seed, without Spark."""
    import wl_dedup
    import wl_gql
    import wl_write

    out = {}
    d = tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}"
    d.mkdir()
    ctx = _Ctx(seed, str(d), datagen.data_dir("0.001"))
    dd = wl_dedup.LlmDedup(ctx)
    out["docs"], out["queries"] = dd.text, dd.query_ids
    out["vecs"] = {k: v.tolist() for k, v in dd.vec.items()}
    g = wl_gql.GqlRead(ctx)
    out["gql"] = [draw(g.rng, g.domains) for _, _, _, draw in wl_gql.STATEMENTS * 3]
    w = wl_write.WriteViewRead(ctx)
    out["write"] = [w.rng.random() for _ in range(5)] + [w._new_balance()]
    return out


def test_seeded_inputs_are_deterministic(tmp_path):
    a = _inputs(7, tmp_path)
    assert a == _inputs(7, tmp_path)
    assert a != _inputs(8, tmp_path)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_has_no_failures(workload, trace):
    """Every workload at scale 0.001: all operations and end-of-run
    checks pass and the emitted metric names match BENCHMARK.json."""
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.001"])
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    ctx, res = json.loads(lines[-2])["context"], json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert ctx["failed_frac"] == 0 and res["failed"] == 0 and res["correct"] is True
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}


def test_fails_without_engine_source(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    files the command exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = _run(["--workload", "batch", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
