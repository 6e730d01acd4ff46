"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start one Spark application per workload at sf0.01 and
take about a minute each; deselect them with ``-k 'not smoke'``.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _first_ops(name: str, seed: int, k: int = 40) -> list:
    w = WORKLOADS[name]({}, harness.Tracer(False))
    w.start_keys(15_000)
    return list(itertools.islice(w.ops(np.random.default_rng(seed)), k))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_ops(name):
    assert _first_ops(name, 7) == _first_ops(name, 7)
    assert _first_ops(name, 7) != _first_ops(name, 8)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_traced_ops_cover_every_position_of_the_mix(name):
    period = WORKLOADS[name].period
    traced = [run.traced_op(i, period) for i in range(2 * period)]
    assert sum(traced) == period
    assert all(traced[p] != traced[p + period] for p in range(period))


@pytest.mark.parametrize(
    "n, pct",
    [(10_000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0),
     (100, 90.0), (40, 75.0), (39, 50.0), (5, 50.0)],
)
def test_tail_percentile_rule(n, pct):
    assert harness.tail_percentile(n) == pct
    if pct > 50.0:  # at least ten samples lie beyond the chosen percentile
        assert n * (100 - pct) / 100 >= 10 - 1e-9


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 99) == 99
    assert harness.percentile(xs, 99.9) == 100


@pytest.mark.parametrize("name", ["a", "kvstore.get_ms", "spark.jobs", "9x", "a-b_c.d"])
def test_metric_name_accepts(name):
    assert harness.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_a", ".a", "a b", "a/b", "é", "x" * 65])
def test_metric_name_rejects(name):
    with pytest.raises(ValueError):
        harness.check_name(name)


def test_benchmark_json_matches_the_harness():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        harness.check_name(m["name"])
        harness.check_unit(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    for w in b["workloads"]:
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def _run(workload: str, trace: int, cwd: str = ROOT, sf: str = "0.01") -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--sf", sf],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_sf001(workload):
    b = _bench()
    for trace, family in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert set(out["metrics"]) == {m["name"] for m in b[family]}
        if trace == 0:
            assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_package(tmp_path):
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("kv_point", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
