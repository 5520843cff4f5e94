"""Smoke test of the benchmark at tiny input sizes (about 7 minutes on 4 cores).

    python3 -m pytest kgbench/test_smoke.py -q

Every workload, untraced, must print every end-to-end metric with its
unit and pass all its oracles. A traced run of each BENCHMARK.json
workload must print exactly the per-layer metrics BENCHMARK.json lists,
with its own layers and its companion's measured. A directory without the
kgforge sources must make the benchmark fail without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
sys.path.insert(0, ROOT)

from kgbench.run import COMPANION, END_TO_END, PER_LAYER  # noqa: E402
from kgbench.workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_spec_matches_runner():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER
    assert len(PER_LAYER) <= 128
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_every_layer_is_traced_by_a_listed_workload():
    """Each layer runs in a workload of BENCHMARK.json or in its companion."""
    listed = [w["name"] for w in SPEC["workloads"]]
    assert {COMPANION[w] for w in listed} | set(listed) == set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_every_metric_and_oracle(workload):
    r = _result(_run(workload, trace=0))
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    assert {k: v["unit"] for k, v in r["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values()), r["metrics"]


@pytest.mark.parametrize("workload, layers", [
    ("web_build", ("web.extract", "web.mentions", "web.linking", "web.canon", "lineage.materialize",
                   "textops.minhash", "textops.simhash", "textops.ngram")),
    ("sparql_query", ("sparql.build", "sparql.exec",
                      "orchestrate.run_config", "triples.emit", "lineage.materialize")),
])
def test_traced_run_prints_every_layer(workload, layers):
    r = _result(_run(workload, trace=1))
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == PER_LAYER
    m = {k: v["value"] for k, v in r["metrics"].items()}
    # the run also traces its companion workload, so between them the
    # two workloads of BENCHMARK.json measure every layer
    for layer in layers:
        assert m[f"{layer}.wall_ms"] > 0, layer
    for w in (workload, COMPANION[workload]):
        assert m[f"trace.{w}.overhead_ms"] != 0, w


def test_fails_without_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench")
    p = _run("web_build", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
