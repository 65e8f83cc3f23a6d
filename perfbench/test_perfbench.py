"""Self-tests of the crawl-frontier benchmark.

Run from the repository root::

    python -m pytest perfbench -q

Each workload runs once at the tiny size, untraced and traced, and must
print every metric BENCHMARK.json names; the oracle gate must reject a
perturbed schedule; outside a checkout the command must fail without a
result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.gate import first_divergence, oracle_schedule  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.trace import LAYER_MAP, PER_LAYER  # noqa: E402
from perfbench.workloads import generate  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def test_workloads_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_every_layer_metric_is_mapped():
    mapped = [m for layer, _, _ in LAYER_MAP for m in layer]
    assert sorted(mapped) == sorted(set(PER_LAYER) - {"trace.overhead_s"})
    end_to_end = {m["name"] for m in SPEC["end_to_end"]}
    assert all(set(e) <= end_to_end for _, e, _ in LAYER_MAP)
    assert [m["name"] for m in SPEC["per_layer"]] == list(PER_LAYER)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_gate_rejects_perturbed_schedule(workload, tmp_path):
    want, batches = oracle_schedule(generate(workload, str(tmp_path), 5, "tiny"))
    assert len(want) >= 2 and sum(batches) >= len(want)
    assert first_divergence(list(want), want) is None

    late = list(want)
    seq, rnd, h, t = late[-1]
    late[-1] = (seq, rnd, h, t + 1)
    assert first_divergence(late, want) is not None

    swapped = list(want)
    (s0, r0, h0, t0), (s1, r1, h1, t1) = swapped[0], swapped[1]
    swapped[0], swapped[1] = (s0, r0, h1, t0), (s1, r1, h0, t1)
    assert first_divergence(swapped, want) is not None

    assert first_divergence(want[:-1], want) is not None


def test_fails_outside_a_checkout(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
