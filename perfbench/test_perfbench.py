"""Self-test of the benchmark at tiny size (the 192-page golden web).

Run from the repository root:  python3 -m pytest perfbench -q

It runs the benchmark's own command on the ``tiny`` workload and checks the
output contract: every end-to-end metric (``--trace 0``) and every per-layer
metric (``--trace 1``) of BENCHMARK.json is printed with its unit, the seed
code passes every output check, a corrupted expectation is reported as a
failure, and the command fails without a result outside a full checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, *BENCH["command"][1:], "--workload", "tiny", "--seed", "42",
           "--seconds", "1", *extra]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def _assert_metrics(out: dict, spec: list[dict]) -> None:
    assert {name: m["unit"] for name, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for m in out["metrics"].values():
        assert isinstance(m["value"], (int, float))


def test_metric_lists_match_benchmark_json():
    from perfbench import run

    assert [{"name": n, "unit": u} for n, u in run.END_TO_END] == [
        {"name": m["name"], "unit": m["unit"]} for m in BENCH["end_to_end"]]
    assert [{"name": n, "unit": u} for n, u in run.PER_LAYER] == [
        {"name": m["name"], "unit": m["unit"]} for m in BENCH["per_layer"]]


@pytest.mark.parametrize("trace,key", [("0", "end_to_end"), ("1", "per_layer")])
def test_every_metric_emitted(trace, key):
    out = _result(_run("--trace", trace))
    assert out["correct"] is True and out["failed"] == 0
    _assert_metrics(out, BENCH[key])


def test_corrupted_expectation_is_a_failure():
    out = _result(_run("--trace", "0", "--corrupt-expectation"))
    assert out["correct"] is False
    assert out["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    last = (proc.stdout.strip().splitlines() or [""])[-1]
    assert not last.startswith("{")
