"""The benchmark's own tests: a toy-size traced run of each workload emits
every metric and passes every output check; a perturbed engine order log
fails the simulator check; without the program the command fails.

    python3 -m pytest crawlbench/tests -q
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from crawlbench import run, workloads  # noqa: E402


def _layers_for(workload: str) -> set:
    if workload.startswith("crawl"):
        return set(workloads.CRAWL_LAYERS)
    return {k for k in workloads.layer_units() if k.startswith(("analytics.", "images."))}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_toy_run_emits_every_metric_and_passes_checks(workload):
    res, ctx = run.run(workload, seed=5, seconds=0, trace=True, small=True)
    assert res.correct, res.errors
    assert res.failed == 0 and res.attempted > 0
    assert set(res.e2e) == set(workloads.E2E_UNITS)
    assert all(v > 0 for v in res.e2e.values()), res.e2e
    missing = _layers_for(workload) - set(res.layer)
    assert not missing, missing
    assert ctx["host_loadavg"] and ctx["job_latency_probe_s"] > 0
    if workload.startswith("crawl"):
        assert res.layer["round_engine.status_jobs"] == 0
        assert res.layer["round_engine.core_s_per_round"] > 0
    else:
        assert len([k for k in res.layer if k.startswith("analytics.")]) == 61


def test_perturbed_order_log_fails_the_simulator_check(monkeypatch):
    real = workloads.collect_engine_state

    def perturbed(*a, **k):
        state = real(*a, **k)
        log = state["order_log"]
        log[0], log[1] = log[1], log[0]
        return state

    monkeypatch.setattr(workloads, "collect_engine_state", perturbed)
    res, _ = run.run("crawl_small_rounds", seed=6, seconds=0, trace=False, small=True)
    assert not res.correct
    assert res.failed == res.attempted
    assert any("order_log" in e for e in res.errors)


def test_compare_states_names_each_differing_part():
    state = {"order_log": [{"seq": 1}], "seen": {"a"}, "deadletter": set(),
             "excluded": {("b", 0)}}
    assert workloads.compare_states(state, dict(state)) == []
    other = dict(state, seen={"a", "c"}, excluded=set())
    assert workloads.compare_states(state, other) == ["seen", "excluded"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "crawlbench"), tmp_path / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "crawlbench/run.py", "--workload", "crawl_small_rounds",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    for line in p.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)
