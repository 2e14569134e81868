"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The gate tests are pure Python and take well under a second. The smoke
tests run the real command once per workload and trace mode on a
``local[4]`` session (about four minutes on 4 cores); they check
that every metric named in ``BENCHMARK.json`` is printed with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gates

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


# -- gates -------------------------------------------------------------------
GOOD = {"a1": "a1", "a2": "a1", "b1": "b1", "c1": "c1", "c2": "c1", "c3": "c1"}


def test_min_id_partition_accepts_pipeline_labels():
    assert gates.check_min_id_partition(GOOD, set(GOOD)) == []


@pytest.mark.parametrize(
    "wrong",
    [
        {**GOOD, "c1": "c2", "c2": "c2", "c3": "c2"},  # not the minimum member
        {k: v for k, v in GOOD.items() if k != "b1"},  # a conversation lost
        {**GOOD, "zz": "zz"},                           # an unknown conversation
        {**GOOD, "a1": "a2"},                           # two entities swap labels
    ],
)
def test_min_id_partition_trips_on_wrong_labels(wrong):
    assert gates.check_min_id_partition(wrong, set(GOOD))


def test_labels_equal_trips_on_a_moved_conversation():
    assert gates.check_labels_equal(GOOD, dict(GOOD)) == []
    assert gates.check_labels_equal({**GOOD, "b1": "a1"}, GOOD)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_quality_gate_trips_below_the_seed_code_value(workload):
    ref = gates.load_reference(workload)
    seed, want = next(iter(ref["seeds"].items()))
    assert gates.check_quality(dict(want), workload, int(seed)) == []
    for metric in ("pair_f1", "cluster_f1"):
        assert gates.check_quality({**want, metric: want[metric] - 0.01}, workload, int(seed))
    assert gates.check_quality(dict(want), workload, 10**6)  # no recorded value


# -- command -----------------------------------------------------------------
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit(workload, trace, key):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)])
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = _run(["--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1"], cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_seed_maps_to_a_recorded_reference(workload):
    recorded = gates.load_reference(workload)["seeds"]
    assert sorted(map(int, recorded)) == list(range(gates.REFERENCE_SEEDS))
    for seed in (0, 7, 63, 64, 10**6, 2**31 + 5, -3):
        assert str(gates.corpus_seed(seed)) in recorded
    assert gates.corpus_seed(10**6 + 64) == gates.corpus_seed(10**6)
