"""Tiny-size smoke test of the benchmark harness.

    python -m pytest perfbench/tests -q

Runs every workload once untraced and once traced on tiny inputs in one
process, and checks that

- the last line is the result object with every end-to-end metric
  (untraced) or every per-layer metric (traced) of BENCHMARK.json, by
  name and with its unit;
- the human-readable lines name every end-to-end metric with its unit;
- a deliberately wrong expected result is reported as a failed operation
  and makes the run incorrect.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


TINY = {"rows": 4_000, "span_days": 4, "events": 2_000, "documents": 120,
        "embeddings": 120}


@pytest.fixture(scope="module", autouse=True)
def in_root():
    cwd = os.getcwd()
    os.chdir(ROOT)
    yield
    os.chdir(cwd)


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "SIZE", TINY)


def bench(capsys, workload: str, trace: int) -> tuple[list[str], dict]:
    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                   "--trace", str(trace)])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return lines, result


def metric_units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_spec_matches_harness():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert metric_units("end_to_end") == run.END_TO_END
    assert metric_units("per_layer") == {
        n: run.per_layer_unit(n) for n in run.per_layer_names()}


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_untraced_prints_end_to_end(capsys, workload):
    lines, result = bench(capsys, workload, 0)
    assert result["correct"], [ln for ln in lines if ln.startswith("FAIL")]
    assert result["failed"] == 0
    want = metric_units("end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, unit in want.items():
        assert any(ln.startswith(f"metric {name} ") and ln.endswith(unit)
                   for ln in lines), name
        assert result["metrics"][name]["value"] > 0
    assert any(ln.startswith("metric fail_ratio 0 ") for ln in lines)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_wrong_expected_result_fails(capsys, monkeypatch, workload):
    cls = workloads.WORKLOADS[workload]
    prepare = cls.prepare

    def corrupted(self):
        prepare(self)
        if workload == "pipeline":
            self.want_confusion.loc[0, "tp"] += 1
        else:
            want = self.want[workloads.QUERY_LEAVES[0]]
            self.want[workloads.QUERY_LEAVES[0]] = want.iloc[1:]

    monkeypatch.setattr(cls, "prepare", corrupted)
    lines, result = bench(capsys, workload, 1)
    # the corrupted check runs once per cycle
    assert not result["correct"]
    assert result["failed"] == cls.min_cycles
    assert sum(ln.startswith("FAIL ") for ln in lines) == cls.min_cycles
    want = metric_units("per_layer")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
