"""Self-test of the benchmark: each workload at a tiny size prints every
metric named in BENCHMARK.json with its unit, and a perturbed expected
output makes the run report a failed operation.  The board runs on the
sf0.001 tables here.

    python3 -m pytest perfbench/test_perfbench.py -q

Takes a few minutes: four short Spark runs, each in a fresh JVM.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(run, "CRAWL_SEEDS", 60)
    monkeypatch.setattr(run, "CRAWL_PAGE_SIZE", 40)
    monkeypatch.setattr(run, "BOARD_DATA", "sf0.001")
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)  # main() points it at its run dir
    saved = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(saved)


def _run(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_recorded_digests_are_the_oracles():
    data = os.path.join(run.DATA, "sf0.001")
    assert checks.oracle_digests(run.ROOT, data, run.BOARD) == checks.load_expected(run.EXPECTED, "sf0.001")


def test_workload_names_match_spec():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(tiny, capsys, workload):
    result = _run(capsys, workload, 1)
    _assert_metrics(result, SPEC["per_layer"])
    assert result["correct"] and result["failed"] == 0


def test_perturbed_crawl_expectation_fails(tiny, capsys, monkeypatch):
    real = checks.expected_crawl

    def perturbed(sim):
        want = real(sim)
        return dataclasses.replace(want, seen=want.seen - {sorted(want.seen)[0]})

    monkeypatch.setattr(checks, "expected_crawl", perturbed)
    result = _run(capsys, "crawl-page500", 0)
    _assert_metrics(result, SPEC["end_to_end"])
    assert not result["correct"] and result["failed"] == result["attempted"] == 1


def test_perturbed_oracle_digest_fails(tiny, capsys, monkeypatch):
    real = checks.load_expected

    def perturbed(*args, **kw):
        want = real(*args, **kw)
        d = want["q1_pricing_summary"]
        want["q1_pricing_summary"] = dataclasses.replace(d, value_hash="0" * 64)
        return want

    monkeypatch.setattr(checks, "load_expected", perturbed)
    result = _run(capsys, "analytics-board", 0)
    _assert_metrics(result, SPEC["end_to_end"])
    assert not result["correct"] and result["failed"] == 1
    assert result["attempted"] == len(run.BOARD)
