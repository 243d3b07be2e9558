"""The benchmark's own tests: a tiny-size run of every workload emits every
metric of BENCHMARK.json with its unit, and a wrong expectation or oracle
makes the run report failed operations.

Run from the repository root (each case starts Spark at a tiny input size):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import osm_gen  # noqa: E402
import run  # noqa: E402

TINY = ["--seed", "5", "--seconds", "1", "--scale", "0.02"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(capsys, workload: str, trace: int) -> dict:
    assert run.main(["--workload", workload, "--trace", str(trace), *TINY]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_tiny_run_emits_every_metric_with_its_unit(capsys, workload, trace):
    result = _run(capsys, workload, trace)
    wanted = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    values = {n: m["value"] for n, m in result["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values()), values
    elif workload == "osm_etl":
        assert values["trace.self_time_coverage"] >= 0.9
        assert values["sources.osm_xml.elements"] > 0


def test_perturbed_expected_count_fails_the_pass(capsys, monkeypatch):
    real = osm_gen.generate_osm

    def off_by_one(path, seed, target_bytes):
        exp = real(path, seed, target_bytes)
        exp.valid["ways_nodes"] += 1
        return exp

    monkeypatch.setattr(osm_gen, "generate_osm", off_by_one)
    result = _run(capsys, "osm_etl", 0)
    assert not result["correct"]
    assert result["failed"] == result["attempted"] > 0


def test_wrong_oracle_fails_that_query(capsys, monkeypatch):
    from data_wrangling_spark.plans import registry

    real = registry.bench_queries

    def wrong_oracle():
        specs = dict(real())
        name = "q2_type_counts"
        specs[name] = dataclasses.replace(
            specs[name], oracle="SELECT 'nope' AS type, CAST(1 AS BIGINT) AS cnt")
        return specs

    monkeypatch.setattr(registry, "bench_queries", wrong_oracle)
    result = _run(capsys, "query_sf0.1", 0)
    assert not result["correct"]
    assert 0 < result["failed"] < result["attempted"]
