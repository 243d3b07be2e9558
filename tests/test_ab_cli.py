"""scripts/ab.py: the one A/B tool over registered plans."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(REPO, "scripts", "ab.py")


def test_ab_one_pair_oracle_green_with_duckdb_anchor():
    proc = subprocess.run(
        [sys.executable, AB, "q2_type_counts",
         "--sf", SF_DIR, "--pairs", "1",
         "--conf", "spark.sql.shuffle.partitions=1"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out["variants"]) == {"A", "B"}
    assert out["variants"]["A"]["conf"] == {}
    assert out["variants"]["B"]["conf"] == {"spark.sql.shuffle.partitions": "1"}
    for v in out["variants"].values():
        assert v["oracle"] == "ok"
        assert v["median"] > 0
        assert len(v["runs"]) == 1
    assert out["b_wins"] in (0, 1)
    assert out["duckdb_s"] is not None and out["duckdb_s"] >= 0


def test_ab_unknown_query_exits_2_without_a_jvm(monkeypatch, capsys):
    from scripts import ab, bench_scale

    def no_jvm(*a, **k):
        raise AssertionError("a worker JVM was started")

    monkeypatch.setattr(bench_scale, "_spawn_extras_worker", no_jvm)
    monkeypatch.setattr(bench_scale, "duckdb_time_suite", no_jvm)
    assert ab.main(["no_such_query", "--sf", SF_DIR]) == 2
    assert "unknown query: no_such_query" in capsys.readouterr().err
    with pytest.raises(SystemExit) as e:
        ab.main(["q2_type_counts", "--sf", SF_DIR, "--conf", "missing-equals"])
    assert e.value.code == 2
