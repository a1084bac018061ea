"""The benchmark's own smoke test, at a small scale.

    python3 -m pytest perfbench/smoke_test.py -q

Runs each workload once untraced and once traced, with a few pages and
the gates at sf=0.001. It asserts that every metric of BENCHMARK.json
prints by name with its unit, that a correct run reports no failure, and
that a corrupted target or gate result raises ``failed_ops_ratio``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

BUILD, TMP = run.environment(ROOT)

import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(autouse=True)
def small(monkeypatch):
    monkeypatch.setattr(workloads, "HTTP_ROWS", 3_000)
    monkeypatch.setattr(workloads, "PER_PAGE", 500)
    monkeypatch.setattr(workloads, "GATE_SF", 0.001)
    monkeypatch.setattr(workloads, "MIN_WARM", 2)


def teardown_module():
    shutil.rmtree(TMP, ignore_errors=True)


def bench(workload: str, trace: bool) -> dict:
    return workloads.Runner(workload, 7, 0.0, trace, BUILD, time.perf_counter()).run()


def assert_metrics(result: dict, expected: list[dict]) -> None:
    units = {m["name"]: m["unit"] for m in expected}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def corrupt_target(monkeypatch) -> None:
    check = workloads.EtlHttpMerge.check

    def corrupt_then_check(self, record, *tables):
        self.execute(
            f"UPDATE {self.insert_table} SET l_tax = l_tax + 1 "
            f"WHERE row_id = (SELECT min(row_id) FROM {self.insert_table})"
        )
        check(self, record, *tables)

    monkeypatch.setattr(workloads.EtlHttpMerge, "check", corrupt_then_check)


def test_etl_http_merge(spec, monkeypatch):
    result = bench("etl_http_merge", trace=False)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert_metrics(result, spec["end_to_end"])

    corrupt_target(monkeypatch)
    result = bench("etl_http_merge", trace=True)
    assert_metrics(result, spec["per_layer"])
    assert not result["correct"]
    assert result["metrics"]["failed_ops_ratio"]["value"] > 0
    assert result["metrics"]["pg.rows_inserted"]["value"] > 0


def test_failed_run_prints_no_result(monkeypatch, capsys):
    """An untraced run whose output check fails exits non-zero and puts
    no result on standard output."""
    corrupt_target(monkeypatch)
    monkeypatch.chdir(ROOT)
    code = run.main(["--workload", "etl_http_merge", "--seed", "3",
                     "--seconds", "0", "--trace", "0"])
    # the run removed its temporary directory, which this process still uses
    os.makedirs(tempfile.gettempdir(), exist_ok=True)
    assert code != 0
    assert capsys.readouterr().out.strip() == ""


def test_gates(spec, monkeypatch):
    result = bench("gates", trace=False)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert_metrics(result, spec["end_to_end"])

    setup = workloads.Gates.setup

    def setup_then_corrupt(self):
        setup(self)
        name = workloads.GATES[0]
        fn = self.fns[name]
        self.fns[name] = lambda spark, d: fn(spark, d).limit(0)

    monkeypatch.setattr(workloads.Gates, "setup", setup_then_corrupt)
    result = bench("gates", trace=True)
    assert_metrics(result, spec["per_layer"])
    assert not result["correct"]
    assert result["metrics"]["failed_ops_ratio"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gates",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
