"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q

The smoke tests run ``perfbench/run.py`` in a subprocess (each starts
its own Spark JVM) and take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import bronze  # noqa: E402
import run  # noqa: E402

SMALL = {"n_business": 40, "n_users": 60, "reviews_per_month": 80, "tips_per_month": 30}


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, units: dict) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_bronze_is_a_function_of_the_seed(tmp_path):
    a = bronze.generate(str(tmp_path / "a"), 7, **SMALL)
    b = bronze.generate(str(tmp_path / "b"), 7, **SMALL)
    c = bronze.generate(str(tmp_path / "c"), 8, **SMALL)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a == b
    assert set(a["expected"]) == set(bronze.MONTHS)


def test_bronze_layout(tmp_path):
    bronze.generate(str(tmp_path), 1, **SMALL)
    for entity in ("business", "user", "checkin"):
        assert os.path.isfile(tmp_path / entity / "part-0.json")
    for entity in ("review", "tip"):
        for year, month in bronze.MONTHS:
            assert os.path.isfile(tmp_path / entity / f"year={year}" / f"month={month}" / "part-0.json")
    row = json.loads((tmp_path / "business" / "part-0.json").read_text().splitlines()[0])
    assert isinstance(row["hours"], dict) and isinstance(row["attributes"], dict)


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "queries", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_queries_smoke_and_a_wrong_expected_value_fails(tmp_path):
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    expected["queries"]["pricing_summary"]["rows"] += 1
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(expected))
    result = _result(_run("--workload", "queries", "--seed", "1", "--seconds", "1",
                          "--trace", "0", "--expected", str(path)))
    _assert_metrics(result, run.E2E_UNITS)
    # Values are checked on the cold pass only, so exactly one op fails.
    assert result["failed"] == 1 and not result["correct"]
    assert result["attempted"] >= 2 * len(run.QUERY_OPS)


def test_queries_traced_smoke():
    result = _result(_run("--workload", "queries", "--seed", "2", "--seconds", "1", "--trace", "1"))
    assert result["correct"], result
    _assert_metrics(result, run.LAYER_UNITS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["registry.build_share.iterative"] > m["registry.build_share.neardup"]
    assert m["pipelines.bytes_written_mb"] == 0
    assert m["operators.jobs"] > 0 and m["tables.input_records"] > 0


def test_etl_tiny_bronze_traced_smoke():
    result = _result(_run("--workload", "etl", "--seed", "3", "--seconds", "1",
                          "--trace", "1", "--bronze-scale", "0.05"))
    assert result["correct"], result
    _assert_metrics(result, run.LAYER_UNITS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipelines.bytes_written_mb"] > 0
    assert m["registry.build_s"] == 0
    for table in run.WRITE_TABLES:
        assert m[f"pipelines.write_s.{table}"] > 0, table
