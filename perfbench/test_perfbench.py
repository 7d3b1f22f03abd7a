"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py            # quick checks
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py
                                  # plus every workload end to end, tiny inputs

The smoke runs build the engine first and take a few minutes.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE = os.environ.get("PERFBENCH_SMOKE") == "1"


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_names_and_units():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")


def test_layer_metrics_cover_every_query():
    src = (HERE / "src" / "perfbench" / "Ops.scala").read_text()
    block = src[src.index("val Queries"):src.index(")", src.index("val Queries"))]
    queries = re.findall(r'"(q_\w+)"', block)
    assert len(queries) == 10
    layer = {m["name"] for m in SPEC["per_layer"]}
    for q in queries:
        for k in ("cold_s", "warm_s", "jobs"):
            assert f"operators.{q}.{k}" in layer


def test_ops_tables_cover_the_oracle_check():
    """The ops tables hold every table the engine's oracle check reads."""
    src = (ROOT / "tools" / "check_oracle.py").read_text()
    names = re.findall(r'"(\w+)"', src[src.index("for t in ["):src.index("]:", src.index("for t in ["))])
    assert "lineitem" in names
    for t in names:
        assert (run.TABLES / f"{t}.parquet").is_file(), t


def test_scaling_levels_fit_the_granted_cpus():
    assert run.scaling_levels([0, 1, 2]) is None
    assert run.scaling_levels([0, 1, 2, 3]) == (1, 4)
    assert run.scaling_levels(list(range(9))) == (2, 8)


def test_fails_without_engine_sources():
    """In a tree that holds only the benchmark, the command exits non-zero
    and prints no result."""
    with tempfile.TemporaryDirectory() as d:
        subprocess.run(["cp", "-r", str(HERE), str(ROOT / "BENCHMARK.json"), d], check=True)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "tiles", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                           timeout=180)
        assert p.returncode != 0
        assert p.stdout.strip() == ""


def smoke(workload: str, seed: int, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, info["failures"]
    assert result["attempted"] >= 1
    return result


@pytest.mark.skipif(not SMOKE, reason="set PERFBENCH_SMOKE=1 to run the workloads")
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_workload(workload):
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    r1 = smoke(workload, 1, 0)
    assert {k: v["unit"] for k, v in r1["metrics"].items()} == e2e
    assert all(v["value"] > 0 for v in r1["metrics"].values())
    r2 = smoke(workload, 2, 0)
    assert set(r2["metrics"]) == set(r1["metrics"])
    t = smoke(workload, 1, 1)
    assert {k: v["unit"] for k, v in t["metrics"].items()} == layers
