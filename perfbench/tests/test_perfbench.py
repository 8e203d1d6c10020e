"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The smoke and corrupted-row tests start Spark (about a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=300,
    )


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def test_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_layer_map_names_only_known_metrics():
    layers = json.loads((BENCH / "layers.json").read_text())
    e2e, per_layer = set(run.E2E_UNITS), set(run.LAYER_UNITS)
    names = set(workloads.WORKLOADS)
    for row in layers["layer_metrics"]:
        assert set(row["metrics"]) <= per_layer, row
        assert set(row["moves"]) <= e2e | per_layer, row
        assert set(row["on"]) | set(row["flat_on"]) <= names, row
    mapped = {m for row in layers["layer_metrics"] for m in row["metrics"]}
    assert mapped == per_layer


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = _run("--workload", "trickle", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_every_workload(workload):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "0.1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-2000:]
    out = _result(p.stdout)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.E2E_UNITS
    assert all(v["value"] > 0 for v in out["metrics"].values()), out["metrics"]


def test_smoke_traced_run():
    p = _run("--workload", "trickle", "--seed", "3", "--seconds", "0.1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-2000:]
    out = _result(p.stdout)
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.LAYER_UNITS
    assert out["metrics"]["cdc.merge.calls"]["value"] > 0
    assert out["metrics"]["trace.uncovered_share"]["value"] <= 0.10


def test_corrupted_row_fails_every_operation(monkeypatch, capsys):
    """A single wrong token in one lake file must fail the whole run."""
    check = workloads.Trickle.check

    def corrupt_then_check(self):
        snap = self.pipe.table.log.snapshot()
        path = Path(self.pipe.table.path) / sorted(snap.live_files)[0]
        tbl = pq.read_table(path)
        rows = tbl.to_pylist()
        i = next(i for i, r in enumerate(rows) if r["tokens"])
        rows[i]["tokens"] = [t + 1 for t in rows[i]["tokens"]]
        pq.write_table(tbl.from_pylist(rows, schema=tbl.schema), path)
        check(self)

    monkeypatch.setattr(workloads.Trickle, "check", corrupt_then_check)
    rc = run.main(["--workload", "trickle", "--seed", "4", "--seconds", "0.1", "--trace", "0"])
    out = _result(capsys.readouterr().out)
    assert rc == 0
    assert out["correct"] is False
    assert out["failed"] == out["attempted"] >= 1
