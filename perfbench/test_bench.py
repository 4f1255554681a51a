"""The benchmark's own tests, on tiny generated inputs: every workload
prints every metric BENCHMARK.json names, with its unit, and passes its
output check; a corrupted output (one TSV row dropped) counts as a
failed run; without the program next to it the benchmark refuses to
run.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["prohap_cohort", "provar_sites", "peptide_report"]


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[dict, list[str]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        capture_output=True, text=True, timeout=900, cwd=cwd,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _units(result: dict) -> dict[str, str]:
    return {name: m["unit"] for name, m in result["metrics"].items()}


def _error_rate(notes: list[str]) -> float:
    [line] = [n for n in notes if n.startswith("# error_rate = ")]
    return float(line.split()[3])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    result, notes = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert _units(result) == want
    assert all(m["value"] > 0 for m in result["metrics"].values())
    for name, unit in want.items():
        assert any(n.startswith(f"# {name} = ") and n.endswith(f" {unit}") for n in notes), name
    assert _error_rate(notes) == 0


@pytest.mark.parametrize("workload", ["prohap_cohort", "provar_sites"])
def test_per_layer_metrics_print_with_units(workload):
    result, _notes = _run(workload, 1)
    assert result["correct"]
    assert _units(result) == {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    metrics = result["metrics"]
    own = "prohap.extract" if workload == "prohap_cohort" else "provar.run"
    for layer in ("sources.vcf", "provar.assign", "kernels", own, "postprocess", "sink.tsv", "sink.fasta"):
        assert metrics[f"{layer}.self_s"]["value"] > 0, layer
        assert metrics[f"{layer}.stages"]["value"] >= 1, layer
        assert metrics[f"{layer}.rows_out"]["value"] > 0, layer


def test_peptide_layers_traced():
    result, _notes = _run("peptide_report", 1)
    assert result["correct"]
    for layer in ("peptides.explode", "peptides.canonical", "peptides.covered", "peptides.classify"):
        assert result["metrics"][f"{layer}.self_s"]["value"] > 0, layer
        assert result["metrics"][f"{layer}.tasks"]["unit"] == "count"


@pytest.mark.parametrize("workload", WORKLOADS)
def test_dropped_output_row_raises_error_rate(workload):
    result, notes = _run(workload, 0, "--inject-fault")
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
    assert _error_rate(notes) > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "provar_sites", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
