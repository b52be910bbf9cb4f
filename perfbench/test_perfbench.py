"""Smoke test of the benchmark harness at sf0.001.

Runs every workload once untraced and twice traced (the shortest run the
harness allows) and checks that every metric is emitted with its unit, or
marked not applicable, and that the traced counts repeat exactly. Takes
several minutes, so it lives beside the benchmark rather than in the
tier-1 suite:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402  the engine tests' fixtures

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"fixtures not found: {SF_DIR}"
)
# counts that must repeat exactly between two traced runs of one seed
EXACT = [
    k for k, unit in run.PER_LAYER.items()
    if unit == "count" and not k.startswith("storage.")
]


def bench(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf-dir", SF_DIR],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def runs(request):
    name = request.param
    return name, bench(name, 0), bench(name, 1), bench(name, 1)


def reported(lines: list[str], workload: str) -> dict[str, str]:
    """metric -> the rest of its report line ("<value> <unit>" or "n/a ...")."""
    out = {}
    for line in lines:
        parts = line.split(" ", 2)
        if len(parts) == 3 and parts[0] == workload:
            out[parts[1]] = parts[2]
    return out


def test_untraced_run_reports_every_end_to_end_metric(runs):
    name, (lines, last), _, _ = runs
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    assert last["metrics"].keys() == run.END_TO_END.keys()
    for metric, unit in run.END_TO_END.items():
        assert last["metrics"][metric]["unit"] == unit
        assert last["metrics"][metric]["value"] > 0
    lines_by_metric = reported(lines, name)
    for metric, unit in {**run.END_TO_END, **run.REPORT_ONLY}.items():
        text = lines_by_metric[metric]
        assert text.startswith("n/a (") or text.endswith(f" {unit}"), text
    ingest = lines_by_metric["ingest_rows_per_s"]
    assert ingest.startswith("n/a") == (name != "catalog_lifecycle")
    assert lines_by_metric["failed_ops_frac"] == "0 fraction"


def test_traced_run_reports_every_per_layer_metric(runs):
    name, _, (lines, last), _ = runs
    assert last["correct"] and last["failed"] == 0
    assert last["metrics"].keys() == run.PER_LAYER.keys()
    for metric, unit in run.PER_LAYER.items():
        assert last["metrics"][metric]["unit"] == unit
    lines_by_metric = reported(lines, name)
    for metric, unit in run.CATALOG_LAYER.items():
        present = metric in lines_by_metric
        assert present == (name == "catalog_lifecycle"), metric
        if present:
            assert lines_by_metric[metric].endswith(f" {unit}")
    for metric in ("build_s", "exec_s", "catalyst.plan_s", "tables.load_s"):
        assert last["metrics"][metric]["value"] > 0, metric


def test_traced_counts_repeat_exactly(runs):
    name, _, (_, first), (_, second) = runs
    for metric in EXACT:
        a = first["metrics"][metric]["value"]
        b = second["metrics"][metric]["value"]
        assert a == b, (name, metric, a, b)
