"""Unit tests for bench.py's round-8 tooling: the run-stamped output
path (a plain bench run must not touch the committed BENCH_LOCAL.json)
and the noise normalizer.
No SparkSession needed — these exercise pure helpers against synthetic
payloads in a tmp repo dir.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _write(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def _ref(tmp, fp="aabbccddeeff", n=25, cpus=4):
    ref = {"fixture_fp": fp, "queries": {f"k{i}": 1.0 + i * 0.1 for i in range(n)}}
    if cpus is not None:
        ref["cpus"] = cpus
    _write(os.path.join(tmp, "BENCH_LOCAL.json"), ref)
    return dict(ref["queries"])


def test_noise_ratio_median_of_uniform_inflation(tmp_path):
    ref_q = _ref(str(tmp_path))
    timings = {k: v * 1.15 for k, v in ref_q.items()}
    assert bench._noise_ratio_vs_committed(str(tmp_path), timings, "aabbccddeeff", 4) == 1.15


def test_noise_ratio_none_on_fixture_mismatch(tmp_path):
    ref_q = _ref(str(tmp_path))
    timings = {k: v * 1.15 for k, v in ref_q.items()}
    # regenerated fixtures / different sf: not comparable, never normalize
    assert bench._noise_ratio_vs_committed(str(tmp_path), timings, "000000000000", 4) is None


def test_noise_ratio_none_on_cpu_count_mismatch(tmp_path):
    ref_q = _ref(str(tmp_path), cpus=32)
    timings = {k: v * 1.15 for k, v in ref_q.items()}
    # same fixtures, other core count: not comparable, never normalize
    assert bench._noise_ratio_vs_committed(str(tmp_path), timings, "aabbccddeeff", 4) is None
    # a reference that never recorded its core count is not comparable either
    _ref(str(tmp_path), cpus=None)
    assert bench._noise_ratio_vs_committed(str(tmp_path), timings, "aabbccddeeff", 4) is None


def test_noise_ratio_none_below_min_shared_keys(tmp_path):
    _ref(str(tmp_path), n=10)  # < 20 shared keys: median too unstable
    timings = {f"k{i}": 1.0 for i in range(10)}
    assert bench._noise_ratio_vs_committed(str(tmp_path), timings, "aabbccddeeff", 4) is None


def test_noise_ratio_none_without_reference(tmp_path):
    assert bench._noise_ratio_vs_committed(str(tmp_path), {"k": 1.0}, "x", 4) is None


def test_default_out_path_is_run_stamped_and_gitignored_dir(tmp_path):
    p = bench._default_out_path(str(tmp_path))
    assert os.path.dirname(p) == str(tmp_path / "bench_runs")
    assert os.path.isdir(str(tmp_path / "bench_runs"))
    assert os.path.basename(p).startswith("bench_") and p.endswith(".json")
    # never the committed artifact
    assert "BENCH_LOCAL" not in p


def test_default_cpus_falls_back_to_cpu_count(monkeypatch):
    from spark_sql_dsv2_extension_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(session).DEFAULT_CPUS == len(os.sched_getaffinity(0))
    finally:
        monkeypatch.undo()
        importlib.reload(session)
