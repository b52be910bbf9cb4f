"""Unit tests for bench.py's tooling: the run-stamped output path (a plain
bench run must not touch the committed BENCH_LOCAL.json), the noise
normalizer, and the payload contract.
The helpers are exercised against synthetic payloads in a tmp repo dir;
only the payload test runs bench.main, on two headline keys and one
extended key at the test scale.
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


# The stdout line's keys. A tail capture parses this line, so the payload
# may grow only in the full file.
STDOUT_KEYS = {
    "metric", "value", "unit", "headline_version",
    "cache_cleared_between_passes", "total_v1", "queries", "sf",
    "fixture_fp", "cpus", "stderr_note",
}


def test_stdout_line_keys_unchanged_and_payload_has_codegen_runs(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    monkeypatch.setattr(bench, "HEADLINE", ["scan_parquet", "agg_hash_group"])
    monkeypatch.setattr(bench, "EXTENDED", ["win_range_frame"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    out = tmp_path / "full.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(out))
    bench.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # noise_ratio_vs_committed appears only when the committed reference
    # matches this run's fixtures and core count
    assert set(line) - {"noise_ratio_vs_committed"} == STDOUT_KEYS
    full = json.load(open(out))
    runs = {**full["queries_runs"], **{k: [v] for k, v in full["extended_queries"].items()}}
    assert set(full["codegen_runs"]) == set(runs) == {
        "scan_parquet", "agg_hash_group", "win_range_frame"
    }
    for key, walls in runs.items():
        cg = full["codegen_runs"][key]
        assert len(cg["compiles"]) == len(cg["compile_s"]) == len(walls), key
        assert all(isinstance(n, int) and n >= 0 for n in cg["compiles"]), key
        assert all(s >= 0 for s in cg["compile_s"]), key
