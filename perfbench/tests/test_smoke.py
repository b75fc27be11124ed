"""Tiny-input smoke runs of every workload, the oracle cross-check, and the
refusal to run without the package.

Each smoke run starts its own Spark JVM; the whole file takes a few minutes.
Run with ``python -m pytest perfbench/tests -q``.
"""

import importlib.util
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, stage  # noqa: E402

RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _bench(*args, cwd=ROOT, timeout=600):
    return subprocess.run(RUN + list(args), cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["logpath_ckpt", "dedup_minhash", "sink_fanout"])
def test_tiny_untraced_run(workload):
    out = _result(_bench("--workload", workload, "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--tiny"))
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(out["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_tiny_traced_run_adds_back():
    out = _result(_bench("--workload", "logpath_ckpt", "--seed", "5", "--seconds", "1",
                         "--trace", "1", "--tiny"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert set(m) == {x["name"] for x in spec["per_layer"]}
    assert m["checkpoint.input_scans"] >= 1 and m["checkpoint.grok_passes"] >= 1
    assert 0.9 <= m["trace.addback_ratio"] <= 1.1
    assert m["trace.overhead_ratio"] > 0


def test_duckdb_oracle_matches_repo_pipeline_oracle(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "repo_pipeline_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    repo_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(repo_oracle)
    staged = str(tmp_path / "tokens")
    stage.stage("tokens", 42, 600, 3, staged)
    _, agg = repo_oracle.pipeline_oracle(600)
    expected = sorted(
        (r.route, r.source, r.severity_text, int(r.row_count), int(r.token_count))
        for r in agg.itertuples(index=False))
    assert oracle.logpath_aggregates(staged) == expected


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "logpath_ckpt", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path), timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_sink_restatement_matches_recorded_reference(tmp_path):
    """The restated per-exporter sizes equal the outputs recorded for the
    reference input, to the kafka tolerance."""
    golden = oracle.sink_golden()
    ref = golden["input"]
    staged = str(tmp_path / "flat")
    stage.stage(ref["kind"], ref["seed"], ref["rows"], ref["files"], staged)
    expected = oracle.sink_expected(staged, 4)
    for name, (n, size, _) in golden["exporters"].items():
        n_exp, size_exp, *tol = expected[name]
        assert n == n_exp and abs(size - size_exp) <= (tol[0] if tol else 0), name
