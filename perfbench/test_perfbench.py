"""The benchmark's own tests, at tiny sizes (query tables at sf 0.001,
landing files at 1x the reference simulators, a 1-second window).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
from run import END_TO_END, MAX_SUMMARY_CHARS, PER_LAYER  # noqa: E402

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--landing-mult", "1", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, check=False)


@pytest.fixture(scope="module")
def traced():
    return {w: _run(w, 1) for w in WORKLOADS}


@pytest.fixture(scope="module")
def tampered(tmp_path_factory):
    doc = checks.load_expected()
    doc["sf0.001"]["tpch_q5_local_supplier_volume"]["rows"] += 1
    path = tmp_path_factory.mktemp("expected") / "expected.json"
    path.write_text(json.dumps(doc))
    return _run("query_mix", 0, "--expected", str(path))


def _summary(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_prints_with_unit_and_sample_count(traced, workload):
    proc = traced[workload]
    summary = _summary(proc)
    assert summary["correct"] and summary["failed"] == 0 and summary["attempted"] >= 1
    assert set(summary["metrics"]) == set(PER_LAYER)
    for name, m in summary["metrics"].items():
        assert m["unit"] == PER_LAYER[name]
    lines = proc.stdout.splitlines()
    for name, unit in [*END_TO_END.items(), ("error_rate", "ratio")]:
        assert any(re.fullmatch(rf"e2e {re.escape(name)} \S+ {unit} n=\d+", ln) for ln in lines), name
    for name, unit in PER_LAYER.items():
        assert any(re.fullmatch(rf"layer {re.escape(name)} \S+ {unit} n=\d+", ln) for ln in lines), name
    assert summary["metrics"]["trace.coverage"]["value"] >= 0.95


def test_untraced_summary_has_end_to_end_metrics(tampered):
    summary = _summary(tampered)
    assert set(summary["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in summary["metrics"].values())


def test_tampered_expected_count_raises_error_rate(tampered):
    summary = _summary(tampered)
    assert summary["failed"] >= 1 and not summary["correct"]
    rate = re.search(r"^e2e error_rate (\S+) ratio", tampered.stdout, re.M)
    assert float(rate.group(1)) > 0


def test_summary_line_stays_short(traced, tampered):
    for proc in [*traced.values(), tampered]:
        assert len(proc.stdout.strip().splitlines()[-1]) < MAX_SUMMARY_CHARS


def test_etl_counts_repeat_across_traced_runs(traced):
    again = _summary(_run("etl_pipeline", 1))["metrics"]
    first = _summary(traced["etl_pipeline"])["metrics"]
    for name in ("operators.cleaning.rows_in", "operators.cleaning.rows_out",
                 "loader.files_written", "orchestrator.jobs"):
        assert again[name]["value"] == first[name]["value"], name


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("etl_pipeline", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_landing_files_follow_the_seed(tmp_path):
    paths_a, planted = datagen.write_landing(str(tmp_path / "a"), 3, 1)
    paths_b, _ = datagen.write_landing(str(tmp_path / "b"), 3, 1)
    paths_c, _ = datagen.write_landing(str(tmp_path / "c"), 4, 1)
    for key in paths_a:
        with open(paths_a[key], "rb") as a, open(paths_b[key], "rb") as b:
            assert a.read() == b.read(), key
    with open(paths_a["sales_csv"], "rb") as a, open(paths_c["sales_csv"], "rb") as c:
        assert a.read() != c.read()
    assert planted["web_logs"]["garbage"] > 0
    assert all(p["dups"] > 0 and p["nulls"] > 0 for p in planted.values())


def test_fingerprint_ignores_row_and_column_order():
    a = checks.fingerprint([(1, "x", 0.5), (2, None, -0.0)], ["k", "s", "v"])
    b = checks.fingerprint([(-0.0, None, 2), (0.5, "x", 1)], ["v", "s", "k"])
    assert a == b
    assert a != checks.fingerprint([(1, "x", 0.5), (2, None, 0.0)], ["k", "s", "v"])
