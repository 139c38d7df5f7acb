"""Tiny-scale smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` as the benchmark driver would, from a
working directory outside the checkout, and checks the result line.
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def left_running(root: str) -> list[str]:
    """Command lines of live processes that a run of the benchmark in
    ``root`` started (the JVM names the run's work directory)."""
    out = []
    for entry in os.listdir("/proc"):
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if os.path.join(root, ".perfbench_work") in cmd:
            out.append(cmd[:200])
    return out


def run(tmp_path, workload: str, trace: int, *extra: str, root: str = ROOT):
    # output goes to files, not pipes: waiting for a pipe would also wait
    # for any process that inherited it and outlived the benchmark
    out, err = tmp_path / "stdout", tmp_path / "stderr"
    with open(out, "w") as fo, open(err, "w") as fe:
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "perfbench", "run.py"),
             "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), *extra],
            cwd=tmp_path, stdout=fo, stderr=fe, timeout=600)
    assert not left_running(root), left_running(root)
    proc.stdout, proc.stderr = out.read_text(), err.read_text()
    return proc


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_declared(res: dict, kind: str) -> None:
    declared = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert set(res["metrics"]) == set(declared)
    for name, unit in declared.items():
        assert res["metrics"][name]["unit"] == unit, name
        assert isinstance(res["metrics"][name]["value"], (int, float)), name


@pytest.mark.parametrize("workload,trace", [("dq_stream", 0), ("dq_stream", 1),
                                            ("ops_catalog", 1)])
def test_every_declared_metric_is_emitted(tmp_path, workload, trace):
    res = result(run(tmp_path, workload, trace, "--scale", "tiny"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert_declared(res, "per_layer" if trace else "end_to_end")
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("workload", ["dq_stream", "ops_catalog", "dq_batch_clean"])
def test_corrupted_expected_count_is_a_failure(tmp_path, workload):
    res = result(run(tmp_path, workload, 0, "--scale", "tiny", "--corrupt-expected"))
    assert not res["correct"]
    assert res["failed"] >= 1


def test_fails_without_the_program(tmp_path):
    """A checkout holding only BENCHMARK.json and the benchmark exits
    non-zero and prints no result."""
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = run(tmp_path, "dq_stream", 0, root=str(bare))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
