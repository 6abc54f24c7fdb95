"""Toy-size end-to-end runs of every workload, and the refusal to run
without the package. Each smoke run starts its own Spark session (~30 s)."""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload", ["serve", "dedup_pipeline", "analytics", "ingest"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_toy_run_is_correct(workload, trace):
    if trace == "1" and workload in ("analytics", "ingest"):
        pytest.skip("one traced smoke run per listed workload is enough")
    p = run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", trace, "--scale", "0.05")
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    import harness

    want = harness.PER_LAYER if trace == "1" else harness.END_TO_END
    assert list(line["metrics"]) == list(want)
    assert all(v["unit"] == harness.UNITS[k] for k, v in line["metrics"].items())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = run(tmp_path, "--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0",
            timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
