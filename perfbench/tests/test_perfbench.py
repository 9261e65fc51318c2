"""The benchmark's own tests: clean exit, output check, no-program exit.

They start real Spark children, so they take a few minutes:
    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.worker import _tail  # noqa: E402

MARK = b"PERFBENCH_SPAWNED_AT="


def _benchmark_processes() -> list[int]:
    """Live processes started by any benchmark run: they all inherit
    the spawn-time variable the runner sets for its children."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if MARK in fh.read():
                    out.append(int(name))
        except OSError:
            pass
    return out


def _run(*args: str, cwd: str = ROOT, env: dict | None = None, timeout: float = 240):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, env=dict(os.environ, **(env or {})),
        capture_output=True, text=True, timeout=timeout,
    )


def _assert_nothing_left(root: str = ROOT) -> None:
    assert _benchmark_processes() == []
    assert not os.path.exists(os.path.join(root, ".perfbench"))


@pytest.fixture(autouse=True)
def _no_concurrent_run():
    if _benchmark_processes():
        pytest.skip("another benchmark run is active on this host")


def test_normal_run_reports_and_leaves_nothing():
    p = _run("--workload", "core_small", "--seed", "3", "--seconds", "3", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"] for m in json.load(fh)["end_to_end"]}
    assert set(res["metrics"]) == declared
    assert all(m["value"] > 0 for m in res["metrics"].values())
    _assert_nothing_left()


def test_forced_timeout_kills_every_process():
    # long enough to be inside the measuring child's Spark work
    p = _run("--workload", "heavy_ops", "--seed", "3", "--seconds", "3", "--trace", "0",
             env={"PERFBENCH_TIMEOUT_S": "30"})
    assert p.returncode != 0
    assert "timed out" in p.stderr
    assert '"metrics"' not in p.stdout
    _assert_nothing_left()


def test_altered_result_is_caught():
    p = _run("--workload", "core_small", "--seed", "4", "--seconds", "3", "--trace", "0",
             env={"PERFBENCH_ALTER_JOB": "group_multi_sum"})
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res, ctx = json.loads(lines[-1]), json.loads(lines[-2])["context"]
    assert res["correct"] is False and res["failed"] == 1
    assert ctx["check"]["group_multi_sum"] != "ok"
    assert all(v == "ok" for k, v in ctx["check"].items() if k != "group_multi_sum")
    _assert_nothing_left()


def test_without_the_program_it_fails_fast(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "core_small", "--seed", "1", "--seconds", "3", "--trace", "0",
             cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    datagen.generate(str(a), 0.001, 5)
    datagen.generate(str(b), 0.001, 5)
    datagen.generate(str(c), 0.001, 6)
    for t in ("lineitem", "documents", "embeddings"):
        assert (a / f"{t}.parquet").read_bytes() == (b / f"{t}.parquet").read_bytes()
        assert (a / f"{t}.parquet").read_bytes() != (c / f"{t}.parquet").read_bytes()


def test_tail_keeps_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 41)]  # 40 samples
    assert _tail(samples) == (30.0, 75.0)
    assert _tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
