"""Self-test of the benchmark at a tiny size.

    python3 -m pytest perfbench/tests -q

Every run here gets a marker in its environment, which the JVM and the
`pyspark.daemon` workers inherit; a process still carrying the marker
after the benchmark exited is one it left behind.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
MARK = "PERFBENCH_TEST_MARK"


def marked_pids(mark: str) -> list[int]:
    needle = f"{MARK}={mark}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(name))
        except OSError:
            continue
    return pids


def cmdlines(pids: list[int]) -> list[str]:
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                out.append(fh.read().replace(b"\0", b" ").decode(errors="replace"))
        except OSError:
            pass
    return out


def scratch_dirs() -> set[str]:
    return set(os.listdir(WORK)) if os.path.isdir(WORK) else set()


def start(workload: str, seconds: float, trace: int = 0, cwd: str = ROOT):
    """Start a run; returns it, its marker and the scratch dirs that
    already existed (another run's, not this one's)."""
    mark = uuid.uuid4().hex
    before = scratch_dirs()
    proc = subprocess.Popen(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, env=dict(os.environ, **{MARK: mark}),
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    return proc, mark, before


def assert_nothing_left(mark: str, before: set[str], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while marked_pids(mark) and time.monotonic() < deadline:
        time.sleep(0.2)
    left = marked_pids(mark)
    assert not left, f"left running: {cmdlines(left)}"
    while scratch_dirs() - before and time.monotonic() < deadline:
        time.sleep(0.2)
    leftovers = scratch_dirs() - before
    assert not leftovers, f"scratch left behind: {leftovers}"


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    proc, mark, before = start(workload, seconds=2)
    out, _ = proc.communicate(timeout=180)
    assert proc.returncode == 0
    res = last_json(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert math.isfinite(got["value"]) and got["value"] > 0, m["name"]
    info = json.loads(out.strip().splitlines()[-2])
    assert info["seed"] == 3
    assert {"nproc", "mem_total_kb", "heap_mb"} <= set(info["host"])
    assert_nothing_left(mark, before)


def test_traced_run_prints_every_layer_metric():
    proc, mark, before = start(SPEC["workloads"][-1]["name"], seconds=2, trace=1)
    out, _ = proc.communicate(timeout=180)
    assert proc.returncode == 0
    res = last_json(out)
    assert res["correct"] is True
    assert list(res["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and math.isfinite(got["value"]), m["name"]
    for name in ("pipeline.apply_s", "pipeline.map_stage_s", "pipeline.reduce_stage_s",
                 "sources.input_bytes", "text.python_s", "table.merge_s",
                 "table.lookup_s", "pruning.plan_s", "trace.ingest_cover_pct"):
        assert res["metrics"][name]["value"] > 0, name
    assert_nothing_left(mark, before)


def wait_for_java(proc, mark: str, timeout: float = 90.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if any("java" in c.split(" ")[0] for c in cmdlines(marked_pids(mark))) and any(
            "pyspark.daemon" in c for c in cmdlines(marked_pids(mark))
        ):
            return
        assert proc.poll() is None, "the run ended before its workload started"
        time.sleep(0.2)
    pytest.fail("no JVM and Python worker appeared")


@pytest.mark.parametrize("sig", [signal.SIGTERM, signal.SIGKILL])
def test_run_killed_mid_workload_leaves_nothing(sig):
    proc, mark, before = start(SPEC["workloads"][0]["name"], seconds=SPEC["run_seconds"])
    try:
        wait_for_java(proc, mark)
        proc.send_signal(sig)
        out, _ = proc.communicate(timeout=60)
        assert proc.returncode != 0
        assert '"metrics"' not in out
        # after SIGKILL of the runner its worker gets SIGTERM from the
        # kernel, stops its session and removes the scratch itself
        assert_nothing_left(mark, before, timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc, mark, before = start(SPEC["workloads"][0]["name"], seconds=2, cwd=str(tmp_path))
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode != 0
    assert out.strip() == ""
    assert not marked_pids(mark)
