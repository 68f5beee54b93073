"""Benchmark of the CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 20 --trace 0

Workloads, metrics and units are listed in BENCHMARK.json at the root of
the checkout. Each run builds its inputs from --seed, sizes the Spark
session from this host (cores from `nproc`, heap from /proc/meminfo),
measures fixed work sized for --seconds on a 4-core host, and checks
every result against the single-threaded replay oracle.

The workload runs in a child process (worker.py) in its own process
group. Every process it starts (the JVM, the `pyspark.daemon` workers,
which put themselves in another process group) inherits a per-run token
in its environment; on normal exit, error, timeout or SIGTERM this
process kills whatever still carries the token, waits for it, and
deletes the run's scratch directory. If this process dies, the kernel
sends the child SIGTERM, and the child does the same cleanup itself.

--trace 0 prints the end-to-end metrics. --trace 1 runs the workload
twice, untraced and then traced (spans around every layer call, and
Spark's event log), and prints the per-layer metrics of the traced run
together with the tracing overhead (traced minus untraced wall time of
the measured work) and the share of the ingest wall time that the
layers' busy times account for (`trace.ingest_cover_pct`).

Output: a line with the host record (nproc, MemTotal, heap, seed) and
the sample counts, then, as the last line, one JSON object with the
keys `correct`, `attempted`, `failed` and `metrics`. A run whose results
differ from the oracle prints `"correct": false` and exits with 1; a
run that cannot complete prints no result and exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TOKEN_VAR = "PERFBENCH_RUN"
# the contract gives a run 180 s; leave room to stop and clean up
DEADLINE_S = 170.0


class Terminated(BaseException):
    """SIGTERM/SIGINT/SIGHUP arrived; unwind through the cleanup."""


def _terminate(signum, frame):
    raise Terminated(signum)


def tagged_pids(token: str) -> list[int]:
    """Live processes whose environment carries this run's token."""
    needle = f"{TOKEN_VAR}={token}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read()
        except OSError:
            continue
        if needle in env.split(b"\0"):
            pids.append(int(name))
    return pids


def stop_all(child: subprocess.Popen, token: str, grace: float = 10.0) -> None:
    """SIGTERM the child's group, give it `grace` seconds to stop its
    session, then SIGKILL every process still carrying the token until
    none is left, and reap the child."""
    if child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        try:
            child.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
    deadline = time.monotonic() + 30
    while True:
        pids = tagged_pids(token)
        if not pids:
            break
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} survived SIGKILL")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    child.wait()


def run_worker(args, token: str, scratch: str, trace: int, deadline: float) -> dict:
    sub = os.path.join(scratch, f"trace{trace}")
    os.makedirs(os.path.join(sub, "tmp"))
    result_path = os.path.join(sub, "result.json")
    env = {
        k: v for k, v in os.environ.items()
        # the library's opt-in shuffle directory, which may be outside
        # the checkout (tmpfs)
        if k != "SPARK_GRAFT_LOCAL_DIR"
    }
    env.update(
        {
            TOKEN_VAR: token,
            "TMPDIR": os.path.join(sub, "tmp"),
            # every JVM, the launcher spark-submit runs first included:
            # temporary files here, and no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(sub, 'tmp')}",
            # Spark prefers this over spark.local.dir; keep shuffle files here
            "SPARK_LOCAL_DIRS": os.path.join(sub, "spark-local"),
            # the same set and dict orders in every run, here and in the
            # Python workers, which inherit it
            "PYTHONHASHSEED": "0",
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--scratch", sub, "--result", result_path,
    ]
    # the worker's and Spark's chatter goes to stderr: stdout is the result
    child = subprocess.Popen(
        cmd, cwd=sub, env=env, stdin=subprocess.DEVNULL, stdout=sys.stderr,
        stderr=sys.stderr, start_new_session=True,
    )
    try:
        while child.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{args.workload} did not finish in {DEADLINE_S} s")
            time.sleep(0.25)
    finally:
        stop_all(child, token)
    if child.returncode != 0:
        raise RuntimeError(f"worker exited with {child.returncode}")
    with open(result_path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "tiger_etl_spark")):
        print(f"no tiger_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _terminate)
    deadline = time.monotonic() + DEADLINE_S
    token = uuid.uuid4().hex
    scratch = os.path.join(WORK, token)
    os.makedirs(scratch)
    try:
        runs = [run_worker(args, token, scratch, 0, deadline)]
        if args.trace:
            runs.append(run_worker(args, token, scratch, 1, deadline))
    except (Terminated, TimeoutError, RuntimeError) as e:
        print(f"benchmark run failed: {e!r}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass

    last = runs[-1]
    if args.trace:
        wanted = spec["per_layer"]
        values = dict(last["layers"])
        overhead = last["measure_s"] - runs[0]["measure_s"]
        values["trace.overhead_s"] = overhead
        values["trace.overhead_pct"] = 100 * overhead / runs[0]["measure_s"]
    else:
        wanted = spec["end_to_end"]
        values = last["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"the run produced no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "host": last["host"],
        "samples": last["samples"],
        "phases": last["phases"],
    }))
    correct = all(r["correct"] for r in runs)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
