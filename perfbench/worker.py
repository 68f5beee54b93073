"""One benchmark workload of the CDC engine, run in this process.

`run.py` starts this file as a child in its own process group and owns
its scratch directory; see run.py for the command line a user runs.

A run has four phases, each timed on its own:

1. set-up (`setup_s`): generate the change backlog from the seed, start
   a Spark session sized from this host, and warm it up by running the
   workload itself on throwaway tables (Python worker fork, code
   generation and the JIT reaching steady state all happen here);
2. the measured workload: fixed work derived from `--seconds`, in units
   (a backfill repetition, a trickle round) of a few seconds each, with
   one client in a closed loop;
3. the correctness gate, outside the timed region: every table against
   the single-threaded replay oracle (`cdc.oracle`), every lookup
   against the oracle state at the change file it was issued after,
   every range scan and change-feed read against the change files;
4. with `--trace 1`, per-layer metrics from the spans and Spark's event
   log.

The result is written as JSON to `--result`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from run import TOKEN_VAR, tagged_pids  # noqa: E402
from tiger_etl_spark.cdc import oracle  # noqa: E402
from tiger_etl_spark.cdc.datagen import gen_change_events, write_change_files  # noqa: E402
from tiger_etl_spark.cdc.pipeline import create_pages_table  # noqa: E402
from tiger_etl_spark.cdc.streaming import run_stream  # noqa: E402
from tiger_etl_spark.lake import LakeTable  # noqa: E402
from tiger_etl_spark.session import get_spark  # noqa: E402
from tracing import Tracer, layer_metrics, read_event_log  # noqa: E402

BULK_EVENTS, BULK_FILES, BULK_FILES_PER_TRIGGER = 48_000, 6, 3
TRICKLE_EVENTS_PER_FILE, TRICKLE_FILES_PER_ROUND, TRICKLE_MAINTAIN_EVERY = 1_000, 4, 3


def host_sizing() -> dict:
    """Cores as `nproc` counts them, and a driver heap of a quarter of
    RAM (1-8 GiB): the rest is headroom for the Python workers, one per
    core, the page cache and this process."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, mem_kb // 4096))
    return {"nproc": nproc, "mem_total_kb": mem_kb, "heap_mb": heap_mb}


def start_session(scratch: str, sizing: dict, event_log: str | None):
    heap = f"{sizing['heap_mb']}m"
    # replaces the library's 48g default, which also pins -Xms48g
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    conf = {
        "spark.driver.memory": heap,
        # the library's fixed-heap throughput GC, pre-touched: a long-lived
        # ingest touches its whole heap sooner or later, and pre-touching
        # keeps the peak memory of a short run from depending on whether
        # the old generation happened to fill during it
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{heap} -XX:+AlwaysPreTouch",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = sizing["nproc"]
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra_conf=conf)


class TriggerTimes(StreamingQueryListener):
    """Per-trigger latency as Spark reports it (`triggerExecution`):
    offset planning, the foreachBatch apply, interleaved maintenance and
    the commit-log write."""

    def __init__(self):
        self.seconds: list[float] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.seconds.append(event.progress.durationMs.get("triggerExecution", 0) / 1000)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout: float = 20.0) -> list[float]:
        """Progress events arrive asynchronously; wait for the first `n`."""
        deadline = time.monotonic() + timeout
        while len(self.seconds) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        if len(self.seconds) < n:
            raise RuntimeError(f"{len(self.seconds)} of {n} trigger progress events")
        return self.seconds[:n]


class PeakMemory:
    """Peak total proportional set size (PSS, so pages the forked Python
    workers share are counted once) of every process of this run: this
    one, the JVM and its Python workers, sampled while the workload is
    measured.

    A process counts from its second sample on. The helper processes
    the JVM spawns share its address space until they exec, so for a few
    milliseconds each reports the JVM's whole heap as its own; requiring
    two samples `interval` apart leaves them out."""

    def __init__(self, interval: float = 0.5):
        self.token = os.environ.get(TOKEN_VAR, "")
        self.interval = interval
        self.peak = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = set(tagged_pids(self.token)) if self.token else {os.getpid()}
        total = 0
        for pid in pids & self._seen:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(
                        int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")
                    ) * 1024
            except (OSError, StopIteration, ValueError):
                pass
        self._seen = pids
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def file_events(path: str) -> list[dict]:
    """One change file as oracle-normalized events, in file order."""
    return [
        oracle.normalize_event(row, row["schema_id"])
        for row in pq.read_table(path).to_pylist()
    ]


def ts_window(events: list[dict]) -> tuple:
    """The 10th-90th percentile event time of a batch: a range scan over
    what just landed, without the few late stragglers."""
    ts = sorted(e["warc_ts"] for e in events if e["warc_ts"] is not None)
    return ts[len(ts) // 10], ts[-(len(ts) // 10) - 1]


class Target:
    """One table under ingest: its change directory (links to the backlog
    files handed to it so far), its stream checkpoint, and what was read
    from it, kept for the correctness gate. Each read is recorded with
    the index of the last change file applied when it was read:
    (after, key, rows), (after, window, urls), (after, changed urls)."""

    def __init__(self, root: str):
        self.live = os.path.join(root, "live")
        self.table = os.path.join(root, "table")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.input_files: list[str] = []
        self.lookups: list[tuple[int, str, list]] = []
        self.scans: list[tuple[int, tuple, set]] = []
        self.cdfs: list[tuple[int, set]] = []


class Run:
    """Tables, samples and counts of one pass of a workload (the warm-up
    and the measured pass each have their own)."""

    def __init__(self, seed: int, scratch: str, buckets: int, name: str):
        self.rng = random.Random(seed)
        self.root = os.path.join(scratch, name)
        self.buckets = buckets
        self.targets: list[Target] = []
        self.batch_s: list[float] = []
        # (events, seconds) of each drain of change files into a table
        self.drains: list[tuple[int, float]] = []
        self.attempted = 0
        self.failed = 0
        self._summaries: dict[str, tuple[list[str], tuple]] = {}

    def summary(self, path: str) -> tuple[list[str], tuple]:
        """The urls a change file writes and its event-time window, read
        once per file name (the backfill hands its tables the same
        files)."""
        name = os.path.basename(path)
        if name not in self._summaries:
            events = file_events(path)
            self._summaries[name] = (
                sorted({e["url"] for e in events if e["url"]}),
                ts_window(events),
            )
        return self._summaries[name]

    def new_target(self) -> Target:
        t = Target(os.path.join(self.root, f"t{len(self.targets)}"))
        self.targets.append(t)
        return t


# --------------------------------------------------------- workloads
def drain(run: Run, tr: Tracer, spark, listener: TriggerTimes, target: Target,
          files: list[str], per_trigger: int, maintain_every: int = 0,
          compact: bool = False) -> None:
    """Hand `files` to the target's change directory and drain them with
    run_stream (availableNow, as jobs/cdc_ingest.py does); optionally
    compact once at the end."""
    os.makedirs(target.live, exist_ok=True)
    for f in files:
        dst = os.path.join(target.live, os.path.basename(f))
        os.link(f, dst)
        target.input_files.append(dst)
    events = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    if not LakeTable.exists(target.table):
        create_pages_table(target.table, num_buckets=run.buckets)
    seen = len(listener.seconds)
    with tr.span("ingest") as ingest:
        with tr.span("streaming.run") as s:
            res = run_stream(
                spark, target.live, target.table, target.checkpoint,
                max_files_per_trigger=per_trigger, maintain_every=maintain_every,
            )
        if compact:
            LakeTable.load(target.table).compact(spark)
    triggers = res.batches_applied + res.batches_skipped
    s.attrs["triggers"] = triggers
    s.attrs["input_bytes"] = sum(os.path.getsize(f) for f in files)
    run.batch_s += listener.wait_for(seen + triggers)[seen:]
    run.drains.append((events, ingest.wall))
    run.attempted += triggers


def read_round(run: Run, tr: Tracer, spark, target: Target, n_lookups: int,
               n_scans: int) -> None:
    """Reads of the table as the last drain left it, each materialized
    on the driver inside its span: point lookups of keys the newest
    change file wrote, event-time range scans over the events of each of
    the newest `n_scans` files, and the change feed of the last two
    commits."""
    table = LakeTable.load(target.table)
    after = len(target.input_files) - 1
    urls, _ = run.summary(target.input_files[-1])
    for k in run.rng.sample(urls, min(n_lookups, len(urls))):
        with tr.span("table.lookup"):
            rows = table.lookup(spark, k).collect()
        target.lookups.append((after, k, rows))
    for f in reversed(target.input_files[-n_scans:]):
        w = run.summary(f)[1]
        with tr.span("table.scan"):
            rows = table.scan(spark, ts_range=w).collect()
        target.scans.append((after, w, {r["url"] for r in rows}))
    v = table.manifest["version"]
    with tr.span("table.cdf"):
        rows = table.changes_between(spark, max(0, v - 2), v).collect()
    target.cdfs.append((after, {r["url"] for r in rows}))


def bulk_backfill(run: Run, tr: Tracer, spark, listener, backlog: list[str],
                  units: int) -> None:
    """Per unit: backfill the whole backlog into a fresh table, a few
    change files per trigger, compact once, then one round of reads of
    the compacted table, with a range scan per change file."""
    for _ in range(units):
        t = run.new_target()
        drain(run, tr, spark, listener, t, backlog,
              per_trigger=BULK_FILES_PER_TRIGGER, compact=True)
        read_round(run, tr, spark, t, n_lookups=4, n_scans=BULK_FILES)


def tail_trickle(run: Run, tr: Tracer, spark, listener, backlog: list[str],
                 units: int) -> None:
    """The tail as a scheduled availableNow job. Per unit (round): the
    next few one-file triggers, with maintenance (snapshot expiry, and
    compaction once a bucket holds more than 8 delta files) interleaved
    every few triggers, then a round of reads beside the delta files the
    round left."""
    t = run.new_target()
    for i in range(units):
        files = backlog[i * TRICKLE_FILES_PER_ROUND : (i + 1) * TRICKLE_FILES_PER_ROUND]
        drain(run, tr, spark, listener, t, files,
              per_trigger=1, maintain_every=TRICKLE_MAINTAIN_EVERY)
        read_round(run, tr, spark, t, n_lookups=2, n_scans=1)


def bulk_backlog(seed: int, out: str, warm_units: int, units: int):
    """48k events on mostly distinct urls (2000 hosts). The warm-up and
    every measured unit backfill the same files into fresh tables."""
    ev = gen_change_events(seed, BULK_EVENTS, n_hosts=2000)
    files = write_change_files(ev, out, n_files=BULK_FILES)
    return files, files


def trickle_backlog(seed: int, out: str, warm_units: int, units: int):
    """1k events per file on hot keys (10 hosts, 1000 urls). The warm-up
    drains the head of the stream into its own table, the measured
    rounds the rest."""
    n = TRICKLE_FILES_PER_ROUND * (warm_units + units)
    ev = gen_change_events(seed, TRICKLE_EVENTS_PER_FILE * n, n_hosts=10, n_paths=100)
    files = write_change_files(ev, out, n_files=n)
    head = TRICKLE_FILES_PER_ROUND * warm_units
    return files[:head], files[head:]


# Per workload: the function that drives it; its backlog, written before anything is
# timed, as (warm-up files, measured files); the seconds one unit takes
# on a 4-core host (--seconds of measured work is --seconds / unit_s
# units, at least one); and the units run on throwaway tables before
# timing starts. The first warm-up unit carries the one-time costs; the
# backfill needs a second before its drains stop speeding up as the JIT
# compiles the per-event path.
WORKLOADS = {
    "bulk_backfill": dict(drive=bulk_backfill, backlog=bulk_backlog, unit_s=6.5, warm_units=2),
    "tail_trickle": dict(drive=tail_trickle, backlog=trickle_backlog, unit_s=6.5, warm_units=1),
}


# ------------------------------------------------------- correctness
def table_digest(spark, path: str) -> tuple:
    """Row count and an order-independent hash of (url, text, html)."""
    df = LakeTable.load(path).scan(spark)
    h = F.xxhash64("url", "text", "html").cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)), F.sum(h)).first()
    return (row[0], str(row[1]))


class Oracle:
    """The single-threaded replay of one sequence of change files: the
    final state (what `oracle.replay_dir` gives for a directory holding
    these files), and per file index the state after it."""

    def __init__(self, files: list[str]):
        events_per_file = [file_events(f) for f in files]
        self.final = oracle.replay([e for evs in events_per_file for e in evs])
        self.by_key: dict[str, list[tuple[int, dict]]] = {}
        for i, evs in enumerate(events_per_file):
            for e in evs:
                self.by_key.setdefault(e["url"], []).append((i, e))
        # live keys and their event time after each file: per-key winners
        # by (warc_ts, op_seq)
        winners: dict[str, dict] = {}
        self.live_after: list[dict[str, object]] = []
        for evs in events_per_file:
            for e in evs:
                if oracle.is_valid(e):
                    w = winners.get(e["url"])
                    if w is None or (e["warc_ts"], e["op_seq"]) >= (w["warc_ts"], w["op_seq"]):
                        winners[e["url"]] = e
            self.live_after.append(
                {u: w["warc_ts"] for u, w in winners.items() if w["op"] != "D"}
            )

    def row_after(self, key: str, after: int) -> dict | None:
        return oracle.replay([e for i, e in self.by_key.get(key, []) if i <= after]).get(key)


def same_row(got, want: dict) -> bool:
    html = bytes(got["html"]) if got["html"] is not None else None
    return got["text"] == want["text"] and html == want["html"]


def check(run: Run, spark) -> float:
    """Compare every table and everything read from it with the oracle;
    count each mismatch as a failed operation. Targets fed the same
    change files share one oracle; the first of them is compared key by
    key, and the others by digest against it. Returns the oracle's own
    replay time."""
    replay_s = 0.0
    oracles: dict[tuple, tuple[Oracle, tuple]] = {}
    for t in run.targets:
        run.attempted += 1
        names = tuple(os.path.basename(f) for f in t.input_files)
        if names in oracles:
            o, digest = oracles[names]
            if table_digest(spark, t.table) != digest:
                run.failed += 1
                print(f"{t.table} differs from a verified table of the same input",
                      file=sys.stderr)
        else:
            t0 = time.perf_counter()
            o = Oracle(t.input_files)
            replay_s += time.perf_counter() - t0
            oracles[names] = (o, table_digest(spark, t.table))
            got = {
                r["url"]: r
                for r in LakeTable.load(t.table).scan(spark)
                .select("url", "text", "html").collect()
            }
            bad = set(got) ^ set(o.final)
            bad.update(u for u in set(got) & set(o.final) if not same_row(got[u], o.final[u]))
            if bad:
                run.failed += 1
                print(f"{t.table} differs from the oracle on {len(bad)} keys",
                      file=sys.stderr)

        for after, key, rows in t.lookups:
            run.attempted += 1
            want = o.row_after(key, after)
            ok = not rows if want is None else len(rows) == 1 and same_row(rows[0], want)
            run.failed += not ok
        for after, (lo, hi), urls in t.scans:
            run.attempted += 1
            run.failed += urls != {
                u for u, ts in o.live_after[after].items() if lo <= ts <= hi
            }
        for after, urls in t.cdfs:
            run.attempted += 1
            run.failed += not all(
                any(i <= after for i, _ in o.by_key.get(u, ())) for u in urls
            )
    return replay_s


# ------------------------------------------------------------ metrics
def table_state(table_path: str) -> dict:
    table = LakeTable.load(table_path)
    files = table.manifest["files"]
    meta = os.path.join(table_path, "meta")
    manifest_bytes = os.path.getsize(
        os.path.join(meta, f"v{table.manifest['version']}.json")
    ) + sum(
        os.path.getsize(os.path.join(table_path, s["path"]))
        for s in table.manifest.get("manifest_list", [])
    )
    return {
        "files_live": len(files),
        "delta_files_live": sum(f["kind"] == "delta" for f in files),
        "data_bytes": sum(f["bytes"] for f in files),
        "manifest_bytes": manifest_bytes,
    }


def end_to_end(run: Run, tr: Tracer, setup_s: float, state: dict,
               peak_bytes: int) -> dict:
    last = run.targets[-1]
    input_bytes = sum(os.path.getsize(f) for f in last.input_files)
    lookups_ms = [1000 * s.wall for s in tr.named("table.lookup")]
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": statistics.median(e / s for e, s in run.drains),
        "batch_p50_s": quantile(run.batch_s, 0.5),
        "batch_p90_s": quantile(run.batch_s, 0.9),
        "lookup_p50_ms": quantile(lookups_ms, 0.5),
        "lookup_p90_ms": quantile(lookups_ms, 0.9),
        "range_scan_p50_s": statistics.median(s.wall for s in tr.named("table.scan")),
        "cdf_read_p50_s": statistics.median(s.wall for s in tr.named("table.cdf")),
        "lake_bytes_per_input_byte": state["data_bytes"] / input_bytes,
        "peak_rss_mb": peak_bytes / 2**20,
    }


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    # run.py stops this process group with SIGTERM; unwind so the
    # session is stopped in `finally`
    signal.signal(signal.SIGTERM, _on_sigterm)
    parent = os.getppid()
    _die_with_parent()

    sizing = host_sizing()
    spec = WORKLOADS[args.workload]
    units = max(1, round(args.seconds / spec["unit_s"]))
    spark = None
    try:
        t0 = time.perf_counter()
        warm_files, files = spec["backlog"](
            args.seed, os.path.join(args.scratch, "changes"), spec["warm_units"], units
        )
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        event_log = os.path.join(args.scratch, "eventlog") if args.trace else None
        spark = start_session(args.scratch, sizing, event_log)
        session_s = time.perf_counter() - t0
        listener = TriggerTimes()
        spark.streams.addListener(listener)

        t0 = time.perf_counter()
        warm = Run(args.seed, args.scratch, sizing["nproc"], "warm")
        spec["drive"](warm, Tracer(spark, tag_jobs=False), spark, listener, warm_files,
                      spec["warm_units"])
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start

        run = Run(args.seed, args.scratch, sizing["nproc"], "measured")
        tr = Tracer(spark, tag_jobs=bool(args.trace))
        if args.trace:
            tr.patch()
        try:
            with PeakMemory() as mem, tr.span("measure") as measure:
                spec["drive"](run, tr, spark, listener, files, units)
        finally:
            tr.unpatch()

        t_check = time.perf_counter()
        replay_s = check(run, spark)
        state = table_state(run.targets[-1].table)
        e2e = end_to_end(run, tr, setup_s, state, mem.peak)
        spark.stop()
        spark = None

        result = {
            "workload": args.workload,
            "seed": args.seed,
            "host": sizing,
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "measure_s": measure.wall,
            "phases": {
                "datagen_s": gen_s,
                "session_s": session_s,
                "warmup_s": warmup_s,
                "measure_s": measure.wall,
                "check_s": time.perf_counter() - t_check,
                "warm_drain_s": [s for _, s in warm.drains],
                "drain_s": [s for _, s in run.drains],
            },
            "samples": {
                "units": units,
                "drains": len(run.drains),
                "batches": len(run.batch_s),
                "lookups": len(tr.named("table.lookup")),
                "range_scans": len(tr.named("table.scan")),
                "cdf_reads": len(tr.named("table.cdf")),
            },
            "end_to_end": e2e,
        }
        if args.trace:
            layers = layer_metrics(tr, read_event_log(event_log), measure)
            layers.update(
                {
                    "table.files_live": state["files_live"],
                    "table.delta_files_live": state["delta_files_live"],
                    "table.manifest_bytes": state["manifest_bytes"],
                    "session.start_s": session_s,
                    "datagen.gen_s": gen_s,
                    "warmup_s": warmup_s,
                    "oracle.replay_s": replay_s,
                }
            )
            result["layers"] = layers
        with open(args.result, "w") as fh:
            json.dump(result, fh)
        return 0
    finally:
        if os.getppid() != parent:
            _clean_up_alone(os.path.dirname(args.scratch))
        elif spark is not None:
            spark.stop()


def _on_sigterm(signum, frame) -> None:
    # if stopping the session hangs, exit anyway: the JVM exits when this
    # process does, and its Python workers when the JVM does
    timer = threading.Timer(20.0, os._exit, (143,))
    timer.daemon = True
    timer.start()
    sys.exit(143)


def _clean_up_alone(scratch_root: str) -> None:
    """run.py is gone and cannot clean up after this process: kill every
    other process of the run (the JVM, its Python workers), wait until
    none is left, and delete the run's scratch directory."""
    me = os.getpid()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        pids = [p for p in tagged_pids(os.environ.get(TOKEN_VAR, "")) if p != me]
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    shutil.rmtree(scratch_root, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch_root))
    except OSError:
        pass  # another run's scratch is still there


def _die_with_parent() -> None:
    """Ask the kernel for SIGTERM when run.py dies, even by SIGKILL."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    pr_set_pdeathsig = 1
    if libc.prctl(pr_set_pdeathsig, signal.SIGTERM, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_PDEATHSIG)")


if __name__ == "__main__":
    sys.exit(main())