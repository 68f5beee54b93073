"""Spans around calls into the engine's layers, and Spark's own stage
metrics read back from its event log.

A span is one call into a layer: its name, wall-clock start and end
(epoch seconds, the clock Spark's event log uses), the span that caused
it, and a few counts taken from the call's return value. Spans are kept
in memory and turned into per-layer metrics when the run ends.

In a traced run `Tracer.patch` wraps the engine functions that the
workloads reach only indirectly (the micro-batch apply inside
`run_stream`, the table's merge and maintenance, manifest pruning), and
every span tags the Spark jobs it starts with `setJobDescription`. The
event log (`spark.eventLog.*`, written to a benchmark-owned directory)
is then parsed with the standard `json` module, and each job, with its
stages, is attributed to the span that started it. Nothing in the
engine's package is changed: the wrappers are installed on the
imported modules for the life of the run and removed afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

_DESC_KEY = "spark.job.description"
_DESC_PREFIX = "perfbench#"

# Arrow-eval SQL metrics of the winners-only text extraction.
_PY_TIME = "time to run Python workers"
_PY_ROWS = "number of output rows"


class Span:
    __slots__ = ("id", "parent", "name", "start", "end", "attrs")

    def __init__(self, sid: int, parent: int | None, name: str, start: float):
        self.id = sid
        self.parent = parent
        self.name = name
        self.start = start
        self.end = start
        self.attrs: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. `tag_jobs` makes each span label the Spark jobs
    started inside it, so the event log can be attributed afterwards.

    One client drives the engine, so spans nest strictly; the stack is
    shared between the driving thread and the py4j callback thread that
    runs `foreachBatch`, and guarded by a lock."""

    def __init__(self, spark, tag_jobs: bool):
        self.spark = spark
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), parent, name, time.time())
            self.spans.append(s)
            self._stack.append(s)
        sc = self.spark.sparkContext
        prev = None
        if self.tag_jobs:
            prev = sc.getLocalProperty(_DESC_KEY)
            sc.setJobDescription(f"{_DESC_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            if self.tag_jobs:
                sc.setLocalProperty(_DESC_KEY, prev)
            with self._lock:
                self._stack.remove(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # ------------------------------------------------------ patching
    def _wrap(self, owner, attr: str, name: str, record=None) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if record is not None:
                    record(s, out, args)
                return out

        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def patch(self) -> None:
        """Wrap the engine calls the workloads reach only indirectly."""
        from tiger_etl_spark.cdc import streaming
        from tiger_etl_spark.lake import pruning
        from tiger_etl_spark.lake.table import LakeTable

        def lineage(s, rec, args):
            s.attrs["lineage"] = rec

        def written(s, stats, args):
            s.attrs["bytes_written"] = stats.bytes_written

        def kept(s, files, args):
            s.attrs["files_kept"] = len(files)
            s.attrs["files_total"] = len(args[0]["files"])

        self._wrap(streaming, "apply_changes", "pipeline.apply", lineage)
        self._wrap(LakeTable, "merge", "table.merge", written)
        self._wrap(LakeTable, "compact", "table.compact", written)
        self._wrap(LakeTable, "maintain", "table.maintain")
        # LakeTable.plan_files imports this name at call time
        self._wrap(pruning, "plan_files", "pruning.plan", kept)

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------- event log
def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from the Spark event log(s) under `log_dir`.

    Stage totals come from `SparkListenerStageCompleted` (its internal
    task-metric accumulables). The Arrow-eval Python time is a SQL metric:
    its accumulator ids are read from the plans in the SQL execution
    events, and its per-task updates are summed per stage."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    py_acc: dict[int, tuple[str, float]] = {}
    task_updates: list[tuple[int, int, float]] = []

    def walk(node: dict) -> None:
        if node.get("nodeName") == "ArrowEvalPython":
            for m in node.get("metrics", []):
                if m["name"] == _PY_TIME:
                    scale = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
                    py_acc[m["accumulatorId"]] = ("python_s", scale)
                elif m["name"] == _PY_ROWS:
                    py_acc[m["accumulatorId"]] = ("python_rows", 1.0)
        for child in node.get("children", []):
            walk(child)

    paths = [
        p
        for p in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True))
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    walk(e["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get(_DESC_KEY),
                        "submit": e["Submission Time"] / 1000,
                        "end": e["Submission Time"] / 1000,
                        "stages": list(e["Stage IDs"]),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    acc = {
                        a["Name"]: a.get("Value")
                        for a in info.get("Accumulables", [])
                        if a.get("Name", "").startswith("internal.metrics.")
                    }

                    def m(name: str) -> int:
                        return int(acc.get("internal.metrics." + name) or 0)

                    stages[info["Stage ID"]] = {
                        "submit": info.get("Submission Time", 0) / 1000,
                        "complete": info.get("Completion Time", 0) / 1000,
                        "shuffle_write_bytes": m("shuffle.write.bytesWritten"),
                        "shuffle_write_records": m("shuffle.write.recordsWritten"),
                        "shuffle_read_bytes": m("shuffle.read.localBytesRead")
                        + m("shuffle.read.remoteBytesRead"),
                        "spill_bytes": m("memoryBytesSpilled") + m("diskBytesSpilled"),
                        "gc_s": m("jvmGCTime") / 1000,
                        "python_s": 0.0,
                        "python_rows": 0.0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if "Update" in a and not str(a.get("Name", "")).startswith(
                            "internal."
                        ):
                            task_updates.append(
                                (e["Stage ID"], a["ID"], float(a["Update"]))
                            )
    for stage_id, acc_id, value in task_updates:
        if acc_id in py_acc and stage_id in stages:
            key, scale = py_acc[acc_id]
            stages[stage_id][key] += value * scale
    return {"jobs": jobs, "stages": stages}


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(tracer: Tracer, log: dict, measure: Span) -> dict:
    """Per-layer metrics of the timed region `measure`.

    Each job is attributed to the span named in its description, or,
    for a job started on a thread the span did not label (the
    quarantine split runs on its own thread), to the innermost span open
    at its submission time. Only jobs under `measure` count."""
    spans = {s.id: s for s in tracer.spans}

    def ancestors(s: Span):
        while s is not None:
            yield s
            s = spans.get(s.parent) if s.parent is not None else None

    def under(s: Span, root: Span) -> bool:
        return any(a.id == root.id for a in ancestors(s))

    inside = [s for s in tracer.spans if under(s, measure)]

    def innermost(t: float) -> Span | None:
        best = None
        for s in inside:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    owner: dict[int, Span] = {}
    for jid, job in log["jobs"].items():
        desc = job["desc"] or ""
        s = None
        if desc.startswith(_DESC_PREFIX):
            s = spans.get(int(desc[len(_DESC_PREFIX):]))
        if s is None:
            s = innermost(job["submit"])
        if s is not None and under(s, measure):
            owner[jid] = s

    def jobs_under(root: Span) -> list[int]:
        return [j for j, s in owner.items() if under(s, root)]

    def stages_of(job_ids) -> list[dict]:
        seen: dict[int, dict] = {}
        for j in job_ids:
            for sid in log["jobs"][j]["stages"]:
                if sid in log["stages"]:
                    seen[sid] = log["stages"][sid]
        return list(seen.values())

    def top_level(names: set[str]) -> list[Span]:
        return [
            s
            for s in inside
            if s.name in names
            and not any(a.name in names for a in ancestors(spans.get(s.parent)))
        ]

    applies = [s for s in inside if s.name == "pipeline.apply"]
    apply_jobs = [j for a in applies for j in jobs_under(a)]
    apply_stages = stages_of(apply_jobs)
    reduce_st = [st for st in apply_stages if st["shuffle_read_bytes"] > 0]
    map_st = [
        st
        for st in apply_stages
        if st["shuffle_read_bytes"] == 0 and st["shuffle_write_bytes"] > 0
    ]
    driver_s = 0.0
    for a in applies:
        ivs = [
            (max(a.start, log["jobs"][j]["submit"]), min(a.end, log["jobs"][j]["end"]))
            for j in jobs_under(a)
        ]
        driver_s += a.wall - _union_len([iv for iv in ivs if iv[1] > iv[0]])

    runs = [s for s in inside if s.name == "streaming.run"]
    run_wall = sum(s.wall for s in runs)
    run_apply = sum(
        a.wall for a in applies if any(under(a, r) for r in runs)
    )
    lineage = [a.attrs["lineage"] for a in applies if "lineage" in a.attrs]
    rows_in = sum(r.rows_in for r in lineage)
    rows_applied = sum(r.rows_applied for r in lineage)
    skews = []
    for r in lineage:
        counts = list(r.partition_counts.values())
        if counts and sum(counts):
            skews.append(max(counts) / (sum(counts) / len(counts)))

    def total(name: str) -> float:
        return sum(s.wall for s in inside if s.name == name)

    maint = top_level({"table.maintain", "table.compact"})
    plans = [
        p
        for p in inside
        if p.name == "pruning.plan"
        and any(a.name == "table.lookup" for a in ancestors(p))
    ]
    kept = sum(p.attrs.get("files_kept", 0) for p in plans)
    seen_files = sum(p.attrs.get("files_total", 0) for p in plans)
    all_stages = stages_of(owner)
    ingest_wall = total("ingest")
    # maintenance inside run_stream is already part of its overhead
    busy = (
        sum(st["complete"] - st["submit"] for st in map_st + reduce_st)
        + driver_s
        + (run_wall - run_apply)
        + sum(
            s.wall
            for s in maint
            if any(a.name == "ingest" for a in ancestors(s))
            and not any(a.name == "streaming.run" for a in ancestors(s))
        )
    )
    return {
        "streaming.wall_s": run_wall,
        "streaming.overhead_s": run_wall - run_apply,
        "streaming.triggers": sum(s.attrs.get("triggers", 0) for s in runs),
        "pipeline.apply_s": sum(a.wall for a in applies),
        "pipeline.apply_calls": len(applies),
        "pipeline.driver_s": driver_s,
        "pipeline.jobs_per_batch": len(apply_jobs) / max(1, len(applies)),
        "pipeline.map_stage_s": sum(st["complete"] - st["submit"] for st in map_st),
        # Spark's input.bytesRead misses what the Parquet reader reads off
        # the task thread; count the change files handed to run_stream
        "sources.input_bytes": sum(s.attrs.get("input_bytes", 0) for s in runs),
        "pipeline.reduce_stage_s": sum(
            st["complete"] - st["submit"] for st in reduce_st
        ),
        "pipeline.shuffle_bytes": sum(st["shuffle_write_bytes"] for st in apply_stages),
        "pipeline.shuffle_records": sum(
            st["shuffle_write_records"] for st in apply_stages
        ),
        "pipeline.spill_bytes": sum(st["spill_bytes"] for st in apply_stages),
        "pipeline.bucket_skew": sum(skews) / len(skews) if skews else 0.0,
        "pipeline.rows_in": rows_in,
        "pipeline.rows_applied": rows_applied,
        "pipeline.winner_ratio": rows_applied / rows_in if rows_in else 0.0,
        "pipeline.rows_quarantined": sum(r.rows_quarantined for r in lineage),
        "pipeline.rows_late": sum(r.rows_late for r in lineage),
        # summed over the tasks, which run in parallel
        "text.python_s": sum(st["python_s"] for st in apply_stages),
        "text.rows": sum(st["python_rows"] for st in apply_stages),
        "table.merge_s": total("table.merge"),
        "table.bytes_written": sum(
            s.attrs.get("bytes_written", 0) for s in inside if s.name == "table.merge"
        ),
        "table.maintain_s": sum(s.wall for s in maint),
        "table.compact_bytes_rewritten": sum(
            s.attrs.get("bytes_written", 0) for s in inside if s.name == "table.compact"
        ),
        "table.lookup_s": total("table.lookup"),
        "table.scan_s": total("table.scan"),
        "table.cdf_s": total("table.cdf"),
        "pruning.plan_s": total("pruning.plan"),
        "pruning.files_read_per_lookup": kept / len(plans) if plans else 0.0,
        "pruning.skip_ratio": 1 - kept / seen_files if seen_files else 0.0,
        "jvm.gc_s": sum(st["gc_s"] for st in all_stages),
        "trace.ingest_cover_pct": 100 * busy / ingest_wall if ingest_wall else 0.0,
    }
