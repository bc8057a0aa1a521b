"""Traced-run collector: the Spark event log, read from outside the engine.

The benchmark turns the event log on as a session conf, runs every
operation under its own job group (see workloads.Runner), and after
the session stops reads the rolled, zstd-compressed event files. Jobs,
tasks and SQL metrics (MapInArrow, Exchange, Sort) are grouped by job
group, so each lands on the benchmark span that caused it. A span's
driver self time is its wall time minus the union of its jobs'
intervals.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shlex
import statistics

import pyarrow as pa


def eventlog_submit_args(log_dir: str) -> list[str]:
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "true",
        "spark.eventLog.compression.codec": "zstd",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.rolling.maxFileSize": "16m",
    }
    return [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, in
    order across rolled files."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    files.sort(key=lambda f: int(re.match(r"events_(\d+)_",
                                          os.path.basename(f)).group(1)))
    events = []
    for f in files:
        with pa.OSFile(f) as raw:
            stream = (pa.CompressedInputStream(raw, "zstd")
                      if ".zstd" in f else raw)
            data = stream.read()
        events.extend(json.loads(line) for line in data.splitlines()
                      if line.strip())
    return events


_TIME_SCALE = {"timing": 1.0, "nsTiming": 1e-6}   # -> ms


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                   _TIME_SCALE.get(m["metricType"], 1.0))
    for child in node.get("children", []):
        _plan_metrics(child, out)


class OpStats:
    """What the event log recorded for one job group (one operation)."""

    def __init__(self):
        self.jobs: list[tuple[float, float]] = []
        self.tasks: list[dict] = []
        self.sql: dict[tuple[str, str], float] = {}

    def metric(self, node: str, name: str) -> float:
        return sum(v for (n, m), v in self.sql.items()
                   if n == node and m == name)


def collect(events: list[dict]) -> dict[str, OpStats]:
    accs: dict[int, tuple[str, str, float]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    ops: dict[str, OpStats] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], accs)
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                job_group[e["Job ID"]] = group
                job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            ops.setdefault(job_group[e["Job ID"]], OpStats()).jobs.append(
                (job_start[e["Job ID"]], e["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            op = ops.setdefault(stage_group[e["Stage ID"]], OpStats())
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            op.tasks.append({
                "stage": e["Stage ID"],
                "ms": info["Finish Time"] - info["Launch Time"],
                "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": tm.get("JVM GC Time", 0),
            })
            for a in info.get("Accumulables", []):
                meta = accs.get(a["ID"])
                if meta is None or a.get("Update") is None:
                    continue
                node, name, scale = meta
                key = (node, name)
                op.sql[key] = op.sql.get(key, 0.0) + float(a["Update"]) * scale
    return ops


def self_ms(span: dict, op: OpStats | None) -> float:
    """Span wall time minus the union of its jobs' intervals."""
    lo, hi = span["start_ms"], span["start_ms"] + span["ms"]
    covered, cur = 0.0, lo
    for a, b in sorted(op.jobs if op else []):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return span["ms"] - covered


def task_skew(op: OpStats) -> float:
    """Slowest over median task time in the op's busiest stage."""
    by_stage: dict[int, list[float]] = {}
    for t in op.tasks:
        by_stage.setdefault(t["stage"], []).append(t["ms"])
    if not by_stage:
        return 0.0
    ms = max(by_stage.values(), key=sum)
    mid = statistics.median(ms)
    return max(ms) / mid if mid else 0.0


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def span_metrics(spans: list[dict], ops: dict[str, OpStats], cores: int,
                 encode_kinds, scan_kinds) -> dict:
    """Per-layer metrics from the timed spans and their event-log jobs.
    A layer the workload does not exercise reports 0."""
    timed = [s for s in spans if s["phase"] == "timed" and s["ok"]]
    maint = [s for s in spans if s["phase"] == "maint" and s["ok"]]
    enc = [s for s in timed if s["kind"] in encode_kinds]
    scan = [s for s in timed if s["kind"] in scan_kinds]
    reads = [s for s in timed if s.get("read")]
    aggs = [s for s in timed if s.get("agg")]
    empty = OpStats()

    def op(s):
        return ops.get(s["id"], empty)

    def sql(sel, node, name):
        return _median([op(s).metric(node, name) for s in sel])

    def selfs(sel):
        return _median([self_ms(s, ops.get(s["id"])) for s in sel])

    lookups = [s for s in timed if s["kind"] in ("lookup", "probe")]
    base = _median([s["ms"] for s in lookups])
    stalls = []
    compacts = [s for s in maint if s["kind"] == "compact"]
    for c in compacts:
        after = [s for s in maint if s["kind"] == "lookup"
                 and s["start_ms"] > c["start_ms"]]
        if after:
            stalls.append(after[0]["ms"] - base)
    tasks = [t for s in timed for t in op(s).tasks]
    user = sum(s.get("user_bytes", 0) for s in timed)
    meta_total = sum(s.get("chunks_total", 0) for s in aggs)
    return {
        "encode.exchange_bytes": sql(enc, "Exchange", "shuffle bytes written"),
        "encode.exchange_write_ms": sql(enc, "Exchange", "shuffle write time"),
        "encode.sort_ms": sql(enc, "Sort", "sort time"),
        "encode.sort_spill_bytes": sql(enc, "Sort", "spill size"),
        "encode.arrow_bytes_to_py": sql(enc, "MapInArrow",
                                        "data sent to Python workers"),
        "encode.py_run_ms": sql(enc, "MapInArrow", "time to run Python workers"),
        "encode.task_skew": _median([task_skew(op(s)) for s in enc]),
        "decode.py_run_ms": sql(scan, "MapInArrow", "time to run Python workers"),
        "decode.arrow_bytes_from_py": sql(scan, "MapInArrow",
                                          "data returned from Python workers"),
        "io_tables.read_plan_ms": selfs(reads),
        "io_tables.write_driver_ms": selfs(enc),
        "io_tables.jobs_per_op": (sum(len(op(s).jobs) for s in timed)
                                  / len(timed) if timed else 0.0),
        "io_tables.compact_ms": _median([s["ms"] for s in compacts]),
        "io_tables.compact_stall_ms": _median(stalls),
        # the loop's writes plus the compaction that follows them
        "io_tables.bytes_written_per_user_byte": (
            sum(s.get("written_bytes", 0) for s in timed + maint) / user
            if user else 0.0),
        "agg.chunks_meta_frac": (sum(s.get("chunks_meta", 0) for s in aggs)
                                 / meta_total if meta_total else 0.0),
        "agg.driver_ms": selfs(aggs),
        "spark.gc_ms": sum(t["gc_ms"] for t in tasks),
        "spark.cpu_util": (sum(t["cpu_ms"] for t in tasks)
                           / (sum(s["ms"] for s in timed) * cores)
                           if timed else 0.0),
        "spark.py_worker_start_ms": sum(
            op(s).metric("MapInArrow", "time to start Python workers")
            for s in timed),
    }
