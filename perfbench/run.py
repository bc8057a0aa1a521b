#!/usr/bin/env python3
"""tokcodec benchmark: one seeded, closed-loop workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_encode --seed 1 --seconds 15 --trace 0

Workloads: bulk_encode and append_lookup, the two in BENCHMARK.json, and
train_scan, which is run by hand (see README.md).
With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` the session also writes a Spark event log,
and the last line carries the per-layer metrics. The line before it
holds the per-workload detail. Every operation's answer is checked;
the full record of a run goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from replay import INT_CODECS, STR_CODECS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "mtok_s": "Mtok/s",
    "p50_ms": "ms",
    "bytes_ratio": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "encode.exchange_bytes": ("B", "lower"),
    "encode.exchange_write_ms": ("ms", "lower"),
    "encode.sort_ms": ("ms", "lower"),
    "encode.sort_spill_bytes": ("B", "lower"),
    "encode.arrow_bytes_to_py": ("B", "lower"),
    "encode.py_run_ms": ("ms", "lower"),
    "encode.task_skew": ("ratio", "lower"),
    "encode.bucket_mtok_s": ("Mtok/s", "higher"),
    "stats.ms_per_mtok": ("ms/Mtok", "lower"),
    "selector.ms_per_mtok": ("ms/Mtok", "lower"),
    "selector.fsst_trial_waste": ("ratio", "lower"),
    "selector.regret": ("ratio", "lower"),
    **{f"codecs.{c}.{d}_mb_s": ("MB/s", "higher")
       for c in INT_CODECS + STR_CODECS for d in ("enc", "dec")},
    # byte share per codec: more bytes left in the uncompressed codecs
    # is the direction to avoid
    **{f"codecs.share.{c}": ("ratio", "lower" if c.startswith("plain")
                             else "higher")
       for c in INT_CODECS + STR_CODECS},
    "blocks.zstd_ms_per_mtok": ("ms/Mtok", "lower"),
    "blocks.zstd_kept_frac": ("ratio", "higher"),
    "blocks.crc_ms_per_mtok": ("ms/Mtok", "lower"),
    "blocks.unzstd_ms_per_mtok": ("ms/Mtok", "lower"),
    "decode.py_run_ms": ("ms", "lower"),
    "decode.arrow_bytes_from_py": ("B", "lower"),
    "decode.bucket_mtok_s": ("Mtok/s", "higher"),
    "io_tables.read_plan_ms": ("ms", "lower"),
    "io_tables.jobs_per_op": ("count", "lower"),
    "io_tables.write_driver_ms": ("ms", "lower"),
    "io_tables.compact_ms": ("ms", "lower"),
    "io_tables.compact_stall_ms": ("ms", "lower"),
    "io_tables.bytes_written_per_user_byte": ("ratio", "lower"),
    "lineage.runs_live": ("count", "lower"),
    "bloom.build_ms_per_mtok": ("ms/Mtok", "lower"),
    "bloom.chunks_pruned_frac": ("ratio", "higher"),
    "bloom.false_positive_frac": ("ratio", "lower"),
    "agg.chunks_meta_frac": ("ratio", "higher"),
    "agg.driver_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.cpu_util": ("ratio", "higher"),
    "spark.py_worker_start_ms": ("ms", "lower"),
    "host.memcpy_gbps": ("GB/s", "higher"),
}
DETAIL_UNITS = {"write_mtok_s": "Mtok/s", "scan_mtok_s": "Mtok/s",
               "append_mtok_s": "Mtok/s", "lookup_n": "count",
               "bytes_ratio": "ratio", "failed_ops_frac": "ratio",
               "jvm_rss_mb": "MB"}


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Session settings that must exist before the JVM starts. Everything
    the run writes stays under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # executor-side Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = ["--conf spark.ui.showConsoleProgress=false",
            "--conf " + shlex.quote(
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
                # a heap that starts at its full size: no resizing
                # and fewer collections while the loop runs
                f" -Xms{DRIVER_MEMORY}")]
    if trace:
        from eventlog import eventlog_submit_args

        os.makedirs(os.path.join(work, "eventlog"))
        args += eventlog_submit_args(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_spark(cores: int):
    from tokcodec.session import get_spark, warm_python_workers

    spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                      driver_memory=DRIVER_MEMORY)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait for each to end."""
    from pyspark import SparkContext

    from host import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def table_facts(spark, w) -> dict:
    """Per-layer figures read from the table: live runs,
    byte share per codec, bloom pruning of one present and one absent
    key (explain_scan, which decodes nothing)."""
    import pyarrow.parquet as pq

    import tokcodec as tc

    facts = {"lineage.runs_live": len(tc.describe_encoded(spark, w.path)["epochs"])}
    by_codec: dict[str, int] = {}
    for root, _dirs, files in os.walk(os.path.join(w.path, "blocks")):
        for f in files:
            if f.startswith((".", "_")):
                continue
            t = pq.read_table(os.path.join(root, f), columns=["codec", "enc_bytes"])
            for codec, n in zip(t.column("codec").to_pylist(),
                                t.column("enc_bytes").to_pylist()):
                by_codec[codec] = by_codec.get(codec, 0) + n
    data_bytes = sum(by_codec.get(c, 0) for c in INT_CODECS + STR_CODECS)
    for c in INT_CODECS + STR_CODECS:
        facts[f"codecs.share.{c}"] = by_codec.get(c, 0) / data_bytes
    pruned = fp = 0.0
    if "doc_id" in w.BLOOM:
        hit = tc.explain_scan(spark, w.path, eq_filter=("doc_id", w.oracle.doc_id(0)))
        miss = tc.explain_scan(spark, w.path, eq_filter=("doc_id", "absent"))
        scanned = hit["chunks_scanned"] + miss["chunks_scanned"]
        pruned = 1 - scanned / (hit["chunks_total"] + miss["chunks_total"])
        # the present key lives in exactly one scanned chunk
        fp = (scanned - 1) / scanned if scanned else 0.0
    facts["bloom.chunks_pruned_frac"] = pruned
    facts["bloom.false_positive_frac"] = fp
    return facts


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: dict | None = None, oracle_hook=None) -> dict:
    """One benchmark run -> the full record. ``sizes`` overrides the
    workload's table sizes and ``oracle_hook(oracle)`` may edit the
    expected answers after set-up (both for the benchmark's own tests)."""
    import host
    from workloads import HEADLINE, SIZES, WORKLOADS, Runner, median

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    saved_env, saved_tmp = dict(os.environ), tempfile.tempdir
    configure_env(work, cores, trace)
    rec = {"workload": workload, "seed": seed, "seconds": seconds,
           "trace": trace, "cores": cores, "driver_memory": DRIVER_MEMORY}
    cpu0 = host.cpu_times()
    probes = [host.memcpy_gbps()]
    loads = [host.loadavg()]
    try:
        with host.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(cores)
            session_s = time.perf_counter() - t0
            try:
                r = Runner(spark, trace)
                w = WORKLOADS[workload](spark, r, work, seed, cores,
                                        sizes or SIZES[workload])
                setup = w.setup()
                if oracle_hook is not None:
                    oracle_hook(w.oracle)
                setup["session_s"] = session_s
                cpu1 = host.cpu_times()
                probes.append(host.memcpy_gbps())
                loads.append(host.loadavg())
                loop_s = w.loop(seconds)
                cpu2 = host.cpu_times()
                probes.append(host.memcpy_gbps())
                loads.append(host.loadavg())
                t0 = time.perf_counter()
                facts = {}
                if trace:
                    # the table as the loop left it, then the maintenance
                    # that only per-layer metrics read (it would add
                    # seconds to every untraced run for no bounded metric)
                    facts = table_facts(spark, w)
                    w.maintain()
                w.verify()
                ratio = w.bytes_ratio()
                after_s = time.perf_counter() - t0
            finally:
                t0 = time.perf_counter()
                stop_spark(spark)
                stop_s = time.perf_counter() - t0
        detail = w.metrics()
        peaks = [rss.peak_during(s["start_ms"], s["start_ms"] + s["ms"])
                 for s in r.spans if s["phase"] == "timed"]
        detail["jvm_rss_mb"] = median([jvm for jvm, _ in peaks]) / 2**20
        mtok, p50 = HEADLINE[workload]
        e2e = {
            "setup_s": session_s + setup["input_s"]
            + median(setup["prebuild_s"]) + setup["warmup_s"],
            "mtok_s": detail[mtok],
            "p50_ms": detail[p50],
            "bytes_ratio": ratio,
            # the Python side of the tree (driver and workers), where the
            # engine's own buffers live; median over timed operations of
            # each one's peak. The JVM's share follows the collector's
            # heap sizing and moved by half between identical runs, so
            # it is reported apart (jvm_rss_mb).
            "peak_rss_mb": median([py for _, py in peaks]) / 2**20,
        }
        kinds: dict[str, int] = {}
        for s in r.spans:
            if s["phase"] == "timed":
                kinds[s["kind"]] = kinds.get(s["kind"], 0) + 1
        rec.update(
            rows=w.oracle.rows, tokens=w.oracle.tokens, setup=setup,
            loop_s=loop_s, verify_s=after_s, stop_s=stop_s, ops=kinds,
            spans=r.spans, attempted=r.attempted, failed=r.failed,
            end_to_end=e2e,
            detail={**detail, "bytes_ratio": ratio,
                    "failed_ops_frac": r.failed / max(r.attempted, 1)},
            host={"memcpy_gbps": probes, "loadavg": loads,
                  "setup": host.steal_iowait(cpu0, cpu1),
                  "timed": host.steal_iowait(cpu1, cpu2)},
        )
        if trace:
            import eventlog as tr
            from replay import replay

            ops = tr.collect(tr.read_events(os.path.join(work, "eventlog")))
            layers = tr.span_metrics(r.spans, ops, cores, w.ENCODE_KINDS,
                                     w.SCAN_KINDS)
            replayed, replay_spans = replay(w.oracle.parts[0], w.n_buckets,
                                            w.BLOOM)
            layers.update(replayed)
            layers.update(facts)
            layers["host.memcpy_gbps"] = median(probes)
            rec.update(per_layer=layers, replay_spans=replay_spans,
                       event_log={k: {"jobs": v.jobs,
                                      "sql": {"/".join(nm): x
                                              for nm, x in v.sql.items()}}
                                  for k, v in ops.items()})
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = saved_tmp
    return rec


def result_line(rec: dict) -> dict:
    if rec["trace"]:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u}
                   for k, (u, _better) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tokcodec", "__init__.py")):
        print(f"perfbench: no tokcodec package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-trace{args.trace}.json"
    if rec["trace"]:
        base = os.path.join(out_dir, name.replace("trace1", "trace0"))
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            rec["tracing_overhead"] = {
                k: rec["end_to_end"][k] / untraced[k] - 1 for k in untraced}
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(rec, f, indent=1)
    detail = {k: {"value": v, "unit": DETAIL_UNITS.get(k, "ms")}
              for k, v in rec["detail"].items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "end_to_end": rec["end_to_end"], "detail": detail,
                      "ops": rec["ops"],
                      "tracing_overhead": rec.get("tracing_overhead")}))
    print(json.dumps(result_line(rec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
