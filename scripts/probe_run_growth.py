#!/usr/bin/env python
"""How a small read's cost grows with the number of appended runs.

Builds the append_lookup-shaped table (16 buckets, 8,000 synth rows,
blooms on ``doc_id`` and ``tokens``), then appends driver-placed runs
of ~100k tokens each. At each count in ``--appends`` it times, as
medians over ``--reps`` alternating runs on a warmed session:

- ``lookup_ms``: an absent-key ``read_encoded(eq_filter=...).count()``;
- ``present_ms``: the same lookup of a key of one appended run;
- ``probe_ms``: an absent-token ``contains_filter`` probe, ``count()``;
- ``plan_ms``: ``scan.plan_snapshot`` of the absent-key lookup alone;
- ``count_ms`` / ``agg_ms``: ``count_encoded`` and an unfiltered
  ``aggregate_encoded`` of ``n_tok`` (plans that probe no bloom);

and counts the block files each kind of lookup opens
(``scan._open_block_file`` calls, median per operation:
``lookup_files``, ``present_files``, ``probe_files``). Prints one JSON
line per count. Usage:

    python scripts/probe_run_growth.py [--master local[4]] \\
        [--appends 8,32,96] [--reps 15] [--dir /dev/shm/run_growth]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the workers import the same tokcodec tree as the driver
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from tokcodec import scan  # noqa: E402
from tokcodec.session import get_spark, warm_python_workers  # noqa: E402

N_BUCKETS = 16
BASE_ROWS = 8000
APPEND_ROWS = 2000  # ~100k tokens of synth rows


def _append(spark, path: str, epoch: int) -> str:
    """One driver-placed append; returns one of its doc ids."""
    import pyarrow.compute as pc

    from tokcodec.io_tables import write_encoded
    from tokcodec.schema import SEQ_SCHEMA
    from tokcodec.synth import synth_arrow

    tbl = synth_arrow(APPEND_ROWS, seed=1000 + epoch)
    tbl = tbl.set_column(0, "doc_id", pc.binary_join_element_wise(
        f"a{epoch}", tbl.column("doc_id"), "-"))
    write_encoded(spark.createDataFrame(tbl, schema=SEQ_SCHEMA), path,
                  n_buckets=N_BUCKETS, epoch=epoch)
    return tbl.column("doc_id")[APPEND_ROWS // 2].as_py()


def probe(spark, path: str, present: str, reps: int) -> dict:
    import tokcodec as tc

    opened: list = []
    real_open = scan._open_block_file

    def counting(p):
        opened.append(p)
        return real_open(p)

    absent = ("eq", ("doc_id", "absent-key"))
    jobs = {
        "lookup": lambda: tc.read_encoded(
            spark, path, eq_filter=absent[1]).count(),
        "present": lambda: tc.read_encoded(
            spark, path, eq_filter=("doc_id", present)).count(),
        "probe": lambda: tc.read_encoded(
            spark, path, columns=["doc_id"],
            contains_filter=("tokens", 1 << 30)).count(),
        "plan": lambda: scan.plan_snapshot(path, filters=[absent]),
        "count": lambda: tc.count_encoded(spark, path),
        "agg": lambda: tc.aggregate_encoded(spark, path, "n_tok"),
    }
    for job in jobs.values():  # one untimed run of each
        job()
    times: dict = {k: [] for k in jobs}
    files: dict = {k: [] for k in ("lookup", "present", "probe")}
    scan._open_block_file = counting
    try:
        for _ in range(reps):
            for name, job in jobs.items():
                opened.clear()
                t0 = time.perf_counter()
                job()
                times[name].append((time.perf_counter() - t0) * 1e3)
                if name in files:
                    files[name].append(len(opened))
    finally:
        scan._open_block_file = real_open
    out = {f"{k}_ms": round(statistics.median(v), 1)
           for k, v in times.items()}
    out.update({f"{k}_files": statistics.median(v)
                for k, v in files.items()})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--master", default=None,
                    help="Spark master (default: get_spark's local[N])")
    ap.add_argument("--appends", default="8,32,96",
                    help="comma-separated append counts to measure at")
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--dir", default="/dev/shm/run_growth",
                    help="scratch directory for the table (deleted)")
    args = ap.parse_args()
    counts = sorted(int(x) for x in args.appends.split(","))
    spark = get_spark(master=args.master, driver_memory="2g")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(args.dir, "t")
    shutil.rmtree(args.dir, ignore_errors=True)
    try:
        import tokcodec as tc
        from tokcodec.schema import SEQ_SCHEMA
        from tokcodec.synth import synth_arrow

        warm_python_workers(spark)
        tc.write_encoded(spark.createDataFrame(
            synth_arrow(BASE_ROWS, seed=7), schema=SEQ_SCHEMA), path,
            n_buckets=N_BUCKETS, bloom_columns=["doc_id", "tokens"])
        done, present = 0, None
        for n in counts:
            while done < n:
                done += 1
                present = _append(spark, path, done)
            print(json.dumps({"appends": n, **probe(spark, path, present,
                                                    args.reps)}),
                  flush=True)
    finally:
        spark.stop()
        shutil.rmtree(args.dir, ignore_errors=True)


if __name__ == "__main__":
    main()
